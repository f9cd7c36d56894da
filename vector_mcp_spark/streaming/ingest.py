"""Structured Streaming ingestion — north-star extension (SURVEY.md §2.4:
the reference has NO streaming surface; this is the Spark-native upgrade).

Two shapes:

- **Windowed event aggregation**: ``readStream`` over an events directory →
  watermarked tumbling/sliding windows → append sink. The batch twin
  (``suite_relational.events_daily_windows``) is the oracle-checked
  semantics; the streaming plan reuses the same aggregation expressions, so
  batch parity ⇒ streaming parity (same Catalyst expressions, incremental
  execution).
- **Streaming collection ingest**: documents arriving as files → the same
  sanitize → content-hash-id → dedup pipeline as batch ingest
  (``dropDuplicates`` on id with a watermark = the reference's exact-dedup
  T2 under streaming semantics).

Scale: state store size is bounded by the watermark horizon; window state
is keyed by (window, event_type) — small cardinality; dedup state is keyed
by content-hash with the watermark bounding retention.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, fmt: str = "parquet", options: dict | None = None
) -> DataFrame:
    reader = spark.readStream.schema(EVENT_SCHEMA).format(fmt)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(path)


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 day",
    slide_duration: str | None = None,
    watermark: str = "2 days",
) -> DataFrame:
    """Watermarked tumbling (or sliding) window aggregation per event_type.

    Output: (window_start, window_end, event_type, n_events, total_value,
    avg_value) — the streaming twin of ``events_daily_windows``.
    """
    win = F.window(F.col("ts"), window_duration, slide_duration or window_duration)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("window"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
            "avg_value",
        )
    )


def sessionized_event_stats(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 days"
) -> DataFrame:
    """Gap-based sessionization per user via native ``session_window`` —
    stateful streaming with merging session state; the batch twin is the
    oracle-checked ``events_sessionization`` suite query (identical
    expressions, so batch parity ⇒ streaming parity).

    Output: (user_id, session_start, session_end, n_events, total_value).
    State per open session, closed once the watermark passes session end —
    bounded by (active users × watermark horizon), not by stream length.
    """
    df = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        df.groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


_USER_STATS_SCHEMA = "user_id long, n_events long, total_value double, last_ts timestamp"
_USER_STATE_SCHEMA = "n_events long, total_value double, last_us long"


def running_user_stats(events: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """Custom stateful operator: per-user lifetime counters maintained across
    micro-batches with ``applyInPandasWithState`` (the escape hatch for
    semantics windowed aggregation can't express — monotone lifetime state,
    conditional resets, custom eviction).

    Emits one updated (user_id, n_events, total_value, last_ts) row per user
    per micro-batch. State is O(distinct users); use GroupStateTimeout +
    ``timeout_ms`` to evict idle users on unbounded key spaces.
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total, last_us = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            last_us = max(last_us, int(pdf["ts"].astype("int64").max() // 1000))
        state.update((n, total, last_us))
        if timeout_ms:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 4)],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if timeout_ms else GroupStateTimeout.NoTimeout
    )
    return events.groupBy("user_id").applyInPandasWithState(
        update, _USER_STATS_SCHEMA, _USER_STATE_SCHEMA, "update", timeout
    )


def streaming_dedup_ingest(docs: DataFrame, watermark_col: str | None = None, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact-dedup ingest: sanitize → content-hash id → drop
    duplicate ids (state bounded by watermark when an event-time column is
    present)."""
    from vector_mcp_spark.functions.hashing import content_hash_id
    from vector_mcp_spark.sanitize import sanitize_content_col

    out = docs.withColumn("content", sanitize_content_col(F.col("content")))
    out = out.withColumn("id", content_hash_id(F.col("content")))
    if watermark_col:
        out = out.withWatermark(watermark_col, watermark)
        return out.dropDuplicates(["id", watermark_col])
    return out.dropDuplicates(["id"])



def interval_join_events(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    horizon: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: for each left event, the right events
    of the same key strictly after it and within ``horizon``
    (l.ts < r.ts ≤ l.ts + horizon) — the attribution-window primitive
    (click → purchase within the hour).

    Both sides carry a watermark of ``horizon``, which is exactly the
    range condition's bound, so the state store retains each side for one
    horizon and evicts monotonically — state is O(arrival rate × horizon)
    per key regardless of stream length. Inner join ⇒ the availableNow
    result equals the batch join (watermarks only bound state/lateness,
    never drop on-time inner matches).

    ``how="leftOuter"`` adds the abandonment rows (left events with no
    match, right columns NULL) — but an unmatched row only EMITS once the
    watermark passes its join window, and the watermark only advances
    between micro-batches. A finite availableNow run therefore withholds
    the tail unless the caller appends sentinel batches that push the
    watermark past the real data (see the suite's sentinel-flush helper);
    on a true continuous stream the tail is simply late by one horizon.

    Output columns: key, l_<ts>, r_<ts>, l_event_id, r_event_id.
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"interval_join_events: how must be inner|leftOuter, got {how!r}")
    lw = left.withWatermark(ts_col, horizon).alias("l")
    rw = right.withWatermark(ts_col, horizon).alias("r")
    lts, rts = F.col(f"l.{ts_col}"), F.col(f"r.{ts_col}")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (rts > lts)
        & (rts <= lts + F.expr(f"INTERVAL {horizon}"))
    )
    return lw.join(rw, cond, how).select(
        F.col(f"l.{key_col}").alias(key_col),
        lts.alias(f"l_{ts_col}"),
        rts.alias(f"r_{ts_col}"),
        F.col("l.event_id").alias("l_event_id"),
        F.col("r.event_id").alias("r_event_id"),
    )


def enrich_event_stream(
    events: DataFrame,
    dim: DataFrame,
    stream_key: str = "user_id",
    dim_key: str = "c_custkey",
    dim_cols: Sequence[str] = ("c_name", "c_mktsegment"),
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream joins
    against the (re-read-per-batch) static dimension — Spark broadcasts the
    dim side under the autoBroadcastJoinThreshold, so the stream never
    shuffles and carries NO join state (unlike stream-stream joins). Left
    join: events with no dim row pass through with nulls — an enrichment
    must never drop facts."""
    d = dim.select(F.col(dim_key).alias(stream_key), *dim_cols)
    return events.join(d, stream_key, "left")


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "append",
    state_partitions: int | None = None,
) -> "DataFrame":
    """Drive a stream with availableNow (process-everything-then-stop) into
    an in-memory sink; returns the sink table DataFrame. Test harness path.

    ``state_partitions`` temporarily overrides shuffle partitions for the
    run: stateful streaming pays a per-(state store × micro-batch) fixed
    cost — checkpoint, maintenance, provider open — so a multi-batch
    sentinel-flushed query over a modest keyspace wants FEWER, larger
    state partitions than a batch shuffle would (on a real cluster this is
    sized once per deployment; the conf restores after the run)."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(query_name)


def streaming_frequency_sketch(
    events: DataFrame, value_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-min sketch maintained BY THE STREAM: counters are an additive
    streaming aggregation (update mode), so state is bounded at depth×width
    rows no matter how much data flows through — the sketch property that
    makes frequency dashboards viable over an unbounded 100 TB/day feed.
    The final counters equal the batch ``cms_build`` over the same data
    (counts are monotone; take the last update per (row, bucket))."""
    from vector_mcp_spark.operators.sketches import cms_build

    return cms_build(events, value_col, depth=depth, width=width)


def stream_continuous_aggregate(
    events: DataFrame,
    rollup_path: str,
    checkpoint_dir: str,
) -> None:
    """Incrementally-maintained day × event_type rollup — the continuous-
    aggregate / materialized-view-maintenance pattern (TimescaleDB's
    continuous aggregates, Databricks' incremental MVs) on foreachBatch.

    Each micro-batch is aggregated to partial (day, event_type, n_events,
    total_value) rows and MERGED into the standing rollup table by summing
    with the previous state: per-batch cost is O(batch + |rollup|), never a
    rescan of history — at 100 TB/day the rollup table stays dashboard-
    sized while the raw feed streams past. Counts/sums are algebraic
    (mergeable) aggregates; avg derives at read time.

    Effectively-once: the checkpoint prevents re-delivery across restarts,
    and applied-batch markers make the merge idempotent if a batch IS
    retried after a mid-write crash. The markers live INSIDE the rollup
    directory (``_applied_<batch_id>`` files — parquet readers skip
    underscore-prefixed names), staged alongside the new data so the
    directory rename commits rollup + marker together: there is no window
    where the merge landed but its marker didn't, so a retry can never
    double-count. The swap itself is two renames (park the old rollup as a
    ``.old`` sidecar, promote the stage, then delete the sidecar) with
    crash recovery at batch start — any interleaved crash leaves either the
    old or the new directory (with its full marker history) restorable, so
    no history is ever lost mid-commit (ADVICE r6). Replaying from scratch
    = clear table + checkpoint.
    """
    import shutil
    from pathlib import Path

    spark = events.sparkSession

    # Crash recovery BEFORE the stream starts (a no-new-data availableNow
    # run fires zero batches, so this can't live inside _merge): a crash
    # between the park and promote renames below leaves the rollup parked
    # as .old — restore it (with its _applied_* history) so the retry
    # merges into prior state instead of rebuilding from one batch.
    _out, _parked = Path(rollup_path), Path(rollup_path + ".old")
    if not _out.exists() and _parked.exists():
        _parked.rename(_out)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        out = Path(rollup_path)
        parked = Path(rollup_path + ".old")
        if not out.exists() and parked.exists():
            parked.rename(out)  # same recovery if the crash was mid-run
        if (out / f"_applied_{batch_id}").exists():
            return
        part = batch_df.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type"),
        ).agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        prior_markers = []
        if (out / "_SUCCESS").exists():
            prior_markers = [p.name for p in out.glob("_applied_*")]
            old = spark.read.parquet(rollup_path)
            part = (
                old.unionByName(part)
                .groupBy("day", "event_type")
                .agg(F.sum("n_events").alias("n_events"), F.sum("total_value").alias("total_value"))
            )
        stage = Path(rollup_path + "_stage")
        part.write.mode("overwrite").parquet(str(stage))
        for name in prior_markers:  # carry history so older retries still skip
            (stage / name).touch()
        (stage / f"_applied_{batch_id}").touch()
        # Two renames, never an unprotected delete (ADVICE r6): parking the
        # old rollup as .old before promoting stage means a crash anywhere
        # leaves either the old or the new directory intact — rmtree(out)
        # then rename left a window that lost the rollup AND its markers.
        old_dir = Path(rollup_path + ".old")
        if old_dir.exists():
            shutil.rmtree(old_dir)  # leftover from a crash after promote
        if out.exists():
            out.rename(old_dir)
        stage.rename(out)
        if old_dir.exists():
            shutil.rmtree(old_dir)

    q = (
        events.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_distinct_sketch(
    events: DataFrame, group_col: str, value_col: str, k: int = 64
) -> DataFrame:
    """KMV distinct-count sketch maintained BY THE STREAM — the distinct-
    count twin of ``streaming_frequency_sketch``: per group the state is
    the ≤ k smallest 60-bit value hashes, so distinct-user dashboards run
    over an unbounded feed with k·8 bytes of state per group, forever.

    The value hash is computed as a Column expression BEFORE the stateful
    operator — the exact sha-derived hash the batch ``kmv_sketch`` uses —
    so the stream's final state is bit-identical to the batch sketch over
    the same data (min-k is a monotone, order-insensitive fold). Emits one
    updated (group, ks, est_distinct) row per group per micro-batch.
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import

    from pyspark.sql.streaming.state import GroupStateTimeout

    h = F.conv(
        F.substring(F.sha2(F.col(value_col).cast("string"), 256), 1, 15), 16, 10
    ).cast("long")
    hashed = events.select(F.col(group_col).alias("g"), h.alias("_h"))

    out_schema = T.StructType(
        [
            T.StructField("g", hashed.schema["g"].dataType),
            T.StructField("ks", T.ArrayType(T.LongType())),
            T.StructField("est_distinct", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("ks", T.ArrayType(T.LongType()))])

    def update(key, pdfs, state):
        kept = list(state.get[0]) if state.exists else []
        seen = set(kept)
        for pdf in pdfs:
            for v in pdf["_h"]:
                iv = int(v)
                if iv not in seen:
                    seen.add(iv)
                    kept.append(iv)
        kept = sorted(set(kept))[:k]
        state.update((kept,))
        if len(kept) < k:
            est = len(kept)
        else:
            # half-up like Spark F.round / SQL ROUND (python round() is
            # banker's rounding and would diverge on exact .5 boundaries)
            import math

            est = math.floor((k - 1) / (kept[k - 1] / float(2**60)) + 0.5)
        yield pd.DataFrame({"g": [key[0]], "ks": [kept], "est_distinct": [int(est)]})

    return hashed.groupBy("g").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
