from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from vector_mcp_spark.streaming.ingest import (
    read_event_stream,
    run_stream_to_memory,
    streaming_dedup_ingest,
    windowed_event_counts,
)
from vector_mcp_spark.suite import load

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """Re-write the events fixture as a clean µs-timestamp parquet dir the
    streaming source can read (the raw fixture has ns timestamps)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    shutil.rmtree(path, ignore_errors=True)
    load(spark, SF_DIR, "events").write.parquet(path)
    return path


def test_windowed_counts_match_batch(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    assert stream.isStreaming
    windowed = windowed_event_counts(stream, "1 day", watermark="2 days")
    # complete mode: append would hold back windows still inside the
    # watermark horizon at end-of-stream (correct streaming semantics,
    # wrong harness for batch parity).
    got = run_stream_to_memory(windowed, "win_counts", output_mode="complete")
    batch = (
        load(spark, SF_DIR, "events")
        .groupBy(F.date_trunc("day", "ts").alias("window_start"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )
    g = {(r.window_start, r.event_type): (r.n_events, r.total_value, r.avg_value) for r in got.collect()}
    b = {(r.window_start, r.event_type): (r.n_events, r.total_value, r.avg_value) for r in batch.collect()}
    assert g == b  # streaming result == batch twin (same expressions)


def test_sliding_windows_multiple_assignment(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    sliding = windowed_event_counts(stream, "2 days", "1 day", watermark="3 days")
    got = run_stream_to_memory(sliding, "win_sliding", output_mode="complete").collect()
    n_events_total = sum(r.n_events for r in got)
    n_raw = load(spark, SF_DIR, "events").count()
    assert n_events_total == 2 * n_raw  # every event in exactly 2 sliding windows


def test_streaming_dedup(spark, tmp_path):
    src = str(tmp_path / "docs_stream")
    spark.createDataFrame(
        [("same text",), ("same text",), ("other text",)], "content string"
    ).write.parquet(src)
    stream = spark.readStream.schema("content string").parquet(src)
    deduped = streaming_dedup_ingest(stream)
    got = run_stream_to_memory(deduped, "dedup_stream").collect()
    assert len(got) == 2  # exact dup dropped across the stream
    assert len({r.id for r in got}) == 2


def test_streaming_sessionization_matches_batch(spark, event_dir):
    from vector_mcp_spark.streaming.ingest import sessionized_event_stats

    stream = read_event_stream(spark, event_dir)
    got = run_stream_to_memory(
        sessionized_event_stats(stream, "30 minutes", watermark="2 days"),
        "sess_stream",
        output_mode="complete",
    )
    batch = sessionized_event_stats(load(spark, SF_DIR, "events"), "30 minutes")
    key = lambda r: (r.user_id, r.session_start, r.session_end, r.n_events, r.total_value)  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, batch.collect()))


def test_running_user_stats_state_across_batches(spark, tmp_path):
    from vector_mcp_spark.streaming.ingest import running_user_stats

    ev = load(spark, SF_DIR, "events").where(F.col("user_id") < 10)
    # two files → two micro-batches with maxFilesPerTrigger=1, so per-user
    # state must carry across batches to reach the full totals
    path = str(tmp_path / "ev2")
    ev.repartition(2).write.parquet(path)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    out = running_user_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("running_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sink = spark.table("running_stats")
    # the last emission per user carries the lifetime totals
    final = {
        r.user_id: (r.n_events, round(r.total_value, 4))
        for r in sink.orderBy("n_events").collect()
    }
    expect = {
        r.user_id: (r.n, round(r.total, 4))
        for r in ev.groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum("value").alias("total")
        ).collect()
    }
    assert final == expect


def test_streaming_cms_matches_batch_sketch(spark, tmp_path):
    """The stream-maintained CMS must converge to the batch sketch —
    counters are additive, state stays depth×width regardless of volume."""
    from pyspark.sql import functions as F

    from vector_mcp_spark.operators.sketches import cms_build
    from vector_mcp_spark.streaming.ingest import (
        read_event_stream,
        run_stream_to_memory,
        streaming_frequency_sketch,
    )

    src = spark.createDataFrame(
        [(i % 9,) for i in range(400)], "user_id long"
    )
    path = str(tmp_path / "events")
    src.write.parquet(path)
    stream = read_event_stream(spark, path).select("user_id")
    got = run_stream_to_memory(
        streaming_frequency_sketch(stream, "user_id", depth=3, width=32),
        "test_stream_cms",
        output_mode="update",
    )
    final = {
        (r.row, r.bucket): r.cnt
        for r in got.groupBy("row", "bucket").agg(F.max("cnt").alias("cnt")).collect()
    }
    batch = {
        (r.row, r.bucket): r.cnt
        for r in cms_build(src, "user_id", depth=3, width=32).collect()
    }
    assert final == batch


@pytest.mark.slow
def test_streaming_interval_join_equals_batch(spark, tmp_path):
    """availableNow stream-stream interval join returns exactly the batch
    join (inner join: watermark bounds state, never on-time results)."""
    from datetime import datetime

    from vector_mcp_spark.streaming.ingest import (
        interval_join_events,
        read_event_stream,
        run_stream_to_memory,
    )

    rows = [
        (1, datetime(2024, 1, 1, 10, 0), 7, "click", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 10, 30), 7, "purchase", 1.0, "{}"),  # in window
        (3, datetime(2024, 1, 1, 12, 0), 7, "purchase", 1.0, "{}"),  # too late
        (4, datetime(2024, 1, 1, 10, 0), 7, "purchase", 1.0, "{}"),  # same instant: excluded (strict >)
        (5, datetime(2024, 1, 1, 10, 20), 8, "purchase", 1.0, "{}"),  # other user
    ]
    src = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    path = str(tmp_path / "events_ij")
    src.write.parquet(path)
    stream = read_event_stream(spark, path)
    joined = interval_join_events(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "purchase"),
        horizon="1 hour",
    )
    got = run_stream_to_memory(joined, "test_stream_ij", output_mode="append")
    pairs = {(r.l_event_id, r.r_event_id) for r in got.collect()}
    assert pairs == {(1, 2)}


def test_stream_static_enrichment_broadcasts_and_keeps_unmatched(spark, tmp_path):
    from datetime import datetime

    from vector_mcp_spark.streaming.ingest import (
        enrich_event_stream,
        read_event_stream,
        run_stream_to_memory,
    )

    ev = [
        (1, datetime(2024, 1, 1), 7, "click", 1.0, "{}"),
        (2, datetime(2024, 1, 1), 999, "view", 2.0, "{}"),  # no dim row
    ]
    src = spark.createDataFrame(
        ev, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    path = str(tmp_path / "events_enrich")
    src.write.parquet(path)
    dim = spark.createDataFrame(
        [(7, "Customer#7", "BUILDING")], "c_custkey long, c_name string, c_mktsegment string"
    )
    out = enrich_event_stream(read_event_stream(spark, path), dim)
    got = {r.event_id: r for r in run_stream_to_memory(
        out.select("event_id", "c_name"), "test_stream_enrich", "append"
    ).collect()}
    assert got[1].c_name == "Customer#7"
    assert got[2].c_name is None  # left join: facts never dropped


def test_continuous_aggregate_incremental_merge(spark, tmp_path):
    """Two availableNow runs over a growing source dir: the second run must
    merge ONLY the new files into the standing rollup, and the final table
    must equal the one-shot batch aggregate. A third run with nothing new
    changes nothing (checkpoint + applied markers = effectively-once)."""
    from pyspark.sql import functions as F

    from vector_mcp_spark.streaming.ingest import (
        read_event_stream,
        stream_continuous_aggregate,
    )
    from vector_mcp_spark.suite import load

    ev = load(spark, "/root/testdata/sf0.001", "events")
    first, second = ev.where(F.col("event_id") % 2 == 0), ev.where(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "src")
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    first.write.mode("overwrite").parquet(src)
    stream_continuous_aggregate(read_event_stream(spark, src), rollup, ckpt)
    mid = spark.read.parquet(rollup).agg(F.sum("n_events")).first()[0]
    assert mid == first.count()

    second.write.mode("append").parquet(src)
    stream_continuous_aggregate(read_event_stream(spark, src), rollup, ckpt)
    got = {
        (r.day, r.event_type): (r.n_events, round(r.total_value, 4))
        for r in spark.read.parquet(rollup).collect()
    }
    want = {
        (r.day, r.event_type): (r.n_events, round(r.total_value, 4))
        for r in ev.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        ).agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value")).collect()
    }
    assert got == want

    stream_continuous_aggregate(read_event_stream(spark, src), rollup, ckpt)
    again = {
        (r.day, r.event_type): (r.n_events, round(r.total_value, 4))
        for r in spark.read.parquet(rollup).collect()
    }
    assert again == want

    # Applied-batch markers are committed ATOMICALLY with the rollup: they
    # live inside the table directory (staged before the rename), so there
    # is no crash window where the merge landed without its marker, and the
    # full marker history is carried across merges so any older retried
    # batch still skips (ADVICE r5 — double-count on restart).
    import pathlib

    markers = sorted(p.name for p in pathlib.Path(rollup).glob("_applied_*"))
    assert markers == ["_applied_0", "_applied_1"]

    # Crash-window recovery (ADVICE r6): simulate a crash BETWEEN the two
    # commit renames — rollup parked as .old, promote never happened. The
    # next run must restore the parked table (full marker history intact)
    # and change nothing, not rebuild from a single batch.
    pathlib.Path(rollup).rename(rollup + ".old")
    assert not pathlib.Path(rollup).exists()
    stream_continuous_aggregate(read_event_stream(spark, src), rollup, ckpt)
    restored = {
        (r.day, r.event_type): (r.n_events, round(r.total_value, 4))
        for r in spark.read.parquet(rollup).collect()
    }
    assert restored == want
    assert not pathlib.Path(rollup + ".old").exists()
    assert sorted(p.name for p in pathlib.Path(rollup).glob("_applied_*")) == [
        "_applied_0", "_applied_1"]


def test_streaming_distinct_sketch_equals_batch_kmv(spark, tmp_path):
    """The stream-maintained KMV state (last update per group) must be
    bit-identical to the batch kmv_sketch over the same data, and the
    estimate must match the batch estimator."""
    from pyspark.sql import functions as F

    from vector_mcp_spark.operators.sketches import kmv_estimate, kmv_sketch
    from vector_mcp_spark.streaming.ingest import (
        read_event_stream,
        run_stream_to_memory,
        streaming_distinct_sketch,
    )
    from vector_mcp_spark.suite import load

    ev = load(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "src")
    ev.write.mode("overwrite").parquet(src)
    got = run_stream_to_memory(
        streaming_distinct_sketch(read_event_stream(spark, src), "event_type", "user_id", k=32),
        "stream_kmv_sink",
        output_mode="update",
    )
    # last update per group is the final state
    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy(F.size("ks").desc())
    final = {r.g: (list(r.ks), r.est_distinct) for r in
             got.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).collect()}
    batch = kmv_sketch(ev, ["event_type"], "user_id", k=32)
    expected = {
        r.event_type: (list(r.ks), r.est)
        for r in batch.withColumn("est", kmv_estimate("ks", k=32)).collect()
    }
    assert final == expected


@pytest.mark.slow
def test_interval_join_left_outer_sentinel_flush(spark, tmp_path):
    """Left-outer stream-stream interval join: unmatched left rows emit
    once sentinel batches push the watermark past the real data."""
    import os
    import time

    from pyspark.sql import functions as F

    from vector_mcp_spark.streaming.ingest import interval_join_events, run_stream_to_memory

    d = str(tmp_path / "oj_events")
    rows = [
        (1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
        (2, "2024-01-01 10:05:00", 2, "click", 1.0, "{}"),  # no purchase: abandoned
        (101, "2024-01-01 10:30:00", 1, "purchase", 5.0, "{}"),
    ]
    schema = "event_id long, ts string, user_id long, event_type string, value double, props string"
    spark.createDataFrame(rows, schema).withColumn("ts", F.col("ts").cast("timestamp")) \
        .coalesce(1).write.mode("overwrite").parquet(d)
    import glob

    base_files = glob.glob(os.path.join(d, "part-*.parquet"))
    now = time.time()
    for i, hours in enumerate((3, 6)):
        sent = [
            (-900 - i, f"2024-01-01 {13 + 3 * i}:00:00", -1, "click", 0.0, "{}"),
            (-950 - i, f"2024-01-01 {13 + 3 * i}:00:00", -1, "purchase", 0.0, "{}"),
        ]
        tmp = str(tmp_path / f"s{i}")
        spark.createDataFrame(sent, schema).withColumn("ts", F.col("ts").cast("timestamp")) \
            .coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(d, f"zz-sentinel-{i}.parquet")
        os.replace(src, dst)
        os.utime(dst, (now + 10 * (i + 1),) * 2)

    from vector_mcp_spark.streaming.ingest import read_event_stream

    stream = read_event_stream(spark, d, options={"maxFilesPerTrigger": len(base_files)})
    j = interval_join_events(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "purchase"),
        horizon="1 hour",
        how="leftOuter",
    )
    got = run_stream_to_memory(j, "t_oj_sentinel", output_mode="append")
    out = {(r.user_id, r.l_event_id): r.r_event_id for r in got.where("user_id >= 0").collect()}
    assert out == {(1, 1): 101, (2, 2): None}


def test_interval_join_how_validation(spark):
    import pytest
    from pyspark.sql import functions as F

    from vector_mcp_spark.streaming.ingest import interval_join_events

    df = spark.createDataFrame([], "event_id long, ts timestamp, user_id long")
    with pytest.raises(ValueError):
        interval_join_events(df, df, how="fullOuter")
