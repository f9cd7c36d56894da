"""Scan-parallelism guard for CPU-heavy map stages (guide §2.5) and the
shared materialization helpers for iterative operators.

A small collection read from one parquet file is ONE scan partition — and a
tokenize / sha256 / nested-HOF map stage planned on top of it runs on one
core no matter how many the session has. ``spread`` round-robins such an
input across ``defaultParallelism`` partitions first.

It is a no-op whenever the input is big enough that the scan already splits
to ≥ defaultParallelism partitions — i.e. always at real scale, where a
blind repartition would be a huge unneeded shuffle; locally the shuffled
bytes are the (tiny) raw input.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Spark's byte-string suffixes (``JavaUtils.byteStringAs``): binary
#: multiples, case-insensitive; no suffix means bytes for every conf read here
_BYTE_UNITS = {"": 1, "b": 1} | {
    s: 1024**p for p, u in enumerate("kmgtp", 1) for s in (u, u + "b")
}


def conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """A byte-size session conf read by Spark's own rules: an integer with
    an optional ``b``/``k``/``kb``/``m``/``mb``/... suffix, a leading ``-``
    negating it (``-1`` disables a broadcast threshold). Spark renders a
    default as ``"10485760b"`` but keeps a user value as set (``"20m"``);
    anything it would not parse reads as ``default``."""
    m = re.fullmatch(r"(-?)([0-9]+)([a-z]*)", str(spark.conf.get(key)).strip().lower())
    if m is None or m.group(3) not in _BYTE_UNITS:
        return default
    n = int(m.group(2)) * _BYTE_UNITS[m.group(3)]
    return -n if m.group(1) else n


def fits_broadcast(spark: SparkSession, n_bytes: int) -> bool:
    """True iff ``n_bytes`` fits the session's autoBroadcastJoinThreshold
    (never when the threshold is negative, i.e. broadcasting is off)."""
    limit = conf_bytes(spark, "spark.sql.autoBroadcastJoinThreshold", 10 * 1024 * 1024)
    return 0 <= n_bytes <= limit


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate of ``df`` (file-size sum for scans) — a
    driver-side optimizer pass, NO physical planning, no RDD conversion,
    no job."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))  # noqa: SLF001
    except Exception:  # noqa: BLE001 — any py4j hiccup: fall back to "unknown"
        return None


def spread(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to defaultParallelism iff its scan would have
    fewer splits than that.

    The decision reads Catalyst's size estimate (for a parquet scan: the
    file-size sum) against ``spark.sql.files.maxPartitionBytes`` — the
    split math the scan itself uses — instead of materializing
    ``df.rdd.getNumPartitions()``, which paid a full physical-planning +
    RDD-conversion py4j round-trip on EVERY call even at real scale where
    the answer is always "no-op" (r14; the driver-latency class r13 §1
    eliminated from the vector builders). Unknown size repartitions (the
    conservative local default). An estimate at or above
    ``spark.sql.defaultSizeInBytes`` is Catalyst's placeholder for "no
    statistics" — what checkpointed, cached and RDD-backed leaves report
    however small they are — so it counts as unknown, not as big.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism

    max_split = conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
    no_stats = conf_bytes(spark, "spark.sql.defaultSizeInBytes", 2**63 - 1)
    size = _plan_size_bytes(df)
    if size is not None and target * max_split <= size < no_stats:
        return df
    return df.repartition(target)


def pin_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """Eagerly localCheckpoint ``df`` and return (pinned frame, row count).

    The count is one trivial job over the just-cached partitions; iterative
    operators use it both as their fixpoint probe and to gate broadcast
    hints on MEASURED sizes (see :func:`bcast_if_fits`) — a checkpoint leaf
    alone advertises no statistics, so joins against it plan sort-merge
    and AQE sinks shuffle stages it later abandons for broadcast.
    """
    df = df.localCheckpoint(eager=True)
    return df, df.count()


def bcast_if_fits(df: DataFrame, n_rows: int, row_bytes: int = 64) -> DataFrame:
    """Hint broadcast iff ``n_rows``·``row_bytes`` fits the session's own
    autoBroadcastJoinThreshold. With a MEASURED row count this is
    scale-adaptive, not a local tune: at 100 TB the same frames outgrow
    the threshold, no hint fires, and sort-merge shuffles are real work."""
    return F.broadcast(df) if fits_broadcast(df.sparkSession, n_rows * row_bytes) else df
