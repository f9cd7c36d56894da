"""Training-sequence packing: assign documents to fixed-token-budget
training sequences the way an LLM data loader does — concatenate documents
in a deterministic order, then chunk the token stream into ``budget``-sized
sequences (documents may straddle a boundary; the assignment records each
document's start sequence and offset).

The reference engine has no packing surface (its scope stops at retrieval);
this is pipeline infrastructure a training corpus needs between "deduped
documents" and "tokenized shards". SURVEY.md §2.4 extension family.

Scale shape: a single global concatenation order would serialize 100 TB
through one sort — instead documents are first hash-assigned to one of
``n_writers`` independent writer streams (sha256-based, so the DuckDB
oracle replays it), and the prefix-sum window runs PER WRITER. State per
window partition is one running sum; with n_writers sized to the cluster's
write parallelism (thousands), no partition sees more than corpus/n_writers
tokens and the plan is one narrow shuffle + one window, no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _writer_assign(id_col: str, n_writers: int) -> F.Column:
    # sha256 of the id's decimal string, first 15 hex chars → 60-bit int,
    # mod n_writers. Engine-agnostic: DuckDB replays it exactly.
    h = F.conv(F.substring(F.sha2(F.col(id_col).cast("string"), 256), 1, 15), 16, 10).cast(
        "long"
    )
    return (h % n_writers).cast("int")


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    token_count_col: str = "n_tokens",
    n_writers: int = 8,
) -> DataFrame:
    """Per document: (id, writer, seq_id, seq_offset) where ``writer`` is the
    hash-assigned concatenation stream, ``seq_id`` the index (within the
    writer) of the ``budget``-token training sequence the document STARTS in,
    and ``seq_offset`` its token offset inside that sequence.

    Documents are concatenated in ascending ``id_col`` order within each
    writer; a document whose span crosses a sequence boundary straddles into
    the next sequence (standard concat-then-chunk packing).
    """
    if budget < 1:
        raise ValueError("budget must be >= 1")
    if n_writers < 1:
        raise ValueError("n_writers must be >= 1")
    w = Window.partitionBy("writer").orderBy(F.col(id_col).asc())
    start = (F.sum(token_count_col).over(w) - F.col(token_count_col)).cast("long")
    return (
        df.withColumn("writer", _writer_assign(id_col, n_writers))
        .select(
            id_col,
            "writer",
            F.floor(start / budget).cast("long").alias("seq_id"),
            (start % budget).cast("long").alias("seq_offset"),
        )
    )


def _hash_u01(id_col: str, salt: str = "mix") -> F.Column:
    """Deterministic uniform [0, 1) draw per id (sha256-based, so the
    DuckDB oracle replays every sampling decision)."""
    h = F.conv(
        F.substring(F.sha2(F.concat(F.col(id_col).cast("string"), F.lit("|" + salt)), 256), 1, 15),
        16,
        10,
    ).cast("long")
    return h / F.lit(float(2**60))


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    id_col: str = "doc_id",
    source_col: str = "source",
    default_rate: float = 1.0,
) -> DataFrame:
    """Source-weighted corpus mixing: each document appears ``rate`` times
    in expectation, where ``rate`` is its source's mixture weight (epochs).

    rate < 1 down-samples (keep iff u < rate); rate ≥ 1 duplicates —
    floor(rate) guaranteed copies plus one more iff u < frac(rate). Output
    adds a ``copy`` index (0-based) so downstream packing/shuffling treats
    repeats as distinct rows. The draw is a per-id sha256 hash: the whole
    mixture is a deterministic function of (data, rates) — reproducible
    across runs and replayable in SQL, the property a training-data audit
    needs.

    Scale shape: a map-side projection + explode — zero shuffle, zero UDF.
    The rates table enters as a literal CASE (mixtures have few sources);
    at thousands of sources, broadcast-join a rates DataFrame instead.
    """
    for src, r in rates.items():
        if r < 0:
            raise ValueError(f"negative rate for {src!r}")
    if default_rate < 0:
        raise ValueError("negative default_rate")
    rate = F.lit(float(default_rate))
    for src, r in rates.items():
        rate = F.when(F.col(source_col) == src, F.lit(float(r))).otherwise(rate)
    u = _hash_u01(id_col)
    n_copies = (F.floor(rate) + F.when(u < rate - F.floor(rate), 1).otherwise(0)).cast(
        "int"
    )
    return (
        df.withColumn("_n", n_copies)
        .where(F.col("_n") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(0), F.col("_n") - 1)))
        .drop("_n")
    )


def weighted_row_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    key = u^(1/w) with u a per-id sha256 uniform draw; the k largest keys
    are the sample, and inclusion probability is proportional to weight —
    the quality-weighted corpus selection step of an LLM data pipeline.

    Deterministic end to end (same hash-draw discipline as
    ``mixture_sample``) and replayable in SQL; the key is rounded to 12 dp
    before ranking (cross-engine ``pow`` can differ in the last ulp) with
    ties pinned by id, so both engines pick the identical sample. Rows with
    weight ≤ 0 are never sampled. Plans as TakeOrderedAndProject —
    per-partition top-k, no global sort.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    u = _hash_u01(id_col, salt="wsample")
    key = F.round(F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), 12)
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("_aes_key", key)
        .orderBy(F.col("_aes_key").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("_aes_key")
    )


def per_group_cap(
    df: DataFrame, group_col: str, id_col: str, cap: int, salt: str = "cap"
) -> DataFrame:
    """Quota capping: keep at most ``cap`` rows per group, chosen by a
    deterministic hash priority (sha-uniform, salt-keyed) with id
    tie-break — the "no more than N documents per domain" rule of web
    corpus curation. One partitioned window; partitions are group-sized,
    so skewed mega-groups are exactly the rows the cap exists to cut —
    rank early, before wide columns join in."""
    if cap < 1:
        raise ValueError(f"per_group_cap: cap must be >= 1, got {cap}")
    pri = F.sha2(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string")), 256)
    w = Window.partitionBy(group_col).orderBy(pri.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_cap_rk", F.row_number().over(w))
        .where(F.col("_cap_rk") <= cap)
        .withColumnRenamed("_cap_rk", "rk")
    )
