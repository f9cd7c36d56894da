"""Hybrid search — weighted Reciprocal Rank Fusion (SURVEY.md §2.3 Q6).

Replicates ``vector_mcp/vector_api.py:518-566`` exactly:

- run semantic + lexical legs independently, each producing a ranked top-k;
- fused score per doc = Σ_leg weight / (rrf_k + rank), rank 1-based within
  each leg (``vector_api.py:556-565``);
- dedup by id (a doc appearing in both legs gets the sum of contributions);
- global top-n = the ``heapq.nlargest`` step → here ``orderBy().limit()``
  which Catalyst plans as TakeOrderedAndProject (same no-full-sort property).

Defaults match the reference: weights 0.5/0.5, rrf_k=60
(``vector_api.py:524-533``). Ranking ties are pinned by id ascending.

Scale: each leg shuffles only (id, score); fusion is a groupBy on the union
of two k-row frames — negligible. Payload re-attach is a broadcast join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SCORE_DECIMALS = 6

# Legs are ranked with a GLOBAL window (correct for the bounded top-k frames
# this operator contracts for — k ∈ [1,1000], validation.py:60-63). The
# defensive TakeOrdered below pins that bound so a caller passing an unranked
# full table cannot serialize millions of rows onto one window partition.
MAX_LEG_ROWS = 1000


def rrf_fuse(
    legs: Sequence[tuple[DataFrame, float]],
    n: int,
    rrf_k: int = 60,
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """Fuse ranked legs ``[(df(id, score), weight), ...]`` by weighted RRF.

    Each leg is ranked internally by (score desc, id asc) — rank is derived
    here, not trusted from the leg, so any (id, score) frame fuses correctly.
    Returns (id, score) with the fused score rounded to 6 dp.
    """
    contribs = []
    for leg_df, weight in legs:
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        # TakeOrderedAndProject (partial top-k per partition) — bounds the
        # global rank window to ≤ MAX_LEG_ROWS rows; no-op for the top-k
        # frames the contract expects (same ordering, k ≤ 1000)
        bounded = (
            leg_df.select(id_col, score_col)
            .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
            .limit(MAX_LEG_ROWS)
        )
        contribs.append(
            bounded.withColumn("rank", F.row_number().over(w))
            .select(
                F.col(id_col),
                (F.lit(float(weight)) / (F.lit(int(rrf_k)) + F.col("rank"))).alias("contrib"),
            )
        )
    unioned = contribs[0]
    for c in contribs[1:]:
        unioned = unioned.unionByName(c)
    return (
        unioned.groupBy(id_col)
        .agg(F.round(F.sum("contrib"), SCORE_DECIMALS).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(n)
    )


def rrf_fuse_local(
    legs: Sequence[tuple[Sequence[tuple[object, float | None]], float]],
    n: int,
    rrf_k: int = 60,
) -> list[tuple[object, float]]:
    """:func:`rrf_fuse` over driver-resident legs ``[([(id, score), ...],
    weight), ...]``: each leg ranked by (score desc with NULLs last, id
    asc) and cut to :data:`MAX_LEG_ROWS`, contributions ``weight / (rrf_k
    + rank)`` summed per id from 0.0 as Spark's ``sum`` folds them, the sum
    rounded as Spark's ``ROUND``; the top ``n`` (id, score) by (score desc,
    id asc)."""
    from vector_mcp_spark.operators.graph_ann import spark_round_score

    fused: dict = {}
    for rows, weight in legs:
        ranked = sorted(rows, key=lambda r: (r[1] is None, -(r[1] or 0.0), r[0]))
        for rank, (node, _) in enumerate(ranked[:MAX_LEG_ROWS], 1):
            fused[node] = fused.get(node, 0.0) + float(weight) / float(int(rrf_k) + rank)
    out = [(node, spark_round_score(total)) for node, total in fused.items()]
    out.sort(key=lambda r: (-r[1], r[0]))
    return out[:n]


def dbsf_fuse(
    legs: Sequence[DataFrame],
    n: int,
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """Distribution-Based Score Fusion (the Qdrant ``dbsf`` fusion mode,
    RRF's companion): instead of discarding score magnitudes for ranks,
    normalize each leg's scores by its own distribution — ``(s − (μ−3σ)) /
    (6σ)`` with per-leg mean μ and population σ — then sum the normalized
    scores per id. Preserves "how much better" one hit is, which RRF
    flattens; a constant-score leg (σ = 0) contributes 0.5 per hit.

    Legs are bounded to MAX_LEG_ROWS exactly as in :func:`rrf_fuse`; the
    per-leg stats are an aggregate over those ≤1000 rows joined back by a
    one-row broadcast, so nothing here scales with corpus size. Returns
    (id, score) with the fused score rounded to 6 dp, top n by
    (score desc, id asc)."""
    normed = []
    for leg_df in legs:
        bounded = (
            leg_df.select(id_col, score_col)
            .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
            .limit(MAX_LEG_ROWS)
        )
        stats = bounded.agg(
            F.avg(score_col).alias("_mu"), F.stddev_pop(score_col).alias("_sd")
        )
        normed.append(
            bounded.join(F.broadcast(stats))
            .select(
                F.col(id_col),
                F.when(F.col("_sd") == 0.0, F.lit(0.5))
                .otherwise(
                    (F.col(score_col) - (F.col("_mu") - 3.0 * F.col("_sd")))
                    / (6.0 * F.col("_sd"))
                )
                .alias("_ns"),
            )
        )
    unioned = normed[0]
    for c in normed[1:]:
        unioned = unioned.unionByName(c)
    return (
        unioned.groupBy(id_col)
        .agg(F.round(F.sum("_ns"), SCORE_DECIMALS).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(n)
    )


def rrf_fuse_multi(
    legs: Sequence[tuple[DataFrame, float]],
    n: int,
    rrf_k: int = 60,
    id_col: str = "id",
    score_col: str = "score",
    query_col: str = "query_id",
) -> DataFrame:
    """Batched weighted-RRF fusion (Q6×Q7): every leg frame carries a
    ``query_col``; ranking windows and the final top-n partition by it, so
    N hybrid searches fuse in one job. Returns (query_id, rank, id, score)."""
    contribs = []
    for leg_df, weight in legs:
        w = Window.partitionBy(query_col).orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        contribs.append(
            leg_df.select(query_col, id_col, score_col)
            .withColumn("rank", F.row_number().over(w))
            .select(
                query_col,
                F.col(id_col),
                (F.lit(float(weight)) / (F.lit(int(rrf_k)) + F.col("rank"))).alias("contrib"),
            )
        )
    unioned = contribs[0]
    for c in contribs[1:]:
        unioned = unioned.unionByName(c)
    fused = unioned.groupBy(query_col, id_col).agg(
        F.round(F.sum("contrib"), SCORE_DECIMALS).alias("score")
    )
    w2 = Window.partitionBy(query_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        fused.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= n)
        .select(query_col, "rank", id_col, "score")
    )
