"""Semantic (cosine KNN) search — SURVEY.md §2.3 Q1/Q2/Q3/Q7/Q8.

Reference semantics replicated:

- score = cosine similarity (= 1 − cosine distance), the convention all the
  reference backends return (``vector_mcp/vectordb/postgres.py:329-343``,
  ``qdrant.py:242-270``, ``couchbase.py:339-348``).
- optional distance threshold: keep hits with ``1 − sim <= threshold``
  (``vector_mcp/vectordb/base.py:189-211``) — a pushdown-friendly predicate.
- top-k: ``ORDER BY score DESC LIMIT k`` (``postgres.py:334-344``); ties
  broken by id ascending so results are deterministic (the reference's heap
  has unstable ties — we pin them).

Scale design:

- Single query: ``orderBy(desc).limit(k)`` → Catalyst plans
  ``TakeOrderedAndProject`` — per-partition partial top-k, no global sort,
  no shuffle of the full table.
- Multi-query (Q7): queries live in a broadcast-joined literal DataFrame;
  scores are computed map-side, then ONLY ``(query_id, id, score)`` —
  not content — is shuffled for the per-query rank window. Payload columns
  are re-attached afterwards by a broadcast semi-join on the tiny top-k id
  set. At 100 TB this cuts shuffle bytes by ~the payload width.
- Scores are rounded to 6 dp *after* ranking; all arithmetic is double with
  sequential fold, matching the DuckDB oracle bit-for-bit in practice.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from typing import TYPE_CHECKING

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_mcp_spark.functions.vector import (
    cosine_similarity,
    cosine_similarity_lit,
    dot_lit,
    l2_distance_lit,
)

if TYPE_CHECKING:
    from vector_mcp_spark.operators.driver_table import DriverTable

SCORE_DECIMALS = 6

# Distance/similarity conventions per metric — the three pgvector operators
# (<=> cosine, <#> inner product, <-> L2; vector_mcp/vectordb/
# postgres.py:316-348) and the qdrant Distance enum (COSINE/DOT/EUCLID,
# qdrant.py:122-127). ``higher_is_better`` decides rank order; the
# distance_threshold contract (base.py:189-211) maps per metric to "keep
# hits at least as good as the bound": cosine → 1−sim ≤ t, l2 → dist ≤ t,
# dot → score ≥ t.
_METRICS = {"cosine": True, "dot": True, "l2": False}


def _score_lit(emb_col: str, query_vec: Sequence[float], metric: str):
    """(score column, higher_is_better) for a literal query vector."""
    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(_METRICS)}")
    col = F.col(emb_col)
    if metric == "cosine":
        return cosine_similarity_lit(col, query_vec), True
    if metric == "dot":
        return dot_lit(col, query_vec), True
    return l2_distance_lit(col, query_vec), False


def _threshold_pred(metric: str, threshold: float):
    t = F.lit(float(threshold))
    if metric == "cosine":
        return F.lit(1.0) - F.col("score") <= t
    if metric == "l2":
        return F.col("score") <= t
    return F.col("score") >= t


def with_similarity(
    docs: DataFrame,
    query_vec: Sequence[float],
    emb_col: str = "embedding",
    out_col: str = "score",
) -> DataFrame:
    """Attach un-rounded cosine similarity to every row (map-side only,
    codegen'd element-term sum — same fold order as the HOF form)."""
    return docs.withColumn(out_col, cosine_similarity_lit(F.col(emb_col), query_vec))


def semantic_topk(
    docs: DataFrame,
    query_vec: Sequence[float],
    k: int,
    id_col: str = "id",
    emb_col: str = "embedding",
    payload_cols: Sequence[str] = (),
    distance_threshold: float | None = None,
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k for one query vector under ``metric`` ∈ {cosine, dot,
    l2} — the three pgvector operators (``postgres.py:316-348``) / qdrant
    ``Distance`` variants (``qdrant.py:122-127``); the reference pins
    cosine, a migrating pgvector user gets all three here.

    Returns ``(id_col, *payload_cols, score)`` with score rounded to 6 dp,
    ordered best-first (desc for cosine/dot, asc for l2), ties by id asc.
    Plans as TakeOrderedAndProject either way.
    """
    score_col, higher = _score_lit(emb_col, query_vec, metric)
    scored = docs.withColumn("score", score_col)
    # base.py:189-211 — keep hits within the bound; a negative bound means
    # "no threshold" for the DISTANCE metrics (cosine distance ∈ [0,2],
    # l2 ≥ 0), but is a legitimate minimum score for dot (inner products
    # go negative), so dot applies any non-None bound.
    apply_threshold = distance_threshold is not None and (
        metric == "dot" or distance_threshold >= 0
    )
    # For l2 the threshold moves ABOVE the top-k (r14): pre-limit, Catalyst
    # pushes the predicate below the score projection and re-inlines the
    # unrolled distance tree into the Filter — the l2 tree is big enough
    # that the duplicated copies overflow janino's 64 KB method limit and
    # the whole stage falls back to interpreted. Post-limit the predicate
    # tests the already-computed k-row column: one codegen'd evaluation per
    # scanned row, and strictly fewer predicate evaluations at any scale.
    # Equivalent because the filter keeps exactly the GOOD end of the sort
    # order (dist <= t under asc): filtering a sorted prefix == prefix of
    # the filtered sort, incl. NaN (sorts above every double, below NULLs
    # under asc_nulls_last — both orders drop it) and NULL (dropped) rows.
    # cosine/dot order desc, where NaN sorts FIRST and would eat limit
    # slots, so those metrics keep the pre-limit filter (their single-copy
    # predicates codegen fine).
    if apply_threshold and metric != "l2":
        scored = scored.where(_threshold_pred(metric, distance_threshold))
    order = F.col("score").desc() if higher else F.col("score").asc_nulls_last()
    out = (
        scored.select(id_col, *payload_cols, "score")
        .orderBy(order, F.col(id_col).asc())
        .limit(k)
    )
    if apply_threshold and metric == "l2":
        out = out.where(_threshold_pred(metric, distance_threshold))
    return out.withColumn("score", F.round("score", SCORE_DECIMALS))


def semantic_topk_multi(
    docs: DataFrame,
    queries: Sequence[tuple[int, Sequence[float]]],
    k: int,
    id_col: str = "id",
    emb_col: str = "embedding",
    payload_cols: Sequence[str] = (),
    distance_threshold: float | None = None,
    metric: str = "cosine",
) -> DataFrame:
    """Batched multi-query KNN (Q7): one Spark job for N queries.

    ``queries`` is ``[(query_id, vector), ...]``. Output:
    ``(query_id, rank, id, *payload, score)``. ``metric`` follows
    :func:`semantic_topk` (cosine/dot desc, l2 asc; per-metric threshold).
    """
    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(_METRICS)}")
    higher = _METRICS[metric]
    # Tiny query batches expand every cosine as a LITERAL element-term sum
    # (codegen'd, same fold order as the HOF form — identical scores) inside
    # one projection, skipping the query-side createDataFrame + broadcast
    # join entirely: N scores per doc ride a struct array + explode, all
    # map-side. The cutoff is deliberately LOW: every distinct literal
    # expansion is a fresh Janino compile (~2 s measured at 192 terms),
    # billed per plan — for more than ~2 queries the broadcast-join + HOF
    # path wins any single-shot run and stays well inside codegen limits.
    n_terms = sum(len(vec) for _, vec in queries)
    if n_terms <= 128:
        per_query = F.array(
            *[
                F.struct(
                    F.lit(int(qid)).alias("query_id"),
                    _score_lit(emb_col, vec, metric)[0].alias("score"),
                )
                for qid, vec in queries
            ]
        )
        scored = docs.select("*", F.explode(per_query).alias("_qs")).select(
            "*", F.col("_qs.query_id").alias("query_id"), F.col("_qs.score").alias("score")
        ).drop("_qs")
    else:
        from vector_mcp_spark.functions.vector import dot as _dot
        from vector_mcp_spark.functions.vector import l2_distance as _l2

        spark = docs.sparkSession
        qdf = spark.createDataFrame(
            [(int(qid), [float(x) for x in vec]) for qid, vec in queries],
            "query_id int, qvec array<double>",
        )
        col_score = {
            "cosine": lambda: cosine_similarity(F.col(emb_col), F.col("qvec")),
            "dot": lambda: _dot(F.col(emb_col), F.col("qvec")),
            "l2": lambda: _l2(F.col(emb_col), F.col("qvec")),
        }[metric]()
        scored = docs.join(F.broadcast(qdf)).withColumn("score", col_score)
    if distance_threshold is not None and (metric == "dot" or distance_threshold >= 0):
        scored = scored.where(_threshold_pred(metric, distance_threshold))

    # Shuffle only the narrow (query_id, id, score) projection for ranking.
    narrow = scored.select("query_id", id_col, "score")
    order = F.col("score").desc() if higher else F.col("score").asc_nulls_last()
    w = Window.partitionBy("query_id").orderBy(order, F.col(id_col).asc())
    topk = narrow.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)

    if payload_cols:
        payload = docs.select(id_col, *payload_cols)
        topk = topk.join(payload, id_col, "left")
    return topk.select(
        "query_id", "rank", id_col, *payload_cols, F.round("score", SCORE_DECIMALS).alias("score")
    )


def semantic_topk_local(
    table: DriverTable,
    queries: Sequence[tuple[int, Sequence[float]]],
    k: int,
    distance_threshold: float | None = None,
    metric: str = "cosine",
) -> list[tuple[int, int, int, float | None]] | None:
    """:func:`semantic_topk_multi` over a driver-resident table, and per
    query :func:`semantic_topk` (their thresholds keep the same rows):
    ``(query_id, rank, row, score)`` in (query_id, rank) order, ``row``
    indexing ``table``. The scores are the Spark expressions replayed —
    left folds from the double-widened floats, cosine's ``try_divide``
    (a zero denominator scores NULL, ranked after every scored row), l2's
    ``< 0`` clamp — filtered by the threshold, ranked on the unrounded
    score then id, and rounded as Spark's ``ROUND``. ``None`` when an
    answer could differ from Spark's (a width other than the table's, a
    non-finite query, score or threshold), so the caller runs the Spark
    plan."""
    from vector_mcp_spark.functions.vector import sq_norm_py
    from vector_mcp_spark.operators.graph_ann import _fold_rows, spark_round_score

    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(_METRICS)}")
    if not table.ids:
        return []
    higher = _METRICS[metric]
    bound = None
    if distance_threshold is not None and (metric == "dot" or distance_threshold >= 0):
        bound = float(distance_threshold)
        if math.isnan(bound):
            return None
    out = []
    for qid, vec in queries:
        q = np.array([float(x) for x in vec], dtype=np.float64)
        if not np.isfinite(q).all() or q.size != table.vecs.shape[1]:
            return None
        d = _fold_rows(table.vecs * q)
        null = np.zeros(d.shape, dtype=bool)
        if metric == "dot":
            s = d
        elif metric == "cosine":
            den = np.sqrt(table.sqnorms) * math.sqrt(sq_norm_py(vec))
            null = den == 0.0
            s = d / np.where(null, 1.0, den)
        else:
            inner = (table.sqnorms + sq_norm_py(vec)) - 2.0 * d
            s = np.sqrt(np.where(inner < 0.0, 0.0, inner))
        if not np.isfinite(s[~null]).all():
            return None
        keep = ~null
        if bound is not None:
            keep &= (1.0 - s <= bound) if metric == "cosine" else (
                (s <= bound) if metric == "l2" else (s >= bound)
            )
        scored = np.flatnonzero(keep)
        ranked = scored[np.lexsort((table.id_order[scored], -s[scored] if higher else s[scored]))]
        if bound is None:
            nulls = np.flatnonzero(null)
            ranked = np.concatenate([ranked, nulls[np.argsort(table.id_order[nulls])]])
        out += [
            (qid, rank, int(r), None if null[r] else spark_round_score(float(s[r])))
            for rank, r in enumerate(ranked[:k], 1)
        ]
    return out


def grouped_topk(
    docs: DataFrame,
    query_vec: Sequence[float],
    group_col: str,
    k_groups: int,
    per_group: int,
    id_col: str = "id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Group-diversified vector search (the public Qdrant ``search_groups``
    API shape; the reference's Qdrant backend exposes plain ``query_points``
    — ``vector_mcp/vectordb/qdrant.py:242-270`` — and grouped search is the
    same engine's companion call): return the top ``k_groups`` metadata
    groups ranked by their BEST hit, with at most ``per_group`` hits inside
    each group — so one dominant source can never monopolize the result
    page the way a flat top-k lets it.

    Output: ``(group_rank, group_col, hit_rank, id_col, score)`` ordered by
    (group_rank, hit_rank), score rounded to 6 dp.

    Scale shape: the cosine is a map-side projection; only the narrow
    ``(group, id, score)`` triple shuffles for the per-group rank window
    (partitioned by group — no global sort); the group ranking itself runs
    on the ≤ |groups| one-row aggregates with the unpartitioned window
    applied AFTER a limit, so it never sees more than ``k_groups`` rows.
    """
    narrow = with_similarity(docs, query_vec, emb_col).select(
        F.col(group_col).alias("_grp"), F.col(id_col), F.col("score")
    )
    w_hits = Window.partitionBy("_grp").orderBy(F.col("score").desc(), F.col(id_col).asc())
    kept = (
        narrow.withColumn("hit_rank", F.row_number().over(w_hits))
        .where(F.col("hit_rank") <= per_group)
    )
    # rank groups by their best hit; limit BEFORE the unpartitioned window
    # so row_number only ever orders k_groups rows on one task
    best = kept.groupBy("_grp").agg(F.max("score").alias("_best"))
    top_groups = (
        best.orderBy(F.col("_best").desc(), F.col("_grp").asc())
        .limit(k_groups)
        .withColumn(
            "group_rank",
            F.row_number().over(Window.orderBy(F.col("_best").desc(), F.col("_grp").asc())),
        )
        .select("_grp", "group_rank")
    )
    return (
        kept.join(F.broadcast(top_groups), "_grp")
        .select(
            "group_rank",
            F.col("_grp").alias(group_col),
            "hit_rank",
            id_col,
            F.round("score", SCORE_DECIMALS).alias("score"),
        )
        .orderBy("group_rank", "hit_rank")
    )


def late_interaction_topk(
    corpus: DataFrame,
    query_vecs: Sequence[Sequence[float]],
    k: int,
    group_col: str = "label",
    emb_col: str = "embedding",
) -> DataFrame:
    """ColBERT-style MaxSim late interaction: the query is a SET of token
    vectors and a document is a GROUP of vectors (chunks / passage tokens);
    score(doc) = Σ over query tokens of the max cosine across the doc's
    vectors (Khattab & Zaharia, SIGIR'20). Returns (group, rank, score).

    Plan shape: the per-token cosines are literal-expanded projections on
    ONE corpus scan, the per-group maxes partial-aggregate map-side, and
    the top-k is TakeOrderedAndProject — scoring never shuffles anything
    wider than (group, |query| doubles) no matter how many vectors a
    document holds.
    """
    from vector_mcp_spark.functions.vector import cosine_similarity_lit

    n = len(query_vecs)
    per_vec = corpus.select(
        F.col(group_col).alias("grp"),
        *[
            cosine_similarity_lit(F.col(emb_col), vec).alias(f"_c{t}")
            for t, vec in enumerate(query_vecs)
        ],
    )
    maxes = per_vec.groupBy("grp").agg(
        *[F.max(f"_c{t}").alias(f"_m{t}") for t in range(n)]
    )
    total = maxes.select(
        F.col("grp").alias(group_col),
        F.round(sum(F.col(f"_m{t}") for t in range(n)), SCORE_DECIMALS).alias("score"),
    )
    w = Window.orderBy(F.col("score").desc(), F.col(group_col).asc())
    return (
        total.orderBy(F.col("score").desc(), F.col(group_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select(group_col, "rank", "score")
    )


def payload_boost_topk(
    docs: DataFrame,
    query_vec: Sequence[float],
    k: int,
    boost_col: str,
    target: float,
    scale: float,
    weight: float = 0.2,
    id_col: str = "id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Formula-rescored semantic search: score = cosine + weight ·
    gauss_decay(payload) — the qdrant score-boosting / formula-query
    surface (decay functions over numeric payload fields composed with the
    vector score; the reference's qdrant backend exposes the same
    collections this operator re-ranks, ``vector_mcp/vectordb/qdrant.py``).

    gauss_decay(x) = exp(−(x − target)² / (2·scale²)) — 1 at the target,
    smoothly → 0 away from it; ``weight`` trades vector relevance against
    payload affinity. A NULL payload value gets 0 boost (score = plain
    cosine) rather than a NULL score.

    Scale design: the decay term is one more codegen'd map-side expression
    on the row already being scored — the plan is identical to exact KNN
    (scan → project → TakeOrderedAndProject), zero extra shuffle, and the
    payload column rides the same scan (no join).
    """
    dev = F.col(boost_col).cast("double") - F.lit(float(target))
    # dev*dev, not pow(dev, 2): POWER can differ from the product by an ulp
    # between engines, and the oracle mirrors the product form exactly.
    # NULL payload → 0 boost (coalesce), NOT a NULL score: Spark orders
    # NULLs last under DESC while ANSI engines order them first, so a NULL
    # score would rank differently in the operator and any oracle/backend.
    gauss = F.coalesce(
        F.exp(-(dev * dev) / F.lit(2.0 * float(scale) * float(scale))), F.lit(0.0)
    )
    scored = with_similarity(docs, query_vec, emb_col, out_col="_sim").withColumn(
        "score", F.col("_sim") + F.lit(float(weight)) * gauss
    )
    return (
        scored.select(id_col, "score")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("score", F.round("score", SCORE_DECIMALS))
    )
