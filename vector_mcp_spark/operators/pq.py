"""Product quantization: m-subspace codebook compression for embeddings.

PQ (Jégou et al., TPAMI'11) splits a d-dim vector into m subvectors and
replaces each with the id of its nearest codebook centroid — d floats
become m small ints (64-dim float32 → 4 bytes here, 64×), the memory tier
that makes billion-vector ANN feasible. Complements the existing ladder:
int8 (4×, `operators/quantize.py`) → PQ (this) → IVF cluster pruning
(`operators/similarity.py`).

Determinism contract (same family as `ivf_build`): codebook init = the
n_codes rows with the smallest sha256(id); Lloyd updates use per-dimension
means ROUNDed to 8 dp; assignment ties go to the lowest code index
(np.argmin) — so ANSI SQL can rebuild the identical codebooks and replay
every code and the reconstruction error.

Scale shape: assignment is one Arrow-batched matmul-ish kernel per batch
(vectors never shuffle); the Lloyd update shuffles only (subspace, code,
partial sums); the codebook itself (m·k·d/m floats) broadcasts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_mcp_spark.functions.vector import dot


def pq_encode_with(
    df: DataFrame, codebooks: list[list[list[float]]], emb_col: str = "embedding"
) -> DataFrame:
    """Encode against FROZEN codebooks (adds ``codes`` array<int>): the
    encoding step of :func:`pq_build`'s Lloyd loop. Ties go to the lowest
    code index (np.argmin), keeping the SQL replay exact."""
    from pyspark.sql.functions import pandas_udf

    m = len(codebooks)
    sub = len(codebooks[0][0])
    cents = [np.asarray(cb, dtype=np.float64) for cb in codebooks]  # m × (k × sub)

    @pandas_udf("array<int>")
    def codes_of(col: pd.Series) -> pd.Series:
        mat = np.asarray(col.tolist(), dtype=np.float64)  # B × d
        out = np.empty((len(mat), m), dtype=np.int32)
        for s in range(m):
            x = mat[:, s * sub : (s + 1) * sub]  # B × sub
            diff = x[:, None, :] - cents[s][None, :, :]  # B × k × sub
            d2 = np.einsum("bks,bks->bk", diff, diff)
            out[:, s] = np.argmin(d2, axis=1)  # ties → lowest code
        return pd.Series(list(out))

    return df.withColumn("codes", codes_of(F.col(emb_col)))


def pq_build(
    corpus: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "id",
    emb_col: str = "embedding",
    iters: int = 1,
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Build PQ codebooks and encode the corpus.

    Returns (encoded, codebooks): ``encoded`` = corpus + ``codes``
    (array<int>, length m) + ``mse`` (6-dp per-vector reconstruction error),
    ``codebooks[s][j]`` = centroid j of subspace s.
    """
    first = corpus.select(F.size(F.col(emb_col)).alias("d")).first()
    if first is None:
        raise ValueError("empty corpus")
    d = int(first.d)
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m

    seed_rows = (
        corpus.select(
            F.col(emb_col).alias("v"), F.sha2(F.col(id_col).cast("string"), 256).alias("h")
        )
        .orderBy("h")
        .limit(n_codes)
        .collect()
    )
    if len(seed_rows) < n_codes:
        raise ValueError("corpus smaller than n_codes")
    codebooks = [
        [[float(x) for x in r.v[s * sub : (s + 1) * sub]] for r in seed_rows]
        for s in range(m)
    ]

    def assign(df: DataFrame, cbs: list[list[list[float]]]) -> DataFrame:
        return pq_encode_with(df, cbs, emb_col=emb_col)

    for _ in range(iters):
        assigned = assign(corpus, codebooks)
        ex = assigned.select(
            F.posexplode("codes").alias("s", "code"), F.col(emb_col).alias("v")
        ).withColumn("subv", F.expr(f"slice(v, s * {sub} + 1, {sub})"))
        agg = (
            ex.groupBy("s", "code")
            .agg(
                F.array(
                    *[F.round(F.avg(F.col("subv")[i]), 8) for i in range(sub)]
                ).alias("c")
            )
            .collect()
        )
        new = {(r.s, r.code): [float(x) for x in r.c] for r in agg}
        codebooks = [
            [new.get((s, j), codebooks[s][j]) for j in range(n_codes)] for s in range(m)
        ]

    encoded = assign(corpus, codebooks)
    total = None
    for s in range(m):
        cb_lit = F.array(
            *[F.array(*[F.lit(float(x)) for x in c]) for c in codebooks[s]]
        )
        cent = F.element_at(cb_lit, F.col("codes")[s] + 1)
        subv = F.slice(F.col(emb_col), s * sub + 1, sub)
        diff = F.zip_with(subv, cent, lambda x, y: x - y)
        sq = dot(diff, diff)  # same fold as the SQL list_dot_product replay
        total = sq if total is None else total + sq
    return encoded.withColumn("mse", F.round(total / F.lit(float(d)), 6)), codebooks


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int,
    id_col: str = "id",
) -> DataFrame:
    """Asymmetric distance computation — the search mode PQ exists for:
    the query stays exact, each corpus vector is its m code bytes, and
    distance = Σ_s table_s[code_s] where table_s holds the query
    subvector's squared L2 to every centroid of subspace s.

    The m·k-entry tables are computed driver-side and inlined as literals,
    so scoring a vector is m array lookups + a sum — no vector data is
    read at all. Returns (id, rank, adc_dist). At billion scale this scans
    the 4-byte code column only; chain an exact re-rank over the shortlist
    when recall matters.
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    tables = []
    for s in range(m):
        qs = [float(x) for x in query_vec[s * sub : (s + 1) * sub]]
        row = []
        for c in codebooks[s]:
            d = [qs[i] - c[i] for i in range(sub)]
            row.append(sum(x * x for x in d))  # sequential, mirrors list_dot_product
        tables.append(row)
    score = None
    for s in range(m):
        t_lit = F.array(*[F.lit(float(x)) for x in tables[s]])
        term = F.element_at(t_lit, F.col("codes")[s] + 1)
        score = term if score is None else score + term
    return (
        encoded.select(F.col(id_col), F.round(score, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
            ),
        )
        .select(id_col, "rank", "adc_dist")
    )


def ann_ivf_adc_topk(
    assigned: DataFrame,
    encoded: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int,
    nprobe: int = 4,
    id_col: str = "id",
    metric: str = "cosine",
) -> DataFrame:
    """IVF-ADC — the composition billion-vector serving actually runs
    (Jégou et al.'s IVFADC; FAISS ``IndexIVFPQ``): the coarse quantizer
    prunes the corpus to the query's top-``nprobe`` clusters, and ONLY the
    shortlisted vectors are ADC-scored from their m code bytes. Neither
    stage reads a full-precision corpus vector: the probe is driver-side
    math over the (tiny, broadcastable) centroid table, the scan reads the
    code column of the probed clusters' partitions, and the distance is m
    table lookups per candidate.

    Probe selection mirrors ``ann_ivf_topk``'s contract per ``metric``
    (cosine/dot best-first DESC, l2 ASC; ties to the lowest centroid
    index) with the same sequential float sums as the SQL replay, so the
    whole composition stays oracle-checkable. The ADC tables themselves
    are always squared-L2 lookups — that IS asymmetric distance
    computation; the metric steers the coarse probe and the caller's
    exact re-rank. Returns (id, rank, adc_dist) like :func:`pq_adc_topk`."""
    import math

    if metric not in ("cosine", "dot", "l2"):
        raise ValueError(f"unknown metric {metric!r}")
    q = [float(x) for x in query_vec]
    qn = math.sqrt(sum(x * x for x in q)) or 1.0

    def cos(c: list[float]) -> float:
        num = 0.0
        nn = 0.0
        for a, b in zip(q, c):
            num += a * b
            nn += b * b
        return num / (qn * (math.sqrt(nn) or 1.0))

    def dotp(c: list[float]) -> float:
        num = 0.0
        for a, b in zip(q, c):
            num += a * b
        return num

    def l2d2(c: list[float]) -> float:
        # squared distance — sqrt is monotone, ranking-identical
        d2 = 0.0
        for a, b in zip(q, c):
            d2 += (a - b) * (a - b)
        return d2

    if metric == "cosine":
        key = lambda i: (-cos(centroids[i]), i)  # noqa: E731
    elif metric == "dot":
        key = lambda i: (-dotp(centroids[i]), i)  # noqa: E731
    else:
        key = lambda i: (l2d2(centroids[i]), i)  # noqa: E731
    order = sorted(range(len(centroids)), key=key)
    probes = [int(i) for i in order[:nprobe]]
    shortlist = assigned.where(F.col("cluster").isin(probes)).select(id_col)
    cand = encoded.join(shortlist, id_col, "left_semi")
    return pq_adc_topk(cand, codebooks, query_vec, k, id_col=id_col)


def ann_ivf_adc_rerank_topk(
    assigned: DataFrame,
    encoded: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    corpus: DataFrame,
    query_vec: list[float],
    k: int,
    shortlist: int = 50,
    nprobe: int = 4,
    id_col: str = "id",
    emb_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """The COMPLETE IVF-PQ serving path: coarse probe → ADC shortlist →
    exact re-rank under ``metric`` (cosine/dot best-first desc, l2 asc —
    the pgvector opclass triple). ADC distances are distorted by
    quantization (the raw recall floor is low by design — see RECALL.md);
    production always re-ranks the shortlist against the full-precision
    vectors, and only those ``shortlist`` rows are ever read from the
    vector column. Returns (id, rank, score) like the exact ANN
    operators."""
    from vector_mcp_spark.functions.vector import dot, l2_distance_lit, l2_norm

    short = ann_ivf_adc_topk(
        assigned, encoded, centroids, codebooks, query_vec,
        shortlist, nprobe=nprobe, id_col=id_col, metric=metric,
    ).select(id_col)
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    emb = F.col(emb_col)
    if metric == "cosine":
        sim = dot(emb, qlit) / (l2_norm(emb) * l2_norm(qlit))
    elif metric == "dot":
        sim = dot(emb, qlit)
    else:
        sim = l2_distance_lit(emb, [float(x) for x in query_vec])
    higher = metric != "l2"
    order = (
        [F.col("_sim").desc(), F.col(id_col).asc()]
        if higher
        else [F.col("_sim").asc_nulls_last(), F.col(id_col).asc()]
    )
    cand = corpus.join(F.broadcast(short), id_col, "left_semi").select(
        F.col(id_col), sim.alias("_sim")
    )
    return (
        cand.orderBy(*order)
        .limit(k)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
        .select(id_col, "rank", F.round("_sim", 6).alias("score"))
    )
