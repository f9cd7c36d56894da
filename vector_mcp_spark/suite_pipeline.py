"""Declared data-pipeline queries: dedup family, similarity search, text
analysis (the north-star LLM-training-data operators, SURVEY.md §7 M5).

Every query carries a DuckDB oracle — including MinHash-LSH (the
'permutation' is a lexicographic min over sha256 chunk substrings precisely
so the oracle can replay it), multi-probe LSH ANN (deterministic
hyperplanes inlined as literals), and IVF ANN (the deterministic k-means
build rebuilt as CTE Lloyd iterations). The ANN variants are approximate in
recall but exact functions of (data, seeds), so they hash-compare like any
other query; recall is additionally pytest-gated against the exact
operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_mcp_spark.suite import _cosine_sql, docs_with_embeddings, load, register

_TOKS = "regexp_extract_all(lower(text), '[a-z0-9_]{2,}')"

# -- T1/T2: exact dedup groups (content-hash id) ----------------------------

_DEDUP_EXACT_ORACLE = """
SELECT sha256(text) AS content_id, count(*) AS n_docs, min(doc_id) AS kept_id
FROM documents GROUP BY sha256(text)
"""


@register("dedup_exact", _DEDUP_EXACT_ORACLE, "dedup", "pipeline")
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.dedup import exact_dedup_groups

    docs = load(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, id_col="doc_id", content_col="text")


# -- normalized-prefix dedup -------------------------------------------------

_DEDUP_NORM_ORACLE = f"""
SELECT array_to_string(list_slice({_TOKS}, 1, 2), ' ') AS dedup_key,
       count(*) AS n_docs, min(doc_id) AS kept_id
FROM documents GROUP BY 1
"""


@register("dedup_normalized", _DEDUP_NORM_ORACLE, "dedup", "pipeline")
def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.dedup import normalized_key_dedup

    docs = load(spark, sf_dir, "documents")
    return normalized_key_dedup(docs, id_col="doc_id", content_col="text", n_prefix_tokens=2)


# -- training-sequence packing (concat-then-chunk, per-writer streams) -------

_PACK_BUDGET = 256
_PACK_WRITERS = 8

_PACK_ORACLE = f"""
WITH d AS (
  SELECT doc_id, len({_TOKS}) AS n_tokens,
         CAST(CAST('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
              % {_PACK_WRITERS} AS INTEGER) AS writer
  FROM documents
),
s AS (
  SELECT doc_id, writer,
         sum(n_tokens) OVER (PARTITION BY writer ORDER BY doc_id ASC
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS start
  FROM d
)
SELECT doc_id, writer,
       CAST(start // {_PACK_BUDGET} AS BIGINT) AS seq_id,
       CAST(start % {_PACK_BUDGET} AS BIGINT) AS seq_offset
FROM s
"""


@register("corpus_pack_sequences", _PACK_ORACLE, "pipeline", "packing")
def q_corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.functions.text import tokens
    from vector_mcp_spark.operators.packing import pack_sequences

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).alias("n_tokens")
    )
    return pack_sequences(docs, _PACK_BUDGET, n_writers=_PACK_WRITERS)


# -- int8 embedding quantization (4x storage cut, per-vector scale) -----------

_QUANT_ORACLE = """
WITH s AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale
  FROM embeddings
),
q AS (
  SELECT vec_id, v, scale,
         CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
              ELSE list_transform(v, x -> CAST(round(x / scale, 0) AS INTEGER)) END AS qv
  FROM s
)
SELECT vec_id, round(scale, 6) AS scale_r,
       round(list_reduce([(v[i] - qv[i] * scale) ^ 2 FOR i IN range(1, len(v) + 1)],
                         (a, b) -> a + b) / len(v), 6) AS mse,
       array_to_string(qv, ',') AS q_str
FROM q
"""


@register("embedding_quantize_int8", _QUANT_ORACLE, "pipeline", "quantize")
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.quantize import quantization_error

    embs = load(spark, sf_dir, "embeddings")
    return quantization_error(embs, include_q=True)


# -- benchmark decontamination (n-gram overlap vs a held-out eval split) ------
#
# n=3 here because the synthetic corpus has a ~40-word vocabulary (real
# corpora use 8-13); the eval split is every 50th doc_id.

_CONTAM_N = 3

_CONTAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i + {_CONTAM_N} - 1], ' ')
                        FOR i IN range(1, len(t) - {_CONTAM_N} + 2)]) AS s
  FROM toks
),
bench AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 50 = 0),
train AS (SELECT doc_id, unnest(s) AS gram FROM sh WHERE doc_id % 50 <> 0),
tot AS (SELECT doc_id, len(s) AS n_grams FROM sh WHERE doc_id % 50 <> 0),
shared AS (
  SELECT doc_id, count(*) AS n_shared FROM train
  WHERE gram IN (SELECT gram FROM bench) GROUP BY doc_id
)
SELECT t.doc_id, CAST(t.n_grams AS INTEGER) AS n_grams,
       CAST(s.n_shared AS INTEGER) AS n_shared,
       round(CAST(s.n_shared AS DOUBLE) / t.n_grams, 6) AS contamination
FROM tot t JOIN shared s USING (doc_id)
"""


# Bloom-prefiltered decontamination: the eval-set gram broadcast becomes a
# fixed n_bits/8-byte filter (mergeable via bit_or), and the exact check
# runs beside it so the deterministic false-positive overcount is visible.
# Build, probe, and FP behavior all replay in SQL bit-for-bit.

_BLOOM_BITS = 16384  # ~2 KB filter; ≈1% FP at the bench's ~1.2k grams
_BLOOM_HASHES = 3


def _bloom_oracle() -> str:
    def pos(val: str, j: int) -> str:
        return (
            f"((CAST('0x' || substring(sha256({val} || '|b{j}'), 1, 15) AS BIGINT)"
            f" % {_BLOOM_BITS} + {_BLOOM_BITS}) % {_BLOOM_BITS})"
        )

    probe_join = []
    for j in range(_BLOOM_HASHES):
        probe_join.append(f"""
  SELECT doc_id, gram, {j} AS j, {pos("gram", j)} AS pos FROM train""")
    probes = " UNION ALL ".join(probe_join)
    build = " UNION ALL ".join(
        f"SELECT {pos('gram', j)} AS pos FROM bench" for j in range(_BLOOM_HASHES)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i + {_CONTAM_N} - 1], ' ')
                        FOR i IN range(1, len(t) - {_CONTAM_N} + 2)]) AS s
  FROM toks
),
bench AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 50 = 0),
train AS (SELECT doc_id, unnest(s) AS gram FROM sh WHERE doc_id % 50 <> 0),
allpos AS ({build}),
words AS (
  SELECT CAST(pos // 32 AS INT) AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
  FROM allpos GROUP BY pos // 32
),
probes AS ({probes}),
checks AS (
  SELECT p.doc_id, p.gram,
         min(CASE WHEN (COALESCE(w.bits, 0) >> CAST(p.pos % 32 AS INT)) & 1 = 1
                  THEN 1 ELSE 0 END) AS hit
  FROM probes p LEFT JOIN words w ON w.word_idx = CAST(p.pos // 32 AS INT)
  GROUP BY p.doc_id, p.gram
),
agg AS (
  SELECT c.doc_id,
         count(*) AS n_grams,
         SUM(c.hit) AS n_bloom,
         SUM(CASE WHEN c.gram IN (SELECT gram FROM bench) THEN 1 ELSE 0 END) AS n_exact
  FROM checks c GROUP BY c.doc_id
)
SELECT doc_id, CAST(n_grams AS INTEGER) AS n_grams,
       CAST(n_bloom AS INTEGER) AS n_bloom,
       CAST(n_exact AS INTEGER) AS n_exact
FROM agg WHERE n_bloom > 0
"""


@register("corpus_bloom_decontaminate", _bloom_oracle(), "pipeline", "contamination")
def q_corpus_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.bloom import (
        bloom_build,
        bloom_might_contain,
        bloom_words,
    )
    from vector_mcp_spark.operators.contamination import ngram_set

    from vector_mcp_spark.operators.partition import spread

    # spread: the tokenize + gram + 3×sha-probe map stage must not be pinned
    # to the single scan partition (guide §2.5)
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text")).select(
        "doc_id", ngram_set(F.col("text"), _CONTAM_N).alias("s")
    )
    # the bench gram set feeds TWO plan references (the bloom build's collect
    # and the exact-check broadcast join) — checkpoint so its tokenize chain
    # runs once; it is the eval-set distinct-gram frame, already assumed
    # broadcastable by the exact check below
    bench = docs.where(F.col("doc_id") % 50 == 0).select(
        F.explode("s").alias("gram")
    ).distinct().localCheckpoint(eager=True)
    words = bloom_words(
        bloom_build(bench, "gram", n_bits=_BLOOM_BITS, n_hashes=_BLOOM_HASHES),
        n_bits=_BLOOM_BITS,
    )
    train = docs.where(F.col("doc_id") % 50 != 0).select(
        "doc_id", F.explode("s").alias("gram")
    )
    flagged = train.withColumn(
        "hit",
        bloom_might_contain(
            F.col("gram"), words, n_bits=_BLOOM_BITS, n_hashes=_BLOOM_HASHES
        ).cast("int"),
    ).join(
        F.broadcast(bench.withColumn("_in_bench", F.lit(1))), "gram", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_grams"),
            F.sum("hit").cast("int").alias("n_bloom"),
            F.sum(F.coalesce(F.col("_in_bench"), F.lit(0))).cast("int").alias("n_exact"),
        )
        .where(F.col("n_bloom") > 0)
    )


@register("corpus_decontaminate", _CONTAM_ORACLE, "pipeline", "contamination")
def q_corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.contamination import contamination_report

    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    train = docs.where(F.col("doc_id") % 50 != 0)
    return contamination_report(train, bench, n=_CONTAM_N)


# -- source-weighted mixture sampling (training-epoch weights) ----------------

_MIX_RATES = {"src0": 2.5, "src1": 0.5, "src2": 0.0}

_MIX_ORACLE = """
WITH r AS (
  SELECT doc_id, source,
         CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.5
                     WHEN 'src2' THEN 0.0 ELSE 1.0 END AS rate,
         CAST('0x' || substring(sha256(CAST(doc_id AS VARCHAR) || '|mix'), 1, 15) AS BIGINT)
           / 1152921504606846976.0 AS u
  FROM documents
),
n AS (
  SELECT doc_id, source,
         CAST(floor(rate) + CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END AS INTEGER) AS nc
  FROM r
)
SELECT doc_id, source, CAST(i AS INTEGER) AS copy
FROM n CROSS JOIN (SELECT unnest(range(4)) AS i)
WHERE nc > 0 AND i < nc
"""


@register("corpus_mixture_sample", _MIX_ORACLE, "pipeline", "mixing")
def q_corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.packing import mixture_sample

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return mixture_sample(docs, _MIX_RATES)


# -- weighted sampling without replacement (A-ES, quality-weighted corpus) ----

_WS_K = 50

_WS_ORACLE = f"""
WITH w AS (
  SELECT doc_id, n_chars,
         CAST('0x' || substring(sha256(CAST(doc_id AS VARCHAR) || '|wsample'), 1, 15) AS BIGINT)
           / 1152921504606846976.0 AS u
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars,
         ROUND(pow(u, 1.0 / CAST(n_chars AS DOUBLE)), 12) AS aes_key
  FROM w
) ORDER BY aes_key DESC, doc_id ASC LIMIT {_WS_K}
"""


@register("corpus_weighted_sample", _WS_ORACLE, "pipeline", "sampling")
def q_corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.packing import weighted_row_sample

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_row_sample(docs, k=_WS_K, weight_col="n_chars")


# -- JL random projection (64 -> 16 dims, sha256-seeded matrix) ---------------

_RP_OUT_DIM = 16
_RP_IN_DIM = 64


def _rp_oracle() -> str:
    from vector_mcp_spark.operators.projection import (
        projection_matrix,
        projection_scale,
    )

    mat = projection_matrix(_RP_IN_DIM, _RP_OUT_DIM)
    scale = projection_scale(_RP_OUT_DIM)
    comps = ", ".join(
        f"list_dot_product(v, [{', '.join(repr(x) for x in row)}]) * {scale!r}"
        for row in mat
    )
    return f"""
WITH pr AS (
  SELECT vec_id, [{comps}] AS p
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
)
SELECT vec_id, CAST(i AS INTEGER) AS dim, ROUND(p[CAST(i AS INTEGER) + 1], 6) AS val
FROM pr CROSS JOIN (SELECT unnest(range({_RP_OUT_DIM})) AS i)
"""


@register("embedding_random_projection", _rp_oracle(), "pipeline", "projection")
def q_embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.projection import (
        project_embeddings,
        projection_matrix,
    )

    embs = load(spark, sf_dir, "embeddings")
    mat = projection_matrix(_RP_IN_DIM, _RP_OUT_DIM)
    return project_embeddings(embs, mat).select(
        "vec_id", F.posexplode("proj").alias("dim", "v")
    ).select("vec_id", "dim", F.round("v", 6).alias("val"))


# -- per-label centroids + distance-to-centroid outliers ----------------------

_OUTLIER_K = 5


def _centroid_oracle() -> str:
    def norm(v: str) -> str:
        s = f"sqrt(list_dot_product({v}, {v}))"
        return f"(CASE WHEN {s} = 0 THEN NULL ELSE {s} END)"

    return f"""
WITH ev AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
m AS (
  SELECT label, i, ROUND(avg(v[CAST(i AS INTEGER) + 1]), 8) AS val
  FROM ev CROSS JOIN (SELECT unnest(range(64)) AS i)
  GROUP BY label, i
),
c AS (SELECT label, list(val ORDER BY i) AS cent FROM m GROUP BY label),
s AS (
  SELECT e.label, e.vec_id,
         list_dot_product(e.v, c.cent) / ({norm("e.v")} * {norm("c.cent")}) AS sm
  FROM ev e JOIN c USING (label)
)
SELECT label, CAST(rn AS INTEGER) AS rank, vec_id, ROUND(sm, 6) AS score
FROM (
  SELECT *, row_number() OVER (PARTITION BY label ORDER BY sm ASC NULLS FIRST, vec_id ASC) AS rn
  FROM s
) WHERE rn <= {_OUTLIER_K}
"""


@register("embedding_centroid_outliers", _centroid_oracle(), "pipeline", "centroids")
def q_embedding_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.centroids import centroid_outliers

    embs = load(spark, sf_dir, "embeddings")
    return centroid_outliers(embs, k=_OUTLIER_K)


# -- two-stage projected ANN (coarse 64→32 rank, exact re-rank) ---------------

_PANN_OUT_DIM = 32
_PANN_SHORTLIST = 100
_PANN_K = 10


def _pann_oracle() -> str:
    from vector_mcp_spark.operators.projection import (
        projection_matrix,
        projection_scale,
    )

    mat = projection_matrix(_RP_IN_DIM, _PANN_OUT_DIM)
    scale = projection_scale(_PANN_OUT_DIM)
    comps = ", ".join(
        f"list_dot_product(v, [{', '.join(repr(x) for x in row)}]) * {scale!r}"
        for row in mat
    )

    def sim(a: str, b: str) -> str:
        return (
            f"(list_dot_product({a}, {b}) / "
            f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
        )

    return f"""
WITH pr AS (
  SELECT vec_id, v, [{comps}] AS p
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
),
q AS (SELECT vec_id AS query_id, v AS qv, p AS qp FROM pr WHERE vec_id < 20),
coarse AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, q.qv, c.v AS nv,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY {sim("c.p", "q.qp")} DESC NULLS LAST,
                                     c.vec_id ASC) AS cr
  FROM pr c CROSS JOIN q
  WHERE c.vec_id != q.query_id
)
SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, ROUND(sm, 6) AS score
FROM (
  SELECT query_id, neighbor_id, {sim("nv", "qv")} AS sm,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {sim("nv", "qv")} DESC NULLS LAST,
                                     neighbor_id ASC) AS rn
  FROM coarse WHERE cr <= {_PANN_SHORTLIST}
) WHERE rn <= {_PANN_K}
"""


@register("ann_projected_topk", _pann_oracle(), "similarity", "pipeline")
def q_ann_projected_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.projection import (
        ann_projected_topk,
        projection_matrix,
    )

    embs = load(spark, sf_dir, "embeddings")
    qs = embs.where(F.col("vec_id") < 20)
    mat = projection_matrix(_RP_IN_DIM, _PANN_OUT_DIM)
    return ann_projected_topk(
        qs, embs, k=_PANN_K, matrix=mat, shortlist=_PANN_SHORTLIST, id_col="vec_id"
    )


# -- blocked n-gram Jaccard near-dup pairs ----------------------------------

_JACCARD_T = 0.95
_PAIR_LIMIT = 200

_NGRAM_JACCARD_ORACLE = f"""
WITH dt AS (
  SELECT doc_id, lang, n_chars // 100 AS len_bucket,
         list_distinct({_TOKS}) AS toks
  FROM documents
)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         ROUND(
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6
         ) AS jaccard
  FROM dt a JOIN dt b
    ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
)
WHERE jaccard >= {_JACCARD_T}
ORDER BY jaccard DESC, id_a ASC, id_b ASC
LIMIT {_PAIR_LIMIT}
"""


@register("dedup_ngram_jaccard", _NGRAM_JACCARD_ORACLE, "dedup", "pipeline")
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.dedup import ngram_jaccard_pairs

    docs = load(spark, sf_dir, "documents").withColumn(
        "len_bucket", F.floor(F.col("n_chars") / 100)
    )
    pairs = ngram_jaccard_pairs(
        docs, _JACCARD_T, id_col="doc_id", content_col="text", block_cols=("lang", "len_bucket")
    )
    return pairs.orderBy(F.col("jaccard").desc(), "id_a", "id_b").limit(_PAIR_LIMIT)


# -- MinHash + LSH near-dup pairs (oracle replays the banding!) --------------

_MH_T = 0.9
_MH_HASHES = 16
_MH_BANDS = 2
_MH_R = _MH_HASHES // _MH_BANDS

_MINHASH_ORACLE = f"""
WITH dt AS (
  SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents
),
ex AS (SELECT doc_id, unnest(toks) AS tok FROM dt),
hp AS (
  SELECT doc_id, p,
         min(substring(sha256(tok || '|0') || sha256(tok || '|1'), 8 * p + 1, 8)) AS h
  FROM ex CROSS JOIN (SELECT unnest(range({_MH_HASHES})) AS p)
  GROUP BY doc_id, p
),
bands AS (
  SELECT doc_id, CAST(p // {_MH_R} AS INT) AS band,
         string_agg(h, '|' ORDER BY p) AS sig
  FROM hp GROUP BY doc_id, p // {_MH_R}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
ver AS (
  SELECT id_a, id_b,
         ROUND(
           CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
           (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))), 6
         ) AS jaccard
  FROM cand JOIN dt ta ON ta.doc_id = cand.id_a JOIN dt tb ON tb.doc_id = cand.id_b
)
SELECT id_a, id_b, jaccard FROM ver WHERE jaccard >= {_MH_T}
ORDER BY jaccard DESC, id_a ASC, id_b ASC
LIMIT {_PAIR_LIMIT}
"""


@register("dedup_minhash_lsh", _MINHASH_ORACLE, "dedup", "pipeline")
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.dedup import minhash_lsh_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, _MH_T, id_col="doc_id", content_col="text", num_hashes=_MH_HASHES, bands=_MH_BANDS
    )
    return pairs.orderBy(F.col("jaccard").desc(), "id_a", "id_b").limit(_PAIR_LIMIT)


# -- product quantization: m-subspace codebook compression --------------------
#
# 64-dim float32 → 4 code bytes (64×), the memory tier under billion-vector
# ANN. Build is deterministic (sha-ordered seeds, 8-dp-rounded Lloyd means,
# argmin ties to the lowest code), so the oracle rebuilds both codebook
# generations and replays every code and the reconstruction error — the
# same replay discipline as the IVF oracle.

_PQ_M, _PQ_SUB, _PQ_K, _PQ_D = 4, 16, 16, 64


def _pq_oracle() -> str:
    def assign_cte(name: str, cb: str) -> str:
        return f"""
{name}_d AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v, cb.s, cb.code,
         [ (e.embedding::DOUBLE[])[cb.s * {_PQ_SUB} + i + 1] - cb.c[i + 1]
           FOR i IN range(0, {_PQ_SUB}) ] AS diff
  FROM embeddings e CROSS JOIN {cb} cb
),
{name} AS (
  SELECT vec_id, v, s, code, dist FROM (
    SELECT vec_id, v, s, code, list_dot_product(diff, diff) AS dist,
           row_number() OVER (
             PARTITION BY vec_id, s
             ORDER BY list_dot_product(diff, diff) ASC, code ASC) AS rn
    FROM {name}_d
  ) WHERE rn = 1
)"""

    def update_cte(name: str, assign: str, prev: str) -> str:
        return f"""
{name}_m AS (
  SELECT a.s, a.code, i.i, ROUND(avg(a.v[a.s * {_PQ_SUB} + i.i + 1]), 8) AS val
  FROM {assign} a CROSS JOIN (SELECT unnest(range({_PQ_SUB})) AS i) i
  GROUP BY a.s, a.code, i.i
),
{name}_l AS (SELECT s, code, list(val ORDER BY i) AS c FROM {name}_m GROUP BY s, code),
{name} AS (
  SELECT p.s, p.code, COALESCE(n.c, p.c) AS c
  FROM {prev} p LEFT JOIN {name}_l n ON n.s = p.s AND n.code = p.code
)"""

    return f"""
WITH seedv AS (
  SELECT code, v FROM (
    SELECT row_number() OVER (ORDER BY sha256(CAST(vec_id AS VARCHAR))) - 1 AS code,
           embedding::DOUBLE[] AS v
    FROM embeddings
  ) WHERE code < {_PQ_K}
),
cb0 AS (
  SELECT s.s, seedv.code,
         v[s.s * {_PQ_SUB} + 1 : s.s * {_PQ_SUB} + {_PQ_SUB}] AS c
  FROM seedv CROSS JOIN (SELECT unnest(range({_PQ_M})) AS s) s
),{assign_cte("a1", "cb0")},{update_cte("cb1", "a1", "cb0")},{assign_cte("a2", "cb1")}
SELECT vec_id,
       array_to_string(list(code ORDER BY s), ',') AS codes_str,
       ROUND(SUM(dist) / {_PQ_D}, 6) AS mse
FROM a2 GROUP BY vec_id
"""


def _pq_cached(spark: SparkSession, sf_dir: str):
    """PQ index is built offline and queried many times (same contract as
    the LSH/IVF caches): encoded codes parquet + codebooks JSON per sf."""
    import json
    import os

    from vector_mcp_spark.operators.pq import pq_build

    embs = load(spark, sf_dir, "embeddings")
    cache = _index_cache(sf_dir, f"pq_{_PQ_M}x{_PQ_K}")
    cb_path = os.path.join(cache, "codebooks.json")
    codes_path = os.path.join(cache, "encoded")
    if not (
        os.path.exists(cb_path)
        and os.path.exists(os.path.join(codes_path, "_SUCCESS"))
    ):
        encoded, codebooks = pq_build(
            embs, m=_PQ_M, n_codes=_PQ_K, id_col="vec_id", emb_col="embedding", iters=1
        )
        encoded.write.mode("overwrite").parquet(codes_path)
        os.makedirs(cache, exist_ok=True)
        with open(cb_path, "w") as f:
            json.dump(codebooks, f)
    with open(cb_path) as f:
        codebooks = json.load(f)
    return spark.read.parquet(codes_path), codebooks


@register("embedding_pq_codes", _pq_oracle(), "similarity", "pipeline")
def q_embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    encoded, _ = _pq_cached(spark, sf_dir)
    return encoded.select(
        "vec_id",
        F.array_join(F.transform("codes", lambda c: c.cast("string")), ",").alias(
            "codes_str"
        ),
        "mse",
    )


# ADC search over the codes — the point of PQ: the query stays exact, each
# corpus vector is its m code bytes, distance = m table lookups. The oracle
# extends the codebook replay with the query's distance tables (one UNION
# branch per subspace, the query subvector inlined as literals).

_PQ_ADC_K = 10


def _pq_adc_oracle() -> str:
    from vector_mcp_spark.suite import SEM_QUERY_VEC, _vec_sql_literal

    branches = []
    for s in range(_PQ_M):
        qs = _vec_sql_literal(
            [float(x) for x in SEM_QUERY_VEC[s * _PQ_SUB : (s + 1) * _PQ_SUB]]
        )
        branches.append(f"""
  SELECT {s} AS s, code,
         list_dot_product(d, d) AS t FROM (
    SELECT code, [ ({qs})[i + 1] - c[i + 1] FOR i IN range(0, {_PQ_SUB}) ] AS d
    FROM cb1 WHERE s = {s}
  )""")
    qtab = " UNION ALL ".join(branches)
    base = _pq_oracle()
    # reuse the full codebook/assignment chain; swap the final SELECT
    chain = base[: base.rindex("SELECT vec_id,")]
    return f"""{chain.rstrip()},
qtab AS ({qtab}),
scored AS (
  SELECT a2.vec_id, ROUND(SUM(q.t), 6) AS adc_dist
  FROM a2 JOIN qtab q ON q.s = a2.s AND q.code = a2.code
  GROUP BY a2.vec_id
)
SELECT vec_id, CAST(rnk AS INTEGER) AS rank, adc_dist FROM (
  SELECT vec_id, adc_dist,
         row_number() OVER (ORDER BY adc_dist ASC, vec_id ASC) AS rnk
  FROM scored
) WHERE rnk <= {_PQ_ADC_K}
"""


@register("embedding_pq_adc_topk", _pq_adc_oracle(), "similarity", "pipeline")
def q_embedding_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.pq import pq_adc_topk
    from vector_mcp_spark.suite import SEM_QUERY_VEC

    encoded, codebooks = _pq_cached(spark, sf_dir)
    return pq_adc_topk(encoded, codebooks, SEM_QUERY_VEC, _PQ_ADC_K, id_col="vec_id")


# -- lexical diversity per source (type-token ratio + Shannon entropy) --------
#
# Corpus-analysis staples for mixture design: a source whose entropy
# collapses is template spam; TTR tracks vocabulary breadth. One explode +
# two grouped passes (token counts, then per-source aggregation) — the
# same scan family the token stats use.

_DIVERSITY_ORACLE = f"""
WITH ex AS (
  SELECT source, unnest({_TOKS}) AS tok FROM documents
),
tc AS (
  SELECT source, tok, count(*) AS c FROM ex GROUP BY source, tok
),
tot AS (
  SELECT source, SUM(c) AS n, count(*) AS n_types FROM tc GROUP BY source
)
SELECT t.source,
       CAST(t.n AS BIGINT) AS n_tokens,
       CAST(t.n_types AS BIGINT) AS n_types,
       ROUND(CAST(t.n_types AS DOUBLE) / t.n, 6) AS ttr,
       ROUND(-SUM((c.c / t.n) * ln(c.c / t.n)), 6) AS entropy
FROM tc c JOIN tot t USING (source)
GROUP BY t.source, t.n, t.n_types
"""


@register("corpus_lexical_diversity", _DIVERSITY_ORACLE, "textstats", "pipeline")
def q_corpus_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.functions.text import tokens

    docs = load(spark, sf_dir, "documents")
    ex = docs.select("source", F.explode(tokens("text")).alias("tok"))
    tc = ex.groupBy("source", "tok").agg(F.count("*").alias("c"))
    tot = tc.groupBy("source").agg(
        F.sum("c").alias("n"), F.count("*").alias("n_types")
    )
    p = F.col("c") / F.col("n")
    return (
        tc.join(tot, "source")
        .groupBy("source", "n", "n_types")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy"))
        .select(
            "source",
            F.col("n").cast("long").alias("n_tokens"),
            F.col("n_types").cast("long").alias("n_types"),
            F.round(F.col("n_types").cast("double") / F.col("n"), 6).alias("ttr"),
            "entropy",
        )
    )


# -- unigram log-probability quality scoring (CCNet-style proxy) --------------
#
# CCNet filters web text by LM perplexity; the distributable stand-in is
# the corpus's own unigram model: token log-probabilities from one global
# count (broadcast — vocab-sized), then mean log-prob per doc in the same
# explode pass the token stats already use. Low scores = surprising token
# mix = extraction noise or boilerplate soup.

# shared by the unigram-logprob and CCNet-filter oracles — ONE definition
# of the corpus-LM token score so the two can never silently diverge
_AVG_LP_CTES = f"""ex AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
vocab AS MATERIALIZED (
  SELECT tok, count(*) AS c FROM ex GROUP BY tok
),
total AS (SELECT SUM(c) AS n FROM vocab),
lp_scored AS (
  SELECT e.doc_id, ln(v.c / t.n) AS lp
  FROM ex e JOIN vocab v ON e.tok = v.tok CROSS JOIN total t
)"""

_UNI_ORACLE = f"""
WITH {_AVG_LP_CTES}
SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tokens,
       ROUND(AVG(lp), 6) AS avg_logprob
FROM lp_scored GROUP BY doc_id
"""


def _unigram_lp_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-token corpus-LM log-probabilities (doc_id, lp) — the Spark twin
    of _AVG_LP_CTES, shared by the unigram-logprob and CCNet entries.

    vocab is NOT force-broadcast: a web-scale vocabulary outgrows the
    broadcast budget, and AQE picks broadcast automatically while it fits;
    at the largest scales cut to top-K tokens + an OOV floor probability.
    The one-row total always broadcasts."""
    from vector_mcp_spark.functions.text import tokens

    docs = load(spark, sf_dir, "documents")
    ex = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    vocab = ex.groupBy("tok").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    return (
        ex.join(vocab, "tok")
        .join(F.broadcast(total))
        .withColumn("lp", F.log(F.col("c") / F.col("n")))
    )


@register("corpus_unigram_logprob", _UNI_ORACLE, "textstats", "pipeline")
def q_corpus_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _unigram_lp_scored(spark, sf_dir).groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_tokens"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


# -- data-quality expectations: the gate before promoting a snapshot ----------
#
# All row-level rules evaluate in ONE conditional-aggregation scan; the
# uniqueness rule adds one grouped pass. Violation counts are plain data —
# diffable across snapshots, usable as a write gate.

_EXPECT_ORACLE = """
SELECT 'not_null:text' AS rule,
       CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
       SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) = 0 AS passed
FROM documents
UNION ALL
SELECT 'in_set:lang',
       CAST(SUM(CASE WHEN lang NOT IN ('en','de','fr','es','zz') OR lang IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN lang NOT IN ('en','de','fr','es','zz') OR lang IS NULL
                THEN 1 ELSE 0 END) = 0
FROM documents
UNION ALL
SELECT 'range:n_chars',
       CAST(SUM(CASE WHEN n_chars NOT BETWEEN 1 AND 100000 OR n_chars IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN n_chars NOT BETWEEN 1 AND 100000 OR n_chars IS NULL
                THEN 1 ELSE 0 END) = 0
FROM documents
UNION ALL
SELECT 'expr:n_chars_matches_text',
       CAST(SUM(CASE WHEN NOT COALESCE(n_chars = length(text), FALSE)
                     THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN NOT COALESCE(n_chars = length(text), FALSE)
                THEN 1 ELSE 0 END) = 0
FROM documents
UNION ALL
SELECT 'unique:doc_id',
       CAST(COALESCE(SUM(c - 1), 0) AS BIGINT),
       COALESCE(SUM(c - 1), 0) = 0
FROM (SELECT doc_id, count(*) AS c FROM documents GROUP BY doc_id) WHERE c > 1
UNION ALL
SELECT 'ref:doc_id',
       CAST(count(*) AS BIGINT),
       count(*) = 0
FROM documents d WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
"""


@register("corpus_expectations", _EXPECT_ORACLE, "validation", "pipeline")
def q_corpus_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.expectations import expectation_report

    docs = load(spark, sf_dir, "documents")
    embs = load(spark, sf_dir, "embeddings")
    return expectation_report(
        docs,
        [
            ("not_null", "text"),
            ("in_set", "lang", ["en", "de", "fr", "es", "zz"]),
            ("range", "n_chars", 1, 100000),
            ("expr", "n_chars_matches_text", "n_chars = length(text)"),
            ("unique", "doc_id"),
            ("ref", "doc_id", embs, "vec_id"),
        ],
    )


# -- corpus manifest: the dataset card a snapshot publishes -------------------
#
# One row per (source, lang): doc/token volume, size profile, and the
# bag-fingerprint dup fraction — the summary a training-data release ships
# so mixture design can weigh sources without touching raw data. Pure
# scan + one grouped aggregation.

_MANIFEST_ORACLE = f"""
WITH per_doc AS (
  SELECT source, lang, n_chars,
         len({_TOKS}) AS ntok,
         md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fp
  FROM documents
)
SELECT source, lang, count(*) AS n_docs,
       CAST(SUM(ntok) AS BIGINT) AS total_tokens,
       ROUND(AVG(n_chars), 6) AS avg_chars,
       CAST(count(DISTINCT fp) AS BIGINT) AS distinct_docs,
       ROUND(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6) AS dup_frac
FROM per_doc GROUP BY source, lang
"""


@register("corpus_manifest", _MANIFEST_ORACLE, "textstats", "pipeline")
def q_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.functions.text import tokens
    from vector_mcp_spark.operators.textstats import fingerprint

    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source", "lang", "n_chars",
        F.size(tokens("text")).alias("ntok"),
        fingerprint(F.col("text")).alias("fp"),
    )
    return per_doc.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ntok").cast("long").alias("total_tokens"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.countDistinct("fp").cast("long").alias("distinct_docs"),
        F.round(
            1.0 - F.countDistinct("fp").cast("double") / F.count("*"), 6
        ).alias("dup_frac"),
    )


# -- incremental near-dup: incoming batch vs existing corpus ------------------
#
# The production ingest path: odd doc_ids play the incoming drop, even ones
# the standing collection. Candidates come from cross-table band collisions
# only — no corpus self-join — then exact-verify. The oracle replays the
# per-doc banding and the cross-table join.

_INC_ORACLE = f"""
WITH dt AS (
  SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents
),
ex AS (SELECT doc_id, unnest(toks) AS tok FROM dt),
hp AS (
  SELECT doc_id, p,
         min(substring(sha256(tok || '|0') || sha256(tok || '|1'), 8 * p + 1, 8)) AS h
  FROM ex CROSS JOIN (SELECT unnest(range({_MH_HASHES})) AS p)
  GROUP BY doc_id, p
),
bands AS (
  SELECT doc_id, CAST(p // {_MH_R} AS INT) AS band,
         string_agg(h, '|' ORDER BY p) AS sig
  FROM hp GROUP BY doc_id, p // {_MH_R}
),
cand AS (
  SELECT DISTINCT a.doc_id AS in_id, b.doc_id AS corpus_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
),
ver AS (
  SELECT in_id, corpus_id,
         ROUND(
           CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
           (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))), 6
         ) AS jaccard
  FROM cand JOIN dt ta ON ta.doc_id = cand.in_id JOIN dt tb ON tb.doc_id = cand.corpus_id
)
SELECT in_id, corpus_id, jaccard FROM ver WHERE jaccard >= {_MH_T}
ORDER BY jaccard DESC, in_id ASC, corpus_id ASC
LIMIT {_PAIR_LIMIT}
"""


@register("dedup_incremental_lsh", _INC_ORACLE, "dedup", "pipeline")
def q_dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.dedup import incremental_near_dup

    docs = load(spark, sf_dir, "documents")
    incoming = docs.where(F.col("doc_id") % 2 == 1)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    pairs = incremental_near_dup(
        incoming, corpus, _MH_T,
        id_col="doc_id", content_col="text",
        num_hashes=_MH_HASHES, bands=_MH_BANDS,
    )
    return pairs.orderBy(F.col("jaccard").desc(), "in_id", "corpus_id").limit(_PAIR_LIMIT)


# -- SimHash fingerprints -----------------------------------------------------

# Replays the fingerprint exactly: token hash = first 8 sha256 hex chars as
# int32; bit b set iff the occurrence-weighted ±1 sum over tokens is > 0.
_SIMHASH_ORACLE = f"""
WITH ex AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
h AS (
  SELECT doc_id, CAST(('0x' || substring(sha256(tok), 1, 8)) AS BIGINT) AS h FROM ex
),
bits AS (
  SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN (SELECT unnest(range(32)) AS b) GROUP BY doc_id, b
)
SELECT doc_id AS id,
       CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


@register("simhash_fingerprints", _SIMHASH_ORACLE, "dedup", "pipeline")
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.dedup import simhash

    docs = load(spark, sf_dir, "documents")
    return simhash(docs, id_col="doc_id", content_col="text", bits=32)


# -- winnowed rolling-hash fingerprint near-dup (MOSS; SIGMOD'03) -------------
#
# k-gram hashes via md5 (cross-engine identical), min per w-window, distinct
# per doc, stop-shingle cut at max_df, pair = shared-fingerprint count. The
# oracle replays the exact winnow with DuckDB list comprehensions.

_WINNOW_K, _WINNOW_W, _WINNOW_MAXDF, _WINNOW_MINSHARED = 3, 4, 50, 2

_WINNOW_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
grams AS (
  SELECT doc_id,
         [md5(array_to_string(list_slice(t, i, i + {_WINNOW_K} - 1), ' '))
          FOR i IN range(1, len(t) - {_WINNOW_K} + 2)] AS g
  FROM toks WHERE len(t) >= {_WINNOW_K} + {_WINNOW_W} - 1
),
fps AS (
  SELECT doc_id,
         list_distinct([list_min(list_slice(g, j, j + {_WINNOW_W} - 1))
                        FOR j IN range(1, len(g) - {_WINNOW_W} + 2)]) AS f
  FROM grams
),
ex AS (SELECT doc_id, unnest(f) AS fp FROM fps),
keep AS (SELECT fp FROM ex GROUP BY fp HAVING count(*) <= {_WINNOW_MAXDF}),
fe AS (SELECT e.doc_id, e.fp FROM ex e JOIN keep k ON e.fp = k.fp)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM fe a JOIN fe b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {_WINNOW_MINSHARED}
"""


@register("dedup_winnow_fingerprints", _WINNOW_ORACLE, "dedup", "pipeline")
def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.dedup import winnow_near_dup_pairs

    docs = load(spark, sf_dir, "documents")
    return winnow_near_dup_pairs(
        docs, id_col="doc_id", content_col="text",
        k=_WINNOW_K, w=_WINNOW_W,
        min_shared=_WINNOW_MINSHARED, max_df=_WINNOW_MAXDF,
    )


# -- exact similarity self-join: top-1 neighbor for a query subset -----------

_SIM_TOP1_ORACLE = f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) *
          sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))) AS sim
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id != q.vec_id
)
SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, ROUND(sim, 6) AS score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
  FROM scored
) WHERE rnk <= 1
"""


@register("simjoin_top1", _SIM_TOP1_ORACLE, "similarity", "pipeline")
def q_simjoin_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.similarity import cosine_self_join_topk

    embs = load(spark, sf_dir, "embeddings")
    queries = embs.where(F.col("vec_id") < 50)
    return cosine_self_join_topk(queries, embs, 1, id_col="vec_id", emb_col="embedding", dim=64)


# -- hard-negative mining (contrastive-training staple) -----------------------
#
# For each anchor: the k nearest-by-cosine vectors with a DIFFERENT label —
# close in embedding space, semantically wrong, exactly what a retrieval
# trainer pairs against the positive. Exact scorer here; at scale the ANN
# index feeds the shortlist and this re-ranks it.

_HARDNEG_K = 5

_HARDNEG_ORACLE = f"""
WITH a AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 25 = 0),
scored AS (
  SELECT a.vec_id AS anchor_id, c.vec_id AS negative_id,
         list_dot_product(c.embedding::DOUBLE[], a.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) *
          sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))) AS sim
  FROM embeddings c CROSS JOIN a
  WHERE c.label != a.label
)
SELECT anchor_id, CAST(rnk AS INTEGER) AS rank, negative_id, ROUND(sim, 6) AS score FROM (
  SELECT *, row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, negative_id ASC) AS rnk
  FROM scored
) WHERE rnk <= {_HARDNEG_K}
"""


@register("embedding_hard_negatives", _HARDNEG_ORACLE, "similarity", "pipeline")
def q_embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.similarity import hard_negative_mine

    embs = load(spark, sf_dir, "embeddings")
    anchors = embs.where(F.col("vec_id") % 25 == 0)
    return hard_negative_mine(
        anchors, embs, _HARDNEG_K, id_col="vec_id", emb_col="embedding", label_col="label"
    )


# -- approximate ANN (rows-only: approximate by construction) -----------------

# ANN indexes are built offline and queried many times — at 100 TB the
# bucketed/assigned corpus is a partitioned table, not something rebuilt per
# query. The suite queries mirror that: the index materializes to a local
# cache keyed by corpus on first use, and the declared query measures search.


def _index_cache(sf_dir: str, name: str) -> str:
    import os

    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return os.path.abspath(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".tmp", f"{name}_{sf_tag}")
    )


def _ann_lsh_oracle() -> str:
    """Full SQL replay of the multi-probe LSH: the sha256-derived hyperplanes
    are deterministic, so they inline as literals — bucket bits are CASE'd
    dot-product signs, multi-probe is per-table ``IN (bucket, bucket XOR
    2^b…)``, and the candidate set re-ranks by exact cosine. This upgrades
    ANN from a rows-only check to a value-hashed oracle row: approximate in
    recall, but a deterministic function of (data, planes) all the same."""
    from vector_mcp_spark.operators.similarity import _hyperplanes

    tables = _hyperplanes(64, 6, 4)

    def dot(col: str, plane: list[float]) -> str:
        lits = ", ".join(repr(float(x)) for x in plane)
        return f"list_dot_product({col}::DOUBLE[], [{lits}]::DOUBLE[])"

    def bucket(col: str, planes: list[list[float]]) -> str:
        terms = " + ".join(
            f"(CASE WHEN {dot(col, p)} > 0 THEN {2**i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )
        return f"({terms})"

    qb = ",\n  ".join(f"{bucket('embedding', t)} AS b{ti}" for ti, t in enumerate(tables))
    probe_or = " OR ".join(
        f"c.b{t} IN (q.b{t}, " + ", ".join(f"xor(q.b{t}, {2**b})" for b in range(6)) + ")"
        for t in range(4)
    )
    return f"""
WITH cb AS (SELECT vec_id, embedding, {qb} FROM embeddings),
q AS (SELECT * FROM cb WHERE vec_id < 20),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) *
          sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))) AS sim
  FROM cb c, q
  WHERE q.vec_id != c.vec_id AND ({probe_or})
)
SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, ROUND(sim, 6) AS score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
  FROM cand
) WHERE rnk <= 5
"""


@register("ann_lsh_topk", _ann_lsh_oracle(), "similarity", "pipeline")
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from vector_mcp_spark.operators.similarity import _hyperplanes, ann_lsh_topk, lsh_bucketize

    embs = load(spark, sf_dir, "embeddings")
    cache = _index_cache(sf_dir, "lsh_6x4")
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        bucketed, _ = lsh_bucketize(embs, dim=64, n_planes=6, n_tables=4, emb_col="embedding")
        bucketed.write.mode("overwrite").parquet(cache)
    bucketed = spark.read.parquet(cache)
    planes = _hyperplanes(64, 6, 4)  # deterministic (sha256-derived)
    queries = embs.where(F.col("vec_id") < 20)
    return ann_lsh_topk(queries, bucketed, planes, 5, id_col="vec_id", emb_col="embedding")


_EMB_NEARDUP_T = 0.4

_EMB_NEARDUP_ORACLE = f"""
SELECT id_a, id_b, score FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS score
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
WHERE score >= {_EMB_NEARDUP_T}
ORDER BY score DESC, id_a ASC, id_b ASC
LIMIT {_PAIR_LIMIT}
"""


@register("embedding_near_dup", _EMB_NEARDUP_ORACLE, "dedup", "pipeline")
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.similarity import embedding_near_dup_blocked

    embs = load(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_blocked(
        embs, _EMB_NEARDUP_T, block_col="label", id_col="vec_id", emb_col="embedding", dim=64
    )
    return pairs.orderBy(F.col("score").desc(), "id_a", "id_b").limit(_PAIR_LIMIT)


# -- text analysis: stats, quality, lang-id, fingerprint ----------------------

_STOPWORDS_SQL = "('the','a','of','and','to','in','is','on','for','with')"
_LANGS = {
    "de": "('der','die','das','und','ist','nicht','ein','mit')",
    "en": "('the','and','is','of','to','a','in','that')",
    "es": "('el','la','de','que','y','los','es','un')",
    "fr": "('le','la','et','les','des','est','une','dans')",
}
_LANG_SCORES = ",\n         ".join(
    f"count(*) FILTER (WHERE tok IN {m}) AS s_{lang}" for lang, m in sorted(_LANGS.items())
)
_LANG_CASE = (
    "CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 OR greatest(s_de, s_en, s_es, s_fr) IS NULL THEN 'und' "
    + " ".join(
        f"WHEN s_{lang} = greatest(s_de, s_en, s_es, s_fr) THEN '{lang}'" for lang in sorted(_LANGS)
    )
    + " END"
)

_TEXT_STATS_ORACLE = f"""
WITH ex AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
per_doc AS (
  SELECT doc_id,
         count(*) AS n_toks,
         count(*) FILTER (WHERE tok IN {_STOPWORDS_SQL}) AS n_stop,
         {_LANG_SCORES},
         array_to_string(list_sort(list_distinct(list(tok))), ' ') AS sorted_toks
  FROM ex GROUP BY doc_id
)
SELECT d.doc_id AS doc_id,
       CAST(COALESCE(p.n_toks, 0) AS INTEGER) AS n_tokens,
       CAST(length(d.text) AS INTEGER) AS n_chars,
       ROUND(CASE WHEN COALESCE(p.n_toks, 0) > 0
                  THEN CAST(p.n_stop AS DOUBLE) / p.n_toks ELSE 0.0 END, 6) AS stop_ratio,
       ROUND(CASE WHEN length(d.text) > 0
                  THEN CAST(length(regexp_replace(d.text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(d.text)
                  ELSE 0.0 END, 6) AS alpha_ratio,
       ROUND(0.4 * (CASE WHEN COALESCE(p.n_toks, 0) > 0
                         THEN CAST(p.n_stop AS DOUBLE) / p.n_toks ELSE 0.0 END)
           + 0.3 * least(CAST(COALESCE(p.n_toks, 0) AS DOUBLE) / 100.0, 1.0)
           + 0.3 * (CASE WHEN length(d.text) > 0
                         THEN CAST(length(regexp_replace(d.text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(d.text)
                         ELSE 0.0 END), 6) AS quality,
       {_LANG_CASE} AS lang_pred,
       md5(COALESCE(p.sorted_toks, '')) AS fingerprint
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


@register("text_stats", _TEXT_STATS_ORACLE, "textstats", "pipeline")
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.partition import spread
    from vector_mcp_spark.operators.textstats import text_stats

    # spread at the ENTRY, not inside text_stats: this entry materializes all
    # seven per-row signals (heavy map work, wins from fan-out), while the
    # quality-filter callers prune to 2-3 signals where the extra shuffle
    # costs more than the map stage saves (measured r13, guide §2.5)
    docs = spread(
        load(spark, sf_dir, "documents").select("doc_id", F.col("text").alias("content"))
    )
    return text_stats(docs, id_col="doc_id", content_col="content")


# -- Gopher-style repetition signals (corpus curation) -----------------------

# Same metric formulas as repetition_stats: the nested count-in-list lambdas
# replay Spark's nested HOFs one-for-one; `keep` compares the ROUNDED fracs
# against the same literals on both sides so boundary docs can't diverge.
_REPETITION_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         {_TOKS} AS toks,
         list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                     l -> length(l) > 0) AS lines
  FROM documents
), b AS (
  SELECT doc_id, toks, lines,
         CASE WHEN len(toks) >= 2
              THEN list_transform(list_zip(toks[1:-2], toks[2:]), p -> p[1] || ' ' || p[2])
              ELSE CAST([] AS VARCHAR[]) END AS bigrams
  FROM t
), s AS (
  SELECT doc_id,
         CAST(len(lines) AS INTEGER) AS n_lines,
         ROUND(CASE WHEN len(lines) > 0
               THEN (len(lines) - len(list_distinct(lines)))::DOUBLE / len(lines)
               ELSE 0.0 END, 6) AS dup_line_frac,
         ROUND(CASE WHEN list_sum(list_transform(lines, l -> length(l))) > 0
               THEN list_sum(list_transform(lines,
                      l -> CASE WHEN len(list_filter(lines, x -> x = l)) > 1
                                THEN length(l) ELSE 0 END))::DOUBLE
                    / list_sum(list_transform(lines, l -> length(l)))
               ELSE 0.0 END, 6) AS dup_line_char_frac,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         ROUND(CASE WHEN len(toks) > 0
               THEN (len(toks) - len(list_distinct(toks)))::DOUBLE / len(toks)
               ELSE 0.0 END, 6) AS dup_token_frac,
         ROUND(CASE WHEN len(bigrams) > 0
               THEN COALESCE(list_max(list_transform(list_distinct(bigrams),
                        g -> len(list_filter(bigrams, x -> x = g)))), 0)::DOUBLE / len(bigrams)
               ELSE 0.0 END, 6) AS top_bigram_frac
  FROM b
)
SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac, n_tokens,
       dup_token_frac, top_bigram_frac,
       (dup_line_frac <= 0.30 AND dup_token_frac <= 0.65
        AND top_bigram_frac <= 0.08) AS keep
FROM s
"""


@register("corpus_repetition_stats", _REPETITION_ORACLE, "textstats", "pipeline")
def q_corpus_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.textstats import repetition_stats

    docs = load(spark, sf_dir, "documents")
    return repetition_stats(docs, id_col="doc_id", content_col="text")


# -- T3 sanitize pass (content PII/path redaction) ---------------------------

# Same four regexes in the same order as sanitize_text_col (T3,
# vector_api.py:44-46,284-301 semantics); RE2/Java-regex compatible — the
# windows-path prefix guard is a capture group (no lookbehind in RE2).
_SAN_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_SAN_WIN = r"(^|[^\w:])((?:[A-Za-z]:[\\/]|\\\\[^\s\\]+\\)[^\s<>\"']+)".replace("'", "''")
_SAN_PATH = r"(?:/[A-Za-z0-9._-]+){2,}/?"
_SAN_PHONE = r"\+?\d[\d ()-]{7,}\d"

_SANITIZE_ORACLE = f"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '{_SAN_EMAIL}', '[REDACTED]', 'g'),
             '{_SAN_WIN}', '\\1[REDACTED_PATH]', 'g'),
           '{_SAN_PATH}', '[REDACTED_PATH]', 'g'),
         '{_SAN_PHONE}', '[REDACTED]', 'g') AS clean_text
FROM documents
"""


@register("sanitize_content", _SANITIZE_ORACLE, "pipeline", "parity")
def q_sanitize_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.sanitize import sanitize_content_col

    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", sanitize_content_col(F.col("text")).alias("clean_text"))


# -- T5 chunking (512-token cap in prod; small windows here so the fixture's
# short docs actually split) -------------------------------------------------

_CHUNK_TOKENS = 8
_CHUNK_OVERLAP = 2
_CHUNK_STEP = _CHUNK_TOKENS - _CHUNK_OVERLAP

_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
n AS (
  SELECT doc_id, toks,
         greatest(CAST(ceil((len(toks) - {_CHUNK_OVERLAP}) / {_CHUNK_STEP}.0) AS BIGINT), 1) AS n_chunks
  FROM t
)
SELECT doc_id,
       CAST(doc_id AS VARCHAR) || '_' || CAST(p AS VARCHAR) AS chunk_id,
       CAST(p AS INTEGER) AS chunk_pos,
       array_to_string(list_slice(toks, p * {_CHUNK_STEP} + 1, p * {_CHUNK_STEP} + {_CHUNK_TOKENS}), ' ') AS chunk_text
FROM n CROSS JOIN (SELECT unnest(range((SELECT max(n_chunks) FROM n))) AS p)
WHERE p < n_chunks
"""


@register("chunk_documents", _CHUNK_ORACLE, "pipeline", "parity")
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.sources.readers import chunk_documents

    docs = load(spark, sf_dir, "documents").select("doc_id", F.col("text").alias("content"))
    return chunk_documents(
        docs,
        content_col="content",
        id_col="doc_id",
        chunk_tokens=_CHUNK_TOKENS,
        overlap_tokens=_CHUNK_OVERLAP,
    )


def _ivf_norm_sql(v: str) -> str:
    s = f"sqrt(list_dot_product({v}, {v}))"
    return f"(CASE WHEN {s} = 0 THEN 1 ELSE {s} END)"


def _ivf_sim_sql(a: str, b: str) -> str:
    return f"(list_dot_product({a}, {b}) / ({_ivf_norm_sql(a)} * {_ivf_norm_sql(b)}))"


def _kmeans_replay_ctes() -> str:
    """The WITH-clause prefix that rebuilds the deterministic ivf_16 k-means
    in DuckDB (seeds → 2 assign/update Lloyd rounds → final assignment
    ``a3`` with (vec_id, v, cluster)). Shared by the IVF-ANN oracle and the
    SemDeDup oracle so both replay the One index the suite caches."""

    def assign_cte(name: str, cent_cte: str) -> str:
        return f"""
{name}_s AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v, s.idx,
         {_ivf_sim_sql("e.embedding::DOUBLE[]", "s.c")} AS sm
  FROM embeddings e CROSS JOIN {cent_cte} s
),
{name} AS (
  SELECT vec_id, v, idx AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sm DESC, idx ASC) AS rn FROM {name}_s
  ) WHERE rn = 1
)"""

    def update_cte(name: str, assign: str, prev: str) -> str:
        return f"""
{name}_m AS (
  SELECT cluster, i, ROUND(avg(v[i + 1]), 8) AS val
  FROM {assign} CROSS JOIN (SELECT unnest(range(64)) AS i)
  GROUP BY cluster, i
),
{name}_l AS (SELECT cluster AS idx, list(val ORDER BY i) AS c FROM {name}_m GROUP BY cluster),
{name} AS (SELECT p.idx, COALESCE(n.c, p.c) AS c FROM {prev} p LEFT JOIN {name}_l n ON n.idx = p.idx)"""

    return f"""
WITH seeds AS (
  SELECT idx, c FROM (
    SELECT row_number() OVER (ORDER BY sha256(CAST(vec_id AS VARCHAR))) - 1 AS idx,
           embedding::DOUBLE[] AS c
    FROM embeddings
  ) WHERE idx < 16
),{assign_cte("a1", "seeds")},{update_cte("c1", "a1", "seeds")},{assign_cte("a2", "c1")},{update_cte("c2", "a2", "c1")},{assign_cte("a3", "c2")}"""


def _ann_ivf_oracle() -> str:
    """Full SQL replay of the IVF index AND its query: the build is
    deterministic end to end (init = 16 rows with smallest sha256(id);
    2 Lloyd iterations of cosine-argmax assignment — ties to the lowest
    centroid index, matching np.argmax — and per-dimension means ROUNDed to
    8 dp, which absorbs cross-engine float-sum-order noise; empty clusters
    keep their previous centroid), so DuckDB can rebuild the exact same
    centroids, replay the final assignment, rank centroids per query, probe
    the top nprobe clusters, and re-rank by exact cosine. With this, every
    declared query in the suite is value-oracled."""
    sim = _ivf_sim_sql

    return f"""{_kmeans_replay_ctes()},
q AS (SELECT vec_id, v FROM a3 WHERE vec_id < 20),
qs AS (
  SELECT q.vec_id AS query_id, q.v AS qe, s.idx, {sim("q.v", "s.c")} AS sm
  FROM q CROSS JOIN c2 s
),
probe AS (
  SELECT query_id, qe, idx AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sm DESC, idx ASC) AS rn FROM qs
  ) WHERE rn <= 4
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, {sim("p.qe", "a.v")} AS sm
  FROM probe p JOIN a3 a ON a.cluster = p.cluster AND a.vec_id != p.query_id
)
SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, ROUND(sm, 6) AS score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sm DESC NULLS LAST, neighbor_id ASC) AS rnk
  FROM cand
) WHERE rnk <= 5
"""


def _ann_ivf_dot_oracle() -> str:
    """The MIPS twin of :func:`_ann_ivf_oracle`: the SAME cosine-built
    k-means CTEs (the assignment is shared — the engine's dot collections
    cluster under cosine too), with centroid ranking and the final re-rank
    both by raw inner product DESC (same fold as suite._dot_sql; the
    shared helper _hnsw_dot_sim_sql is defined later in this module, so
    inline the expression here — this builder runs at import time)."""
    def sim(a: str, b: str) -> str:
        return f"list_dot_product({a}, {b})"

    return f"""{_kmeans_replay_ctes()},
q AS (SELECT vec_id, v FROM a3 WHERE vec_id < 20),
qs AS (
  SELECT q.vec_id AS query_id, q.v AS qe, s.idx, {sim("q.v", "s.c")} AS sm
  FROM q CROSS JOIN c2 s
),
probe AS (
  SELECT query_id, qe, idx AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sm DESC, idx ASC) AS rn FROM qs
  ) WHERE rn <= 4
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, {sim("p.qe", "a.v")} AS sm
  FROM probe p JOIN a3 a ON a.cluster = p.cluster AND a.vec_id != p.query_id
)
SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, ROUND(sm, 6) AS score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sm DESC NULLS LAST, neighbor_id ASC) AS rnk
  FROM cand
) WHERE rnk <= 5
"""


def _ivf_cached(spark: SparkSession, sf_dir: str):
    """The One IVF index the suite caches per sf (assigned parquet +
    centroids JSON) — shared by the IVF-ANN, IVF-PQ, and graph entries."""
    import json
    import os

    from vector_mcp_spark.operators.similarity import ivf_build

    cache = _index_cache(sf_dir, "ivf_16")
    cent_path = os.path.join(cache, "centroids.json")
    assigned_path = os.path.join(cache, "assigned")
    if not (os.path.exists(cent_path) and os.path.exists(os.path.join(assigned_path, "_SUCCESS"))):
        embs = load(spark, sf_dir, "embeddings")
        assigned, centroids = ivf_build(embs, n_centroids=16, id_col="vec_id", max_iter=2)
        assigned.write.mode("overwrite").parquet(assigned_path)
        with open(cent_path, "w") as f:
            json.dump(centroids, f)
    with open(cent_path) as f:
        centroids = json.load(f)
    return spark.read.parquet(assigned_path), centroids


@register("ann_ivf_topk", _ann_ivf_oracle(), "similarity", "pipeline")
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (rows-only: approximate by construction;
    recall pytest-gated against the exact operator in test_similarity)."""
    from vector_mcp_spark.operators.similarity import ann_ivf_topk

    embs = load(spark, sf_dir, "embeddings")
    assigned, centroids = _ivf_cached(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 20)
    return ann_ivf_topk(queries, assigned, centroids, 5, nprobe=4, id_col="vec_id")


@register("ann_ivf_dot_topk", _ann_ivf_dot_oracle(), "similarity", "pipeline")
def q_ann_ivf_dot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dot-metric (MIPS) IVF ANN over the SAME cached cosine coarse
    quantizer (the engine's MIPS compromise): centroids ranked and probed
    clusters re-ranked by raw inner product — the pgvector
    ``ivfflat (embedding vector_ip_ops)`` serving route, completing the
    qdrant Distance enum across the IVF family like ann_hnsw_dot_topk did
    for the graph family; fully value-oracled."""
    from vector_mcp_spark.operators.similarity import ann_ivf_topk

    embs = load(spark, sf_dir, "embeddings")
    assigned, centroids = _ivf_cached(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 20)
    return ann_ivf_topk(
        queries, assigned, centroids, 5, nprobe=4, id_col="vec_id", metric="dot"
    )


# The fake decoder derives features from sha256(base64(bytes) + "|" + block)
# hex chunks — a VARCHAR-friendly recipe chosen precisely so DuckDB can
# replay the whole Arrow-batched decode seam and the query gets a full value
# oracle despite the stubbed media libs. Features are projected to exact
# milli-unit ints (v*1000 is integral by construction) — the driver's
# canonicalizer sorts cell values, so no raw array<float> may reach it.
_MM_FEAT_ORACLE = """
WITH media AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         sha256(base64(encode(text)) || '|0') AS h
  FROM documents
)
SELECT media_id, kind, 8 AS n_features,
       array_to_string(
         [CAST(CAST('0x' || substr(h, 4 * i + 1, 4) AS INTEGER) % 1000 AS VARCHAR)
          FOR i IN range(0, 8)], ',') AS feat_milli
FROM media
"""


@register("multimodal_features", _MM_FEAT_ORACLE, "multimodal", "pipeline")
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media feature extraction over binary columns through the Arrow-batched
    deterministic-fake decode seam (container has no media libs; the seam,
    schema, batching, and partitioning are the real thing under test)."""
    from vector_mcp_spark.multimodal.binary_ops import extract_features

    docs = load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("image")).otherwise(F.lit("audio")).alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("data"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media, dim=8)
    # no orderBy: the check is order-insensitive and a global sort after the
    # Arrow stage would be a pointless full-shuffle. v*1000 is integral by
    # construction (v = n/1000), so the round() only undoes float32 noise.
    return feats.select(
        "media_id",
        "kind",
        F.size("features").cast("int").alias("n_features"),
        F.array_join(
            F.transform("features", lambda v: F.round(v * 1000).cast("int").cast("string")),
            ",",
        ).alias("feat_milli"),
    )


# Frame bytes are sha256(base64(data) + "|" + ts) digests — VARCHAR-friendly
# on purpose so the oracle can rebuild every frame's hex fingerprint and the
# executed mapInPandas seam is value-checked end to end.
_MM_FRAME_ORACLE = """
WITH media AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         encode(text) AS data,
         CAST(n_chars % 5000 AS BIGINT) AS duration_ms
  FROM documents WHERE doc_id % 5 = 0
),
frames AS (
  SELECT media_id, data, unnest(range(0, duration_ms, 1000)) AS ts FROM media
)
SELECT media_id,
       CAST(ts / 1000 AS INTEGER) AS frame_idx,
       CAST(ts AS BIGINT) AS frame_ts_ms,
       sha256(base64(data) || '|' || CAST(ts AS VARCHAR)) AS frame_hex
FROM frames
"""


@register("multimodal_frame_sample", _MM_FRAME_ORACLE, "multimodal", "pipeline")
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling seam over fake video rows (deterministic sha-derived
    frames at real timestamps; one output row per sampled frame). Frames are
    projected to their hex — binary cells stay off the driver
    canonicalizer, and the hex IS the sha256 the oracle rebuilds."""
    from vector_mcp_spark.multimodal.binary_ops import sample_frames

    docs = load(spark, sf_dir, "documents")
    media = docs.where(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("data"),
        F.struct(
            F.lit("video/mp4").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.col("n_chars") % 5000).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    frames = sample_frames(media, every_ms=1000)
    return frames.select(
        "media_id", "frame_idx", "frame_ts_ms", F.lower(F.hex("frame")).alias("frame_hex")
    )


# -- REAL image-header decode (no fake: dimensions parsed from the bytes) -----
#
# The binary column carries genuine PNG / JPEG structures synthesized as
# Column expressions (unhex of the magic + big-endian dims), and
# parse_image_meta recovers mime/width/height by actually walking the
# header — stdlib struct, no media libs. The oracle recomputes the planted
# dimensions from the source columns, so a parser that misreads a single
# byte order or segment offset hash-mismatches.

_MM_DIMS_ORACLE = """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/jpeg' END AS mime,
       CAST(n_chars % 1024 + 1 AS INTEGER) AS width,
       CAST(doc_id % 512 + 1 AS INTEGER) AS height
FROM documents
"""


@register("multimodal_image_dims", _MM_DIMS_ORACLE, "multimodal", "pipeline")
def q_multimodal_image_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.multimodal.binary_ops import parse_image_meta

    docs = load(spark, sf_dir, "documents")
    w = (F.col("n_chars") % 1024 + 1).cast("int")
    h = (F.col("doc_id") % 512 + 1).cast("int")

    def be(col, hex_digits):
        return F.unhex(F.lpad(F.hex(col), hex_digits, "0"))

    # PNG: signature + IHDR(len=13) + W(be4) + H(be4) + depth/color/etc + CRC
    png = F.concat(
        F.unhex(F.lit("89504E470D0A1A0A0000000D49484452")),
        be(w, 8), be(h, 8),
        F.unhex(F.lit("080200000000000000")),
    )
    # JPEG: SOI + SOF0(len=0x11, precision 8) + H(be2) + W(be2) + 3 component
    # specs + EOI — a real segment walk is needed to find the dims
    jpg = F.concat(
        F.unhex(F.lit("FFD8FFC0001108")),
        be(h, 4), be(w, 4),
        F.unhex(F.lit("03011100021100031100FFD9")),
    )
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, png).otherwise(jpg).alias("data"),
    )
    return parse_image_meta(media)


# Audio twin: complete RIFF/WAVE files (fmt chunk + real zero-sample data
# body) synthesized from Column expressions; the parser's chunk walk and
# little-endian decode recover channels/rate, and duration falls out of
# exact integer math both engines replay.

_WAV_RATES = {0: 8000, 1: 16000, 2: 44100}

_MM_AUDIO_ORACLE = f"""
SELECT CAST(doc_id AS VARCHAR) AS media_id, 'audio/wav' AS mime,
       CAST(1 + doc_id % 2 AS INTEGER) AS channels,
       CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END
            AS INTEGER) AS sample_rate,
       CAST((n_chars * 4 * 1000)
            // ((CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END)
                * (1 + doc_id % 2) * 2) AS BIGINT) AS duration_ms
FROM documents WHERE doc_id % 4 = 0
"""


@register("multimodal_audio_meta", _MM_AUDIO_ORACLE, "multimodal", "pipeline")
def q_multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.multimodal.binary_ops import parse_audio_meta

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    channels = (1 + F.col("doc_id") % 2).cast("int")
    rate = (
        F.when(F.col("doc_id") % 3 == 0, 8000)
        .when(F.col("doc_id") % 3 == 1, 16000)
        .otherwise(44100)
        .cast("int")
    )
    byte_rate = rate * channels * 2
    data_size = (F.col("n_chars") * 4).cast("int")

    def le4(col):
        h = F.lpad(F.hex(col.cast("bigint")), 8, "0")
        return F.unhex(
            F.concat(
                F.substring(h, 7, 2), F.substring(h, 5, 2),
                F.substring(h, 3, 2), F.substring(h, 1, 2),
            )
        )

    def le2(col):
        h = F.lpad(F.hex(col.cast("bigint")), 4, "0")
        return F.unhex(F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2)))

    wav = F.concat(
        F.encode(F.lit("RIFF"), "utf-8"), le4(data_size + 36),
        F.encode(F.lit("WAVEfmt "), "utf-8"), le4(F.lit(16)),
        le2(F.lit(1)), le2(channels), le4(rate), le4(byte_rate),
        le2(channels * 2), le2(F.lit(16)),
        F.encode(F.lit("data"), "utf-8"), le4(data_size),
        F.unhex(F.repeat(F.lit("00"), data_size)),  # real zero-sample body
    )
    media = docs.select(F.col("doc_id").cast("string").alias("media_id"), wav.alias("data"))
    return parse_audio_meta(media)


# -- T6 batch embedding (the mapInPandas seam itself, oracle-replayed) --------

_EMBED_DIM = 16

# hash_embed(text, dim)[i] = sha256(text|i)[:8 bytes] % 1000 / 1000 — the
# 8 unsigned bytes are parsed in two 32-bit halves (DuckDB can't cast 16 hex
# chars straight to HUGEINT). Output is EXPLODED to one (doc_id, i, val) row
# per vector element: the driver canonicalizer can't sort array<float> cells
# (round-1 ``err``), and the element-wise shape upgrades the check to a true
# per-value hash match.
_EMBED_ORACLE = f"""
SELECT doc_id, CAST(t.i AS INTEGER) AS i,
  CAST((CAST(CAST(('0x' || substring(sha256(text || '|' || CAST(t.i AS VARCHAR)), 1, 8)) AS BIGINT) AS HUGEINT) * 4294967296
        + CAST(('0x' || substring(sha256(text || '|' || CAST(t.i AS VARCHAR)), 9, 8)) AS BIGINT)) % 1000 / 1000.0 AS FLOAT) AS val
FROM documents, range({_EMBED_DIM}) t(i)
"""


@register("embed_documents", _EMBED_ORACLE, "pipeline", "parity")
def q_embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The T6 embedding transform (Arrow-batched mapInPandas, one model call
    per batch) with the deterministic hash embedder — the full ingest-side
    embedding path is what's under oracle check, not just its output shape."""
    from vector_mcp_spark.functions.embedder import embed_documents

    docs = load(spark, sf_dir, "documents").select("doc_id", F.col("text").alias("content"))
    out = embed_documents(docs, text_col="content", out_col="embedding", dim=_EMBED_DIM)
    return out.select("doc_id", F.posexplode("embedding").alias("i", "val"))


# -- token counting: whitespace + BPE-ish subword regex (north-star ask) ------

# Subword-ish pieces: letter runs are split off camelCase/digit boundaries,
# digits count per run, punctuation runs count once — a cheap stand-in with
# the same *shape* as a BPE pre-tokenizer (GPT-2 style \w/\d/punct classes).
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"

_TOKEN_COUNTS_ORACLE = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\\S+')) AS INTEGER) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS INTEGER) AS n_subword_tokens,
       CAST(ceil(length(text) / 4.0) AS INTEGER) AS n_chars_div4
FROM documents
"""


@register("token_counts", _TOKEN_COUNTS_ORACLE, "textstats", "pipeline")
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    ws = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), F.lit(0)))
    sub = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0)))
    return docs.select(
        "doc_id",
        ws.cast("int").alias("n_ws_tokens"),
        sub.cast("int").alias("n_subword_tokens"),
        F.ceil(F.length("text") / 4.0).cast("int").alias("n_chars_div4"),
    )


# -- corpus quality filter (the LLM-curation pre-filter, composed) ------------

_CORPUS_FILTER_ORACLE = f"""
WITH stats AS ({_TEXT_STATS_ORACLE})
SELECT s.doc_id AS doc_id, s.quality, s.n_tokens, d.lang
FROM stats s JOIN documents d ON s.doc_id = d.doc_id
WHERE s.quality >= 0.55 AND d.lang IN ('en', 'de')
  AND s.n_chars BETWEEN 100 AND 10000
"""


@register("corpus_quality_filter", _CORPUS_FILTER_ORACLE, "textstats", "pipeline")
def q_corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.textstats import text_stats

    docs = load(spark, sf_dir, "documents")
    stats = text_stats(
        docs.select("doc_id", F.col("text").alias("content")), id_col="doc_id", content_col="content"
    )
    return (
        stats.join(docs.select("doc_id", "lang"), "doc_id")
        .where(
            (F.col("quality") >= 0.55)
            & F.col("lang").isin("en", "de")
            & F.col("n_chars").between(100, 10000)
        )
        .select("doc_id", "quality", "n_tokens", "lang")
    )


# -- top bigrams across the corpus (n-gram frequency, training-data staple) ---

_TOP_BIGRAMS_ORACLE = f"""
WITH grams AS (
  SELECT unnest([t[i] || ' ' || t[i + 1] FOR i IN range(1, len(t))]) AS bigram
  FROM (SELECT {_TOKS} AS t FROM documents)
)
SELECT bigram, count(*) AS n
FROM grams GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 20
"""


@register("top_bigrams", _TOP_BIGRAMS_ORACLE, "textstats", "pipeline")
def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.functions.text import tokens

    docs = load(spark, sf_dir, "documents")
    # adjacent-pair join inside the array (0-based t[i] with x = slice elem i)
    grams = docs.select(tokens(F.col("text")).alias("t")).select(
        F.explode(
            F.expr("transform(slice(t, 1, size(t) - 1), (x, i) -> concat(x, ' ', t[i + 1]))")
        ).alias("bigram")
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


# -- near-dup connected components → canonical doc groups ---------------------
#
# The last step of a real dedup pipeline: pair emitters (jaccard/minhash)
# give EDGES; keep-one-per-group needs the transitive closure. The Spark
# side is iterative min-label propagation with contraction
# (operators/dedup.py near_dup_clusters); the oracle replays it as a
# recursive CTE (min reachable id per node = component representative).

_CLUSTER_ORACLE = f"""
WITH RECURSIVE dt AS (
  SELECT doc_id, lang, n_chars // 100 AS len_bucket,
         list_distinct({_TOKS}) AS toks
  FROM documents
),
p AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS j
    FROM dt a JOIN dt b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
  ) WHERE j >= {_JACCARD_T}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION
  SELECT id_b, id_a FROM p
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
)
SELECT node AS doc_id, min(label) AS cluster_id,
       (min(label) = node) AS is_canonical
FROM reach GROUP BY node
"""


@register("dedup_clusters", _CLUSTER_ORACLE, "dedup", "pipeline")
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # set-level CC: label propagation runs over unique (block, token-set)
    # nodes, never over expanded doc pairs — an m-copy exact-dup cluster is
    # ONE graph node instead of m²/2 edges in every round
    from vector_mcp_spark.operators.dedup import near_dup_clusters_blocked

    docs = load(spark, sf_dir, "documents").withColumn(
        "len_bucket", F.floor(F.col("n_chars") / 100)
    )
    return near_dup_clusters_blocked(
        docs, _JACCARD_T, id_col="doc_id", content_col="text",
        block_cols=("lang", "len_bucket"),
    )


# -- deterministic stratified sampling + training-shard assignment ------------
#
# The data-mixing staples of a training pipeline, made exactly
# reproducible (and therefore oracle-checkable) by replacing RNG with a
# content-independent hash draw: u = first-8-hex of sha256(salt|doc_id) as
# an integer in [0, 16^8). Per-language rates express corpus mixing quotas;
# shard = hash mod N gives a deterministic global shuffle + fixed shard
# count for data-parallel training readers. Both are pure map-side
# projections — zero shuffle for the sample, one narrow window for the
# in-shard ordering.

_SAMPLE_SALT = "mix_v1"
_SAMPLE_RATES = {"en": 0.8, "de": 0.5}  # other langs: 0.2
_HASH_SPACE = 16 ** 8

def _rate_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {rate}" for lang, rate in _SAMPLE_RATES.items()
    )
    return f"CASE {whens} ELSE 0.2 END"


_STRATIFIED_ORACLE = f"""
SELECT doc_id, lang
FROM documents
WHERE CAST(('0x' || substring(sha256('{_SAMPLE_SALT}|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      < {_rate_sql()} * {_HASH_SPACE}
"""


@register("corpus_stratified_sample", _STRATIFIED_ORACLE, "sampling", "pipeline")
def q_corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    u = F.conv(
        F.substring(F.sha2(F.concat(F.lit(_SAMPLE_SALT + "|"), F.col("doc_id").cast("string")), 256), 1, 8),
        16, 10,
    ).cast("long")
    rate = F.lit(0.2)
    for lang, r in _SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return docs.where(u < rate * F.lit(float(_HASH_SPACE))).select("doc_id", "lang")


_N_SHARDS = 8

_SHARD_ORACLE = f"""
SELECT doc_id, shard, CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INTEGER) AS pos
FROM (
  SELECT doc_id,
         CAST(CAST(('0x' || substring(sha256('{_SAMPLE_SALT}|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % {_N_SHARDS} AS INTEGER) AS shard,
         substring(sha256('{_SAMPLE_SALT}|' || CAST(doc_id AS VARCHAR)), 9, 16) AS h
  FROM documents
)
"""


@register("corpus_shard_assignment", _SHARD_ORACLE, "sampling", "pipeline")
def q_corpus_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding: shard = hash mod N; position
    within shard = rank by an independent hash slice (the 'shuffled order' a
    training reader consumes). One narrow shuffle of (doc_id, shard, h)."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    digest = F.sha2(F.concat(F.lit(_SAMPLE_SALT + "|"), F.col("doc_id").cast("string")), 256)
    shard = (F.conv(F.substring(digest, 1, 8), 16, 10).cast("long") % _N_SHARDS).cast("int")
    h = F.substring(digest, 9, 16)
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", shard.alias("shard"), h.alias("h"))
        .withColumn("pos", F.row_number().over(w).cast("int"))
        .select("doc_id", "shard", "pos")
    )


# -- leakage-safe train/val/test split ----------------------------------------
#
# Random per-document splits leak: a near-duplicate pair straddling
# train/test inflates eval. The fix is to split by NEAR-DUP CLUSTER — every
# member of a cluster draws the same deterministic hash ticket, so
# duplicates can never cross the boundary. Composes the set-level
# connected-components clustering with the same salt|key sha256 draw the
# sampling family uses; split = draw mod 10 (0-7 train / 8 val / 9 test —
# integer modulo, so both engines agree exactly). At 100 TB the added cost
# over clustering itself is one map-side projection.

_SPLIT_SALT = "split_v1"

_LEAKAGE_SPLIT_ORACLE = f"""
WITH RECURSIVE dt AS (
  SELECT doc_id, lang, n_chars // 100 AS len_bucket,
         list_distinct({_TOKS}) AS toks
  FROM documents
),
p AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS j
    FROM dt a JOIN dt b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
  ) WHERE j >= {_JACCARD_T}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION
  SELECT id_b, id_a FROM p
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
),
clusters AS (
  SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
)
SELECT doc_id, cluster_id,
       CASE WHEN draw < 8 THEN 'train' WHEN draw = 8 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, cluster_id,
         CAST(('0x' || substring(sha256('{_SPLIT_SALT}|' || cluster_id), 1, 8))
              AS BIGINT) % 10 AS draw
  FROM clusters
)
"""


@register("corpus_leakage_safe_split", _LEAKAGE_SPLIT_ORACLE, "sampling", "dedup", "pipeline")
def q_corpus_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-coherent split: near-dup clusters (set-level CC) → one hash
    ticket per cluster → split label shared by all members."""
    from vector_mcp_spark.operators.dedup import near_dup_clusters_blocked

    docs = load(spark, sf_dir, "documents").withColumn(
        "len_bucket", F.floor(F.col("n_chars") / 100)
    )
    clusters = near_dup_clusters_blocked(
        docs, _JACCARD_T, id_col="doc_id", content_col="text",
        block_cols=("lang", "len_bucket"),
    ).select("doc_id", "cluster_id")
    digest = F.sha2(F.concat(F.lit(_SPLIT_SALT + "|"), F.col("cluster_id")), 256)
    draw = F.conv(F.substring(digest, 1, 8), 16, 10).cast("long") % 10
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.when(draw < 8, "train").when(draw == 8, "val").otherwise("test").alias("split"),
    )


# -- cross-source overlap matrix (KMV set algebra over shingle sketches) ------
#
# "How much does source A duplicate source B?" — the data-governance
# question behind licensing audits and mixture design. Per source: KMV
# sketch of its distinct 3-gram shingle universe (ONE corpus scan, k longs
# per source); every pair then gets union/intersection/Jaccard estimates
# from sketches alone via kmv_set_estimates. At 100 TB the pairwise stage
# costs |sources|² sketch rows — independent of corpus size.

_OVERLAP_K = 128

_SRC_OVERLAP_ORACLE = f"""
WITH toks AS (
  SELECT source, regexp_extract_all(lower(text), '[a-z0-9_]{{2,}}') AS t
  FROM documents
),
sh AS (
  SELECT source,
         unnest(CASE WHEN len(t) >= 3
                     THEN [array_to_string(t[i+1:i+3], ' ') FOR i IN range(0, len(t) - 2)]
                     ELSE [] END) AS shingle
  FROM toks
),
hashed AS (
  SELECT DISTINCT source,
         CAST('0x' || substring(sha256(shingle), 1, 15) AS BIGINT) AS h
  FROM sh
),
ranked AS (
  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rn
  FROM hashed
),
ks AS (
  SELECT source, list(h ORDER BY h ASC) AS ks
  FROM ranked WHERE rn <= {_OVERLAP_K} GROUP BY source
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, a.ks AS ks_a, b.ks AS ks_b
  FROM ks a JOIN ks b ON a.source < b.source
),
calc AS (
  SELECT source_a, source_b, ks_a, ks_b,
         list_sort(list_distinct(list_concat(ks_a, ks_b)))[1:{_OVERLAP_K}] AS m
  FROM pairs
),
u AS (
  SELECT source_a, source_b, ks_a, ks_b, m,
         CAST(CASE WHEN len(m) < {_OVERLAP_K} THEN len(m)
                   ELSE ROUND({_OVERLAP_K - 1}.0 / (m[{_OVERLAP_K}] / {float(2**60)!r})) END
              AS BIGINT) AS est_union
  FROM calc
),
i AS (
  SELECT source_a, source_b, est_union,
         CAST(CASE WHEN len(m) = 0 THEN 0.0
                   ELSE ROUND(len(list_intersect(list_intersect(m, ks_a), ks_b))
                              * CAST(est_union AS DOUBLE) / len(m)) END
              AS BIGINT) AS est_intersect
  FROM u
)
SELECT source_a, source_b, est_union, est_intersect,
       ROUND(CAST(est_intersect AS DOUBLE) / est_union, 6) AS jaccard_est
FROM i
"""


@register("corpus_source_overlap", _SRC_OVERLAP_ORACLE, "sketch", "dedup", "pipeline")
def q_corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.contamination import ngram_set
    from vector_mcp_spark.operators.sketches import kmv_set_estimates, kmv_sketch

    from vector_mcp_spark.operators.partition import spread

    docs = load(spark, sf_dir, "documents")
    # ngram_set binds the tokenizer ONCE before the gram lambda (an inline
    # tokens() inside the HOF re-runs the regexp per element — measured
    # ~2.5× on this query) and already dedups per doc; spread keeps the
    # tokenize off the single scan partition (guide §2.5)
    ex = spread(docs.select("source", "text")).select(
        "source", F.explode(ngram_set(F.col("text"), 3)).alias("shingle")
    )
    # presalt: a source's distinct-shingle universe is corpus-sized — the
    # two-phase sketch keeps every reducer bounded at k rows per salt and
    # is bit-identical to the single-phase result (lossless merge)
    # bounded (one k-row sketch per source) but referenced by BOTH self-join
    # sides — checkpoint so the corpus-wide shingle chain runs once
    sk = kmv_sketch(ex, ["source"], "shingle", k=_OVERLAP_K, presalt=16).localCheckpoint(
        eager=True
    )
    a = sk.select(F.col("source").alias("source_a"), F.col("ks").alias("ks_a"))
    b = sk.select(F.col("source").alias("source_b"), F.col("ks").alias("ks_b"))
    pairs = a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
    est = kmv_set_estimates(pairs, "ks_a", "ks_b", k=_OVERLAP_K)
    return est.select(
        "source_a", "source_b", "est_union", "est_intersect",
        F.round(
            F.col("est_intersect").cast("double") / F.col("est_union"), 6
        ).alias("jaccard_est"),
    )


# -- REAL executed streaming dedup ingest (batch-twin oracle) -----------------
#
# The T2/T3 ingest pipeline as a Structured Streaming job actually executed
# with availableNow: sanitize → content-hash id → stateful dropDuplicates.
# The emitted set of content ids is order-independent, so the batch oracle
# replays it exactly — a true correctness check on a real stream, not just
# pytest smoke.

import itertools as _itertools

_STREAM_DEDUP_SEQ = _itertools.count()

_STREAM_DEDUP_ORACLE = f"""
SELECT DISTINCT sha256(
  regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(text, '{_SAN_EMAIL}', '[REDACTED]', 'g'),
        '{_SAN_WIN}', '\\1[REDACTED_PATH]', 'g'),
      '{_SAN_PATH}', '[REDACTED_PATH]', 'g'),
    '{_SAN_PHONE}', '[REDACTED]', 'g')
) AS id
FROM documents
"""


@register("streaming_dedup_ingest", _STREAM_DEDUP_ORACLE, "streaming", "pipeline")
def q_streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from vector_mcp_spark.streaming.ingest import run_stream_to_memory, streaming_dedup_ingest

    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    clean_dir = os.path.abspath(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".tmp", f"docs_{sf_tag}")
    )
    if not os.path.exists(os.path.join(clean_dir, "_SUCCESS")):
        load(spark, sf_dir, "documents").write.mode("overwrite").parquet(clean_dir)
    schema = spark.read.parquet(clean_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(clean_dir)
        .withColumnRenamed("text", "content")
    )
    deduped = streaming_dedup_ingest(stream)
    got = run_stream_to_memory(
        deduped, f"suite_stream_dedup_{next(_STREAM_DEDUP_SEQ)}", output_mode="append"
    )
    return got.select("id").distinct()


# -- video frame sampling (rows-only: sha-derived fake frames) ----------------


# -- SemDeDup: semantic dedup by within-cluster pairwise cosine ---------------

_SEMDEDUP_TAU = 0.95


def _semdedup_oracle() -> str:
    """Replays the shared ivf_16 k-means (same CTEs as the IVF-ANN oracle)
    then the keep-first within-cluster policy: doc b is dropped iff a
    lower-id cluster-mate a has ROUND(cos, 6) >= tau."""
    return f"""{_kmeans_replay_ctes()},
dups AS (
  SELECT DISTINCT b.vec_id
  FROM a3 b JOIN a3 a
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE ROUND({_ivf_sim_sql("a.v", "b.v")}, 6) >= {_SEMDEDUP_TAU}
)
SELECT t.vec_id, CAST(t.cluster AS INTEGER) AS cluster,
       d.vec_id IS NULL AS kept
FROM a3 t LEFT JOIN dups d ON t.vec_id = d.vec_id
"""


@register("corpus_semdedup", _semdedup_oracle(), "dedup", "similarity", "pipeline")
def q_corpus_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the cached ivf_16 assignment: the only join is the
    cluster equi-join (pairs = sum of cluster sizes squared, bounded by
    k ∝ corpus size per the paper), dup ids broadcast back for the flag."""
    import json
    import os

    from vector_mcp_spark.operators.similarity import ivf_build, semantic_dedup

    embs = load(spark, sf_dir, "embeddings")
    cache = _index_cache(sf_dir, "ivf_16")
    cent_path = os.path.join(cache, "centroids.json")
    assigned_path = os.path.join(cache, "assigned")
    if not (os.path.exists(cent_path) and os.path.exists(os.path.join(assigned_path, "_SUCCESS"))):
        assigned, centroids = ivf_build(embs, n_centroids=16, id_col="vec_id", max_iter=2)
        assigned.write.mode("overwrite").parquet(assigned_path)
        os.makedirs(cache, exist_ok=True)
        with open(cent_path, "w") as f:
            json.dump(centroids, f)
    assigned = spark.read.parquet(assigned_path)
    return semantic_dedup(
        assigned, tau=_SEMDEDUP_TAU, id_col="vec_id", emb_col="embedding"
    )


# -- Matryoshka truncation recall curve ---------------------------------------

_MRL_DIMS = (16, 32, 64)
_MRL_K = 10
_MRL_NQ = 20


def _mrl_oracle() -> str:
    """Per-dim replay: rank by cosine over the dim-prefix slice, then
    recall@k against the full-dim ranking; mean recall is an integer-sum
    quotient (SUM(hits)/(nq*k)) so no float order can move it."""

    def sim(a: str, b: str) -> str:
        return (
            f"(list_dot_product({a}, {b}) / "
            f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
        )

    rank_ctes = ",".join(
        f"""
r{d} AS (
  SELECT {d} AS dim, query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {sim(f"c.v[1:{d}]", f"q.v[1:{d}]")} DESC NULLS LAST,
                                       c.vec_id ASC) AS rn
    FROM c CROSS JOIN q WHERE c.vec_id != q.vec_id
  ) WHERE rn <= {_MRL_K}
)"""
        for d in _MRL_DIMS
    )
    union = " UNION ALL ".join(f"SELECT * FROM r{d}" for d in _MRL_DIMS)
    full = max(_MRL_DIMS)
    return f"""
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, v FROM c WHERE vec_id < {_MRL_NQ}),{rank_ctes},
rankings AS ({union}),
gold AS (SELECT query_id AS gq, neighbor_id AS gn FROM r{full})
SELECT r.dim, CAST({_MRL_NQ} AS BIGINT) AS n_queries,
       ROUND(CAST(SUM(CASE WHEN g.gn IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / {float(_MRL_NQ * _MRL_K)}, 6) AS mean_recall_at_k
FROM rankings r LEFT JOIN gold g ON r.query_id = g.gq AND r.neighbor_id = g.gn
GROUP BY r.dim
"""


@register("embedding_mrl_recall", _mrl_oracle(), "similarity", "pipeline", "evaluation")
def q_embedding_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation-recall curve: how much exact-KNN recall
    survives ranking on only the first 16/32/64 dims (the storage-vs-recall
    decision for a prefix-sliced 100 TB index)."""
    from vector_mcp_spark.operators.rageval import matryoshka_recall

    embs = load(spark, sf_dir, "embeddings")
    qs = embs.where(F.col("vec_id") < _MRL_NQ)
    return matryoshka_recall(
        embs, qs, dims=list(_MRL_DIMS), k=_MRL_K, id_col="vec_id"
    )


# -- PSI drift gate between corpus slices --------------------------------------
#
# Before a re-ingested slice is admitted, compare its length distribution
# against the standing corpus: the Population Stability Index over 8
# equal-width n_chars bins (sum of psi_term < 0.1 = stable, > 0.25 =
# drifted — the standard production-ML monitoring gate). One scan,
# conditional aggregation, |bins| rows shuffled; the global lo/hi bounds
# ride in as a broadcast one-row frame.

_PSI_ORACLE = """
WITH lohi AS (SELECT MIN(n_chars) AS lo, MAX(n_chars) AS hi FROM documents),
binned AS (
  SELECT LEAST(7, CAST(FLOOR((n_chars - lo) / GREATEST((hi - lo) / 8.0, 1e-300)) AS INTEGER)) AS bin,
         doc_id % 2 = 1 AS cur
  FROM documents, lohi
  WHERE n_chars IS NOT NULL
),
counts AS (
  SELECT bin,
         SUM(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS n_ref,
         SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS n_cur
  FROM binned GROUP BY bin
),
tot AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM counts)
SELECT CAST(bin AS INTEGER) AS bin,
       CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_cur AS BIGINT) AS n_cur,
       ROUND(GREATEST(n_ref / tr, 1e-6), 6) AS p_ref,
       ROUND(GREATEST(n_cur / tc, 1e-6), 6) AS p_cur,
       ROUND((GREATEST(n_cur / tc, 1e-6) - GREATEST(n_ref / tr, 1e-6))
             * LN(GREATEST(n_cur / tc, 1e-6) / GREATEST(n_ref / tr, 1e-6)), 4) AS psi_term
FROM counts, tot
"""


@register("corpus_psi_drift", _PSI_ORACLE, "pipeline", "stats")
def q_corpus_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Even doc_ids play the standing corpus, odd doc_ids the new slice."""
    from vector_mcp_spark.operators.drift import psi_bins

    docs = load(spark, sf_dir, "documents")
    return psi_bins(docs, "n_chars", is_current=F.col("doc_id") % 2 == 1, n_bins=8)


# -- tokenizer fertility by language -------------------------------------------
#
# Fertility = subword tokens per whitespace word (and bytes per subword) —
# the per-language tokenizer-efficiency report that decides token budgets
# and sampling weights in multilingual training mixes (a language with 2x
# fertility costs 2x the compute per word). One scan, map-side expressions,
# |languages| rows out.

_FERTILITY_ORACLE = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '{_BPE_RE}'))) AS BIGINT) AS n_subword,
       CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS n_words,
       ROUND(SUM(len(regexp_extract_all(text, '{_BPE_RE}')))
             / CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS DOUBLE), 4) AS fertility,
       ROUND(SUM(length(text))
             / CAST(SUM(len(regexp_extract_all(text, '{_BPE_RE}'))) AS DOUBLE), 4) AS chars_per_token
FROM documents
GROUP BY lang
"""


@register("corpus_token_fertility", _FERTILITY_ORACLE, "textstats", "pipeline")
def q_corpus_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sub = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0)))
    ws = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), F.lit(0)))
    return (
        docs.select("lang", sub.alias("_s"), ws.alias("_w"), F.length("text").alias("_c"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_s").cast("long").alias("n_subword"),
            F.sum("_w").cast("long").alias("n_words"),
            F.round(F.sum("_s") / F.sum("_w").cast("double"), 4).alias("fertility"),
            F.round(F.sum("_c") / F.sum("_s").cast("double"), 4).alias("chars_per_token"),
        )
    )


# -- HNSW-style layered graph ANN ---------------------------------------------

_HNSW_M = 12
_HNSW_EF = 48
_HNSW_K = 5
_HNSW_NQ = 20

# The oracle SQL below replays hnsw_build's geometry; its literals are
# derived from graph_ann's module constants so a changed build default
# fails HERE instead of silently diverging Spark from the oracle
# (ADVICE r9). The pins double as documentation of the expected values.
from vector_mcp_spark.operators.graph_ann import (  # noqa: E402
    HNSW_BLOCK_CAP as _G_CAP,
    HNSW_LEVEL_FANOUT as _G_FAN,
    HNSW_N_HASH_BUCKETS as _G_NHASH,
    HNSW_UPPER_COARSEN as _G_COARSEN,
)

_HNSW_D0 = _G_NHASH * _G_CAP  # layer-0 sliver divisor
_HNSW_D1 = _G_FAN * _G_COARSEN * _G_CAP  # layer-1 sliver divisor
_HNSW_D2 = _G_FAN**2 * _G_CAP  # layer-2 sliver divisor
assert (_G_NHASH, _G_FAN, _G_COARSEN) == (16, 8, 4), "hnsw geometry changed: re-derive oracle"
assert (_HNSW_D0, _HNSW_D1, _HNSW_D2) == (2048, 4096, 8192), "hnsw slivers changed"
assert _HNSW_M == 12, "suite _HNSW_M must match the recall-gated build default"


def _hnsw_l2_dist_sql(a: str, b: str) -> str:
    """Pair L2 via the raw-norm expansion — mirrors graph_ann._pair_score
    (metric='l2'): sqrt(greatest(0, ‖a‖² + ‖b‖² − 2·a·b)) with each norm
    computed sqrt-then-squared, the exact Spark fold order."""
    na = f"sqrt(list_dot_product({a}, {a}))"
    nb = f"sqrt(list_dot_product({b}, {b}))"
    inner = f"(({na} * {na} + {nb} * {nb}) - 2.0 * list_dot_product({a}, {b}))"
    # CASE, not greatest: DuckDB greatest also ignores NULLs, and the Spark
    # side propagates NULL (graph_ann._pair_score)
    return f"sqrt(CASE WHEN {inner} < 0.0 THEN 0.0 ELSE {inner} END)"


def _hnsw_dot_sim_sql(a: str, b: str) -> str:
    """Raw inner product — mirrors graph_ann._pair_score (metric='dot'),
    the same sequential fold as suite._dot_sql."""
    return f"list_dot_product({a}, {b})"


def _hnsw_oracle(final_filter_sql: str = "", metric: str = "cosine") -> str:
    """Full SQL replay of the layered graph-ANN index AND its beam search
    (operators/graph_ann.py — the reference's HNSW family,
    epistemic_graph.py:5-9 / postgres.py:182-188). Shares the ivf_16 k-means
    CTEs for the cluster blocking, then: sha-drawn levels, two blocking
    families → top-M, 2 NN-descent rounds, symmetrize, upper layers on
    coarser blocks, and the FIXED 7-stage beam descent (1 hop at layer 2,
    2 at layer 1, 4 at layer 0, ef=48) — every stage a bounded CTE.

    ``metric='l2'`` replays the l2-built graph (l2 k-means coarse
    quantizer ``la3``, pair distances via the raw-norm expansion, every
    ranking ASC) — the oracle twin of ``hnsw_build(metric='l2')``.
    ``metric='dot'`` replays the MIPS graph: it SHARES the cosine k-means
    coarse quantizer (the standard MIPS compromise — the engine's
    build_search_index clusters dot collections under cosine too) but
    ranks every edge and beam stage by raw inner product DESC — the
    oracle twin of ``hnsw_build(metric='dot')``."""
    if metric == "cosine":
        sim, best, assign = _ivf_sim_sql, "DESC", "a3"
    elif metric == "dot":
        sim, best, assign = _hnsw_dot_sim_sql, "DESC", "a3"
    else:
        sim, best, assign = _hnsw_l2_dist_sql, "ASC", "la3"

    def top_m(name: str, cand: str) -> str:
        return f""",
{name}_s AS (
  SELECT c.src, c.dst, {sim("a.v", "b.v")} AS sm
  FROM {cand} c JOIN lv a ON a.vec_id = c.src JOIN lv b ON b.vec_id = c.dst
),
{name} AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY sm {best}, dst ASC) AS rn
    FROM {name}_s
  ) WHERE rn <= {_HNSW_M}
)"""

    def sym(name: str, e: str) -> str:
        return f""",
{name} AS MATERIALIZED (SELECT src, dst FROM {e} UNION SELECT dst AS src, src AS dst FROM {e})"""

    def nd_round(name: str, prev: str) -> str:
        return f""",
{name} AS (
  SELECT src, dst FROM {prev}
  UNION
  SELECT dst AS src, src AS dst FROM {prev}
  UNION
  SELECT e1.src, e2.dst FROM {prev} e1 JOIN {prev} e2 ON e2.src = e1.dst AND e2.dst != e1.src
)"""

    def beam_stage(i: int, edge_cte: str) -> str:
        return f""",
bc{i} AS (
  SELECT query_id, node FROM b{i - 1}
  UNION
  SELECT b.query_id, e.dst AS node FROM b{i - 1} b JOIN {edge_cte} e ON e.src = b.node
),
b{i} AS MATERIALIZED (
  SELECT query_id, node FROM (
    SELECT c.query_id, c.node,
           row_number() OVER (PARTITION BY c.query_id
                              ORDER BY {sim("q.qv", "n.v")} {best}, c.node ASC) AS rn
    FROM bc{i} c JOIN q ON q.query_id = c.query_id JOIN lv n ON n.vec_id = c.node
  ) WHERE rn <= {_HNSW_EF}
)"""

    parts = [
        _kmeans_replay_ctes() if metric in ("cosine", "dot") else _kmeans_replay_ctes_l2()
    ]
    parts.append(f""",
lv0 AS (
  SELECT vec_id, v, cluster,
         CAST('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 61, 4) AS INTEGER) AS hx
  FROM {assign}
),
lv AS MATERIALIZED (
  SELECT vec_id, v, cluster, hx,
         CASE WHEN hx % {_G_FAN**2} = 0 THEN 2 WHEN hx % {_G_FAN} = 0 THEN 1 ELSE 0 END AS level
  FROM lv0
),
prm AS (
  SELECT CAST(ceil(count(*) / {_HNSW_D0}.0) AS INTEGER) AS s,
         CAST(ceil(count(*) / {_HNSW_D1}.0) AS INTEGER) AS s1,
         CAST(ceil(count(*) / {_HNSW_D2}.0) AS INTEGER) AS s2
  FROM lv
),
cand0 AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM prm, lv a, lv b
  WHERE b.cluster = a.cluster AND b.hx % prm.s = a.hx % prm.s AND b.vec_id != a.vec_id
  UNION
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM prm, lv a, lv b
  WHERE b.hx % {_G_NHASH} = a.hx % {_G_NHASH}
    AND (b.hx // {_G_NHASH}) % prm.s = (a.hx // {_G_NHASH}) % prm.s
    AND b.vec_id != a.vec_id
)""")
    parts.append(top_m("e0a", "cand0"))
    parts.append(nd_round("cnd1", "e0a"))
    parts.append(top_m("e0b", "cnd1"))
    parts.append(nd_round("cnd2", "e0b"))
    parts.append(top_m("e0c", "cnd2"))
    parts.append(sym("s0", "e0c"))
    parts.append(f""",
cand1 AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM prm, lv a, lv b
  WHERE b.cluster % {_G_COARSEN} = a.cluster % {_G_COARSEN}
    AND b.hx % prm.s1 = a.hx % prm.s1
    AND b.vec_id != a.vec_id AND a.level >= 1 AND b.level >= 1
)""")
    parts.append(top_m("e1", "cand1"))
    parts.append(sym("s1", "e1"))
    parts.append(""",
cand2 AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM prm, lv a, lv b
  WHERE b.hx % prm.s2 = a.hx % prm.s2
    AND b.vec_id != a.vec_id AND a.level >= 2 AND b.level >= 2
)""")
    parts.append(top_m("e2", "cand2"))
    parts.append(sym("s2", "e2"))
    parts.append(f""",
entry AS (SELECT min(vec_id) AS node FROM lv WHERE level = (SELECT max(level) FROM lv)),
q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM lv WHERE vec_id < {_HNSW_NQ}),
b0 AS (SELECT query_id, node FROM q, entry)""")
    stage_layers = ["s2"] + ["s1"] * 2 + ["s0"] * 4
    for i, edge_cte in enumerate(stage_layers, start=1):
        parts.append(beam_stage(i, edge_cte))
    n_final = len(stage_layers)
    parts.append(f"""
SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, ROUND(sm, 6) AS score FROM (
  SELECT b.query_id, b.node AS neighbor_id, {sim("q.qv", "n.v")} AS sm,
         row_number() OVER (PARTITION BY b.query_id
                            ORDER BY {sim("q.qv", "n.v")} {best}, b.node ASC) AS rn
  FROM b{n_final} b JOIN q ON q.query_id = b.query_id JOIN lv n ON n.vec_id = b.node
  WHERE b.node != b.query_id{final_filter_sql}
) WHERE rn <= {_HNSW_K}
""")
    return "".join(parts)


def _hnsw_index(spark: SparkSession, sf_dir: str, metric: str = "cosine"):
    """The shared layered-graph index of ``metric``, built once per sf_dir
    and cached like the IVF/PQ indexes; returns (edges DataFrame, meta
    dict). The cosine and dot graphs share the cached ivf_16 coarse
    quantizer (dot is the MIPS compromise the engine's build_search_index
    makes too); the l2 graph builds over ``_ivf_l2_cached``'s assignment,
    which the IVF-l2 entry shares, so no k-means is built twice."""
    import json
    import os

    from vector_mcp_spark.operators.graph_ann import hnsw_build

    tag = "" if metric == "cosine" else f"_{metric}"
    cache = _index_cache(sf_dir, f"hnsw{tag}_m{_HNSW_M}")
    edges_path = os.path.join(cache, "edges")
    meta_path = os.path.join(cache, "meta.json")
    if not (os.path.exists(meta_path) and os.path.exists(os.path.join(edges_path, "_SUCCESS"))):
        assigned, _ = (_ivf_l2_cached if metric == "l2" else _ivf_cached)(spark, sf_dir)
        edges, meta = hnsw_build(assigned, m=_HNSW_M, id_col="vec_id", metric=metric)
        edges.write.mode("overwrite").parquet(edges_path)
        os.makedirs(cache, exist_ok=True)
        with open(meta_path, "w") as f:
            json.dump(meta, f)
    with open(meta_path) as f:
        meta = json.load(f)
    return spark.read.parquet(edges_path), meta


# Process-cached beam-serve working sets, published ONCE per (application,
# sf, metric) — the in-RAM serve state a vector DB keeps next to its
# persisted graph. This caches INDEX frames (query inputs), never query
# results; every serve still executes its full descent. Application-scoped:
# the views are global, so sibling SparkSessions that hit the cache resolve
# them.
_HNSW_SERVE_SETS: dict = {}


def _hnsw_serve(spark: SparkSession, sf_dir: str, metric: str = "cosine"):
    """(serve_set, meta) for the shared graph index of ``metric``; meta
    adds ``n_total``, the corpus cardinality counted once off the
    published nodes — the number the engine's index manifest records at
    build time, so routed callers never run corpus.count() per query."""
    key = (spark.sparkContext.applicationId, sf_dir, metric)
    hit = _HNSW_SERVE_SETS.get(key)
    if hit is not None:
        return hit
    from vector_mcp_spark.operators.graph_ann import publish_serve_set

    edges, meta = _hnsw_index(spark, sf_dir, metric)
    ss = publish_serve_set(
        load(spark, sf_dir, "embeddings"), edges, id_col="vec_id", emb_col="embedding",
        metric=metric,
    )
    _HNSW_SERVE_SETS[key] = (ss, {**meta, "n_total": ss.n_nodes})
    return _HNSW_SERVE_SETS[key]


# The suite's fixed literal query batch (vec_id < _HNSW_NQ), collected once
# per (session, sf): INPUT vectors for the prepared descent SQL — the same
# fixture-cache pattern as the serve sets (never results; every entry still
# executes its full descent over them).
_HNSW_QUERY_LITS: dict = {}


def _hnsw_query_lits(spark: SparkSession, sf_dir: str, max_id: int):
    key = (spark.sparkContext.applicationId, sf_dir, max_id)
    hit = _HNSW_QUERY_LITS.get(key)
    if hit is None:
        rows = (
            load(spark, sf_dir, "embeddings")
            .where(F.col("vec_id") < max_id)
            .select("vec_id", "embedding")
            .collect()
        )
        hit = [(int(r.vec_id), list(r.embedding)) for r in sorted(rows, key=lambda r: r.vec_id)]
        _HNSW_QUERY_LITS[key] = hit
    return hit


def _hnsw_literal_batch(
    spark: SparkSession, sf_dir: str, metric: str = "cosine", n_queries: int = _HNSW_NQ
) -> DataFrame:
    """The suite's fixed queries (vec_id < ``n_queries``, self excluded)
    descending the shared ``metric`` graph as ONE SQL text with the
    queries inline as literals: one parse + analysis, no query-checkpoint
    job."""
    from vector_mcp_spark.operators.graph_ann import ann_hnsw_prepared_sql

    ss, meta = _hnsw_serve(spark, sf_dir, metric)
    return spark.sql(
        ann_hnsw_prepared_sql(
            ss.nodes_view, ss.edges_view, meta["entry"],
            _hnsw_query_lits(spark, sf_dir, n_queries), k=_HNSW_K, ef=_HNSW_EF,
            metric=metric, broadcast_edges=ss.bcast_edges, exclude_self=True,
        )
    )


@register("ann_hnsw_topk", _hnsw_oracle(), "similarity", "pipeline")
def q_ann_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW-style graph ANN over the shared ivf_16 coarse quantizer: the
    layered neighbor graph is built once (cached like the IVF/PQ indexes),
    queries descend it with a fixed beam schedule. Recall@5 vs the exact
    scorer is gated ≥ 0.85 in tools/recall_report.py / test_similarity."""
    return _hnsw_literal_batch(spark, sf_dir)


# -- hashed-n-gram linear quality/domain classifier ----------------------------

_NB_ORACLE = f"""
WITH base AS MATERIALIZED (
  SELECT d.doc_id, d.text, e.label
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
),
traintok AS MATERIALIZED (
  SELECT label, CAST('0x' || substr(sha256(tok), 1, 4) AS INTEGER) % 1024 AS bucket
  FROM (SELECT label, unnest({_TOKS}) AS tok FROM base WHERE doc_id % 5 != 0)
),
counts AS MATERIALIZED (SELECT label, bucket, count(*) AS cnt FROM traintok GROUP BY 1, 2),
classes AS MATERIALIZED (
  SELECT t.label, t.tot, p.prior
  FROM (SELECT label, count(*) AS tot FROM traintok GROUP BY 1) t
  JOIN (SELECT label,
               ln(count(*) / CAST((SELECT count(*) FROM base WHERE doc_id % 5 != 0) AS DOUBLE)) AS prior
        FROM base WHERE doc_id % 5 != 0 GROUP BY 1) p USING (label)
),
testtok AS MATERIALIZED (
  SELECT doc_id, label AS true_label,
         CAST('0x' || substr(sha256(tok), 1, 4) AS INTEGER) % 1024 AS bucket
  FROM (SELECT doc_id, label, unnest({_TOKS}) AS tok FROM base WHERE doc_id % 5 = 0)
),
docscores AS MATERIALIZED (
  SELECT tt.doc_id, tt.true_label, c.label AS cls,
         ROUND(SUM(ln((COALESCE(k.cnt, 0) + 1) / (c.tot + 1024.0))) + ANY_VALUE(c.prior), 4) AS score
  FROM testtok tt
  CROSS JOIN classes c
  LEFT JOIN counts k ON k.bucket = tt.bucket AND k.label = c.label
  GROUP BY 1, 2, 3
),
pred AS (
  SELECT doc_id, true_label, cls AS predicted FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls ASC) AS rn
    FROM docscores
  ) WHERE rn = 1
)
SELECT true_label AS label, count(*) AS n_eval,
       CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       ROUND(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS accuracy
FROM pred GROUP BY 1
"""


@register("corpus_nb_classifier", _NB_ORACLE, "pipeline", "textclf")
def q_corpus_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shape hashed-token classifier (operators/textclf.py): NB
    weights trained on the doc_id%5!=0 split, held-out per-class accuracy
    on the rest. Weight table ≤ 1024×10 rows (broadcast); scoring is one
    map-side explode + bounded joins + per-doc argmax window."""
    from vector_mcp_spark.operators.textclf import nb_classify, nb_train

    base = docs_with_embeddings(spark, sf_dir).select("doc_id", "text", "label")
    train = base.where(F.col("doc_id") % 5 != 0)
    test = base.where(F.col("doc_id") % 5 == 0)
    counts, classes = nb_train(train, text_col="text", label_col="label")
    pred = nb_classify(test, counts, classes, text_col="text", id_col="doc_id")
    joined = pred.join(
        test.select("doc_id", F.col("label").alias("true_label")), "doc_id"
    )
    return joined.groupBy(F.col("true_label").alias("label")).agg(
        F.count("*").alias("n_eval"),
        F.sum((F.col("predicted") == F.col("true_label")).cast("long")).alias("n_correct"),
        F.round(
            F.sum((F.col("predicted") == F.col("true_label")).cast("long"))
            / F.count("*").cast("double"),
            4,
        ).alias("accuracy"),
    )


# -- contrastive training triplets ---------------------------------------------

_TRIPLET_SIM = (
    "list_dot_product(c.embedding::DOUBLE[], a.av) / "
    "(sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(a.av, a.av)))"
)

_TRIPLETS_ORACLE = f"""
WITH a AS (
  SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS av, label AS alabel
  FROM embeddings WHERE vec_id < 20
),
s AS (
  SELECT a.anchor_id, c.vec_id AS cand_id, c.label = a.alabel AS same,
         {_TRIPLET_SIM} AS score
  FROM embeddings c, a
  WHERE c.vec_id != a.anchor_id
),
best AS (
  SELECT anchor_id, cand_id, same, score FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id, same
                                 ORDER BY score DESC, cand_id ASC) AS rn
    FROM s
  ) WHERE rn = 1
)
SELECT p.anchor_id, p.cand_id AS positive_id, ROUND(p.score, 6) AS pos_score,
       n.cand_id AS negative_id, ROUND(n.score, 6) AS neg_score
FROM best p JOIN best n ON n.anchor_id = p.anchor_id
WHERE p.same AND NOT n.same
"""


@register("corpus_training_triplets", _TRIPLETS_ORACLE, "similarity", "pipeline")
def q_corpus_training_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, hard-negative) triplet mining for bi-encoder
    training (operators/similarity.py training_triplets): one anchor
    broadcast over one corpus scan, map-side cosine, two conditional
    per-anchor ranks."""
    from vector_mcp_spark.operators.similarity import training_triplets

    embs = load(spark, sf_dir, "embeddings")
    anchors = embs.where(F.col("vec_id") < 20)
    return training_triplets(anchors, embs, id_col="vec_id")


# -- CCNet-style perplexity-bucket filter --------------------------------------

# the rank key is the 4-dp-rounded mean (the repo's quotient-of-
# order-dependent-sums convention): at 6 dp a last-ulp AVG disagreement
# between engines could flip the ORDER BY key and cascade into bucket/keep
# mismatches; the EMITTED value stays 6 dp like corpus_unigram_logprob
_CCNET_ORACLE = f"""
WITH {_AVG_LP_CTES},
lp AS MATERIALIZED (
  SELECT doc_id, ROUND(AVG(lp), 6) AS avg_logprob, ROUND(AVG(lp), 4) AS lp_key
  FROM lp_scored GROUP BY doc_id
),
ranked AS (
  SELECT l.doc_id, d.source, l.avg_logprob,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY l.lp_key DESC, l.doc_id ASC) AS rnk,
         count(*) OVER (PARTITION BY d.source) AS n
  FROM lp l JOIN documents d ON d.doc_id = l.doc_id
)
SELECT doc_id, source, avg_logprob,
       CASE WHEN rnk * 3 <= n THEN 'head'
            WHEN rnk * 3 <= 2 * n THEN 'middle'
            ELSE 'tail' END AS bucket,
       rnk * 3 <= 2 * n AS keep
FROM ranked
"""


@register("corpus_ccnet_filter", _CCNET_ORACLE, "pipeline", "textstats")
def q_corpus_ccnet_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    document with the corpus unigram LM (the distributable stand-in for
    CCNet's wiki LM — same scoring as corpus_unigram_logprob), rank within
    each source, split into head/middle/tail tertiles, keep head+middle
    (CCNet's default cut). Rank key is the 4-dp-rounded mean log-prob (ties
    to doc_id; 4 dp is the quotient-of-order-dependent-sums convention, so
    both engines rank identical values); the per-source window
    follows the quality-percentiles convention (source count is small and
    fixed — not a data-sized partition)."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    lp = _unigram_lp_scored(spark, sf_dir).groupBy("doc_id").agg(
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
        F.round(F.avg("lp"), 4).alias("lp_key"),
    )
    ranked = lp.join(docs.select("doc_id", "source"), "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.col("lp_key").desc(), F.col("doc_id").asc()
    )
    wn = Window.partitionBy("source")
    ranked = ranked.withColumn("rnk", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )
    return ranked.select(
        "doc_id",
        "source",
        "avg_logprob",
        F.when(F.col("rnk") * 3 <= F.col("n"), "head")
        .when(F.col("rnk") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("tail")
        .alias("bucket"),
        (F.col("rnk") * 3 <= 2 * F.col("n")).alias("keep"),
    )


_HNSW_FILT_SQL = (
    "\n    AND b.node IN (SELECT vec_id FROM embeddings WHERE label % 2 = 0)"
)


@register(
    "ann_hnsw_filtered_topk", _hnsw_oracle(_HNSW_FILT_SQL), "similarity", "filtered"
)
def q_ann_hnsw_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered graph-ANN (the qdrant filter+vector composition, plain
    mode): the beam descends the SAME cached index as ann_hnsw_topk, the
    payload predicate (even label) post-filters the final beam before the
    top-k — one broadcast semi-join, no second traversal. Selective
    filters may return < k rows per query; the exact-path twin is
    semantic_filtered_topk."""
    from vector_mcp_spark.operators.graph_ann import ann_hnsw_topk

    embs = load(spark, sf_dir, "embeddings")
    serve_set, meta = _hnsw_serve(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < _HNSW_NQ)
    allowed = embs.where(F.col("label") % 2 == 0).select("vec_id")
    return ann_hnsw_topk(
        queries, embs, None, meta["entry"], k=_HNSW_K, ef=_HNSW_EF,
        id_col="vec_id", allowed=allowed, serve_set=serve_set,
    )


# -- selectivity-routed filtered ANN (qdrant query-planner composition) -------
# The two filtered paths above are the REGIMES; this entry is the router
# that picks between them by estimated selectivity, the composition qdrant's
# planner actually performs. Predicates are chosen so the decision is firmly
# bimodal at every suite SF: label=3 AND even id ≈ 0.03-0.06 (exact route),
# even label ≈ 0.49-0.51 (graph route), threshold 0.25.

_ROUTED_SELECTIVE_SQL = "label = 3 AND vec_id % 2 = 0"
_ROUTED_EXACT_SIM = _ivf_sim_sql("q.qv", "d.v")
_ROUTED_ORACLE = f"""
SELECT 'exact' AS regime, query_id, rank, neighbor_id, score FROM (
  SELECT q.vec_id AS query_id,
         CAST(row_number() OVER (PARTITION BY q.vec_id
                                 ORDER BY {_ROUTED_EXACT_SIM} DESC,
                                          d.vec_id ASC) AS INTEGER) AS rank,
         d.vec_id AS neighbor_id,
         ROUND({_ROUTED_EXACT_SIM}, 6) AS score
  FROM (SELECT vec_id, embedding::DOUBLE[] AS qv FROM embeddings
        WHERE vec_id < {_HNSW_NQ}) q
  CROSS JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              WHERE {_ROUTED_SELECTIVE_SQL}) d
  WHERE d.vec_id != q.vec_id
) WHERE rank <= {_HNSW_K}
UNION ALL
SELECT 'graph' AS regime, query_id, rank, neighbor_id, score
FROM ({_hnsw_oracle(_HNSW_FILT_SQL)})
"""


@register("ann_filtered_routed_topk", _ROUTED_ORACLE, "similarity", "filtered")
def q_ann_filtered_routed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selectivity-routed filtered ANN (VERDICT r9 #3 — the missing
    composition between semantic_filtered_topk and ann_hnsw_filtered_topk):
    a selective payload predicate routes to pre-filter + exact re-rank (the
    true top-k of the allowed set, filter pushed to the scan); a broad one
    routes to graph beam + post-filter (traversal cost independent of the
    filter). Runs the router at BOTH extremes and unions the two regimes,
    so the driver hash-checks each against its own replay; the routing
    decision itself is asserted — a regression re-routes and fails the
    row-count/hash gate loudly."""
    from vector_mcp_spark.operators.graph_ann import ann_filtered_topk_routed

    embs = load(spark, sf_dir, "embeddings")
    serve_set, meta = _hnsw_serve(spark, sf_dir)
    edges = None  # both routes consume the cached serve set
    queries = embs.where(F.col("vec_id") < _HNSW_NQ)
    selective = embs.where((F.col("label") == 3) & (F.col("vec_id") % 2 == 0)).select("vec_id")
    broad = embs.where(F.col("label") % 2 == 0).select("vec_id")
    kw = dict(
        k=_HNSW_K, ef=_HNSW_EF, id_col="vec_id", serve_set=serve_set,
        n_total=meta["n_total"],
    )
    a, regime_a = ann_filtered_topk_routed(
        queries, embs, edges, meta["entry"], selective, **kw
    )
    b, regime_b = ann_filtered_topk_routed(
        queries, embs, edges, meta["entry"], broad, **kw
    )
    if (regime_a, regime_b) != ("exact", "graph"):
        raise AssertionError(f"selectivity routing regressed: {(regime_a, regime_b)}")
    return a.withColumn("regime", F.lit("exact")).union(
        b.withColumn("regime", F.lit("graph"))
    )


# -- IVF-PQ: coarse-probe + ADC re-rank (FAISS IndexIVFPQ composition) --------
# The two index families above each have an entry; this is the composition
# a billion-vector serving tier actually runs: the IVF coarse quantizer
# prunes to nprobe clusters, ADC scores only the shortlist from code bytes.

_IVFPQ_K, _IVFPQ_NPROBE = 10, 4


def _ivfpq_oracle(k: int = _IVFPQ_K) -> str:
    import re

    from vector_mcp_spark.suite import SEM_QUERY_VEC, _vec_sql_literal

    base = _pq_oracle()
    chain = base[: base.rindex("SELECT vec_id,")].rstrip()
    # strip the leading WITH; rename the PQ chain's assignment CTEs — the
    # k-means replay defines its own a1/a2 generations and DuckDB would
    # otherwise see duplicate CTE names
    chain = chain[chain.index("WITH ") + 5 :]
    chain = re.sub(r"\b(a1_d|a2_d|a1|a2)\b", r"pq\1", chain)

    branches = []
    for s in range(_PQ_M):
        qs = _vec_sql_literal(
            [float(x) for x in SEM_QUERY_VEC[s * _PQ_SUB : (s + 1) * _PQ_SUB]]
        )
        branches.append(f"""
  SELECT {s} AS s, code,
         list_dot_product(d, d) AS t FROM (
    SELECT code, [ ({qs})[i + 1] - c[i + 1] FOR i IN range(0, {_PQ_SUB}) ] AS d
    FROM cb1 WHERE s = {s}
  )""")
    qtab = " UNION ALL ".join(branches)
    qlit = _vec_sql_literal([float(x) for x in SEM_QUERY_VEC])
    sim = _ivf_sim_sql
    return f"""{_kmeans_replay_ctes()},
{chain},
qtab AS ({qtab}),
qprobe AS (
  SELECT idx FROM (
    SELECT s.idx, row_number() OVER (ORDER BY {sim(qlit, "s.c")} DESC, s.idx ASC) AS rn
    FROM c2 s
  ) WHERE rn <= {_IVFPQ_NPROBE}
),
shortlist AS (SELECT a3.vec_id FROM a3 JOIN qprobe p ON a3.cluster = p.idx),
scored AS (
  SELECT a.vec_id, ROUND(SUM(q.t), 6) AS adc_dist
  FROM pqa2 a JOIN qtab q ON q.s = a.s AND q.code = a.code
  JOIN shortlist sl ON sl.vec_id = a.vec_id
  GROUP BY a.vec_id
)
SELECT vec_id, CAST(rnk AS INTEGER) AS rank, adc_dist FROM (
  SELECT vec_id, adc_dist,
         row_number() OVER (ORDER BY adc_dist ASC, vec_id ASC) AS rnk
  FROM scored
) WHERE rnk <= {k}
"""


@register("ann_ivfpq_topk", _ivfpq_oracle(), "similarity", "pipeline")
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ADC (Jégou et al. TPAMI'11; the FAISS IndexIVFPQ serving path):
    probe the query's top-nprobe coarse clusters from the cached ivf_16
    index, then ADC-score ONLY the shortlisted vectors from their m code
    bytes (cached pq_4x16 index) — no full-precision corpus vector is read
    anywhere. The oracle composes the two existing replays (k-means CTEs +
    codebook CTEs, PQ assignment generations renamed) with the probe and
    the shortlisted ADC sum."""
    from vector_mcp_spark.operators.pq import ann_ivf_adc_topk
    from vector_mcp_spark.suite import SEM_QUERY_VEC

    assigned, centroids = _ivf_cached(spark, sf_dir)
    encoded, codebooks = _pq_cached(spark, sf_dir)
    return ann_ivf_adc_topk(
        assigned, encoded, centroids, codebooks, SEM_QUERY_VEC,
        _IVFPQ_K, nprobe=_IVFPQ_NPROBE, id_col="vec_id",
    )


# -- near-dup canonicalization: best-quality representative per cluster -------
# What a pipeline actually does AFTER clustering: keep ONE document per
# near-dup cluster, chosen by a quality policy (here: most tokens, ties to
# the smallest id) — not the arbitrary min-id the CC labeling happens to
# produce. The oracle extends the recursive-CTE closure with the quality
# rank; the Spark side runs the same policy window over the CC output.

_CANON_ORACLE = (
    _CLUSTER_ORACLE[: _CLUSTER_ORACLE.rindex("SELECT node AS doc_id")].rstrip()
    + f""",
clusters AS (
  SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
),
q AS (SELECT doc_id, len({_TOKS}) AS quality_toks FROM documents),
ranked AS (
  SELECT c.doc_id, c.cluster_id, q.quality_toks,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.quality_toks DESC, c.doc_id ASC) AS rnk
  FROM clusters c JOIN q USING (doc_id)
)
SELECT doc_id, cluster_id, quality_toks, rnk = 1 AS keep FROM ranked
"""
)
# the slice point must land AFTER the closure's last CTE and BEFORE its
# final SELECT: the sliced prefix must still define the recursion but must
# NOT contain the final select's GROUP BY (the appended suffix brings its
# own, so checking the composed string would be tautological)
_canon_prefix = _CLUSTER_ORACLE[: _CLUSTER_ORACLE.rindex("SELECT node AS doc_id")]
assert "reach(node, label)" in _canon_prefix and "GROUP BY node" not in _canon_prefix


@register("dedup_canonicalize", _CANON_ORACLE, "dedup", "pipeline")
def q_dedup_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-per-cluster with a QUALITY policy: every document gets its
    near-dup cluster id (the same blocked set-level CC as dedup_clusters)
    and the cluster's highest-token-count member (ties to the smallest id)
    is the keeper. At scale the policy window partitions by cluster_id —
    cluster sizes are bounded by the near-dup radius, never corpus-sized."""
    from pyspark.sql import Window
    from vector_mcp_spark.functions.text import tokens
    from vector_mcp_spark.operators.dedup import near_dup_clusters_blocked

    docs = load(spark, sf_dir, "documents").withColumn(
        "len_bucket", F.floor(F.col("n_chars") / 100)
    )
    clusters = near_dup_clusters_blocked(
        docs, _JACCARD_T, id_col="doc_id", content_col="text",
        block_cols=("lang", "len_bucket"),
    ).select("doc_id", "cluster_id")
    qual = docs.select("doc_id", F.size(tokens(F.col("text"))).alias("quality_toks"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_toks").desc(), F.col("doc_id").asc()
    )
    return (
        clusters.join(qual, "doc_id")
        .withColumn("rnk", F.row_number().over(w))
        .select(
            "doc_id", "cluster_id", "quality_toks", (F.col("rnk") == 1).alias("keep")
        )
    )


# -- IVF-PQ + exact re-rank: the complete production serving path ------------

_IVFPQ_RR_SHORTLIST = 50


def _ivfpq_rerank_oracle() -> str:
    from vector_mcp_spark.suite import SEM_QUERY_VEC, _cosine_sql

    sim = _cosine_sql("e.embedding", SEM_QUERY_VEC)
    return f"""
SELECT vec_id, CAST(rnk AS INTEGER) AS rank, ROUND(sim, 6) AS score FROM (
  SELECT e.vec_id, {sim} AS sim,
         row_number() OVER (ORDER BY {sim} DESC, e.vec_id ASC) AS rnk
  FROM embeddings e
  JOIN ({_ivfpq_oracle(_IVFPQ_RR_SHORTLIST)}) s ON s.vec_id = e.vec_id
) WHERE rnk <= {_IVFPQ_K}
"""


@register("ann_ivfpq_rerank_topk", _ivfpq_rerank_oracle(), "similarity", "pipeline")
def q_ann_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with the exact re-rank production always chains on: coarse
    probe → ADC shortlist of 50 from code bytes → full-precision cosine
    re-rank of ONLY those 50 rows. At billion scale the vector column is
    read for 50 rows per query; everything before is centroid math and
    4-byte codes. RECALL.md shows why the re-rank matters (raw ADC floor
    vs re-ranked)."""
    from vector_mcp_spark.operators.pq import ann_ivf_adc_rerank_topk
    from vector_mcp_spark.suite import SEM_QUERY_VEC

    embs = load(spark, sf_dir, "embeddings")
    assigned, centroids = _ivf_cached(spark, sf_dir)
    encoded, codebooks = _pq_cached(spark, sf_dir)
    return ann_ivf_adc_rerank_topk(
        assigned, encoded, centroids, codebooks, embs, SEM_QUERY_VEC,
        _IVFPQ_K, shortlist=_IVFPQ_RR_SHORTLIST, nprobe=_IVFPQ_NPROBE,
        id_col="vec_id",
    )


# -- IVF ANN under L2 (pgvector <-> / qdrant Distance.EUCLID route) -----------
#
# A SECOND deterministic k-means, assigned by argmin SQUARED distance
# (mirroring assign_clusters(metric="l2")'s vsq - 2 v.c + csq kernel — no
# sqrt inside the argmin, ties to the lowest centroid index), cached per sf
# like ivf_16. The oracle rebuilds it end to end and replays probe +
# re-rank; the candidate score mirrors ann_ivf_topk's exact expression
# (sqrt(greatest(0, nnorm^2 + qnorm^2 - 2 dot)) with nnorm = sqrt(dd), the
# sqrt-then-square order preserved) so both engines do identical
# arithmetic.


def _l2_d2_sql(a: str, b: str) -> str:
    """Squared distance via the expansion — the argmin key (no sqrt)."""
    return (
        f"(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        f" + list_dot_product({b}, {b}))"
    )


def _kmeans_replay_ctes_l2() -> str:
    def assign_cte(name: str, cent_cte: str) -> str:
        return f"""
{name}_s AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v, s.idx,
         {_l2_d2_sql("e.embedding::DOUBLE[]", "s.c")} AS d2
  FROM embeddings e CROSS JOIN {cent_cte} s
),
{name} AS (
  SELECT vec_id, v, idx AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, idx ASC) AS rn FROM {name}_s
  ) WHERE rn = 1
)"""

    def update_cte(name: str, assign: str, prev: str) -> str:
        return f"""
{name}_m AS (
  SELECT cluster, i, ROUND(avg(v[i + 1]), 8) AS val
  FROM {assign} CROSS JOIN (SELECT unnest(range(64)) AS i)
  GROUP BY cluster, i
),
{name}_l AS (SELECT cluster AS idx, list(val ORDER BY i) AS c FROM {name}_m GROUP BY cluster),
{name} AS (SELECT p.idx, COALESCE(n.c, p.c) AS c FROM {prev} p LEFT JOIN {name}_l n ON n.idx = p.idx)"""

    return f"""
WITH seeds AS (
  SELECT idx, c FROM (
    SELECT row_number() OVER (ORDER BY sha256(CAST(vec_id AS VARCHAR))) - 1 AS idx,
           embedding::DOUBLE[] AS c
    FROM embeddings
  ) WHERE idx < 16
),{assign_cte("la1", "seeds")},{update_cte("lc1", "la1", "seeds")},{assign_cte("la2", "lc1")},{update_cte("lc2", "la2", "lc1")},{assign_cte("la3", "lc2")}"""


def _ann_ivf_l2_oracle() -> str:
    # the exact-mirror L2 distance: sqrt-then-square norms, (A + B) - 2dq
    # inside greatest, matching operators/similarity.ann_ivf_topk(metric=l2)
    def dist(a: str, b: str) -> str:
        na = f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({a}, {a})))"
        nb = f"(sqrt(list_dot_product({b}, {b})) * sqrt(list_dot_product({b}, {b})))"
        inner = f"(({na} + {nb}) - 2.0 * list_dot_product({a}, {b}))"
        # CASE, not greatest: mirrors the when-clamp on the Spark side
        return f"sqrt(CASE WHEN {inner} < 0.0 THEN 0.0 ELSE {inner} END)"

    # centroid ranking mirrors l2_distance (sqrt of aa + bb - 2ab with
    # SEQUENTIAL-fold sums); sqrt is monotone so ranking by the unsqrted
    # expansion is order-identical, and ties pin to the lowest idx
    return f"""{_kmeans_replay_ctes_l2()},
q AS (SELECT vec_id, v FROM la3 WHERE vec_id < 20),
qs AS (
  SELECT q.vec_id AS query_id, q.v AS qe, s.idx,
         greatest(0.0, {_l2_d2_sql("q.v", "s.c")}) AS d2
  FROM q CROSS JOIN lc2 s
),
probe AS (
  SELECT query_id, qe, idx AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, idx ASC) AS rn FROM qs
  ) WHERE rn <= 4
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, {dist("a.v", "p.qe")} AS dst
  FROM probe p JOIN la3 a ON a.cluster = p.cluster AND a.vec_id != p.query_id
)
SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, ROUND(dst, 6) AS score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dst ASC NULLS LAST, neighbor_id ASC) AS rnk
  FROM cand
) WHERE rnk <= 5
"""


def _ivf_l2_cached(spark: SparkSession, sf_dir: str):
    import json
    import os

    from vector_mcp_spark.operators.similarity import ivf_build

    cache = _index_cache(sf_dir, "ivf16_l2")
    cent_path = os.path.join(cache, "centroids.json")
    assigned_path = os.path.join(cache, "assigned")
    if not (os.path.exists(cent_path) and os.path.exists(os.path.join(assigned_path, "_SUCCESS"))):
        embs = load(spark, sf_dir, "embeddings")
        assigned, centroids = ivf_build(
            embs, n_centroids=16, id_col="vec_id", max_iter=2, metric="l2"
        )
        assigned.write.mode("overwrite").parquet(assigned_path)
        os.makedirs(cache, exist_ok=True)
        with open(cent_path, "w") as f:
            json.dump(centroids, f)
    with open(cent_path) as f:
        centroids = json.load(f)
    return spark.read.parquet(assigned_path), centroids


@register("ann_ivf_l2_topk", _ann_ivf_l2_oracle(), "similarity", "pipeline")
def q_ann_ivf_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-metric IVF ANN: probe by Euclidean distance, re-rank ascending —
    the pgvector <-> / qdrant EUCLID serving route, fully value-oracled
    (the L2 k-means replays deterministically like the cosine one)."""
    from vector_mcp_spark.operators.similarity import ann_ivf_topk

    embs = load(spark, sf_dir, "embeddings")
    assigned, centroids = _ivf_l2_cached(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 20)
    return ann_ivf_topk(
        queries, assigned, centroids, 5, nprobe=4, id_col="vec_id", metric="l2"
    )


# -- dot- and l2-metric layered graph ANN (per-collection distance config) -----


@register("ann_hnsw_dot_topk", _hnsw_oracle(metric="dot"), "similarity", "pipeline")
def q_ann_hnsw_dot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dot-metric (MIPS) graph ANN: the layered neighbor graph is built
    ranking raw inner products over the shared cosine coarse quantizer and
    the beam descends it DESC — the pgvector ``USING hnsw (embedding
    vector_ip_ops)`` serving route, completing the qdrant Distance enum
    (reference vector_mcp/vectordb/qdrant.py:122-127) across the persisted
    graph families; fully value-oracled like the cosine and l2 twins."""
    return _hnsw_literal_batch(spark, sf_dir, "dot")


@register("ann_hnsw_l2_topk", _hnsw_oracle(metric="l2"), "similarity", "pipeline")
def q_ann_hnsw_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-metric graph ANN: the layered neighbor graph is BUILT under
    Euclidean distance (l2 k-means coarse quantizer, l2 top-M edges) and
    the beam descends it ranking ascending — the pgvector
    ``USING hnsw (embedding vector_l2_ops)`` serving route
    (``postgres.py:182-188``), fully value-oracled like the cosine twin
    (the whole build + search replays as bounded CTEs)."""
    return _hnsw_literal_batch(spark, sf_dir, "l2")
