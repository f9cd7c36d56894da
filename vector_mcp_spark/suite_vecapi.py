"""Declared vector-DB point-API queries — the query surface of the engines
the reference wraps, beyond plain KNN (see ``operators/vecapi.py``): keyset
scroll (``vector_mcp/vectordb/qdrant.py:272-302`` uses ``client.scroll``
directly), payload facet counts, recommend (average-vector strategy),
discovery (context-pair constrained) search, sparse-vector dot-product
retrieval (pgvector ``sparsevec`` shape), bounded pairwise distance matrix,
and Distribution-Based Score Fusion (the Qdrant ``dbsf`` hybrid mode next
to the already-declared RRF).

Every oracle mirrors the Spark arithmetic: doubles, sequential
``list_dot_product`` folds, identical rounding points, ranking ties pinned
by id. The recommend query vector is quantized to 9 dp half-up on BOTH
sides so a data-derived vector is bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_mcp_spark.functions.embedder import hash_embed
from vector_mcp_spark.suite import (
    LEX_QUERY,
    SEM_QUERY_VEC,
    _cosine_sql,
    docs_with_embeddings,
    load,
    register,
)

EMB_DIM = 64

# ---------------------------------------------------------------------------
# Keyset scroll (qdrant.py:282 client.scroll; chromadb.py:259-290 filtered
# listing) — page N costs the same as page 1
# ---------------------------------------------------------------------------

SCROLL_AFTER_ID = 150
SCROLL_PAGE = 20

_SCROLL_ORACLE = f"""
SELECT doc_id, source, n_chars
FROM documents
WHERE lang = 'en' AND n_chars >= 100 AND doc_id > {SCROLL_AFTER_ID}
ORDER BY doc_id ASC
LIMIT {SCROLL_PAGE}
"""


@register("semantic_scroll_page", _SCROLL_ORACLE, "search", "vecapi")
def q_scroll_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered keyset scroll: the id cursor is pushed to the parquet scan
    (row-group min/max pruning — OFFSET pagination cannot do this), the
    page plans as TakeOrderedAndProject."""
    from vector_mcp_spark.operators.vecapi import scroll_page

    docs = load(spark, sf_dir, "documents")
    return scroll_page(
        docs,
        after_id=SCROLL_AFTER_ID,
        page_size=SCROLL_PAGE,
        filter_cond=(F.col("lang") == "en") & (F.col("n_chars") >= 100),
        id_col="doc_id",
        payload_cols=("source", "n_chars"),
    )


# ---------------------------------------------------------------------------
# Payload facet counts (Qdrant facet API shape)
# ---------------------------------------------------------------------------

_FACET_ORACLE = """
SELECT source AS value, CAST(COUNT(*) AS BIGINT) AS count
FROM documents
WHERE lang = 'en'
GROUP BY source
ORDER BY count DESC, value ASC
"""


@register("payload_facet_counts", _FACET_ORACLE, "search", "vecapi")
def q_payload_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet counts of one payload key under a filter — map-side combined
    groupBy; the shuffle is |distinct values| rows at any corpus size."""
    from vector_mcp_spark.operators.vecapi import facet_counts

    docs = load(spark, sf_dir, "documents")
    return facet_counts(docs, "source", filter_cond=F.col("lang") == "en")


# ---------------------------------------------------------------------------
# Recommend — average_vector strategy: q = avg(pos) + (avg(pos) − avg(neg)),
# example points excluded from results
# ---------------------------------------------------------------------------

RECO_POS = [3, 17, 42]
RECO_NEG = [5]
RECO_K = 10

_RECO_ALL = ", ".join(str(i) for i in RECO_POS + RECO_NEG)
_RECO_POS_SQL = ", ".join(str(i) for i in RECO_POS)
_RECO_NEG_SQL = ", ".join(str(i) for i in RECO_NEG)

_RECO_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id IN ({_RECO_ALL})
),
dims AS (SELECT UNNEST(generate_series(1, {EMB_DIM})) AS i),
comp AS (
  SELECT d.i,
         SUM(CASE WHEN e.vec_id IN ({_RECO_POS_SQL}) THEN e.v[d.i] END)
           / {len(RECO_POS)} AS ap,
         SUM(CASE WHEN e.vec_id IN ({_RECO_NEG_SQL}) THEN e.v[d.i] END)
           / {len(RECO_NEG)} AS an
  FROM ex e CROSS JOIN dims d GROUP BY d.i
),
q AS (SELECT LIST(FLOOR((ap + (ap - an)) * 1e9 + 0.5) / 1e9 ORDER BY i) AS qv
      FROM comp),
scored AS (
  SELECT e.vec_id AS doc_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv) /
         (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
          sqrt(list_dot_product(q.qv, q.qv))) AS sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id NOT IN ({_RECO_ALL})
)
SELECT doc_id, ROUND(sim, 6) AS score
FROM scored ORDER BY sim DESC, doc_id ASC LIMIT {RECO_K}
"""


@register("semantic_recommend", _RECO_ORACLE, "search", "vecapi")
def q_semantic_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommend-by-examples: bounded point lookup of the example vectors,
    then the standard map-side cosine + TakeOrdered against the derived
    (9-dp-quantized) query vector."""
    from vector_mcp_spark.operators.vecapi import recommend_topk

    coll = docs_with_embeddings(spark, sf_dir)
    return recommend_topk(
        coll, RECO_POS, RECO_NEG, RECO_K, id_col="doc_id", emb_col="embedding"
    )


# ---------------------------------------------------------------------------
# Discovery search — context pairs steer, target ranks
# ---------------------------------------------------------------------------

DISC_TARGET = hash_embed("vector database systems", EMB_DIM)
DISC_PAIRS = [
    (hash_embed("distributed query engine", EMB_DIM), hash_embed("cooking recipes", EMB_DIM)),
    (hash_embed("stream processing window", EMB_DIM), hash_embed("romantic poetry", EMB_DIM)),
]
DISC_K = 10

_DISC_SAT_SQL = " + ".join(
    f"(CASE WHEN {_cosine_sql('e.embedding', p)} > {_cosine_sql('e.embedding', n)} "
    "THEN 1 ELSE 0 END)"
    for p, n in DISC_PAIRS
)

_DISC_ORACLE = f"""
SELECT d.doc_id AS doc_id,
       CAST({_DISC_SAT_SQL} AS INTEGER) AS satisfied,
       ROUND({_cosine_sql('e.embedding', DISC_TARGET)}, 6) AS score
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
ORDER BY satisfied DESC, {_cosine_sql('e.embedding', DISC_TARGET)} DESC, d.doc_id ASC
LIMIT {DISC_K}
"""


@register("semantic_discover", _DISC_ORACLE, "search", "vecapi")
def q_semantic_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discovery search: rank by context pairs satisfied, then target
    cosine. All pair cosines are literal map-side projections; zero
    shuffle before the top-k."""
    from vector_mcp_spark.operators.vecapi import discover_topk

    coll = docs_with_embeddings(spark, sf_dir)
    return discover_topk(
        coll, DISC_TARGET, DISC_PAIRS, DISC_K, id_col="doc_id", emb_col="embedding"
    )


# ---------------------------------------------------------------------------
# Sparse-vector dot-product retrieval (pgvector sparsevec / SPLADE shape)
# ---------------------------------------------------------------------------

SPARSE_QUERY = [("spark", 2.0), ("vector", 1.5), ("stream", 1.0)]
SPARSE_K = 15

_SPARSE_VALUES = ", ".join(f"('{t}', {w!r}::DOUBLE)" for t, w in SPARSE_QUERY)

# The oracle replays the INDEXED arithmetic (tf-aggregated postings, then
# Σ q_t·tf_t / dlen) — the serve path reads the persisted named-sparse
# family, so the replay mirrors its fold exactly (r12 re-point; the scores
# equal the historical per-occurrence form).
_SPARSE_ORACLE = f"""
WITH q(term, qw) AS (VALUES {_SPARSE_VALUES}),
toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]{{2,}}')) AS tok
  FROM documents
),
post AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
dlen AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
hits AS (
  SELECT t.doc_id, SUM(q.qw * t.tf) AS num
  FROM post t JOIN q ON t.tok = q.term
  GROUP BY t.doc_id
)
SELECT h.doc_id, ROUND(h.num / l.n, 6) AS score
FROM hits h JOIN dlen l USING (doc_id)
WHERE l.n > 0
ORDER BY h.num / l.n DESC, h.doc_id ASC
LIMIT {SPARSE_K}
"""


def _sparse_index(spark: SparkSession, sf_dir: str):
    """The persisted named-sparse family over the suite corpus — (term,
    doc_id, tf) postings partitioned by term bucket + (doc_id, dlen) L1
    norms, built once per sf_dir and cached like the HNSW/IVF indexes
    (the sf_dir analogue of the engine's build_search_index doclen +
    postings families). Returns (postings, doclens) DataFrames."""
    import os

    from vector_mcp_spark.functions.text import tokens
    from vector_mcp_spark.operators.lexical import build_postings, term_bucket
    from vector_mcp_spark.suite_pipeline import _index_cache

    cache = _index_cache(sf_dir, "sparse_postings")
    post_path = os.path.join(cache, "postings")
    dlen_path = os.path.join(cache, "doclen")
    if not (
        os.path.exists(os.path.join(post_path, "_SUCCESS"))
        and os.path.exists(os.path.join(dlen_path, "_SUCCESS"))
    ):
        docs = load(spark, sf_dir, "documents")
        build_postings(docs, "doc_id", "text").withColumn(
            "term_bucket", term_bucket("term")
        ).write.mode("overwrite").partitionBy("term_bucket").parquet(post_path)
        docs.select(
            "doc_id", F.size(tokens(F.col("text"))).alias("dlen")
        ).write.mode("overwrite").parquet(dlen_path)
    return spark.read.parquet(post_path), spark.read.parquet(dlen_path)


def _sparse_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from vector_mcp_spark.operators.vecapi import indexed_sparse_dot_topk

    postings, doclens = _sparse_index(spark, sf_dir)
    buckets = sorted(
        {hashlib.sha256(t.encode()).hexdigest()[:2] for t, _ in SPARSE_QUERY}
    )
    return indexed_sparse_dot_topk(
        postings.where(F.col("term_bucket").isin(buckets)),
        doclens,
        SPARSE_QUERY,
        SPARSE_K,
        id_col="doc_id",
    )


@register("sparse_vector_topk", _SPARSE_ORACLE, "search", "vecapi")
def q_sparse_vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse dot-product retrieval SERVED from the persisted named-sparse
    family (r12): postings bucket-pruned to the query's terms — partition
    pruning at the scan — L1 norms from the doclen table; serve time never
    re-tokenizes the corpus. Engine twin: indexed_sparse_search."""
    return _sparse_leg(spark, sf_dir)


# ---------------------------------------------------------------------------
# Bounded pairwise distance matrix (Qdrant search-matrix API shape)
# ---------------------------------------------------------------------------

MATRIX_MAX_ID = 24  # 25-point sample — the API contract bounds the quadratic
MATRIX_PER_ROW = 3

_MATRIX_ORACLE = f"""
WITH s AS (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id <= {MATRIX_MAX_ID}
),
p AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         list_dot_product(a.v, b.v) /
         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
  FROM s a JOIN s b ON a.vec_id <> b.vec_id
),
r AS (
  SELECT a_id, b_id, sim,
         row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rnk
  FROM p
)
SELECT a_id, CAST(rnk AS INTEGER) AS rank, b_id, ROUND(sim, 6) AS score
FROM r WHERE rnk <= {MATRIX_PER_ROW}
"""


@register("embedding_distance_matrix", _MATRIX_ORACLE, "search", "vecapi")
def q_distance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row nearest sample neighbors over a bounded filtered sample —
    broadcast self-join on |sample| rows, never the full collection."""
    from vector_mcp_spark.operators.vecapi import distance_matrix_topk

    embs = load(spark, sf_dir, "embeddings")
    return distance_matrix_topk(
        embs, F.col("vec_id") <= MATRIX_MAX_ID, MATRIX_PER_ROW,
        id_col="vec_id", emb_col="embedding",
    )


# ---------------------------------------------------------------------------
# Hybrid DBSF fusion (Qdrant's dbsf mode — the score-aware sibling of RRF)
# ---------------------------------------------------------------------------

DBSF_LEG_K = 25
DBSF_N = 10

_DBSF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]{{2,}}')) AS tok
  FROM documents
),
sem AS (
  SELECT d.doc_id, ROUND({_cosine_sql('e.embedding', SEM_QUERY_VEC)}, 6) AS score
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  ORDER BY {_cosine_sql('e.embedding', SEM_QUERY_VEC)} DESC, d.doc_id ASC
  LIMIT {DBSF_LEG_K}
),
lex AS (
  SELECT doc_id, score FROM (
    SELECT doc_id, CAST(count(*) AS DOUBLE) AS score
    FROM toks WHERE tok IN ('spark', 'join', 'vector')
    GROUP BY doc_id
  ) ORDER BY score DESC, doc_id ASC LIMIT {DBSF_LEG_K}
),
legs AS (
  SELECT 0 AS leg, doc_id, score FROM sem
  UNION ALL
  SELECT 1 AS leg, doc_id, score FROM lex
),
stats AS (
  SELECT leg, AVG(score) AS mu, STDDEV_POP(score) AS sd
  FROM legs GROUP BY leg
),
norm AS (
  SELECT l.doc_id,
         CASE WHEN s.sd = 0 THEN 0.5
              ELSE (l.score - (s.mu - 3 * s.sd)) / (6 * s.sd) END AS ns
  FROM legs l JOIN stats s USING (leg)
)
SELECT doc_id, ROUND(SUM(ns), 6) AS score
FROM norm GROUP BY doc_id
ORDER BY ROUND(SUM(ns), 6) DESC, doc_id ASC
LIMIT {DBSF_N}
"""


@register("hybrid_dbsf", _DBSF_ORACLE, "search", "vecapi")
def q_hybrid_dbsf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSF fusion of the semantic and lexical-tf legs: per-leg μ±3σ score
    normalization, summed per id — preserves score magnitudes RRF discards.
    Leg stats are one-row broadcast aggregates over ≤1000-row legs."""
    from vector_mcp_spark.operators.hybrid import dbsf_fuse
    from vector_mcp_spark.operators.lexical import lexical_tf_topk
    from vector_mcp_spark.operators.semantic import semantic_topk

    coll = docs_with_embeddings(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    sem = semantic_topk(coll, SEM_QUERY_VEC, DBSF_LEG_K, id_col="doc_id", emb_col="embedding")
    lex = lexical_tf_topk(docs, LEX_QUERY, DBSF_LEG_K, id_col="doc_id", content_col="text")
    return dbsf_fuse([sem, lex], DBSF_N, id_col="doc_id", score_col="score")


# -- payload-ordered keyset scroll (qdrant scroll order_by parity) -------------
#
# Scrolling in payload order (not id order) needs a COMPOSITE cursor
# (order_value, id); the strict-or-tie predicate pushes to the scan and the
# page plans as TakeOrderedAndProject — page N costs page 1, unlike OFFSET.

_ORDERED_SCROLL_AFTER = (300, 77)  # (last n_chars, last doc_id) of page 1
_ORDERED_SCROLL_PAGE = 15

_ORDERED_SCROLL_ORACLE = f"""
SELECT doc_id, n_chars, source
FROM documents
WHERE lang = 'en'
  AND (n_chars < {_ORDERED_SCROLL_AFTER[0]}
       OR (n_chars = {_ORDERED_SCROLL_AFTER[0]} AND doc_id > {_ORDERED_SCROLL_AFTER[1]}))
ORDER BY n_chars DESC, doc_id ASC
LIMIT {_ORDERED_SCROLL_PAGE}
"""


@register("payload_ordered_scroll", _ORDERED_SCROLL_ORACLE, "search", "vecapi")
def q_payload_ordered_scroll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.vecapi import scroll_page_ordered

    docs = load(spark, sf_dir, "documents")
    return scroll_page_ordered(
        docs,
        order_col="n_chars",
        after=_ORDERED_SCROLL_AFTER,
        page_size=_ORDERED_SCROLL_PAGE,
        filter_cond=F.col("lang") == "en",
        id_col="doc_id",
        payload_cols=("source",),
        descending=True,
    )


# ---------------------------------------------------------------------------
# Recommend, best-score strategy (qdrant's second strategy): best single
# positive similarity, flipped to -(best_neg^2) when a negative matches
# better
# ---------------------------------------------------------------------------

def _cos_pair_sql(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


_RECO_BS_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id IN ({_RECO_ALL})
),
cand AS (
  SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id NOT IN ({_RECO_ALL})
),
sims AS (
  SELECT c.doc_id,
         MAX(CASE WHEN e.vec_id IN ({_RECO_POS_SQL})
                  THEN {_cos_pair_sql('c.v', 'e.v')} END) AS best_pos,
         MAX(CASE WHEN e.vec_id IN ({_RECO_NEG_SQL})
                  THEN {_cos_pair_sql('c.v', 'e.v')} END) AS best_neg
  FROM cand c CROSS JOIN ex e
  GROUP BY c.doc_id
),
scored AS (
  SELECT doc_id,
         CASE WHEN best_pos > best_neg THEN best_pos
              ELSE -(best_neg * best_neg) END AS s
  FROM sims
)
SELECT doc_id, ROUND(s, 6) AS score
FROM scored ORDER BY s DESC, doc_id ASC LIMIT {RECO_K}
"""


@register("semantic_recommend_best_score", _RECO_BS_ORACLE, "search", "vecapi")
def q_semantic_recommend_best_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.vecapi import recommend_best_score_topk

    coll = docs_with_embeddings(spark, sf_dir)
    return recommend_best_score_topk(
        coll, RECO_POS, RECO_NEG, RECO_K, id_col="doc_id", emb_col="embedding"
    )


# ---------------------------------------------------------------------------
# Context search — the third qdrant explore API: no target, rank by summed
# pair loss min(0, sim_pos - sim_neg); the zero-loss region wins
# ---------------------------------------------------------------------------

_CTX_LOSS_SQL = " + ".join(
    f"LEAST(0.0, ({_cosine_sql('e.embedding', p)}) - ({_cosine_sql('e.embedding', n)}))"
    for p, n in DISC_PAIRS
)

_CTX_ORACLE = f"""
SELECT d.doc_id AS doc_id, ROUND({_CTX_LOSS_SQL}, 6) AS score
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
ORDER BY ({_CTX_LOSS_SQL}) DESC, d.doc_id ASC
LIMIT {DISC_K}
"""


@register("semantic_context_topk", _CTX_ORACLE, "search", "vecapi")
def q_semantic_context_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.vecapi import context_topk

    coll = docs_with_embeddings(spark, sf_dir)
    return context_topk(coll, DISC_PAIRS, DISC_K, id_col="doc_id", emb_col="embedding")


# ---------------------------------------------------------------------------
# Sparse+dense indexed hybrid — the SPLADE-style fusion qdrant serves with
# named sparse vectors next to the dense HNSW index (qdrant named-vector
# queries + Fusion.RRF; the reference pins the dense leg, vector_mcp/
# vectordb/qdrant.py:122-127). Dense leg = the shared HNSW-style graph
# beam; sparse leg = L1-normalized token-TF dot against the query's
# {term: weight} map; fusion = the same weighted RRF as hybrid_rrf.
# ---------------------------------------------------------------------------

def _sparse_dense_oracle() -> str:
    # suite_pipeline is fully initialized before suite_vecapi (suite.py
    # import order), so the lazy import is safe at module load
    from vector_mcp_spark.suite import HYBRID_N, HYBRID_W_LEX, HYBRID_W_SEM, RRF_K
    from vector_mcp_spark.suite_pipeline import _hnsw_oracle

    return f"""
WITH dense AS (
  SELECT neighbor_id AS doc_id, score FROM ({_hnsw_oracle()}) WHERE query_id = 0
),
dense_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
  FROM dense
),
sparse AS (SELECT doc_id, score FROM ({_SPARSE_ORACLE})),
sparse_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
  FROM sparse
),
fused AS (
  SELECT doc_id, SUM(contrib) AS s FROM (
    SELECT doc_id, {HYBRID_W_SEM} / ({RRF_K} + rnk) AS contrib FROM dense_rank
    UNION ALL
    SELECT doc_id, {HYBRID_W_LEX} / ({RRF_K} + rnk) AS contrib FROM sparse_rank
  ) GROUP BY doc_id
)
SELECT doc_id, ROUND(s, 6) AS score FROM fused
ORDER BY ROUND(s, 6) DESC, doc_id ASC LIMIT {HYBRID_N}
"""


@register("hybrid_sparse_dense", _sparse_dense_oracle(), "search", "hybrid")
def q_hybrid_sparse_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse+dense hybrid: the dense leg beam-descends the SAME cached
    HNSW-style graph index the ANN entries share (query = doc 0's vector,
    self excluded); the sparse leg is posting-list dot-product retrieval
    (only matching postings shuffle). Both legs are index-served — at
    scale neither touches the full corpus — and fuse in weighted RRF over
    ≤ leg-k rows."""
    from vector_mcp_spark.operators.hybrid import rrf_fuse
    from vector_mcp_spark.suite import HYBRID_N, HYBRID_W_LEX, HYBRID_W_SEM, RRF_K
    from vector_mcp_spark.suite_pipeline import _hnsw_literal_batch

    # doc 0's embedding as a one-query literal batch
    dense = _hnsw_literal_batch(spark, sf_dir, n_queries=1).select(
        F.col("neighbor_id").alias("doc_id"), "score"
    )
    sparse = _sparse_leg(spark, sf_dir)
    return rrf_fuse(
        [(dense, HYBRID_W_SEM), (sparse, HYBRID_W_LEX)],
        HYBRID_N, rrf_k=RRF_K, id_col="doc_id",
    )


# -- named multi-vector search (qdrant vectors_config / using=<name>) ---------
#
# The engine-surface entry in the engine_lifecycle style: a scratch
# CollectionEngine holds 12 points carrying TWO named dense vectors ("text"
# dim-8 cosine, "summary" dim-4 l2) next to the default embedding; the
# declared query searches each name under its own locked metric and returns
# both top-3s. Vectors are small deterministic rationals, so the DuckDB
# oracle replays both searches from a VALUES table with the same literal
# arithmetic (cosine via _cosine_sql, l2 via the _l2_sql expansion).

_MV_N = 12
_MV_K = 3


def _mv_vec_a(i: int) -> list[float]:
    return [((i * 37 + j * 11) % 23 + 1) / 7.0 for j in range(8)]


def _mv_vec_b(i: int) -> list[float]:
    return [((i * 13 + j * 5) % 17 + 1) / 3.0 for j in range(4)]


_MV_QA = _mv_vec_a(100)
_MV_QB = _mv_vec_b(200)


def _mv_oracle() -> str:
    from vector_mcp_spark.suite import _cosine_sql, _l2_sql

    def lit(v: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in v) + "]::DOUBLE[]"

    values = ",\n  ".join(
        f"('point {i:02d}', {lit(_mv_vec_a(i))}, {lit(_mv_vec_b(i))})"
        for i in range(_MV_N)
    )
    return f"""
WITH pts(content, va, vb) AS (VALUES
  {values}
),
a AS (SELECT content, {_cosine_sql("va", _MV_QA)} AS s FROM pts),
ar AS (
  SELECT 'text' AS vector_name, CAST(rn AS INTEGER) AS rank, content,
         ROUND(s, 6) AS score
  FROM (SELECT content, s, row_number() OVER (ORDER BY s DESC, content ASC) AS rn FROM a)
  WHERE rn <= {_MV_K}
),
b AS (SELECT content, {_l2_sql("vb", _MV_QB)} AS s FROM pts),
br AS (
  SELECT 'summary' AS vector_name, CAST(rn AS INTEGER) AS rank, content,
         ROUND(s, 6) AS score
  FROM (SELECT content, s, row_number() OVER (ORDER BY s ASC, content ASC) AS rn FROM b)
  WHERE rn <= {_MV_K}
)
SELECT * FROM ar UNION ALL SELECT * FROM br
"""


def _mv_engine(spark: SparkSession):
    """The shared named-multi-vector fixture engine: ONE cached collection
    (under .tmp, the `_rfs_engine` pattern) carrying the two named vector
    spaces. The bench's warm pass (or the first pytest touch) pays the
    create/put build; every later run serves only — the declared query is
    the two named searches, whose output the oracle replays either way
    (r13 optimization: the per-call scratch rebuild billed ~3 s of DDL+put
    to every timed serve)."""
    import os

    from vector_mcp_spark.engine import CollectionEngine

    root = os.path.abspath(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".tmp", "mv_fixture")
    )
    eng = CollectionEngine(spark, root)
    if "mv" not in eng.get_collections():
        eng.create_collection(
            "mv",
            vectors_config={
                "text": {"dimension": 8, "distance": "cosine"},
                "summary": {"dimension": 4, "distance": "l2"},
            },
        )
        contents = [f"point {i:02d}" for i in range(_MV_N)]
        eng.add_documents("mv", contents)
        ids = {r.content: r.id for r in eng.read("mv").select("id", "content").collect()}
        eng.put_named_vectors(
            "mv", "text", {ids[c]: _mv_vec_a(i) for i, c in enumerate(contents)}
        )
        eng.put_named_vectors(
            "mv", "summary", {ids[c]: _mv_vec_b(i) for i, c in enumerate(contents)}
        )
    return eng


@register("multivector_named_topk", _mv_oracle(), "engine", "vecapi")
def q_multivector_named_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named multi-vector search through the real engine: a collection with
    a two-name vectors_config (built once into the shared fixture), queried
    per name under its own distance (cosine desc / l2 asc) — the qdrant
    named-vectors surface end to end."""
    eng = _mv_engine(spark)
    rows = []
    for vname, qv in (("text", _MV_QA), ("summary", _MV_QB)):
        got = eng.named_vector_search("mv", vname, qv, k=_MV_K, indexed=False).collect()
        for rank, r in enumerate(got, start=1):
            rows.append((vname, rank, r.content, float(r.score)))
    return spark.createDataFrame(rows, "vector_name string, rank int, content string, score double")


# -- range-filtered indexed search (qdrant Range filter + vector query) -------
#
# Engine-surface entry for the range payload-index family (VERDICT r12
# item 3): a scratch CollectionEngine holds 24 points with float32-exact
# rational vectors (n/8 — identical bits as float and double, so the DuckDB
# replay shares the exact arithmetic) and a numeric "price" payload; the
# declared query builds the vector index AND the band-partitioned range
# index, then serves {"price": {"gte": 9, "lte": 21}} + vector through
# indexed_filtered_search. The 5-of-24 allowed set routes to the exact
# regime (selectivity 0.21 < 0.25), so the result is the TRUE top-k of the
# allowed set — the oracle is the scan twin: exact filtered KNN over the
# same VALUES.

_RFS_N, _RFS_K, _RFS_DIM = 24, 4, 8


def _rfs_vec(i: int) -> list[float]:
    # n/8 with n in [1, 23]: exactly representable in float32 AND float64,
    # so array<float> storage round-trips bit-identically into the DOUBLE[]
    # oracle literals
    return [((i * 37 + j * 11) % 23 + 1) / 8.0 for j in range(_RFS_DIM)]


_RFS_QV = _rfs_vec(100)


def _rfs_oracle() -> str:
    from vector_mcp_spark.suite import _cosine_sql, _vec_sql_literal

    values = ",\n  ".join(
        f"('point {i:02d}', {i * 3}, {_vec_sql_literal(_rfs_vec(i))})"
        for i in range(_RFS_N)
    )
    return f"""
WITH pts(content, price, v) AS (VALUES
  {values}
),
s AS (
  SELECT content, {_cosine_sql("v", _RFS_QV)} AS sc
  FROM pts WHERE price >= 9 AND price <= 21
)
SELECT CAST(rn AS INTEGER) AS rank, content, ROUND(sc, 6) AS score
FROM (SELECT content, sc,
             row_number() OVER (ORDER BY sc DESC, content ASC) AS rn
      FROM s)
WHERE rn <= {_RFS_K}
"""


def _rfs_engine(spark: SparkSession):
    """The shared filtered-search fixture engine: ONE cached 24-point
    collection (under .tmp, like the suite's index caches) carrying both
    the numeric "price" and the categorical "team" payloads, with the
    vector index plus BOTH payload-index families built once — the bench's
    warm pass (and the first pytest touch) pays the build, every later run
    serves only. Contents are fixed, so the table fingerprint is stable
    and the freshness checks skip all rebuild work."""
    import os

    from vector_mcp_spark.engine import CollectionEngine

    root = os.path.abspath(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".tmp", "rfs_fixture")
    )
    eng = CollectionEngine(spark, root)
    if "pts" not in eng.get_collections():
        eng.create_collection("pts", dimension=_RFS_DIM)
        eng.add_documents(
            "pts",
            [f"point {i:02d}" for i in range(_RFS_N)],
            metadatas=[
                {"price": str(i * 3), "team": f"t{i % 12}"} for i in range(_RFS_N)
            ],
            embeddings=[_rfs_vec(i) for i in range(_RFS_N)],
        )
    if eng.index_status("pts") not in ("fresh", "repaired"):
        eng.build_search_index("pts")
    if eng.payload_range_index_status("pts", "price") != "fresh":
        eng.create_payload_range_index("pts", "price", n_bands=8)
    if eng.payload_index_status("pts", "team") != "fresh":
        eng.create_payload_index("pts", "team")
    return eng


@register("ann_range_filtered_topk", _rfs_oracle(), "engine", "vecapi")
def q_ann_range_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-filtered indexed vector search through the real engine: the
    shared fixture holds the persisted vector index and the
    band-partitioned range payload index; the query serves a qdrant Range
    predicate ({gte, lte}) + query vector via indexed_filtered_search —
    the selective range routes to the exact regime, whose answer
    hash-matches the scan twin by construction."""
    eng = _rfs_engine(spark)
    got = eng.indexed_filtered_search(
        "pts", _RFS_QV, {"price": {"gte": 9, "lte": 21}}, k=_RFS_K
    ).collect()
    rows = [(rank, r.content, float(r.score)) for rank, r in enumerate(got, start=1)]
    return spark.createDataFrame(rows, "rank int, content string, score double")


# -- MatchAny-filtered indexed search (qdrant MatchAny + vector query) --------
#
# Same engine-surface pattern as ann_range_filtered_topk: the 24-point
# scratch collection additionally carries a "team" payload (t0..t11, two
# points each); the declared query builds the vector index AND the equality
# payload index, then serves {"team": {"any": ["t1", "t4"]}} + vector
# through indexed_filtered_search. The 4-of-24 allowed set routes to the
# exact regime (selectivity 0.17 < 0.25), so the oracle is the scan twin:
# exact filtered KNN over the same VALUES with an IN list.


def _may_oracle() -> str:
    from vector_mcp_spark.suite import _cosine_sql, _vec_sql_literal

    values = ",\n  ".join(
        f"('point {i:02d}', 't{i % 12}', {_vec_sql_literal(_rfs_vec(i))})"
        for i in range(_RFS_N)
    )
    return f"""
WITH pts(content, team, v) AS (VALUES
  {values}
),
s AS (
  SELECT content, {_cosine_sql("v", _RFS_QV)} AS sc
  FROM pts WHERE team IN ('t1', 't4')
)
SELECT CAST(rn AS INTEGER) AS rank, content, ROUND(sc, 6) AS score
FROM (SELECT content, sc,
             row_number() OVER (ORDER BY sc DESC, content ASC) AS rn
      FROM s)
WHERE rn <= {_RFS_K}
"""


@register("ann_matchany_filtered_topk", _may_oracle(), "engine", "vecapi")
def q_ann_matchany_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatchAny-filtered indexed vector search through the real engine:
    the shared fixture holds the persisted vector index and the equality
    payload index; the query serves a qdrant MatchAny predicate
    ({"any": [...]}) + query vector via indexed_filtered_search — the
    allowed set opens one hex-value partition per listed value, and the
    selective filter routes to the exact regime, whose answer
    hash-matches the scan twin by construction."""
    eng = _rfs_engine(spark)
    got = eng.indexed_filtered_search(
        "pts", _RFS_QV, {"team": {"any": ["t1", "t4"]}}, k=_RFS_K
    ).collect()
    rows = [(rank, r.content, float(r.score)) for rank, r in enumerate(got, start=1)]
    return spark.createDataFrame(rows, "rank int, content string, score double")
