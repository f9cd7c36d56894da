"""Declared search queries — the reference's whole retrieval surface
(SURVEY.md §2.3 Q1-Q8): exact cosine KNN (single / threshold / multi-query),
lexical tf / AND / substring / BM25, hybrid RRF fusion — plus the retrieval
extensions a reference user gains on migration: MMR diversified re-rank,
ColBERT-style MaxSim late interaction, typo-tolerant fuzzy term search,
and result-snippet extraction.

Every oracle mirrors the Spark plan's arithmetic: doubles, sequential array
folds, 6-dp rounding applied at the same point, ranking ties pinned by id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_mcp_spark.suite import (
    DIST_THRESHOLD,
    HYBRID_N,
    HYBRID_W_LEX,
    HYBRID_W_SEM,
    LEX_K,
    LEX_QUERY,
    MULTI_QUERY_TEXTS,
    MULTI_QUERY_VECS,
    RRF_K,
    SEM_K,
    SEM_QUERY_VEC,
    _cosine_sql,
    _dot_sql,
    _l2_sql,
    _vec_sql_literal,
    docs_with_embeddings,
    load,
    register,
)

# ---------------------------------------------------------------------------
# Q1/Q8 — semantic search: exact cosine top-k
# ---------------------------------------------------------------------------

_SEM_ORACLE = f"""
SELECT d.doc_id AS doc_id,
       ROUND({_cosine_sql('e.embedding', SEM_QUERY_VEC)}, 6) AS score
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
ORDER BY {_cosine_sql('e.embedding', SEM_QUERY_VEC)} DESC, d.doc_id ASC
LIMIT {SEM_K}
"""


@register("semantic_topk", _SEM_ORACLE, "search", "parity")
def q_semantic_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.semantic import semantic_topk

    coll = docs_with_embeddings(spark, sf_dir)
    return semantic_topk(coll, SEM_QUERY_VEC, SEM_K, id_col="doc_id", emb_col="embedding")


# ---------------------------------------------------------------------------
# Q3 — distance-threshold semantic search (base.py:189-211 contract)
# ---------------------------------------------------------------------------

_SEM_THRESH_ORACLE = f"""
SELECT d.doc_id AS doc_id,
       ROUND({_cosine_sql('e.embedding', SEM_QUERY_VEC)}, 6) AS score
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
WHERE 1.0 - ({_cosine_sql('e.embedding', SEM_QUERY_VEC)}) <= {DIST_THRESHOLD}
ORDER BY {_cosine_sql('e.embedding', SEM_QUERY_VEC)} DESC, d.doc_id ASC
LIMIT 1000
"""


@register("semantic_threshold", _SEM_THRESH_ORACLE, "search", "parity")
def q_semantic_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.semantic import semantic_topk

    coll = docs_with_embeddings(spark, sf_dir)
    return semantic_topk(
        coll, SEM_QUERY_VEC, 1000, id_col="doc_id", emb_col="embedding",
        distance_threshold=DIST_THRESHOLD,
    )


# ---------------------------------------------------------------------------
# Q7 — batched multi-query semantic search
# ---------------------------------------------------------------------------

_MQ_VALUES = ", ".join(f"({qid}, {_vec_sql_literal(vec)})" for qid, vec in MULTI_QUERY_VECS)
_MQ_K = 5

_MQ_ORACLE = f"""
WITH q(query_id, qvec) AS (VALUES {_MQ_VALUES}),
scored AS (
  SELECT q.query_id, d.doc_id,
         list_dot_product(e.embedding::DOUBLE[], q.qvec) /
         (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
          sqrt(list_dot_product(q.qvec, q.qvec))) AS sim
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id CROSS JOIN q
),
ranked AS (
  SELECT query_id, doc_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id ASC) AS rnk
  FROM scored
)
SELECT query_id, CAST(rnk AS INTEGER) AS rank, doc_id, ROUND(sim, 6) AS score
FROM ranked WHERE rnk <= {_MQ_K}
"""


@register("semantic_multiquery", _MQ_ORACLE, "search", "parity")
def q_semantic_multiquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.semantic import semantic_topk_multi

    coll = docs_with_embeddings(spark, sf_dir)
    return semantic_topk_multi(coll, MULTI_QUERY_VECS, _MQ_K, id_col="doc_id", emb_col="embedding")


# ---------------------------------------------------------------------------
# Q5 — lexical term-frequency search (epistemic fallback semantics)
# ---------------------------------------------------------------------------

_LEX_TERMS_SQL = "('spark', 'join', 'vector')"

_TOKS_CTE = """
toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]{2,}')) AS tok
  FROM documents
)"""

_LEX_TF_ORACLE = f"""
WITH {_TOKS_CTE}
SELECT doc_id, score FROM (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS score
  FROM toks WHERE tok IN {_LEX_TERMS_SQL}
  GROUP BY doc_id
) ORDER BY score DESC, doc_id ASC LIMIT {LEX_K}
"""


@register("lexical_tf", _LEX_TF_ORACLE, "search", "parity")
def q_lexical_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.lexical import lexical_tf_topk

    docs = load(spark, sf_dir, "documents")
    return lexical_tf_topk(docs, LEX_QUERY, LEX_K, id_col="doc_id", content_col="text")


# ---------------------------------------------------------------------------
# Q4 — lexical AND-match (pg plainto_tsquery semantics)
# ---------------------------------------------------------------------------

_LEX_AND_ORACLE = f"""
WITH {_TOKS_CTE}
SELECT doc_id, score FROM (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS score, count(DISTINCT tok) AS nd
  FROM toks WHERE tok IN {_LEX_TERMS_SQL}
  GROUP BY doc_id
) WHERE nd = 3
ORDER BY score DESC, doc_id ASC LIMIT {LEX_K}
"""


@register("lexical_and", _LEX_AND_ORACLE, "search", "parity")
def q_lexical_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.lexical import lexical_tf_topk

    docs = load(spark, sf_dir, "documents")
    return lexical_tf_topk(
        docs, LEX_QUERY, LEX_K, id_col="doc_id", content_col="text", require_all_terms=True
    ).select("doc_id", "score")


# ---------------------------------------------------------------------------
# Q5 — substring containment (chroma $contains / couchbase LIKE semantics)
# ---------------------------------------------------------------------------

LEX_SUB_QUERY = "merge sort"

_LEX_SUB_ORACLE = f"""
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM documents WHERE contains(text, '{LEX_SUB_QUERY}')
ORDER BY doc_id ASC LIMIT {LEX_K}
"""


@register("lexical_substring", _LEX_SUB_ORACLE, "search", "parity")
def q_lexical_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.lexical import lexical_substring_topk

    docs = load(spark, sf_dir, "documents")
    return lexical_substring_topk(docs, LEX_SUB_QUERY, LEX_K, id_col="doc_id", content_col="text")


# ---------------------------------------------------------------------------
# Q4 ranked variant — BM25 (pg ts_rank_cd analogue; k1=1.2, b=0.75)
# ---------------------------------------------------------------------------

_BM25_ORACLE = f"""
WITH {_TOKS_CTE},
lens AS (
  SELECT d.doc_id, count(t.tok) AS doc_len
  FROM documents d LEFT JOIN toks t ON d.doc_id = t.doc_id
  GROUP BY d.doc_id
),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT avg(doc_len) FROM lens) AS avg_len
),
post AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM toks WHERE tok IN {_LEX_TERMS_SQL}
  GROUP BY doc_id, tok
),
dfreq AS (SELECT tok, count(*) AS df FROM post GROUP BY tok),
scored AS (
  SELECT p.doc_id,
         SUM(
           ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0) *
           (p.tf * (1.2 + 1.0)) /
           (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.doc_len / s.avg_len))
         ) AS s
  FROM post p
  JOIN dfreq f ON p.tok = f.tok
  JOIN lens l ON p.doc_id = l.doc_id
  CROSS JOIN stats s
  GROUP BY p.doc_id
)
SELECT doc_id, ROUND(s, 6) AS score FROM scored
ORDER BY ROUND(s, 6) DESC, doc_id ASC LIMIT {LEX_K}
"""


@register("lexical_bm25", _BM25_ORACLE, "search", "parity")
def q_lexical_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.lexical import bm25_topk

    docs = load(spark, sf_dir, "documents")
    return bm25_topk(docs, LEX_QUERY, LEX_K, id_col="doc_id", content_col="text")


# ---------------------------------------------------------------------------
# Q6 — hybrid search: weighted RRF fusion (vector_api.py:518-566)
# ---------------------------------------------------------------------------

_HYBRID_LEG_K = 20

_HYBRID_ORACLE = f"""
WITH sem_leg AS (
  SELECT d.doc_id, {_cosine_sql('e.embedding', SEM_QUERY_VEC)} AS s
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  ORDER BY s DESC, d.doc_id ASC LIMIT {_HYBRID_LEG_K}
),
sem_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY ROUND(s, 6) DESC, doc_id ASC) AS rnk
  FROM sem_leg
),
{_TOKS_CTE},
lex_leg AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS s
  FROM toks WHERE tok IN {_LEX_TERMS_SQL}
  GROUP BY doc_id
  ORDER BY s DESC, doc_id ASC LIMIT {_HYBRID_LEG_K}
),
lex_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rnk
  FROM lex_leg
),
fused AS (
  SELECT doc_id, SUM(contrib) AS s FROM (
    SELECT doc_id, {HYBRID_W_SEM} / ({RRF_K} + rnk) AS contrib FROM sem_rank
    UNION ALL
    SELECT doc_id, {HYBRID_W_LEX} / ({RRF_K} + rnk) AS contrib FROM lex_rank
  ) GROUP BY doc_id
)
SELECT doc_id, ROUND(s, 6) AS score FROM fused
ORDER BY ROUND(s, 6) DESC, doc_id ASC LIMIT {HYBRID_N}
"""


@register("hybrid_rrf", _HYBRID_ORACLE, "search", "parity")
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.hybrid import rrf_fuse
    from vector_mcp_spark.operators.lexical import lexical_tf_topk
    from vector_mcp_spark.operators.semantic import semantic_topk

    coll = docs_with_embeddings(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    sem = semantic_topk(coll, SEM_QUERY_VEC, _HYBRID_LEG_K, id_col="doc_id", emb_col="embedding")
    lex = lexical_tf_topk(docs, LEX_QUERY, _HYBRID_LEG_K, id_col="doc_id", content_col="text")
    return rrf_fuse(
        [(sem, HYBRID_W_SEM), (lex, HYBRID_W_LEX)], HYBRID_N, rrf_k=RRF_K, id_col="doc_id"
    )


# ---------------------------------------------------------------------------
# Q7 batching applied to lexical search: N queries in one job
# ---------------------------------------------------------------------------

_LEXMQ_K = 5
_LEXMQ_PAIRS = [
    (qid, term)
    for qid, text in enumerate(MULTI_QUERY_TEXTS)
    for term in dict.fromkeys(text.lower().split())
]
_LEXMQ_VALUES = ", ".join(f"({qid}, '{t}')" for qid, t in _LEXMQ_PAIRS)

_LEX_MQ_ORACLE = f"""
WITH q(query_id, term) AS (VALUES {_LEXMQ_VALUES}),
{_TOKS_CTE},
scored AS (
  SELECT q.query_id, toks.doc_id, CAST(count(*) AS DOUBLE) AS score
  FROM toks JOIN q ON toks.tok = q.term
  GROUP BY q.query_id, toks.doc_id
)
SELECT query_id, CAST(rnk AS INTEGER) AS rank, doc_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
  FROM scored
) WHERE rnk <= {_LEXMQ_K}
"""


@register("lexical_multiquery", _LEX_MQ_ORACLE, "search", "parity")
def q_lexical_multiquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.lexical import lexical_tf_topk_multi

    docs = load(spark, sf_dir, "documents")
    return lexical_tf_topk_multi(
        docs, list(enumerate(MULTI_QUERY_TEXTS)), _LEXMQ_K, id_col="doc_id", content_col="text"
    )


# ---------------------------------------------------------------------------
# Q6 × Q7 — batched hybrid search: N queries fused in one job
# ---------------------------------------------------------------------------

_HYMQ_LEG_K = 10
_HYMQ_N = 5

_HYBRID_MQ_ORACLE = f"""
WITH qv(query_id, qvec) AS (VALUES {_MQ_VALUES}),
sem_scored AS (
  SELECT qv.query_id, d.doc_id,
         list_dot_product(e.embedding::DOUBLE[], qv.qvec) /
         (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
          sqrt(list_dot_product(qv.qvec, qv.qvec))) AS s
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id CROSS JOIN qv
),
sem_leg AS (
  SELECT query_id, doc_id, ROUND(s, 6) AS rs,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS rnk0
  FROM sem_scored
),
sem_rank AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY rs DESC, doc_id ASC) AS rnk
  FROM sem_leg WHERE rnk0 <= {_HYMQ_LEG_K}
),
ql(query_id, term) AS (VALUES {_LEXMQ_VALUES}),
{_TOKS_CTE},
lex_scored AS (
  SELECT ql.query_id, toks.doc_id, CAST(count(*) AS DOUBLE) AS s
  FROM toks JOIN ql ON toks.tok = ql.term
  GROUP BY ql.query_id, toks.doc_id
),
lex_leg AS (
  SELECT query_id, doc_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS rnk0
  FROM lex_scored
),
lex_rank AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS rnk
  FROM lex_leg WHERE rnk0 <= {_HYMQ_LEG_K}
),
fused AS (
  SELECT query_id, doc_id, ROUND(SUM(contrib), 6) AS score FROM (
    SELECT query_id, doc_id, {HYBRID_W_SEM} / ({RRF_K} + rnk) AS contrib FROM sem_rank
    UNION ALL
    SELECT query_id, doc_id, {HYBRID_W_LEX} / ({RRF_K} + rnk) AS contrib FROM lex_rank
  ) GROUP BY query_id, doc_id
)
SELECT query_id, CAST(rnk AS INTEGER) AS rank, doc_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
  FROM fused
) WHERE rnk <= {_HYMQ_N}
"""


@register("hybrid_multiquery", _HYBRID_MQ_ORACLE, "search", "parity")
def q_hybrid_multiquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.hybrid import rrf_fuse_multi
    from vector_mcp_spark.operators.lexical import lexical_tf_topk_multi
    from vector_mcp_spark.operators.semantic import semantic_topk_multi

    coll = docs_with_embeddings(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    sem = semantic_topk_multi(coll, MULTI_QUERY_VECS, _HYMQ_LEG_K, id_col="doc_id", emb_col="embedding")
    lex = lexical_tf_topk_multi(
        docs, list(enumerate(MULTI_QUERY_TEXTS)), _HYMQ_LEG_K, id_col="doc_id", content_col="text"
    )
    return rrf_fuse_multi(
        [(sem, HYBRID_W_SEM), (lex, HYBRID_W_LEX)], _HYMQ_N, rrf_k=RRF_K, id_col="doc_id"
    )


# ---------------------------------------------------------------------------
# MMR diversified re-rank (extension beyond the reference's Q1/Q2 surface)
# ---------------------------------------------------------------------------

_MMR_POOL_N = 50
_MMR_K = 10
_MMR_LAM = 0.7


def _mmr_cos_ab(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
        f"(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
        f"sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
    )


def _mmr_oracle() -> str:
    """The greedy MMR trajectory unrolled as k chained CTEs — each step
    picks argmax(ROUND(λ·rel − (1−λ)·max-sim-to-selected, 6)) with id
    tie-break, exactly the driver-side loop in operators/mmr.py."""
    lam, om = repr(float(_MMR_LAM)), repr(1.0 - float(_MMR_LAM))
    ctes = [
        f"""pool AS MATERIALIZED (
  SELECT d.doc_id AS id, e.embedding AS emb,
         ROUND({_cosine_sql('e.embedding', SEM_QUERY_VEC)}, 6) AS rel
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  ORDER BY {_cosine_sql('e.embedding', SEM_QUERY_VEC)} DESC, d.doc_id ASC
  LIMIT {_MMR_POOL_N})""",
        f"""sims AS MATERIALIZED (
  SELECT a.id AS ia, b.id AS ib, ROUND({_mmr_cos_ab('a.emb', 'b.emb')}, 6) AS s
  FROM pool a JOIN pool b ON a.id <> b.id)""",
        f"""sel1 AS MATERIALIZED (
  SELECT id, rel, 0.0 AS red, ROUND({lam} * rel, 6) AS ms, 1 AS rank
  FROM pool ORDER BY ROUND({lam} * rel, 6) DESC, id ASC LIMIT 1)""",
        "selu1 AS MATERIALIZED (SELECT id FROM sel1)",
    ]
    for t in range(2, _MMR_K + 1):
        p = t - 1
        ctes.append(
            f"""cand{t} AS MATERIALIZED (
  SELECT p.id, p.rel, MAX(s.s) AS red
  FROM pool p JOIN sims s ON s.ia = p.id JOIN selu{p} u ON s.ib = u.id
  WHERE p.id NOT IN (SELECT id FROM selu{p})
  GROUP BY p.id, p.rel)"""
        )
        ctes.append(
            f"""sel{t} AS MATERIALIZED (
  SELECT id, rel, red, ROUND({lam} * rel - {om} * red, 6) AS ms, {t} AS rank
  FROM cand{t} ORDER BY ROUND({lam} * rel - {om} * red, 6) DESC, id ASC LIMIT 1)"""
        )
        ctes.append(f"selu{t} AS MATERIALIZED (SELECT id FROM selu{p} UNION ALL SELECT id FROM sel{t})")
    union = "\nUNION ALL\n".join(
        f"SELECT CAST(rank AS INTEGER) AS rank, CAST(id AS VARCHAR) AS id,"
        f" rel AS relevance, red AS redundancy, ms AS mmr_score FROM sel{t}"
        for t in range(1, _MMR_K + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union


@register("semantic_mmr_topk", _mmr_oracle(), "search", "diversify")
def q_semantic_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.mmr import mmr_rerank
    from vector_mcp_spark.operators.semantic import semantic_topk

    coll = docs_with_embeddings(spark, sf_dir)
    pool = semantic_topk(
        coll,
        SEM_QUERY_VEC,
        _MMR_POOL_N,
        id_col="doc_id",
        emb_col="embedding",
        payload_cols=("embedding",),
    )
    return mmr_rerank(
        pool, _MMR_K, _MMR_LAM, id_col="doc_id", emb_col="embedding", rel_col="score"
    )


# ---------------------------------------------------------------------------
# Late interaction (ColBERT MaxSim): query = a SET of token vectors, doc = a
# GROUP of vectors (label plays the document here; its member vectors are
# the passage tokens). One scan, map-side partial max, TakeOrdered top-k.
# ---------------------------------------------------------------------------

_LI_K = 5


def _li_oracle() -> str:
    maxes = ",\n         ".join(
        f"max({_cosine_sql('embedding', vec)}) AS m{t}"
        for t, (_, vec) in enumerate(MULTI_QUERY_VECS)
    )
    total = " + ".join(f"m{t}" for t in range(len(MULTI_QUERY_VECS)))
    return f"""
WITH maxes AS (
  SELECT label,
         {maxes}
  FROM embeddings GROUP BY label
),
scored AS (SELECT label, ROUND({total}, 6) AS score FROM maxes)
SELECT label, CAST(row_number() OVER (ORDER BY score DESC, label ASC) AS INTEGER) AS rank, score
FROM scored ORDER BY score DESC, label ASC LIMIT {_LI_K}
"""


@register("semantic_late_interaction", _li_oracle(), "search", "multivector")
def q_semantic_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.semantic import late_interaction_topk

    embs = load(spark, sf_dir, "embeddings")
    out = late_interaction_topk(
        embs, [vec for _, vec in MULTI_QUERY_VECS], _LI_K,
        group_col="label", emb_col="embedding",
    )
    return out.select("label", "rank", "score")


# ---------------------------------------------------------------------------
# Fuzzy (typo-tolerant) term search: Levenshtein runs once per DISTINCT
# vocabulary term inside a length band, matched terms broadcast into the
# postings join. Query 'vektor' reaches 'vector' at one edit.
# ---------------------------------------------------------------------------

_FUZZY_TERM = "vektor"
_FUZZY_K = 10

_FUZZY_ORACLE = f"""
WITH postings AS (
  SELECT doc_id, tok AS term, count(*) AS tf FROM (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]{{2,}}')) AS tok
    FROM documents
  ) GROUP BY doc_id, tok
),
matched AS (
  SELECT DISTINCT term FROM postings
  WHERE abs(length(term) - {len(_FUZZY_TERM)}) <= 1
    AND levenshtein(term, '{_FUZZY_TERM}') <= 1
)
SELECT doc_id,
       array_to_string(list_sort(list(DISTINCT p.term)), ',') AS matched_terms,
       CAST(SUM(p.tf) AS BIGINT) AS score
FROM postings p JOIN matched m ON p.term = m.term
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {_FUZZY_K}
"""


@register("lexical_fuzzy_term", _FUZZY_ORACLE, "search", "lexical")
def q_lexical_fuzzy_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.lexical import fuzzy_term_topk

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("text").alias("content")
    )
    return fuzzy_term_topk(docs, _FUZZY_TERM, _FUZZY_K, id_col="doc_id")


# ---------------------------------------------------------------------------
# Result snippets: context window around the first query-term occurrence —
# a pure per-row projection that runs on the ranked result set.
# ---------------------------------------------------------------------------

_SNIP_WIDTH = 30


def _snippet_oracle() -> str:
    terms = sorted(set(LEX_QUERY.lower().split()))
    big = 1 << 30
    pos_exprs = ", ".join(
        f"COALESCE(NULLIF(instr(lower(text), '{t}'), 0), {big})" for t in terms
    )
    return f"""
WITH hits AS (
  SELECT doc_id, LEAST({pos_exprs}) AS hit_pos, text FROM documents
)
SELECT doc_id, CAST(hit_pos AS INTEGER) AS hit_pos,
       substring(text, CAST(GREATEST(1, hit_pos - {_SNIP_WIDTH}) AS INT), {2 * _SNIP_WIDTH}) AS snippet
FROM hits WHERE hit_pos < {big}
"""


@register("lexical_snippets", _snippet_oracle(), "search", "lexical")
def q_lexical_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.lexical import snippet_extract

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("text").alias("content")
    )
    return snippet_extract(
        docs, sorted(set(LEX_QUERY.lower().split())), width=_SNIP_WIDTH, id_col="doc_id"
    )


# ---------------------------------------------------------------------------
# Cross-collection federated search (round-7 extension; the reference
# searches one collection per call — mcp_server.py:202-293)
# ---------------------------------------------------------------------------

_FED_K_PER = 5
_FED_N = 10

_FED_ORACLE = f"""
WITH scored AS (
  SELECT d.source AS collection, d.doc_id,
         {_cosine_sql('e.embedding', SEM_QUERY_VEC)} AS s
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
local AS (
  SELECT collection, doc_id, s,
         row_number() OVER (PARTITION BY collection
                            ORDER BY s DESC NULLS LAST, doc_id ASC)
           AS collection_rank
  FROM scored
)
SELECT collection, doc_id, ROUND(s, 6) AS score,
       CAST(collection_rank AS INTEGER) AS collection_rank,
       CAST(row_number() OVER (ORDER BY s DESC NULLS LAST, collection ASC,
                               doc_id ASC) AS INTEGER) AS rank
FROM local WHERE collection_rank <= {_FED_K_PER}
ORDER BY rank LIMIT {_FED_N}
"""


@register("federated_search", _FED_ORACLE, "search", "federated")
def q_federated_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One query fanned across per-source 'collections' of the corpus and
    fused to a global top-N — per-collection ranking is a collection-
    partitioned window (parallel across collections), the fuse is a
    TakeOrdered over |collections|*k rows."""
    from vector_mcp_spark.operators.federated import federated_topk

    coll = docs_with_embeddings(spark, sf_dir)
    return federated_topk(
        coll, SEM_QUERY_VEC, k_per_collection=_FED_K_PER, n=_FED_N,
        collection_col="source", id_col="doc_id", emb_col="embedding",
    )


# ---------------------------------------------------------------------------
# RAG-evaluation harness: IR metrics of a production retriever (two-stage
# projected ANN) against exact-cosine gold, per query (round-7 extension)
# ---------------------------------------------------------------------------

_RAG_K = 10
_RAG_SHORTLIST = 100
_RAG_OUT_DIM = 32
_RAG_IN_DIM = 64
_RAG_NQ = 20  # queries: vec_id < 20


def _rag_oracle() -> str:
    from vector_mcp_spark.operators.projection import (
        projection_matrix,
        projection_scale,
    )

    mat = projection_matrix(_RAG_IN_DIM, _RAG_OUT_DIM)
    scale = projection_scale(_RAG_OUT_DIM)
    comps = ", ".join(
        f"list_dot_product(v, [{', '.join(repr(x) for x in row)}]) * {scale!r}"
        for row in mat
    )

    def sim(a: str, b: str) -> str:
        return (
            f"(list_dot_product({a}, {b}) / "
            f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
        )

    # DCG folds 1/log2(rank+1) over the SORTED hit-rank list (list_reduce
    # seeded with 0.0), mirroring the Spark aggregate() fold term-for-term
    # so partial-agg order can never flip the 6th decimal.
    return f"""
WITH pr AS (
  SELECT vec_id, v, [{comps}] AS p
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
),
q AS (SELECT vec_id AS query_id, v AS qv, p AS qp FROM pr WHERE vec_id < {_RAG_NQ}),
coarse AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, q.qv, c.v AS nv,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY {sim("c.p", "q.qp")} DESC NULLS LAST,
                                     c.vec_id ASC) AS cr
  FROM pr c CROSS JOIN q
  WHERE c.vec_id != q.query_id
),
system AS (
  SELECT query_id, neighbor_id, rn AS _rank
  FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {sim("nv", "qv")} DESC NULLS LAST,
                                       neighbor_id ASC) AS rn
    FROM coarse WHERE cr <= {_RAG_SHORTLIST}
  ) WHERE rn <= {_RAG_K}
),
gold AS (
  SELECT query_id, neighbor_id
  FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {sim("c.v", "q.qv")} DESC NULLS LAST,
                                       c.vec_id ASC) AS rn
    FROM pr c CROSS JOIN q
    WHERE c.vec_id != q.query_id
  ) WHERE rn <= {_RAG_K}
),
hits AS (
  SELECT s.query_id, s._rank
  FROM system s JOIN gold g
    ON s.query_id = g.query_id AND s.neighbor_id = g.neighbor_id
),
per_q_hits AS (
  SELECT query_id, COUNT(*) AS n_hits, MIN(_rank) AS _first_hit,
         list_reduce(
           list_prepend(0.0, list_transform(list_sort(list(_rank)),
                                            r -> 1.0 / log2(r + 1.0))),
           (a, b) -> a + b) AS _dcg
  FROM hits GROUP BY query_id
),
per_q_gold AS (SELECT query_id, COUNT(*) AS n_gold FROM gold GROUP BY query_id)
SELECT g.query_id, CAST(g.n_gold AS BIGINT) AS n_gold,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       ROUND(COALESCE(h.n_hits, 0) / CAST(g.n_gold AS DOUBLE), 6) AS recall_at_k,
       ROUND(COALESCE(1.0 / h._first_hit, 0.0), 6) AS mrr_at_k,
       ROUND(COALESCE(h._dcg, 0.0) /
             list_reduce(
               list_prepend(0.0, list_transform(range(1, LEAST(g.n_gold, {_RAG_K}) + 1),
                                                r -> 1.0 / log2(r + 1.0))),
               (a, b) -> a + b), 6) AS ndcg_at_k
FROM per_q_gold g LEFT JOIN per_q_hits h ON g.query_id = h.query_id
"""


@register("rag_eval_metrics", _rag_oracle(), "search", "evaluation")
def q_rag_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retrieval evaluation: run the two-stage projected-ANN
    retriever and exact-cosine gold over the same queries, then score the
    system per query with recall@10 / MRR@10 / NDCG@10."""
    from vector_mcp_spark.operators.projection import (
        ann_projected_topk,
        projection_matrix,
    )
    from vector_mcp_spark.operators.rageval import retrieval_metrics
    from vector_mcp_spark.operators.similarity import cosine_self_join_topk

    embs = load(spark, sf_dir, "embeddings")
    qs = embs.where(F.col("vec_id") < _RAG_NQ)
    mat = projection_matrix(_RAG_IN_DIM, _RAG_OUT_DIM)
    system = ann_projected_topk(
        qs, embs, k=_RAG_K, matrix=mat, shortlist=_RAG_SHORTLIST, id_col="vec_id"
    )
    gold = cosine_self_join_topk(qs, embs, k=_RAG_K, id_col="vec_id")
    return retrieval_metrics(system, gold, k=_RAG_K)


# ---------------------------------------------------------------------------
# Metadata-filtered semantic search (filtered vector search — an extension;
# the reference query surface has no metadata predicate, base.py:189-253)
# ---------------------------------------------------------------------------

_FILT_LANG = "en"
_FILT_SOURCE_NOT = "src3"

_SEM_FILT_ORACLE = f"""
SELECT d.doc_id AS doc_id, d.lang, d.source,
       ROUND({_cosine_sql('e.embedding', SEM_QUERY_VEC)}, 6) AS score
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
WHERE d.lang = '{_FILT_LANG}' AND d.source <> '{_FILT_SOURCE_NOT}'
ORDER BY {_cosine_sql('e.embedding', SEM_QUERY_VEC)} DESC, d.doc_id ASC
LIMIT {SEM_K}
"""


@register("semantic_filtered_topk", _SEM_FILT_ORACLE, "search", "filtered")
def q_semantic_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: the metadata predicate applies BEFORE
    ranking, so Catalyst pushes it into the parquet scan (PushedFilters)
    and the cosine never evaluates on excluded rows — at 100 TB the filter
    prunes row groups, not post-ranked results."""
    from vector_mcp_spark.operators.semantic import semantic_topk

    coll = docs_with_embeddings(spark, sf_dir).where(
        (F.col("lang") == _FILT_LANG) & (F.col("source") != _FILT_SOURCE_NOT)
    )
    return semantic_topk(
        coll, SEM_QUERY_VEC, SEM_K, id_col="doc_id", emb_col="embedding",
        payload_cols=("lang", "source"),
    )


# -- grouped (diversified-by-metadata) search --------------------------------
# Qdrant's search_groups semantics: groups ordered by their best hit's
# score, at most _GRP_PER hits per group, top _GRP_K groups kept.

_GRP_K = 5
_GRP_PER = 3

_SEM_GRP_ORACLE = f"""
WITH scored AS (
  SELECT d.source, d.doc_id,
         {_cosine_sql('e.embedding', SEM_QUERY_VEC)} AS score
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
kept AS (
  SELECT * FROM (
    SELECT source, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY score DESC, doc_id ASC) AS hit_rank
    FROM scored
  ) WHERE hit_rank <= {_GRP_PER}
),
topg AS (
  SELECT source,
         ROW_NUMBER() OVER (ORDER BY best DESC, source ASC) AS group_rank
  FROM (SELECT source, MAX(score) AS best FROM kept GROUP BY source)
  ORDER BY best DESC, source ASC
  LIMIT {_GRP_K}
)
SELECT t.group_rank, k.source, k.hit_rank, k.doc_id,
       ROUND(k.score, 6) AS score
FROM kept k JOIN topg t USING (source)
ORDER BY t.group_rank, k.hit_rank
"""


@register("semantic_grouped_topk", _SEM_GRP_ORACLE, "search", "grouped")
def q_semantic_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-diversified search (Qdrant search_groups shape): top groups by
    best hit, capped hits per group — the anti-monopoly page layout. Only
    (source, id, score) shuffles; the group ranking windows over rows
    already cut to k_groups by a limit."""
    from vector_mcp_spark.operators.semantic import grouped_topk

    coll = docs_with_embeddings(spark, sf_dir)
    return grouped_topk(
        coll, SEM_QUERY_VEC, group_col="source", k_groups=_GRP_K,
        per_group=_GRP_PER, id_col="doc_id", emb_col="embedding",
    )


# ---------------------------------------------------------------------------
# Indexed hybrid — weighted RRF over the GRAPH-ANN leg + the BM25 leg
# (VERDICT r9 #8: hybrid_rrf fuses exact legs; this is the fusion a vector
# DB actually serves at scale — both legs come from persisted indexes: the
# HNSW-style beam for the vector side, the ranked postings math for text)
# ---------------------------------------------------------------------------

def _indexed_hybrid_oracle() -> str:
    # imported lazily at module load; suite_pipeline is fully initialized
    # before suite_search (suite.py import order), so this is safe
    from vector_mcp_spark.suite_pipeline import _hnsw_oracle

    return f"""
WITH ann AS (
  SELECT neighbor_id AS doc_id, score FROM ({_hnsw_oracle()}) WHERE query_id = 0
),
ann_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
  FROM ann
),
lex AS (SELECT doc_id, score FROM ({_BM25_ORACLE})),
lex_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
  FROM lex
),
fused AS (
  SELECT doc_id, SUM(contrib) AS s FROM (
    SELECT doc_id, {HYBRID_W_SEM} / ({RRF_K} + rnk) AS contrib FROM ann_rank
    UNION ALL
    SELECT doc_id, {HYBRID_W_LEX} / ({RRF_K} + rnk) AS contrib FROM lex_rank
  ) GROUP BY doc_id
)
SELECT doc_id, ROUND(s, 6) AS score FROM fused
ORDER BY ROUND(s, 6) DESC, doc_id ASC LIMIT {HYBRID_N}
"""


@register("hybrid_indexed_rrf", _indexed_hybrid_oracle(), "search", "hybrid")
def q_hybrid_indexed_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed hybrid search: the vector leg beam-descends the SAME cached
    HNSW-style graph index the ANN entries share (one query — doc 0's
    embedding, self excluded), the text leg is ranked BM25, and the two
    fuse by weighted RRF exactly like hybrid_rrf. At scale this is the
    query a serving tier answers without any exact corpus scan: beam hops
    prune to frontier edge partitions, postings prune to the query terms'
    buckets, and fusion touches leg-k rows."""
    from vector_mcp_spark.operators.hybrid import rrf_fuse
    from vector_mcp_spark.operators.lexical import bm25_topk
    from vector_mcp_spark.suite_pipeline import _hnsw_literal_batch

    # doc 0's embedding as a one-query literal batch
    ann = _hnsw_literal_batch(spark, sf_dir, n_queries=1).select(
        F.col("neighbor_id").alias("doc_id"), "score"
    )
    docs = load(spark, sf_dir, "documents")
    lex = bm25_topk(docs, LEX_QUERY, LEX_K, id_col="doc_id", content_col="text")
    return rrf_fuse(
        [(ann, HYBRID_W_SEM), (lex, HYBRID_W_LEX)],
        HYBRID_N, rrf_k=RRF_K, id_col="doc_id",
    )


# ---------------------------------------------------------------------------
# Positional phrase search — pg phraseto_tsquery / Couchbase match_phrase
# ---------------------------------------------------------------------------

_PHRASE_QUERY = "table hash"

_PHRASE_ORACLE = f"""
WITH arrs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]{{2,}}') AS a
  FROM documents
),
scored AS (
  SELECT doc_id,
         CAST(len(list_filter(generate_series(1, len(a) - 1),
                              i -> a[i] = 'table' AND a[i + 1] = 'hash'))
              AS DOUBLE) AS score
  FROM arrs
  WHERE len(a) >= 2 AND list_contains(a, 'table') AND list_contains(a, 'hash')
)
SELECT doc_id, score FROM scored WHERE score > 0
ORDER BY score DESC, doc_id ASC LIMIT {LEX_K}
"""


@register("lexical_phrase", _PHRASE_ORACLE, "search", "lexical")
def q_lexical_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.lexical import phrase_topk

    docs = load(spark, sf_dir, "documents")
    return phrase_topk(docs, _PHRASE_QUERY, LEX_K, id_col="doc_id", content_col="text")


# ---------------------------------------------------------------------------
# RM3 pseudo-relevance feedback — BM25 feedback docs → expansion terms →
# weighted re-score (Lavrenko & Croft relevance models)
# ---------------------------------------------------------------------------

_RM3_FB_DOCS = 10
_RM3_FB_TERMS = 5
_RM3_ORIG_W = 0.6

_RM3_ORACLE = f"""
WITH {_TOKS_CTE},
lens AS (
  SELECT d.doc_id, count(t.tok) AS doc_len
  FROM documents d LEFT JOIN toks t ON d.doc_id = t.doc_id
  GROUP BY d.doc_id
),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT avg(doc_len) FROM lens) AS avg_len
),
post_all AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
),
post_q AS (SELECT * FROM post_all WHERE tok IN {_LEX_TERMS_SQL}),
dfreq_q AS (SELECT tok, count(*) AS df FROM post_q GROUP BY tok),
fb AS (
  SELECT p.doc_id,
         ROUND(SUM(
           ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0) *
           (p.tf * (1.2 + 1.0)) /
           (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.doc_len / s.avg_len))
         ), 6) AS score
  FROM post_q p
  JOIN dfreq_q f ON p.tok = f.tok
  JOIN lens l ON p.doc_id = l.doc_id
  CROSS JOIN stats s
  GROUP BY p.doc_id
  ORDER BY score DESC, p.doc_id ASC LIMIT {_RM3_FB_DOCS}
),
fb_norm AS (
  SELECT doc_id, score / (SELECT SUM(score) FROM fb) AS nscore FROM fb
),
expansion AS (
  SELECT p.tok AS term,
         ROUND(SUM(p.tf * 1.0 / l.doc_len * n.nscore), 6) AS rel
  FROM post_all p
  JOIN fb_norm n ON p.doc_id = n.doc_id
  JOIN lens l ON p.doc_id = l.doc_id
  WHERE p.tok NOT IN {_LEX_TERMS_SQL}
  GROUP BY p.tok
  ORDER BY rel DESC, term ASC LIMIT {_RM3_FB_TERMS}
),
weights AS (
  SELECT term, {1.0 - _RM3_ORIG_W} * rel / (SELECT SUM(rel) FROM expansion) AS w
  FROM expansion
  UNION ALL
  SELECT unnest(['spark', 'join', 'vector']) AS term, {_RM3_ORIG_W} / 3 AS w
),
post_w AS (
  SELECT p.* FROM post_all p WHERE p.tok IN (SELECT term FROM weights)
),
dfreq_w AS (SELECT tok, count(*) AS df FROM post_w GROUP BY tok),
final AS (
  SELECT p.doc_id,
         ROUND(SUM(
           w.w *
           ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0) *
           (p.tf * (1.2 + 1.0)) /
           (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.doc_len / s.avg_len))
         ), 6) AS score
  FROM post_w p
  JOIN weights w ON p.tok = w.term
  JOIN dfreq_w f ON p.tok = f.tok
  JOIN lens l ON p.doc_id = l.doc_id
  CROSS JOIN stats s
  GROUP BY p.doc_id
)
SELECT doc_id, score FROM final
ORDER BY score DESC, doc_id ASC LIMIT {LEX_K}
"""


@register("lexical_rm3_expansion", _RM3_ORACLE, "search", "lexical")
def q_lexical_rm3_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.lexical import rm3_topk

    docs = load(spark, sf_dir, "documents")
    return rm3_topk(
        docs,
        LEX_QUERY,
        LEX_K,
        id_col="doc_id",
        content_col="text",
        fb_docs=_RM3_FB_DOCS,
        fb_terms=_RM3_FB_TERMS,
        orig_weight=_RM3_ORIG_W,
    )


# ---------------------------------------------------------------------------
# Formula-rescored search — qdrant score boosting (decay over payload)
# ---------------------------------------------------------------------------

_BOOST_TARGET = 300.0
_BOOST_SCALE = 150.0
_BOOST_W = 0.2

_BOOST_EXPR = (
    f"{_cosine_sql('e.embedding', SEM_QUERY_VEC)} + {_BOOST_W} * "
    f"exp(-((d.n_chars - {_BOOST_TARGET}) * (d.n_chars - {_BOOST_TARGET})) "
    f"/ (2.0 * {_BOOST_SCALE} * {_BOOST_SCALE}))"
)

_BOOST_ORACLE = f"""
SELECT d.doc_id AS doc_id, ROUND({_BOOST_EXPR}, 6) AS score
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
ORDER BY {_BOOST_EXPR} DESC, d.doc_id ASC
LIMIT {SEM_K}
"""


@register("semantic_payload_boost_topk", _BOOST_ORACLE, "search", "rescoring")
def q_semantic_payload_boost_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.semantic import payload_boost_topk

    coll = docs_with_embeddings(spark, sf_dir)
    return payload_boost_topk(
        coll,
        SEM_QUERY_VEC,
        SEM_K,
        boost_col="n_chars",
        target=_BOOST_TARGET,
        scale=_BOOST_SCALE,
        weight=_BOOST_W,
        id_col="doc_id",
        emb_col="embedding",
    )


# ---------------------------------------------------------------------------
# More-Like-This — Lucene/ES MLT: seed doc's top tf·idf terms as a weighted
# BM25 query (the lexical twin of semantic_recommend)
# ---------------------------------------------------------------------------

_MLT_SEED = 7
_MLT_TERMS = 10

_MLT_ORACLE = f"""
WITH {_TOKS_CTE},
lens AS (
  SELECT d.doc_id, count(t.tok) AS doc_len
  FROM documents d LEFT JOIN toks t ON d.doc_id = t.doc_id
  GROUP BY d.doc_id
),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT avg(doc_len) FROM lens) AS avg_len
),
post_all AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
),
seed AS (SELECT tok, tf FROM post_all WHERE doc_id = {_MLT_SEED}),
seed_df AS (
  SELECT tok, count(*) AS df FROM post_all
  WHERE tok IN (SELECT tok FROM seed) GROUP BY tok
),
mlt AS (
  SELECT s.tok AS term,
         ROUND(s.tf * ln((st.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0), 6) AS tfidf
  FROM seed s JOIN seed_df d ON s.tok = d.tok CROSS JOIN stats st
  ORDER BY tfidf DESC, term ASC LIMIT {_MLT_TERMS}
),
weights AS (
  SELECT term, tfidf / (SELECT SUM(tfidf) FROM mlt) AS w FROM mlt
),
post_w AS (
  SELECT p.* FROM post_all p WHERE p.tok IN (SELECT term FROM weights)
),
dfreq_w AS (SELECT tok, count(*) AS df FROM post_w GROUP BY tok),
final AS (
  SELECT p.doc_id,
         ROUND(SUM(
           w.w *
           ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0) *
           (p.tf * (1.2 + 1.0)) /
           (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.doc_len / s.avg_len))
         ), 6) AS score
  FROM post_w p
  JOIN weights w ON p.tok = w.term
  JOIN dfreq_w f ON p.tok = f.tok
  JOIN lens l ON p.doc_id = l.doc_id
  CROSS JOIN stats s
  GROUP BY p.doc_id
)
SELECT doc_id, score FROM final WHERE doc_id <> {_MLT_SEED}
ORDER BY score DESC, doc_id ASC LIMIT {LEX_K}
"""


@register("lexical_more_like_this", _MLT_ORACLE, "search", "lexical")
def q_lexical_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.lexical import more_like_this_topk

    docs = load(spark, sf_dir, "documents")
    return more_like_this_topk(
        docs, _MLT_SEED, LEX_K, id_col="doc_id", content_col="text", max_terms=_MLT_TERMS
    )


# ---------------------------------------------------------------------------
# Proximity (NEAR) search — pg tsquery <N> distance operator
# ---------------------------------------------------------------------------

_PROX_FIRST = "table"
_PROX_SECOND = "hash"
_PROX_WINDOW = 4

_PROX_ORACLE = f"""
WITH arrs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]{{2,}}') AS a
  FROM documents
),
scored AS (
  SELECT doc_id,
         CAST(len(list_filter(generate_series(1, len(a)),
                i -> a[i] = '{_PROX_FIRST}'
                AND len(list_filter(
                      generate_series(i + 1, least(i + {_PROX_WINDOW}, len(a))),
                      j -> a[j] = '{_PROX_SECOND}')) > 0))
              AS DOUBLE) AS score
  FROM arrs
  WHERE list_contains(a, '{_PROX_FIRST}') AND list_contains(a, '{_PROX_SECOND}')
)
SELECT doc_id, score FROM scored WHERE score > 0
ORDER BY score DESC, doc_id ASC LIMIT {LEX_K}
"""


@register("lexical_proximity", _PROX_ORACLE, "search", "lexical")
def q_lexical_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.lexical import proximity_topk

    docs = load(spark, sf_dir, "documents")
    return proximity_topk(
        docs, _PROX_FIRST, _PROX_SECOND, _PROX_WINDOW, LEX_K,
        id_col="doc_id", content_col="text",
    )


# ---------------------------------------------------------------------------
# Boolean full-text query — pg to_tsquery grammar (& | ! parentheses)
# ---------------------------------------------------------------------------

_BOOL_QUERY = "spark & (join | vector) & !slow"


def _bool_oracle() -> str:
    from vector_mcp_spark.operators.lexical import parse_boolean_query, positive_terms

    ast = parse_boolean_query(_BOOL_QUERY)

    def render(node) -> str:
        kind = node[0]
        if kind == "term":
            return f"list_contains(a, '{node[1]}')"
        if kind == "not":
            return f"(NOT {render(node[1])})"
        op = "AND" if kind == "and" else "OR"
        return f"({render(node[1])} {op} {render(node[2])})"

    pos = ", ".join(f"'{t}'" for t in positive_terms(ast))
    return f"""
WITH arrs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]{{2,}}') AS a
  FROM documents
)
SELECT doc_id,
       CAST(len(list_filter(a, t -> t IN ({pos}))) AS DOUBLE) AS score
FROM arrs
WHERE {render(ast)}
ORDER BY len(list_filter(a, t -> t IN ({pos}))) DESC, doc_id ASC
LIMIT {LEX_K}
"""


@register("lexical_boolean", _bool_oracle(), "search", "lexical")
def q_lexical_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean to_tsquery search: the SQL WHERE clause and the positive-term
    score are rendered from the SAME parsed AST the Spark operator
    evaluates, so the two engines cannot disagree on the grammar."""
    from vector_mcp_spark.operators.lexical import boolean_topk

    docs = load(spark, sf_dir, "documents")
    return boolean_topk(docs, _BOOL_QUERY, LEX_K, id_col="doc_id", content_col="text")


# ---------------------------------------------------------------------------
# Q1 metric twins — dot-product and L2 distance scoring (pgvector <#> / <->,
# postgres.py:316-348; qdrant Distance.DOT / EUCLID, qdrant.py:122-127)
# ---------------------------------------------------------------------------

_DOT_ORACLE = f"""
SELECT d.doc_id AS doc_id,
       ROUND({_dot_sql('e.embedding', SEM_QUERY_VEC)}, 6) AS score
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
ORDER BY {_dot_sql('e.embedding', SEM_QUERY_VEC)} DESC, d.doc_id ASC
LIMIT {SEM_K}
"""


@register("semantic_topk_dot", _DOT_ORACLE, "search", "parity")
def q_semantic_topk_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner-product top-k (higher is better) — the score a migrating
    pgvector user gets from ``ORDER BY embedding <#> q`` (sign-flipped)."""
    from vector_mcp_spark.operators.semantic import semantic_topk

    coll = docs_with_embeddings(spark, sf_dir)
    return semantic_topk(
        coll, SEM_QUERY_VEC, SEM_K, id_col="doc_id", emb_col="embedding", metric="dot"
    )


_L2_ORACLE = f"""
SELECT d.doc_id AS doc_id,
       ROUND({_l2_sql('e.embedding', SEM_QUERY_VEC)}, 6) AS score
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
ORDER BY {_l2_sql('e.embedding', SEM_QUERY_VEC)} ASC, d.doc_id ASC
LIMIT {SEM_K}
"""


@register("semantic_topk_l2", _L2_ORACLE, "search", "parity")
def q_semantic_topk_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean-distance top-k (LOWER is better; rank order ascends) —
    pgvector ``<->`` / qdrant ``Distance.EUCLID``. Scored via the
    ||d||²+||q||²−2·d·q expansion on both engines (bit-equal folds)."""
    from vector_mcp_spark.operators.semantic import semantic_topk

    coll = docs_with_embeddings(spark, sf_dir)
    return semantic_topk(
        coll, SEM_QUERY_VEC, SEM_K, id_col="doc_id", emb_col="embedding", metric="l2"
    )


# Q3 twin under L2 — the pgvector "WHERE embedding <-> q <= bound" query
# (postgres.py:329-343 pushes the cosine form; <-> is the same pushdown
# under the EUCLID opclass). Distance threshold applies DIRECTLY to the
# metric (dist <= bound), rank order ascends.

_L2_THRESHOLD = 4.35

_L2_THRESH_ORACLE = f"""
SELECT d.doc_id AS doc_id,
       ROUND({_l2_sql('e.embedding', SEM_QUERY_VEC)}, 6) AS score
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
WHERE {_l2_sql('e.embedding', SEM_QUERY_VEC)} <= {_L2_THRESHOLD}
ORDER BY {_l2_sql('e.embedding', SEM_QUERY_VEC)} ASC, d.doc_id ASC
LIMIT 1000
"""


@register("semantic_threshold_l2", _L2_THRESH_ORACLE, "search", "parity")
def q_semantic_threshold_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.semantic import semantic_topk

    coll = docs_with_embeddings(spark, sf_dir)
    return semantic_topk(
        coll, SEM_QUERY_VEC, 1000, id_col="doc_id", emb_col="embedding",
        metric="l2", distance_threshold=_L2_THRESHOLD,
    )
