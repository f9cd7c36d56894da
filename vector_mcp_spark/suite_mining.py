"""Corpus-mining breadth: span novelty, DSIR weights, postings, PageRank.

Round-5 additions to the LLM-data-pipeline surface (SURVEY.md §2 extension
set): the C4 repeated-span signal as a per-doc novelty score, DSIR
importance weights for targeted selection, an explicit inverted-index
build, and weighted PageRank over a derived co-occurrence graph. Every
entry carries a full DuckDB oracle — the sha-derived span/bucket hashes are
chosen precisely so ANSI SQL replays them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_mcp_spark.suite import load, register

_TOKS = "regexp_extract_all(lower(text), '[a-z0-9_]{2,}')"

# -- C4-style cross-doc span novelty ------------------------------------------

_SPAN_N = 5

_NOVELTY_ORACLE = f"""
WITH dt AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
spans AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substring(sha256(
           array_to_string(toks[i + 1 : i + {_SPAN_N}], ' ')), 1, 15) AS BIGINT) AS span_h
  FROM dt, UNNEST(range(len(toks) - {_SPAN_N - 1})) AS t(i)
),
first_seen AS (SELECT span_h, min(doc_id) AS first_id FROM spans GROUP BY span_h)
SELECT s.doc_id AS id, count(*) AS n_spans,
       CAST(SUM(CASE WHEN f.first_id < s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
       ROUND(1.0 - SUM(CASE WHEN f.first_id < s.doc_id THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE), 6) AS novelty
FROM spans s JOIN first_seen f USING (span_h)
GROUP BY s.doc_id
"""


@register("corpus_span_novelty", _NOVELTY_ORACLE, "dedup", "textstats", "pipeline")
def q_corpus_span_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.novelty import span_novelty

    docs = load(spark, sf_dir, "documents")
    return span_novelty(docs, n=_SPAN_N, id_col="doc_id", text_col="text")


# -- DSIR importance weights (target = src0) ----------------------------------

_DSIR_BUCKETS = 1024

_DSIR_ORACLE = f"""
WITH ex AS (
  SELECT doc_id, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS t,
         unnest({_TOKS}) AS tok
  FROM documents
),
b AS (
  SELECT doc_id, t,
         CAST('0x' || substring(sha256(tok), 1, 15) AS BIGINT) % {_DSIR_BUCKETS} AS bucket
  FROM ex
),
counts AS (SELECT bucket, count(*) AS c_raw, SUM(t) AS c_tgt FROM b GROUP BY bucket),
tot AS (SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt FROM counts),
r AS (
  SELECT bucket,
         ln((c_tgt + 1.0) / (n_tgt + {_DSIR_BUCKETS}.0))
         - ln((c_raw + 1.0) / (n_raw + {_DSIR_BUCKETS}.0)) AS lr
  FROM counts CROSS JOIN tot
)
SELECT b.doc_id AS id, CAST(count(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(r.lr), 6) AS weight
FROM b JOIN r USING (bucket)
GROUP BY b.doc_id
"""


@register("corpus_dsir_weights", _DSIR_ORACLE, "sampling", "textstats", "pipeline")
def q_corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.dsir import importance_weights

    docs = load(spark, sf_dir, "documents")
    return importance_weights(
        docs,
        is_target=F.col("source") == "src0",
        n_buckets=_DSIR_BUCKETS,
        id_col="doc_id",
        text_col="text",
    )


# -- materialized inverted index (top slice) ----------------------------------

_POSTINGS_TOP_DOCS = 10
_POSTINGS_TOP_TERMS = 200

_POSTINGS_ORACLE = f"""
WITH tf AS (
  SELECT term, doc_id, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOKS}) AS term FROM documents)
  GROUP BY term, doc_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rk
  FROM tf
)
SELECT term, count(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
       string_agg(CASE WHEN rk <= {_POSTINGS_TOP_DOCS}
                       THEN doc_id || ':' || tf END, ',' ORDER BY rk) AS postings
FROM ranked
GROUP BY term
ORDER BY df DESC, term
LIMIT {_POSTINGS_TOP_TERMS}
"""


@register("lexical_postings_index", _POSTINGS_ORACLE, "lexical", "pipeline")
def q_lexical_postings_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.lexical import postings_index_summary

    docs = load(spark, sf_dir, "documents")
    idx = postings_index_summary(docs, id_col="doc_id", content_col="text", top_docs=_POSTINGS_TOP_DOCS)
    return idx.orderBy(F.col("df").desc(), "term").limit(_POSTINGS_TOP_TERMS)


# -- weighted PageRank over the event-type co-occurrence graph ---------------

_PR_DAMPING = 0.85
_PR_ITERS = 3


def _pagerank_oracle() -> str:
    base = f"""
WITH m AS (SELECT DISTINCT user_id AS g, event_type AS a FROM events),
e AS (
  SELECT m.a AS src, o.b AS dst, count(*) AS w
  FROM m JOIN (SELECT g, a AS b FROM m) o USING (g)
  WHERE m.a <> o.b
  GROUP BY m.a, o.b
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
ow AS (SELECT src, SUM(w) AS out_w FROM e GROUP BY src),
frac AS (SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / ow.out_w AS f
         FROM e JOIN ow USING (src)),
it0 AS (SELECT node, 1.0 / nt.n AS pr FROM nodes CROSS JOIN nt)"""
    for k in range(1, _PR_ITERS + 1):
        base += f""",
it{k} AS (
  SELECT nodes.node,
         (1 - {_PR_DAMPING}) / nt.n
         + {_PR_DAMPING} * COALESCE(inf.s, 0) AS pr
  FROM nodes CROSS JOIN nt
  LEFT JOIN (
    SELECT f.dst, SUM(p.pr * f.f) AS s
    FROM frac f JOIN it{k - 1} p ON p.node = f.src
    GROUP BY f.dst
  ) inf ON inf.dst = nodes.node
)"""
    return base + f"""
SELECT node AS event_type, ROUND(pr, 6) AS pr
FROM it{_PR_ITERS}
ORDER BY pr DESC, event_type
"""


@register("graph_pagerank_event_types", _pagerank_oracle(), "graph", "relational")
def q_graph_pagerank_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.graph import cooccurrence_edges, pagerank

    ev = load(spark, sf_dir, "events")
    edges = cooccurrence_edges(ev, item_col="event_type", group_col="user_id")
    pr = pagerank(edges, damping=_PR_DAMPING, iters=_PR_ITERS)
    return pr.select(
        F.col("node").alias("event_type"), F.round("pr", 6).alias("pr")
    ).orderBy(F.col("pr").desc(), "event_type")


# -- 1-bit sign quantization + Hamming-shortlist ANN --------------------------

_BSQ_K = 5
_BSQ_SHORTLIST = 100


def _bsq_oracle() -> str:
    def half(lo_bit: int) -> str:
        return " + ".join(
            f"(CASE WHEN v[{lo_bit + i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(32)
        )

    sim = (
        "(list_dot_product(c.v, q.qv) / "
        "(sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))))"
    )
    return f"""
WITH packed AS (
  SELECT vec_id, v, CAST({half(0)} AS BIGINT) AS lo, CAST({half(32)} AS BIGINT) AS hi
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
),
q AS (SELECT vec_id AS query_id, v AS qv, lo AS qlo, hi AS qhi
      FROM packed WHERE vec_id < 20),
coarse AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, c.v, q.qv,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY bit_count(xor(c.lo, q.qlo))
                                     + bit_count(xor(c.hi, q.qhi)) ASC,
                                     c.vec_id ASC) AS cr
  FROM packed c CROSS JOIN q
  WHERE c.vec_id != q.query_id
)
SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, ROUND(sm, 6) AS score
FROM (
  SELECT query_id, neighbor_id, {sim.replace('c.v', 'coarse.v').replace('q.qv', 'coarse.qv')} AS sm,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {sim.replace('c.v', 'coarse.v').replace('q.qv', 'coarse.qv')} DESC NULLS LAST,
                                     neighbor_id ASC) AS rn
  FROM coarse WHERE cr <= {_BSQ_SHORTLIST}
) WHERE rn <= {_BSQ_K}
"""


@register("embedding_binary_sign_topk", _bsq_oracle(), "similarity", "pipeline")
def q_embedding_binary_sign_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.quantize import binary_hamming_topk

    embs = load(spark, sf_dir, "embeddings")
    qs = embs.where(F.col("vec_id") < 20)
    return binary_hamming_topk(
        qs, embs, k=_BSQ_K, shortlist=_BSQ_SHORTLIST, id_col="vec_id"
    )


# -- REAL MP4 (ISO-BMFF) header decode ----------------------------------------
#
# Complete ftyp+moov(mvhd+trak/tkhd) structures synthesized as Column
# expressions with planted dimensions and a timescale-600 duration;
# parse_video_meta recovers width/height (16.16 fixed point) and
# duration_ms by actually walking the box tree — misread one box size or
# fixed-point shift and the hash mismatches. Completes the real-header
# modality set: PNG/JPEG/GIF (image), RIFF/WAVE (audio), ISO-BMFF (video).

_MM_VIDEO_ORACLE = """
SELECT CAST(doc_id AS VARCHAR) AS media_id, 'video/mp4' AS mime,
       CAST(n_chars % 1920 + 16 AS INTEGER) AS width,
       CAST(doc_id % 1080 + 16 AS INTEGER) AS height,
       CAST(n_chars * 3 * 1000 // 600 AS BIGINT) AS duration_ms
FROM documents WHERE doc_id % 3 = 0
"""

_MP4_MATRIX_HEX = (
    "000100000000000000000000000000000001000000000000000000000000000040000000"
)


@register("multimodal_video_meta", _MM_VIDEO_ORACLE, "multimodal", "pipeline")
def q_multimodal_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.multimodal.binary_ops import parse_video_meta

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 0)
    w = (F.col("n_chars") % 1920 + 16).cast("bigint")
    h = (F.col("doc_id") % 1080 + 16).cast("bigint")
    dur = (F.col("n_chars") * 3).cast("bigint")

    def be4(col):
        return F.unhex(F.lpad(F.hex(col), 8, "0"))

    ftyp = F.unhex(F.lit("000000106674797069736F6D00000000"))
    mvhd = F.concat(
        F.unhex(F.lit("0000006C6D766864")),          # size 108 + 'mvhd'
        F.unhex(F.lit("00000000" + "00000000" + "00000000" + "00000258")),
        be4(dur),                                     # duration (timescale 600)
        F.unhex(F.lit("00010000" + "0100" + "0" * 20)),
        F.unhex(F.lit(_MP4_MATRIX_HEX + "0" * 48 + "00000002")),
    )
    tkhd = F.concat(
        F.unhex(F.lit("0000005C746B6864")),          # size 92 + 'tkhd'
        F.unhex(F.lit("00000007" + "00000000" + "00000000" + "00000001" + "00000000")),
        be4(dur),
        F.unhex(F.lit("0" * 16 + "0000" + "0000" + "0000" + "0000")),
        F.unhex(F.lit(_MP4_MATRIX_HEX)),
        # 16.16 fixed point: integer part in the high 16 bits, zero fraction
        F.unhex(F.concat(F.lpad(F.hex(w), 4, "0"), F.lit("0000"))),
        F.unhex(F.concat(F.lpad(F.hex(h), 4, "0"), F.lit("0000"))),
    )
    trak = F.concat(F.unhex(F.lit("000000647472616B")), tkhd)
    moov = F.concat(F.unhex(F.lit("000000D86D6F6F76")), mvhd, trak)
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.concat(ftyp, moov).alias("data"),
    )
    return parse_video_meta(media)


# -- continuous aggregate: REAL executed stream maintaining a rollup ----------
#
# The stream runs (availableNow → foreachBatch merge into a standing
# parquet rollup); the oracle is the batch twin over the full table — the
# incremental merge of algebraic partials must land on exactly the numbers
# one global groupBy produces.

_CONT_AGG_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       count(*) AS n_events, ROUND(SUM(value), 4) AS total_value
FROM events GROUP BY day, event_type
"""

_CONT_AGG_SEQ = iter(range(1, 1_000_000))


@register("streaming_continuous_aggregate", _CONT_AGG_ORACLE, "streaming", "pipeline")
def q_streaming_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from vector_mcp_spark.streaming.ingest import (
        read_event_stream,
        stream_continuous_aggregate,
    )

    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    clean_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", ".tmp", f"events_{sf_tag}"
    )
    clean_dir = os.path.abspath(clean_dir)
    if not os.path.exists(os.path.join(clean_dir, "_SUCCESS")):
        load(spark, sf_dir, "events").write.mode("overwrite").parquet(clean_dir)
    run = tempfile.mkdtemp(prefix=f"cont_agg_{next(_CONT_AGG_SEQ)}_")
    rollup = os.path.join(run, "rollup")
    try:
        stream = read_event_stream(spark, clean_dir)
        stream_continuous_aggregate(stream, rollup, os.path.join(run, "ckpt"))
        got = spark.read.parquet(rollup)
        return spark.createDataFrame(
            got.select(
                "day", "event_type", "n_events",
                F.round("total_value", 4).alias("total_value"),
            ).collect(),
            "day timestamp, event_type string, n_events bigint, total_value double",
        )
    finally:
        shutil.rmtree(run, ignore_errors=True)


# -- snapshot diff (CDC without a CDC feed) -----------------------------------
#
# Old snapshot is derived from events (drop the %11 ids → "inserted" in the
# new one, bump value on %13 ids → "changed", add shifted ids → "deleted");
# the operator classifies via sha256 fingerprints of the tracked columns,
# while the oracle classifies by direct null-safe column comparison — two
# mechanisms, same semantics, so a fingerprint bug (column order, null
# encoding) shows up as a hash mismatch.

_SNAP_DIFF_ORACLE = """
WITH old AS (
  SELECT event_id, ts, user_id, event_type,
         value + (CASE WHEN event_id % 13 = 0 THEN 1.0 ELSE 0.0 END) AS value,
         props
  FROM events WHERE event_id % 11 <> 0
  UNION ALL
  SELECT event_id + 1000000000, ts, user_id, event_type, value, props
  FROM events WHERE event_id % 17 = 0
),
new AS (SELECT * FROM events)
SELECT COALESCE(o.event_id, n.event_id) AS id,
       CASE WHEN o.event_id IS NULL THEN 'inserted'
            WHEN n.event_id IS NULL THEN 'deleted'
            WHEN o.ts IS NOT DISTINCT FROM n.ts
             AND o.user_id IS NOT DISTINCT FROM n.user_id
             AND o.event_type IS NOT DISTINCT FROM n.event_type
             AND o.value IS NOT DISTINCT FROM n.value
             AND o.props IS NOT DISTINCT FROM n.props THEN 'unchanged'
            ELSE 'changed' END AS change
FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
"""


@register("events_snapshot_diff", _SNAP_DIFF_ORACLE, "cdc", "relational")
def q_events_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.cdc import snapshot_diff

    ev = load(spark, sf_dir, "events")
    old = ev.where(F.col("event_id") % 11 != 0).withColumn(
        "value",
        F.col("value") + F.when(F.col("event_id") % 13 == 0, 1.0).otherwise(0.0),
    )
    ghosts = ev.where(F.col("event_id") % 17 == 0).withColumn(
        "event_id", F.col("event_id") + F.lit(1_000_000_000)
    )
    old = old.unionByName(ghosts)
    return snapshot_diff(
        old, ev, id_col="event_id",
        compare_cols=["ts", "user_id", "event_type", "value", "props"],
    )


# -- SCD2 validity intervals from an observation stream -----------------------

_SCD2_ORACLE = """
WITH runs AS (
  SELECT user_id, event_type, ts,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_type ASC) AS prev
  FROM events
),
starts AS (
  SELECT user_id AS key, event_type AS state, ts AS valid_from
  FROM runs WHERE prev IS NULL OR prev <> event_type
)
SELECT key, state, valid_from,
       lead(valid_from) OVER (PARTITION BY key
                              ORDER BY valid_from ASC, state ASC) AS valid_to,
       lead(valid_from) OVER (PARTITION BY key
                              ORDER BY valid_from ASC, state ASC) IS NULL AS is_current
FROM starts
"""


@register("events_scd2_intervals", _SCD2_ORACLE, "cdc", "temporal", "relational")
def q_events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.cdc import scd2_intervals

    ev = load(spark, sf_dir, "events")
    return scd2_intervals(ev, key_col="user_id", state_col="event_type", ts_col="ts")


# -- PII compliance report (planted PII, counted per source) ------------------
#
# The sanitize module redacts; compliance wants the COUNTS before redaction
# (which sources leak, how much, trending). PII is planted into the
# synthetic corpus from Column expressions (the corpus itself is clean) so
# the regex counters have known ground truth; patterns are the RE2-portable
# ones sanitize.py already uses, so Spark and DuckDB count identically.

_PII_ORACLE = r"""
WITH t AS (
  SELECT source,
         text || (CASE doc_id % 5
                  WHEN 0 THEN ' contact bob@example.com or ann@test.org'
                  WHEN 1 THEN ' call +1 (555) 123-4567'
                  WHEN 2 THEN ' log at /var/log/app/server.log'
                  ELSE '' END) AS text2
  FROM documents
),
c AS (
  SELECT source,
         len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS e,
         len(regexp_extract_all(text2, '\+?\d[\d ()-]{7,}\d')) AS p,
         len(regexp_extract_all(text2, '(?:/[A-Za-z0-9._-]+){2,}/?')) AS f
  FROM t
)
SELECT source,
       CAST(SUM(e) AS BIGINT) AS n_emails,
       CAST(SUM(p) AS BIGINT) AS n_phones,
       CAST(SUM(f) AS BIGINT) AS n_paths,
       CAST(SUM(CASE WHEN e + p + f > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
       count(*) AS n_docs
FROM c GROUP BY source
"""


@register("corpus_pii_report", _PII_ORACLE, "governance", "textstats", "pipeline")
def q_corpus_pii_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.sanitize import EMAIL_PATTERN, PATH_PATTERN, PHONE_PATTERN

    docs = load(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 5 == 0, " contact bob@example.com or ann@test.org")
        .when(F.col("doc_id") % 5 == 1, " call +1 (555) 123-4567")
        .when(F.col("doc_id") % 5 == 2, " log at /var/log/app/server.log")
        .otherwise(""),
    )

    def n(pattern):
        return F.size(F.regexp_extract_all(planted, F.lit(pattern), F.lit(0)))

    counted = docs.select(
        "source",
        n(EMAIL_PATTERN).alias("e"),
        n(PHONE_PATTERN).alias("p"),
        n(PATH_PATTERN).alias("f"),
    )
    return counted.groupBy("source").agg(
        F.sum("e").alias("n_emails"),
        F.sum("p").alias("n_phones"),
        F.sum("f").alias("n_paths"),
        F.sum((F.col("e") + F.col("p") + F.col("f") > 0).cast("long")).alias("n_docs_with_pii"),
        F.count("*").alias("n_docs"),
    )


# -- time-weighted average (TWAP) per user-day --------------------------------

_TWAP_ORACLE = """
WITH obs AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, ts, value,
         COALESCE(
           lead(ts) OVER (PARTITION BY user_id, date_trunc('day', ts)
                          ORDER BY ts ASC, value ASC),
           max(ts) OVER (PARTITION BY user_id, date_trunc('day', ts))
         ) AS nxt
  FROM events
),
w AS (
  SELECT user_id, day, value, epoch(nxt) - epoch(ts) AS dur FROM obs
)
SELECT user_id, day,
       ROUND(SUM(value * dur) / NULLIF(SUM(dur), 0), 4) AS twap,
       count(*) AS n_obs,
       ROUND(SUM(dur), 6) AS span_seconds
FROM w GROUP BY user_id, day
"""


@register("events_twap_user_day", _TWAP_ORACLE, "temporal", "relational")
def q_events_twap_user_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.temporal import time_weighted_average

    ev = load(spark, sf_dir, "events").withColumn("day", F.date_trunc("day", "ts"))
    out = time_weighted_average(ev, ["user_id", "day"], ts_col="ts", value_col="value")
    return out.select(
        "user_id", "day", F.round("twap", 4).alias("twap"), "n_obs", "span_seconds"
    )


# -- two-stage retrieval: bi-encoder shortlist → cross-encoder rerank ---------
#
# The rerank stage uses the deterministic hash scorer (functions/rerank.py)
# — the same stand-in role hash_embed plays for the embedding seam — so the
# full shortlist→rerank pipeline is value-verified; a RemoteRerankClient
# drops into the identical position in api.rerank_search for production.

_RR_SHORTLIST = 20
_RR_K = 10


def _rerank_oracle() -> str:
    from vector_mcp_spark.functions.rerank import rerank_sql
    from vector_mcp_spark.suite import SEM_QUERY_TEXT, SEM_QUERY_VEC, _cosine_sql

    sim = _cosine_sql("e.embedding", SEM_QUERY_VEC)
    score = rerank_sql("d.text", f"'{SEM_QUERY_TEXT}'")
    return f"""
WITH short AS (
  SELECT d.doc_id, d.text
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  ORDER BY ROUND({sim}, 6) DESC, d.doc_id ASC
  LIMIT {_RR_SHORTLIST}
)
SELECT doc_id, ROUND({score.replace('d.text', 'text')}, 6) AS score
FROM short
ORDER BY score DESC, doc_id ASC
LIMIT {_RR_K}
"""


@register("semantic_rerank_crossencoder", _rerank_oracle(), "search", "pipeline")
def q_semantic_rerank_crossencoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.functions.rerank import rerank_score_col
    from vector_mcp_spark.operators.semantic import semantic_topk
    from vector_mcp_spark.suite import SEM_QUERY_TEXT, SEM_QUERY_VEC, docs_with_embeddings

    docs = docs_with_embeddings(spark, sf_dir)
    short = (
        semantic_topk(docs, SEM_QUERY_VEC, _RR_SHORTLIST, id_col="doc_id", emb_col="embedding")
        .select("doc_id")
        .join(docs.select("doc_id", "text"), "doc_id")
    )
    return (
        short.select(
            "doc_id",
            F.round(rerank_score_col("text", SEM_QUERY_TEXT), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(_RR_K)
    )


# -- equi-depth histogram (quantile bucketing via ntile) ----------------------
#
# The fixed-bin histogram (events_value_histogram) shows shape; equi-depth
# buckets show WHERE the mass is — the statistics a cost-based optimizer
# or a curriculum sampler actually wants. ntile ties break on event_id so
# both engines assign identical buckets.

# Bucket = floor((rank-1) * 8 / n): rank-balanced like ntile, but computed
# through the distributed global_rank (coarse percentile buckets + offset +
# partitioned window) — no single-partition ORDER-BY-everything stage; the
# oracle keeps the naive one-window formulation, so the two must agree.
_EQUIDEPTH_ORACLE = """
WITH t AS (
  SELECT value,
         row_number() OVER (ORDER BY value ASC, event_id ASC) AS rnk,
         count(*) OVER () AS n
  FROM events
)
SELECT CAST((rnk - 1) * 8 // n + 1 AS INTEGER) AS bucket, count(*) AS n,
       ROUND(MIN(value), 6) AS lo, ROUND(MAX(value), 6) AS hi
FROM t GROUP BY bucket
ORDER BY bucket
"""


@register("events_equidepth_histogram", _EQUIDEPTH_ORACLE, "relational")
def q_events_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.rank import global_rank

    ev = load(spark, sf_dir, "events")
    # total_col: n is known driver-side inside global_rank (bucket-count
    # prefix sum) — a separate count() would re-execute the ranked plan
    ranked = global_rank(ev.select("value", "event_id"), "value", ["event_id"], total_col="_n")
    return (
        ranked.withColumn(
            "bucket",
            # integer floor-div: no float boundary can misplace a row
            (F.expr("CAST((rank - 1) * 8 DIV _n AS INT) + 1")),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
        .orderBy("bucket")
    )


# -- lexical scoring served FROM the postings representation ------------------
#
# The scan-based lexical_tf scores by filtering each row's token array;
# this entry scores from the inverted (term, id, tf) representation — the
# shape of the engine's persisted postings family. Same semantics,
# different plan family; the oracle uses
# the unnested-token formulation, so the two must agree.

_IDX_TF_ORACLE = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents)
SELECT doc_id, CAST(count(*) AS DOUBLE) AS score
FROM toks WHERE term IN ('spark', 'join', 'vector')
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""


@register("lexical_indexed_tf", _IDX_TF_ORACLE, "lexical", "search")
def q_lexical_indexed_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.lexical import build_postings

    docs = load(spark, sf_dir, "documents")
    postings = build_postings(docs, id_col="doc_id", content_col="text")
    return (
        postings.where(F.col("term").isin("spark", "join", "vector"))
        .groupBy("doc_id")
        .agg(F.sum("tf").cast("double").alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


# -- language confusion matrix: declared vs detected --------------------------
#
# The corpus carries a declared `lang` column; the heuristic detector says
# what the TEXT looks like. The (declared, detected) matrix is the data-
# quality view that catches mislabeled slices before a mixture samples by
# declared language. Reuses the exact marker/argmax SQL the text_stats
# oracle established.

_CONF_ORACLE = """
WITH ex AS (
  SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '[a-z0-9_]{2,}')) AS tok
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
         count(*) FILTER (WHERE tok IN ('der','die','das','und','ist','nicht','ein','mit')) AS s_de,
         count(*) FILTER (WHERE tok IN ('the','and','is','of','to','a','in','that')) AS s_en,
         count(*) FILTER (WHERE tok IN ('el','la','de','que','y','los','es','un')) AS s_es,
         count(*) FILTER (WHERE tok IN ('le','la','et','les','des','est','une','dans')) AS s_fr
  FROM ex GROUP BY doc_id, lang
),
pred AS (
  SELECT lang AS declared,
         CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
              WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
              WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
              WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
              WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
              END AS detected
  FROM scored
)
SELECT declared, detected, count(*) AS n_docs
FROM pred GROUP BY declared, detected
"""


@register("corpus_lang_confusion", _CONF_ORACLE, "textstats", "governance", "pipeline")
def q_corpus_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.textstats import lang_id

    from vector_mcp_spark.operators.partition import spread

    docs = load(spark, sf_dir, "documents")
    # docs with zero tokens are absent from the oracle's explode; mirror
    # that by filtering to non-empty token lists (the corpus has none, but
    # semantics should not depend on it). spread: the per-row lang-score
    # regexp counting is pure map work (guide §2.5).
    return (
        spread(docs).where(F.size(F.expr("regexp_extract_all(lower(text), '[a-z0-9_]{2,}', 0)")) > 0)
        .select(F.col("lang").alias("declared"), lang_id(F.col("text")).alias("detected"))
        .groupBy("declared", "detected")
        .agg(F.count("*").alias("n_docs"))
    )


# -- streaming KMV distinct sketch (REAL executed stream) ---------------------
#
# Distinct-count twin of streaming_cms_user_counts: the stateful operator
# maintains each group's k smallest value hashes across micro-batches; the
# oracle replays the batch KMV in SQL (min-k is an order-insensitive fold,
# so stream state ≡ batch sketch — a pytest pins bit-identity too).

_SKMV_K = 32

_SKMV_ORACLE = f"""
WITH hashed AS (
  SELECT DISTINCT event_type,
         CAST('0x' || substring(sha256(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM events
),
ranked AS (
  SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
  FROM hashed
),
kept AS (
  SELECT event_type, count(*) AS n_kept, max(h) AS kth
  FROM ranked WHERE rn <= {_SKMV_K} GROUP BY event_type
)
SELECT event_type, CAST(n_kept AS INTEGER) AS n_kept,
       CAST(CASE WHEN n_kept < {_SKMV_K} THEN n_kept
                 ELSE ROUND({_SKMV_K - 1}.0 / (kth / {float(2**60)!r})) END AS BIGINT) AS est_distinct
FROM kept
"""

_SKMV_SEQ = iter(range(1, 1_000_000))


@register("streaming_kmv_distinct", _SKMV_ORACLE, "streaming", "sketch")
def q_streaming_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from vector_mcp_spark.streaming.ingest import (
        read_event_stream,
        run_stream_to_memory,
        streaming_distinct_sketch,
    )

    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    clean_dir = os.path.abspath(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".tmp", f"events_{sf_tag}")
    )
    if not os.path.exists(os.path.join(clean_dir, "_SUCCESS")):
        load(spark, sf_dir, "events").write.mode("overwrite").parquet(clean_dir)
    stream = read_event_stream(spark, clean_dir).select("event_type", "user_id")
    got = run_stream_to_memory(
        streaming_distinct_sketch(stream, "event_type", "user_id", k=_SKMV_K),
        f"suite_stream_kmv_{next(_SKMV_SEQ)}",
        output_mode="update",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy(F.size("ks").desc())
    final = got.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return final.select(
        F.col("g").alias("event_type"),
        F.size("ks").cast("int").alias("n_kept"),
        F.col("est_distinct").cast("long").alias("est_distinct"),
    )


# -- curriculum sampling: DSIR weights → rank tiers → per-tier draw -----------
#
# The end-use composition of three round-5 primitives: score every document
# by target-likeness (DSIR), cut the corpus into 4 equi-depth tiers by
# rank (distributed global_rank — no single-task sort), and keep a
# deterministic per-tier fraction (sha draw), most-target-like tier
# sampled hardest. Output is the per-tier readout a mixture designer
# checks before writing shards.

_CURR_RATES = {1: 10, 2: 20, 3: 40, 4: 80}  # keep-percent by tier


def _curriculum_oracle() -> str:
    rate_case = " ".join(f"WHEN {t} THEN {r}" for t, r in _CURR_RATES.items())
    return f"""
WITH ex AS (
  SELECT doc_id, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS t,
         unnest({_TOKS}) AS tok
  FROM documents
),
b AS (
  SELECT doc_id, t,
         CAST('0x' || substring(sha256(tok), 1, 15) AS BIGINT) % {_DSIR_BUCKETS} AS bucket
  FROM ex
),
counts AS (SELECT bucket, count(*) AS c_raw, SUM(t) AS c_tgt FROM b GROUP BY bucket),
tot AS (SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt FROM counts),
r AS (
  SELECT bucket,
         ln((c_tgt + 1.0) / (n_tgt + {_DSIR_BUCKETS}.0))
         - ln((c_raw + 1.0) / (n_raw + {_DSIR_BUCKETS}.0)) AS lr
  FROM counts CROSS JOIN tot
),
weights AS (
  SELECT b.doc_id AS id, ROUND(SUM(r.lr), 6) AS weight
  FROM b JOIN r USING (bucket) GROUP BY b.doc_id
),
ranked AS (
  SELECT id, weight,
         row_number() OVER (ORDER BY weight ASC, id ASC) AS rnk,
         count(*) OVER () AS n
  FROM weights
),
tiers AS (
  SELECT id, weight, CAST((rnk - 1) * 4 // n + 1 AS INTEGER) AS tier,
         CAST('0x' || substring(sha256(CAST(id AS VARCHAR) || '|cur'), 1, 15) AS BIGINT)
           % 100 AS draw
  FROM ranked
)
SELECT tier, count(*) AS n_docs,
       CAST(SUM(CASE WHEN draw < (CASE tier {rate_case} END) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       ROUND(AVG(weight), 4) AS avg_weight
FROM tiers GROUP BY tier
ORDER BY tier
"""


@register("corpus_curriculum_sample", _curriculum_oracle(), "sampling", "pipeline")
def q_corpus_curriculum_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.dsir import importance_weights
    from vector_mcp_spark.operators.rank import global_rank

    docs = load(spark, sf_dir, "documents")
    weights = importance_weights(
        docs, is_target=F.col("source") == "src0",
        n_buckets=_DSIR_BUCKETS, id_col="doc_id", text_col="text",
    ).select("id", "weight")
    # total_col: n is known driver-side inside global_rank — avoids a count()
    # action that would re-run the DSIR + rank chain
    ranked = global_rank(weights, "weight", ["id"], total_col="_n")
    draw = F.pmod(
        F.conv(
            F.substring(F.sha2(F.concat(F.col("id").cast("string"), F.lit("|cur")), 256), 1, 15),
            16, 10,
        ).cast("long"),
        F.lit(100),
    )
    rate = F.create_map(
        *[x for t, r in _CURR_RATES.items() for x in (F.lit(t), F.lit(r))]
    )
    return (
        ranked.withColumn("tier", F.expr("CAST((rank - 1) * 4 DIV _n AS INT) + 1"))
        .withColumn("kept", (draw < rate[F.col("tier")]).cast("long"))
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            F.round(F.avg("weight"), 4).alias("avg_weight"),
        )
        .orderBy("tier")
    )


# -- embedding-space isotropy diagnostics --------------------------------------
#
# Mean pairwise cosine computed EXACTLY from one pass via
# Σ_{i≠j} u_i·u_j = ||Σu||² − n over unit vectors — no pair materialized,
# state is O(dim). The oracle replays the identity with lateral unnest.

_ISO_ORACLE = """
WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT v, sqrt(list_dot_product(v, v)) AS norm FROM e),
ex AS (
  SELECT i, v[i + 1] AS x_raw, v[i + 1] / norm AS x_unit
  FROM b, UNNEST(range(len(v))) AS t(i)
),
dims AS (SELECT i, SUM(x_raw) AS s_raw, SUM(x_unit) AS s_unit FROM ex GROUP BY i),
sums AS (SELECT SUM(s_raw * s_raw) AS ss_raw, SUM(s_unit * s_unit) AS ss_unit FROM dims),
stats AS (SELECT count(*) AS n, AVG(norm) AS avg_norm FROM b)
SELECT n, ROUND(avg_norm, 4) AS avg_norm,
       ROUND(sqrt(ss_raw) / n, 4) AS mean_vec_norm,
       ROUND(sqrt(ss_raw) / n / avg_norm, 4) AS mean_cos_ratio,
       ROUND((ss_unit - n) / (n * (n - 1.0)), 4) AS avg_pairwise_cosine
FROM stats CROSS JOIN sums
"""


@register("embedding_isotropy_report", _ISO_ORACLE, "similarity", "governance", "pipeline")
def q_embedding_isotropy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.diagnostics import isotropy_report

    embs = load(spark, sf_dir, "embeddings")
    return isotropy_report(embs)


# -- BPE vocabulary induction (Sennrich 2016) ---------------------------------

# The learning loop itself is oracled: the DuckDB SQL below UNROLLS the
# merge rounds as generated CTE stages — each stage recounts adjacent
# pairs, picks the same (cnt DESC, a, b) argmax, and applies the same
# wrapped-symbol `replace` — so the oracle learns the merges from scratch
# and must agree with Spark's loop bit-for-bit. See operators/bpe.py for
# why the ·a··b· representation makes plain REPLACE exactly BPE.

_BPE_MERGES = 10

# both BPE entries need the learned merges; the learn loop's corpus pass is
# the dominant cost, so memoize per (session, sf) — entry 2 then pays only
# its own tokenize pass
_BPE_MEMO: dict = {}


def _bpe_merges_cached(spark, sf_dir):
    from vector_mcp_spark.operators.bpe import learn_bpe

    key = (id(spark), sf_dir, _BPE_MERGES)
    if key not in _BPE_MEMO:
        _BPE_MEMO[key] = learn_bpe(load(spark, sf_dir, "documents"), _BPE_MERGES)
    return _BPE_MEMO[key]


# Degenerate-corpus caveat: if fewer than n merges are possible, Spark's
# learn_bpe stops early while the oracle's words{k} = words{k-1} CROSS JOIN
# best{k} goes empty — a mismatch by construction. The driver fixtures pin
# >= 10 viable merges (asserted nowhere cheaper than here: documents carry
# multi-character english words at every sf tier); revisit if fixtures change.
def _bpe_oracle_stages(n: int) -> str:
    stages = ["""
words0 AS (
  SELECT COUNT(*) AS freq,
         '·' || array_to_string(string_split(w, ''), '··') || '·' AS s
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
  GROUP BY w
)"""]
    for k in range(1, n + 1):
        stages.append(f"""
pairs{k} AS (
  SELECT p[1] AS a, p[2] AS b, SUM(freq) AS cnt
  FROM (SELECT freq, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS p
        FROM (SELECT freq, string_split(trim(s, '·'), '··') AS l FROM words{k - 1}))
  GROUP BY a, b
),
best{k} AS (SELECT {k} AS rank, a, b, cnt FROM pairs{k} ORDER BY cnt DESC, a, b LIMIT 1),
words{k} AS (
  SELECT freq, replace(s, '·' || m.a || '··' || m.b || '·', '·' || m.a || m.b || '·') AS s
  FROM words{k - 1} CROSS JOIN best{k} m
)""")
    return ",".join(stages)


def _bpe_merges_oracle() -> str:
    union = "\n  UNION ALL ".join(
        f"SELECT rank, a, b, cnt FROM best{k}" for k in range(1, _BPE_MERGES + 1)
    )
    return f"""
WITH {_bpe_oracle_stages(_BPE_MERGES)}
SELECT CAST(rank AS INTEGER) AS rank, a AS left_sym, b AS right_sym,
       a || b AS merged, CAST(cnt AS BIGINT) AS pair_count
FROM ({union})
ORDER BY rank
"""


@register("corpus_bpe_merges", _bpe_merges_oracle(), "textstats", "pipeline")
def q_corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = _bpe_merges_cached(spark, sf_dir)
    return spark.createDataFrame(
        [(r, a, b, a + b, c) for r, a, b, c in merges],
        "rank int, left_sym string, right_sym string, merged string, pair_count long",
    )


_BPE_TOPK = 25


def _bpe_tokens_oracle() -> str:
    return f"""
WITH {_bpe_oracle_stages(_BPE_MERGES)}
SELECT token, CAST(SUM(freq) AS BIGINT) AS total_freq
FROM (SELECT freq, unnest(string_split(trim(s, '·'), '··')) AS token FROM words{_BPE_MERGES})
GROUP BY token
ORDER BY total_freq DESC, token ASC
LIMIT {_BPE_TOPK}
"""


@register("corpus_bpe_top_tokens", _bpe_tokens_oracle(), "textstats", "pipeline")
def q_corpus_bpe_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.bpe import bpe_token_freqs

    docs = load(spark, sf_dir, "documents")
    merges = _bpe_merges_cached(spark, sf_dir)
    return (
        bpe_token_freqs(docs, merges)
        .orderBy(F.col("total_freq").desc(), F.col("token").asc())
        .limit(_BPE_TOPK)
    )


# -- PCA: covariance cells + power-iteration top component --------------------

# Full-oracle PCA: the covariance is an exact SQL replay, and the top
# principal component runs a FIXED 8-step power iteration from v0 = 1/sqrt(d)
# on the 6dp-rounded covariance — both engines iterate identical inputs, so
# the unrolled SQL stages agree far below the 6 dp output rounding. The
# Spark side deliberately uses the mapInPandas Gramian path (the 100 TB
# strategy) so the scale path itself is what the oracle checks.

_PCA_DIM = 64
_PCA_ITERS = 8

_COV_CORE = """
e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
idx AS (SELECT unnest(range(1, 65)) AS i),
m AS (SELECT i.i AS i, AVG(e.v[i.i]) AS mu FROM e, idx i GROUP BY i.i)
"""

_COV_CELLS_ORACLE = f"""
WITH {_COV_CORE},
cells AS (
  SELECT a.i AS i, b.i AS j, SUM(e.v[a.i] * e.v[b.i]) AS sxy, COUNT(*) AS n
  FROM e, idx a, idx b WHERE a.i <= b.i GROUP BY a.i, b.i
)
SELECT CAST(c.i - 1 AS INTEGER) AS i, CAST(c.j - 1 AS INTEGER) AS j,
       ROUND(c.sxy / c.n - ma.mu * mb.mu, 6) + 0.0 AS cov
FROM cells c JOIN m ma ON ma.i = c.i JOIN m mb ON mb.i = c.j
"""
# the + 0.0 normalizes IEEE -0.0 to +0.0 (ROUND of a tiny negative yields
# -0.0 whose formatted value hashes differently) — applied on BOTH sides.


@register("embedding_covariance_cells", _COV_CELLS_ORACLE, "similarity", "governance", "pipeline")
def q_embedding_covariance_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.pca import embedding_covariance

    embs = load(spark, sf_dir, "embeddings")
    cov = embedding_covariance(embs).where(F.col("i") <= F.col("j"))
    return cov.withColumn("cov", F.col("cov") + F.lit(0.0))


def _top_pc_oracle() -> str:
    stages = [f"""
cov AS MATERIALIZED (
  SELECT t.i AS i, t.j AS j, ROUND(t.sxy / t.n - ma.mu * mb.mu, 6) AS c
  FROM (SELECT a.i AS i, b.i AS j, SUM(e.v[a.i] * e.v[b.i]) AS sxy, COUNT(*) AS n
        FROM e, idx a, idx b GROUP BY a.i, b.i) t
  JOIN m ma ON ma.i = t.i JOIN m mb ON mb.i = t.j
),
v0 AS (SELECT i.i AS i, 1.0 / sqrt({_PCA_DIM}.0) AS x FROM idx i)"""]
    for k in range(1, _PCA_ITERS + 1):
        stages.append(f"""
w{k} AS MATERIALIZED (SELECT c.i AS i, SUM(c.c * v.x) AS w FROM cov c JOIN v{k - 1} v ON v.i = c.j GROUP BY c.i),
v{k} AS MATERIALIZED (SELECT w{k}.i AS i, w{k}.w / n{k}.nrm AS x
         FROM w{k}, (SELECT sqrt(SUM(w * w)) AS nrm FROM w{k}) n{k})""")
    last = f"v{_PCA_ITERS}"
    return f"""
WITH {_COV_CORE},{",".join(stages)},
lam AS (SELECT SUM(a.x * c.c * b.x) AS l FROM cov c JOIN {last} a ON a.i = c.i JOIN {last} b ON b.i = c.j)
SELECT CAST(v.i - 1 AS INTEGER) AS idx, ROUND(v.x, 6) + 0.0 AS loading,
       ROUND(l.l, 6) + 0.0 AS eigenvalue
FROM {last} v CROSS JOIN lam l
"""


@register("embedding_top_pc", _top_pc_oracle(), "similarity", "governance", "pipeline")
def q_embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.pca import embedding_covariance, top_pc_power_iteration

    embs = load(spark, sf_dir, "embeddings")
    cov = embedding_covariance(embs, dim=_PCA_DIM, via_pandas=True)
    v, lam = top_pc_power_iteration(cov, _PCA_DIM, iters=_PCA_ITERS)
    return spark.createDataFrame(
        [(i, round(x, 6) + 0.0, round(lam, 6) + 0.0) for i, x in enumerate(v)],
        "idx int, loading double, eigenvalue double",
    )


# -- interpolated bigram LM scoring (CCNet one level up) ----------------------

_BLM_LAM = 0.7

_BLM_ORACLE = f"""
WITH dt AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
bg AS (SELECT doc_id, p[1] AS w1, p[2] AS w2
       FROM (SELECT doc_id, unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS p FROM dt)),
uni AS (SELECT tok, count(*) AS c FROM (SELECT unnest(toks) AS tok FROM dt) GROUP BY tok),
total AS (SELECT SUM(c) AS n FROM uni),
bi AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
scored AS (
  SELECT g.doc_id,
         ln({_BLM_LAM} * b.c12 / u1.c + {1.0 - _BLM_LAM} * u2.c / t.n) AS lp
  FROM bg g JOIN bi b ON b.w1 = g.w1 AND b.w2 = g.w2
  JOIN uni u1 ON u1.tok = g.w1
  JOIN uni u2 ON u2.tok = g.w2
  CROSS JOIN total t
)
SELECT doc_id, CAST(count(*) AS INTEGER) AS n_bigrams, ROUND(AVG(lp), 4) AS avg_logprob
FROM scored GROUP BY doc_id
"""


@register("corpus_bigram_logprob", _BLM_ORACLE, "textstats", "pipeline")
def q_corpus_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.lm import bigram_interpolated_logprob

    docs = load(spark, sf_dir, "documents")
    return bigram_interpolated_logprob(docs, lam=_BLM_LAM)


# -- per-source quota cap (web-curation "max N per domain") -------------------

_CAP_N = 20

_CAP_ORACLE = f"""
SELECT doc_id, source, CAST(rk AS INTEGER) AS rk FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY sha256('cap|' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
) WHERE rk <= {_CAP_N}
"""


@register("corpus_source_cap", _CAP_ORACLE, "sampling", "pipeline")
def q_corpus_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.packing import per_group_cap

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return per_group_cap(docs, "source", "doc_id", _CAP_N).select("doc_id", "source", "rk")


# -- trailing z-score anomaly flags over daily event counts -------------------

_ANOM_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, day, cnt,
         AVG(cnt) OVER win AS mu, STDDEV_POP(cnt) OVER win AS sigma,
         COUNT(cnt) OVER win AS np
  FROM daily
  WINDOW win AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, CAST(day AS TIMESTAMP) AS day, CAST(cnt AS BIGINT) AS cnt,
       CASE WHEN np >= 3 THEN ROUND(mu, 6) END AS mu,
       CASE WHEN np >= 3 THEN ROUND(sigma, 6) END AS sigma,
       CASE WHEN np >= 3 AND sigma > 0 THEN ROUND((cnt - mu) / sigma, 4) END AS z,
       COALESCE(np >= 3 AND sigma > 0 AND abs((cnt - mu) / sigma) > 2.0, FALSE) AS is_anomaly
FROM w
"""


@register("events_anomaly_zscore", _ANOM_ORACLE, "temporal", "relational")
def q_events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.anomaly import trailing_zscore

    ev = load(spark, sf_dir, "events")
    return trailing_zscore(ev, "event_type", "ts", window=7, min_prior=3, threshold=2.0)


# -- triangle counting over the co-ordered-parts graph ------------------------

_TRI_ORACLE = """
WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS a FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
e AS (SELECT DISTINCT m1.a AS a, m2.a AS b FROM m m1 JOIN m m2 ON m1.g = m2.g AND m1.a < m2.a),
w AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1 JOIN e e2 ON e1.b = e2.a),
t AS (SELECT count(*) AS n_triangles FROM w JOIN e ON e.a = w.x AND e.b = w.z)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       CAST(t.n_triangles AS BIGINT) AS n_triangles
FROM t
"""


@register("parts_triangle_count", _TRI_ORACLE, "graph", "relational")
def q_parts_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.graph import triangle_count, undirected_edges

    li = (
        load(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_partkey")
    )
    edges = undirected_edges(li, item_col="l_partkey", group_col="l_orderkey")
    return triangle_count(edges)


# -- winsorized robust scaling fences per event type --------------------------

_WINS_ORACLE = """
WITH f AS (
  SELECT event_type,
         quantile_cont(value::DOUBLE, 0.05) AS p_lo,
         quantile_cont(value::DOUBLE, 0.95) AS p_hi
  FROM events GROUP BY event_type
)
SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
       ROUND(ANY_VALUE(f.p_lo), 6) AS p_lo, ROUND(ANY_VALUE(f.p_hi), 6) AS p_hi,
       CAST(SUM(CASE WHEN e.value < f.p_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
       CAST(SUM(CASE WHEN e.value > f.p_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
       ROUND(AVG(LEAST(GREATEST(e.value::DOUBLE, f.p_lo), f.p_hi)), 6) AS mean_winsorized
FROM events e JOIN f USING (event_type)
GROUP BY e.event_type
"""


@register("events_value_winsorized", _WINS_ORACLE, "relational", "governance")
def q_events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.robust import winsorize_stats

    ev = load(spark, sf_dir, "events")
    return winsorize_stats(ev, "event_type", "value", lo=0.05, hi=0.95)


# -- chi-square independence: lang x source -----------------------------------

_CHI2_ORACLE = """
WITH cells AS (SELECT lang AS a, source AS b, count(*) AS o FROM documents GROUP BY 1, 2),
ra AS (SELECT a, SUM(o) AS ra FROM cells GROUP BY a),
cb AS (SELECT b, SUM(o) AS cb FROM cells GROUP BY b),
tot AS (SELECT SUM(o) AS n,
               count(DISTINCT a) + MAX(CASE WHEN a IS NULL THEN 1 ELSE 0 END) AS r,
               count(DISTINCT b) + MAX(CASE WHEN b IS NULL THEN 1 ELSE 0 END) AS c
        FROM cells),
e AS (
  SELECT COALESCE(c.o, 0) AS o, ra.ra * cb.cb / tot.n AS exp, tot.n, tot.r, tot.c
  FROM ra CROSS JOIN cb
  LEFT JOIN cells c ON c.a IS NOT DISTINCT FROM ra.a AND c.b IS NOT DISTINCT FROM cb.b
  CROSS JOIN tot
)
SELECT CAST(n AS BIGINT) AS n, CAST(r AS INTEGER) AS r, CAST(c AS INTEGER) AS c,
       ROUND(SUM(pow(o - exp, 2) / exp), 6) AS chi2,
       CAST((r - 1) * (c - 1) AS INTEGER) AS dof,
       CASE WHEN LEAST(r - 1, c - 1) > 0
            THEN ROUND(sqrt(SUM(pow(o - exp, 2) / exp) / (n * LEAST(r - 1, c - 1))), 6)
       END AS cramers_v
FROM e GROUP BY n, r, c
"""


@register("corpus_lang_source_chi2", _CHI2_ORACLE, "governance", "textstats", "pipeline")
def q_corpus_lang_source_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.assoc import crosstab_chi2

    docs = load(spark, sf_dir, "documents")
    return crosstab_chi2(docs, "lang", "source")


# -- PMI collocations (Church & Hanks 1990) -----------------------------------

_PMI_MIN = 5
_PMI_K = 20

_PMI_ORACLE = f"""
WITH dt AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
bg AS (SELECT p[1] AS w1, p[2] AS w2
       FROM (SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS p FROM dt)),
bi AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2 HAVING count(*) >= {_PMI_MIN}),
uni AS (SELECT tok, count(*) AS c FROM (SELECT unnest(toks) AS tok FROM dt) GROUP BY tok),
total AS (SELECT SUM(c) AS n FROM uni)
SELECT b.w1, b.w2, CAST(b.c12 AS BIGINT) AS pair_count,
       ROUND(ln(b.c12 * t.n / (u1.c * u2.c)), 6) AS pmi
FROM bi b JOIN uni u1 ON u1.tok = b.w1 JOIN uni u2 ON u2.tok = b.w2 CROSS JOIN total t
ORDER BY pmi DESC, w1, w2
LIMIT {_PMI_K}
"""


@register("corpus_collocations_pmi", _PMI_ORACLE, "textstats", "pipeline")
def q_corpus_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.assoc import collocation_pmi

    docs = load(spark, sf_dir, "documents")
    return collocation_pmi(docs, min_count=_PMI_MIN, k=_PMI_K)


# -- first-order Markov transition matrix over user event sequences -----------

_MARKOV_ORACLE = """
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
),
pairs AS (
  SELECT event_type AS src, nxt AS dst, count(*) AS n
  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
),
rt AS (SELECT src, SUM(n) AS tot FROM pairs GROUP BY src)
SELECT pr.src, pr.dst, CAST(pr.n AS BIGINT) AS n, ROUND(pr.n / rt.tot, 6) AS p
FROM pairs pr JOIN rt USING (src)
"""


@register("events_markov_transitions", _MARKOV_ORACLE, "temporal", "relational")
def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.sequence import markov_transitions

    ev = load(spark, sf_dir, "events")
    return markov_transitions(ev)


# -- held-out bigram perplexity: train on src!=src0, score src0 ---------------

_HOPPL_LAM = 0.7

_HOPPL_ORACLE = f"""
WITH tr AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE source <> 'src0'),
ev AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE source = 'src0'),
uni AS (SELECT tok, count(*) AS c FROM (SELECT unnest(toks) AS tok FROM tr) GROUP BY tok),
consts AS (SELECT SUM(c) AS n_train, count(*) AS v_train FROM uni),
bi AS (SELECT p[1] AS w1, p[2] AS w2, count(*) AS c12
       FROM (SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS p FROM tr)
       GROUP BY 1, 2),
eg AS (SELECT doc_id, p[1] AS w1, p[2] AS w2
       FROM (SELECT doc_id, unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS p FROM ev)),
scored AS (
  SELECT e.doc_id,
         ln({_HOPPL_LAM} * COALESCE(b.c12 / u1.c, 0.0)
            + {1.0 - _HOPPL_LAM} * (COALESCE(u2.c, 0) + 1.0)
              / (t.n_train + t.v_train + 1.0)) AS lp
  FROM eg e
  LEFT JOIN bi b ON b.w1 = e.w1 AND b.w2 = e.w2
  LEFT JOIN uni u1 ON u1.tok = e.w1
  LEFT JOIN uni u2 ON u2.tok = e.w2
  CROSS JOIN consts t
)
SELECT doc_id, CAST(count(*) AS INTEGER) AS n_bigrams, ROUND(AVG(lp), 4) AS avg_logprob,
       ROUND(exp(-AVG(lp)), 4) AS ppl
FROM scored GROUP BY doc_id
"""


@register("corpus_bigram_heldout_ppl", _HOPPL_ORACLE, "textstats", "pipeline")
def q_corpus_bigram_heldout_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.lm import bigram_heldout_logprob

    docs = load(spark, sf_dir, "documents")
    train = docs.where(F.col("source") != "src0")
    ev = docs.where(F.col("source") == "src0")
    return bigram_heldout_logprob(train, ev, lam=_HOPPL_LAM)


# -- label propagation communities on the co-order graph ----------------------

_LPA_ITERS = 4

_TRI_GRAPH_CTE = """
m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS a FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
e AS (SELECT DISTINCT m1.a AS a, m2.a AS b FROM m m1 JOIN m m2 ON m1.g = m2.g AND m1.a < m2.a)
"""


def _lpa_oracle() -> str:
    stages = ["""
nodes AS (SELECT DISTINCT v AS node FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)),
it0 AS (SELECT node, node AS label FROM nodes)"""]
    for k in range(1, _LPA_ITERS + 1):
        stages.append(f"""
nb{k} AS (SELECT e.a AS node, l.label FROM e JOIN it{k - 1} l ON l.node = e.b
          UNION ALL
          SELECT e.b AS node, l.label FROM e JOIN it{k - 1} l ON l.node = e.a),
it{k} AS (SELECT node, label FROM (
  SELECT node, label,
         row_number() OVER (PARTITION BY node ORDER BY count(*) DESC, label ASC) AS rn
  FROM nb{k} GROUP BY node, label) WHERE rn = 1)""")
    return f"""
WITH {_TRI_GRAPH_CTE},{",".join(stages)}
SELECT CAST(label AS BIGINT) AS community, CAST(count(*) AS BIGINT) AS size
FROM it{_LPA_ITERS}
GROUP BY label ORDER BY size DESC, community ASC LIMIT 10
"""


@register("parts_label_propagation", _lpa_oracle(), "graph", "relational")
def q_parts_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.graph import label_propagation, undirected_edges

    li = (
        load(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_partkey")
    )
    edges = undirected_edges(li, item_col="l_partkey", group_col="l_orderkey")
    labels = label_propagation(edges, iters=_LPA_ITERS)
    return (
        labels.groupBy(F.col("label").cast("long").alias("community"))
        .agg(F.count("*").alias("size"))
        .orderBy(F.col("size").desc(), F.col("community").asc())
        .limit(10)
    )


# -- CUSUM changepoint screen over daily event counts -------------------------

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type AS grp, date_trunc('day', ts) AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
means AS (SELECT grp, AVG(cnt) AS mu, count(*) AS n_days FROM daily GROUP BY grp),
s AS (
  SELECT d.grp, d.day, m.mu, m.n_days,
         SUM(d.cnt - m.mu) OVER (PARTITION BY d.grp ORDER BY d.day
                                 ROWS UNBOUNDED PRECEDING) AS cusum
  FROM daily d JOIN means m USING (grp)
)
SELECT grp AS event_type, CAST(n_days AS BIGINT) AS n_days, ROUND(mu, 6) AS mean_cnt,
       ROUND(abs(cusum), 6) AS max_abs_cusum, CAST(day AS TIMESTAMP) AS cp_day
FROM (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY abs(cusum) DESC, day ASC) AS rn
      FROM s)
WHERE rn = 1
"""


@register("events_cusum_changepoint", _CUSUM_ORACLE, "temporal", "relational")
def q_events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.anomaly import cusum_changepoint

    ev = load(spark, sf_dir, "events")
    return cusum_changepoint(ev, "event_type", "ts")


# -- Theil-Sen robust daily trend ---------------------------------------------

_TS_ORACLE = """
WITH daily AS (
  SELECT event_type AS grp, date_trunc('day', ts) AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
mins AS (SELECT grp, MIN(day) AS d0, count(*) AS n_days FROM daily GROUP BY grp),
idx AS (SELECT d.grp, m.n_days, date_diff('day', m.d0, d.day) AS di, d.cnt
        FROM daily d JOIN mins m USING (grp)),
slopes AS (
  SELECT a.grp, a.n_days, (b.cnt - a.cnt) * 1.0 / (b.di - a.di) AS s
  FROM idx a JOIN idx b ON a.grp = b.grp AND a.di < b.di
)
SELECT grp AS event_type, CAST(n_days AS BIGINT) AS n_days, ROUND(median(s), 6) AS slope
FROM slopes GROUP BY grp, n_days
"""


@register("events_theil_sen_trend", _TS_ORACLE, "temporal", "relational")
def q_events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.robust import theil_sen_trend

    ev = load(spark, sf_dir, "events")
    return theil_sen_trend(ev, "event_type", "ts")


# -- the composed curation funnel: filter → dedup → cap → sample --------------
#
# The end-to-end recipe a corpus curator actually runs, as ONE declarative
# plan: quality gate (length + language) → exact dedup (keep the smallest
# id per content hash) → per-source quota cap (sha priority) → 50 %
# deterministic hash draw — reported as a per-source funnel so each
# stage's attrition is visible. Every stage is a Column expression or a
# partitioned window; the whole funnel is five aggregates joined on
# source. Demonstrates that the primitives compose without materializing
# intermediates.

_FUNNEL_CAP = 20
_FUNNEL_PCT = 50

_FUNNEL_ORACLE = f"""
WITH base AS (SELECT doc_id, source, n_chars, lang, text FROM documents),
filt AS (
  SELECT doc_id, source, sha256(text) AS h FROM base
  WHERE n_chars BETWEEN 100 AND 10000 AND lang IN ('en', 'de')
),
canon AS (
  SELECT doc_id, source FROM (
    SELECT doc_id, source, MIN(doc_id) OVER (PARTITION BY h) AS minid FROM filt
  ) WHERE doc_id = minid
),
capped AS (
  SELECT doc_id, source FROM (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source
                              ORDER BY sha256('cap|' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
    FROM canon
  ) WHERE rk <= {_FUNNEL_CAP}
),
sampled AS (
  SELECT doc_id, source FROM capped
  WHERE CAST('0x' || substring(sha256(CAST(doc_id AS VARCHAR) || '|funnel'), 1, 15) AS BIGINT)
        % 100 < {_FUNNEL_PCT}
)
SELECT b.source,
       CAST(count(*) AS BIGINT) AS n_input,
       CAST(COALESCE(ANY_VALUE(f.n), 0) AS BIGINT) AS n_filtered,
       CAST(COALESCE(ANY_VALUE(c.n), 0) AS BIGINT) AS n_canonical,
       CAST(COALESCE(ANY_VALUE(p.n), 0) AS BIGINT) AS n_capped,
       CAST(COALESCE(ANY_VALUE(s.n), 0) AS BIGINT) AS n_sampled
FROM base b
LEFT JOIN (SELECT source, count(*) AS n FROM filt GROUP BY source) f USING (source)
LEFT JOIN (SELECT source, count(*) AS n FROM canon GROUP BY source) c USING (source)
LEFT JOIN (SELECT source, count(*) AS n FROM capped GROUP BY source) p USING (source)
LEFT JOIN (SELECT source, count(*) AS n FROM sampled GROUP BY source) s USING (source)
GROUP BY b.source
"""


@register("corpus_curation_funnel", _FUNNEL_ORACLE, "pipeline", "sampling", "dedup")
def q_corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", "n_chars", "lang", "text")
    filt = base.where(
        F.col("n_chars").between(100, 10000) & F.col("lang").isin("en", "de")
    ).withColumn("h", F.sha2(F.col("text"), 256))
    canon = (
        filt.withColumn("minid", F.min("doc_id").over(Window.partitionBy("h")))
        .where(F.col("doc_id") == F.col("minid"))
        .select("doc_id", "source")
    )
    pri = F.sha2(F.concat(F.lit("cap|"), F.col("doc_id").cast("string")), 256)
    capped = (
        canon.withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("source").orderBy(pri.asc(), F.col("doc_id").asc())),
        )
        .where(F.col("rk") <= _FUNNEL_CAP)
        .select("doc_id", "source")
    )
    draw = F.pmod(
        F.conv(
            F.substring(
                F.sha2(F.concat(F.col("doc_id").cast("string"), F.lit("|funnel")), 256), 1, 15
            ),
            16,
            10,
        ).cast("long"),
        F.lit(100),
    )
    sampled = capped.where(draw < _FUNNEL_PCT)

    def per_source(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("source").agg(F.count("*").alias(name))

    return (
        per_source(base, "n_input")
        .join(per_source(filt, "n_filtered"), "source", "left")
        .join(per_source(canon, "n_canonical"), "source", "left")
        .join(per_source(capped, "n_capped"), "source", "left")
        .join(per_source(sampled, "n_sampled"), "source", "left")
        .select(
            "source",
            "n_input",
            F.coalesce("n_filtered", F.lit(0)).alias("n_filtered"),
            F.coalesce("n_canonical", F.lit(0)).alias("n_canonical"),
            F.coalesce("n_capped", F.lit(0)).alias("n_capped"),
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
        )
    )


# -- additive seasonal decomposition of daily event counts --------------------

_DECOMP_ORACLE = """
WITH daily AS (
  SELECT event_type AS grp, date_trunc('day', ts) AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT grp, day, cnt,
         AVG(cnt) OVER (PARTITION BY grp ORDER BY day
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
         isodow(day) - 1 AS dow
  FROM daily
),
seas AS (SELECT grp, dow, AVG(cnt - trend) AS seasonal FROM t GROUP BY grp, dow)
SELECT t.grp AS event_type, CAST(t.day AS TIMESTAMP) AS day, CAST(t.cnt AS BIGINT) AS cnt,
       ROUND(t.trend, 6) AS trend, ROUND(s.seasonal, 4) AS seasonal,
       ROUND(t.cnt - t.trend - s.seasonal, 4) AS residual
FROM t JOIN seas s ON s.grp = t.grp AND s.dow = t.dow
"""


@register("events_seasonal_decomposition", _DECOMP_ORACLE, "temporal", "relational")
def q_events_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.anomaly import seasonal_decomposition

    ev = load(spark, sf_dir, "events")
    return seasonal_decomposition(ev, "event_type", "ts", period_window=3)


# -- per-doc TF-IDF keywords --------------------------------------------------

_KW_K = 5

_KW_ORACLE = f"""
WITH tf AS (
  SELECT doc_id, tok AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents) GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
nn AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT t.doc_id, t.term, ROUND(t.tf * ln(nn.n / d.df), 6) AS score
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN nn
)
SELECT doc_id, CAST(rk AS INTEGER) AS rank, term, score FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
  FROM scored
) WHERE rk <= {_KW_K}
"""


@register("corpus_doc_keywords", _KW_ORACLE, "textstats", "lexical", "pipeline")
def q_corpus_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.functions.text import tokens

    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    nn = docs.agg(F.count("*").alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(nn))
        .select(
            "doc_id", "term",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KW_K)
        .select("doc_id", "rank", "term", "score")
    )


# -- nearest-centroid classification self-eval --------------------------------

_NC_ORACLE = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
idx AS (SELECT unnest(range(1, 65)) AS i),
m AS (SELECT label, i.i AS i, ROUND(AVG(e.v[i.i]), 8) AS m FROM e, idx i GROUP BY label, i.i),
c AS (SELECT label AS pred, list(m ORDER BY i) AS centroid FROM m GROUP BY label),
s AS (
  SELECT e.vec_id, e.label, c.pred,
         list_dot_product(e.v, c.centroid)
         / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.centroid, c.centroid))) AS sim
  FROM e CROSS JOIN c
),
b AS (SELECT vec_id, label, pred FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, pred ASC) AS rn
        FROM s) WHERE rn = 1)
SELECT label AS true_label, pred AS pred_label, CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY 1, 2
"""


@register("embedding_nearest_centroid_eval", _NC_ORACLE, "similarity", "governance", "pipeline")
def q_embedding_nearest_centroid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.centroids import nearest_centroid_confusion

    embs = load(spark, sf_dir, "embeddings")
    return nearest_centroid_confusion(embs)


# -- item-item similarity from co-order counts (cheap CF) ---------------------

_ITEMSIM_K = 20

_ITEMSIM_ORACLE = f"""
WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS a FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
pc AS (SELECT a, count(*) AS c FROM m GROUP BY a),
co AS (SELECT m1.a AS a, m2.a AS b, count(*) AS c_ab
       FROM m m1 JOIN m m2 ON m1.g = m2.g AND m1.a < m2.a GROUP BY m1.a, m2.a)
SELECT co.a AS item_a, co.b AS item_b, CAST(co.c_ab AS BIGINT) AS n_co,
       ROUND(co.c_ab / sqrt(pa.c * pb.c), 6) AS sim
FROM co JOIN pc pa ON pa.a = co.a JOIN pc pb ON pb.a = co.b
ORDER BY sim DESC, item_a ASC, item_b ASC
LIMIT {_ITEMSIM_K}
"""


@register("parts_item_similarity", _ITEMSIM_ORACLE, "graph", "similarity", "relational")
def q_parts_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item cosine over order-membership vectors — sim(a,b) =
    c_ab/√(c_a·c_b), the memory-based collaborative-filtering kernel.
    Co-counts come from the group-blocked self-join (order-bounded, never
    corpus-quadratic); item counts broadcast back."""
    from vector_mcp_spark.operators.graph import co_membership_counts, membership_counts

    li = (
        load(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_partkey")
    )
    co = co_membership_counts(li, item_col="l_partkey", group_col="l_orderkey")
    pc = membership_counts(li, item_col="l_partkey", group_col="l_orderkey")
    pa = pc.select(F.col("a"), F.col("c").alias("ca"))
    pb = pc.select(F.col("a").alias("b"), F.col("c").alias("cb"))
    return (
        co.join(F.broadcast(pa), "a")
        .join(F.broadcast(pb), "b")
        .select(
            F.col("a").alias("item_a"),
            F.col("b").alias("item_b"),
            F.col("c_ab").alias("n_co"),
            F.round(F.col("c_ab") / F.sqrt(F.col("ca") * F.col("cb")), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("item_a").asc(), F.col("item_b").asc())
        .limit(_ITEMSIM_K)
    )


# -- diagonal-Mahalanobis embedding outliers ----------------------------------
#
# The multivariate cousin of the per-column z-score: score = Σ_i ((v_i −
# μ_i)/σ_i)², with μ/σ the corpus per-dim stats (8 dp, the centroid
# convention). Both engines fold the sum in INDEX ORDER (Spark `aggregate`
# HOF / DuckDB list_sum over list_transform) from identical rounded
# inputs, so the scores match bit-for-bit well under the 6 dp rounding.

_MAHA_K = 20

_MAHA_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
idx AS (SELECT unnest(range(1, 65)) AS i),
st AS (SELECT i.i AS i, ROUND(AVG(e.v[i.i]), 8) AS mu,
              ROUND(STDDEV_POP(e.v[i.i]), 8) AS sd
       FROM e, idx i GROUP BY i.i),
params AS (SELECT list(mu ORDER BY i) AS mus, list(sd ORDER BY i) AS sds FROM st),
scored AS (
  SELECT e.vec_id,
         list_sum(list_transform(range(1, 65),
           i -> pow((e.v[i] - p.mus[i]) / p.sds[i], 2))) AS score
  FROM e CROSS JOIN params p
)
SELECT vec_id, CAST(rk AS INTEGER) AS rank, ROUND(score, 6) AS score FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, vec_id ASC) AS rk FROM scored
) WHERE rk <= {_MAHA_K}
"""


@register("embedding_diag_mahalanobis", _MAHA_ORACLE, "similarity", "governance", "pipeline")
def q_embedding_diag_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = load(spark, sf_dir, "embeddings")
    e = embs.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    st = (
        e.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(
            F.round(F.avg("x"), 8).alias("mu"),
            F.round(F.stddev_pop("x"), 8).alias("sd"),
        )
    )
    params = st.groupBy().agg(
        F.transform(F.array_sort(F.collect_list(F.struct("i", "mu"))), lambda s: s["mu"]).alias("mus"),
        F.transform(F.array_sort(F.collect_list(F.struct("i", "sd"))), lambda s: s["sd"]).alias("sds"),
    )
    scored = e.crossJoin(F.broadcast(params)).select(
        "vec_id",
        F.aggregate(
            F.zip_with(
                F.zip_with(F.col("v"), F.col("mus"), lambda x, mu: x - mu),
                F.col("sds"),
                lambda d, sd: (d / sd) * (d / sd),
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ).alias("score"),
    )
    from pyspark.sql import Window

    # rank window runs over the already-LIMITed 20-row set (bounded, the
    # plan guard's sanctioned unpartitioned-window shape)
    return (
        scored.orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(_MAHA_K)
        .select(
            "vec_id",
            F.row_number()
            .over(Window.orderBy(F.col("score").desc(), F.col("vec_id").asc()))
            .alias("rank"),
            F.round("score", 6).alias("score"),
        )
    )


# -- sorted-neighborhood near-dup (third blocking family) ---------------------

_SN_WINDOW = 10
_SN_T = 0.5
_SN_PREFIX = 12


def _sn_oracle() -> str:
    nrm = "rpad(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 12, '0')"
    terms = []
    for i in range(_SN_PREFIX):
        c = f"substring(nrm, {i + 1}, 1)"
        code = f"(CASE WHEN {c} BETWEEN '0' AND '9' THEN ascii({c}) - 48 ELSE ascii({c}) - 87 END)"
        terms.append(f"CAST({36 ** (_SN_PREFIX - 1 - i)} AS BIGINT) * {code}")
    keynum = " + ".join(terms)
    return f"""
WITH nn AS (SELECT doc_id, {nrm} AS nrm, list_distinct({_TOKS}) AS toks FROM documents),
kk AS (SELECT doc_id, toks, {keynum} AS k FROM nn),
ranked AS (SELECT doc_id, toks, row_number() OVER (ORDER BY k, doc_id) AS rk FROM kk),
cand AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb,
         len(list_intersect(a.toks, b.toks)) AS inter,
         len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS un
  FROM ranked a JOIN ranked b
    ON b.rk > a.rk AND b.rk <= a.rk + {_SN_WINDOW}
)
SELECT id_a, id_b, jaccard FROM (
  SELECT LEAST(ida, idb) AS id_a, GREATEST(ida, idb) AS id_b,
         ROUND(CAST(inter AS DOUBLE) / un, 6) AS jaccard
  FROM cand WHERE un > 0
) WHERE jaccard >= {_SN_T}
"""


@register("dedup_sorted_neighborhood", _sn_oracle(), "dedup", "pipeline")
def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.dedup import sorted_neighborhood_pairs

    docs = load(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(
        docs, window=_SN_WINDOW, threshold=_SN_T,
        id_col="doc_id", content_col="text", prefix_len=_SN_PREFIX,
    )


# -- per-source quality percentile normalization ------------------------------
#
# Quality scores are not comparable across sources (a mid-tier web page
# outscores a top-tier forum post on raw heuristics); rank-normalizing
# WITHIN source makes one global threshold meaningful. percent_rank over a
# source-partitioned window — group-bounded, no global sort.

from vector_mcp_spark.suite_pipeline import _TEXT_STATS_ORACLE  # noqa: E402

_QPCT_ORACLE = f"""
WITH stats AS ({_TEXT_STATS_ORACLE}),
j AS (SELECT s.doc_id AS doc_id, d.source, s.quality
      FROM stats s JOIN documents d ON d.doc_id = s.doc_id)
SELECT doc_id, source, quality,
       ROUND(percent_rank() OVER (PARTITION BY source ORDER BY quality, doc_id), 6)
         AS quality_pct
FROM j
"""


@register("corpus_quality_percentile_by_source", _QPCT_ORACLE, "textstats", "sampling", "pipeline")
def q_corpus_quality_percentile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from vector_mcp_spark.operators.textstats import text_stats

    docs = load(spark, sf_dir, "documents")
    stats = text_stats(
        docs.select("doc_id", F.col("text").alias("content")), id_col="doc_id", content_col="content"
    ).select("doc_id", "quality")
    j = stats.join(docs.select("doc_id", "source"), "doc_id")
    w = Window.partitionBy("source").orderBy(F.col("quality").asc(), F.col("doc_id").asc())
    return j.select(
        "doc_id", "source", "quality",
        F.round(F.percent_rank().over(w), 6).alias("quality_pct"),
    )


# -- skyline / Pareto frontier (preference query) -----------------------------
#
# The oracle deliberately uses a DIFFERENT exact mechanism than the Spark
# two-phase mapInPandas: the 2-D window formulation (group max per price,
# running max over strictly higher prices) — two independent algorithms
# must land on the identical frontier.

_SKY_ORACLE = """
WITH pts AS (
  SELECT l_orderkey * 10 + l_linenumber AS id,
         l_extendedprice::DOUBLE AS price, l_discount::DOUBLE AS discount
  FROM lineitem
),
g AS (SELECT price, MAX(discount) AS gmax FROM pts GROUP BY price),
o AS (SELECT price, gmax,
             MAX(gmax) OVER (ORDER BY price DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_before
      FROM g),
sky AS (SELECT price, gmax FROM o WHERE best_before IS NULL OR gmax > best_before)
SELECT p.id, p.price, p.discount
FROM pts p JOIN sky s ON p.price = s.price AND p.discount = s.gmax
"""


@register("lineitem_price_discount_skyline", _SKY_ORACLE, "relational", "governance")
def q_lineitem_price_discount_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.skyline import skyline

    li = load(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_discount").alias("discount"),
    )
    return skyline(li, maximize=["price", "discount"], id_col="id")


# -- trajectory similarity search (REPOSE/EDBT theme from PAPERS.md) ----------
#
# Each user's trajectory = the first-letter string of their first
# _TRAJ_CAP events in time order; similarity = Levenshtein distance to a
# query pattern; output the top-k closest users. One partitioned window
# caps the sequence (state bounded per user), one map-side levenshtein —
# the "similarity search over sequences" family next to the vector and
# lexical ones. Both engines implement the same unit-cost edit distance.

_TRAJ_CAP = 50
_TRAJ_QUERY = "cpcvcpcv"  # click,purchase,click,view,...
_TRAJ_K = 10

_TRAJ_ORACLE = f"""
WITH seq AS (
  SELECT user_id, ts, event_id, substring(event_type, 1, 1) AS ch,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
traj AS (
  SELECT user_id, string_agg(ch, '' ORDER BY rn) AS trajectory
  FROM seq WHERE rn <= {_TRAJ_CAP} GROUP BY user_id
)
SELECT user_id, trajectory,
       CAST(levenshtein(trajectory, '{_TRAJ_QUERY}') AS INTEGER) AS edit_dist
FROM traj
ORDER BY edit_dist ASC, user_id ASC
LIMIT {_TRAJ_K}
"""


@register("events_trajectory_similarity", _TRAJ_ORACLE, "temporal", "search", "relational")
def q_events_trajectory_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    seq = ev.select(
        "user_id",
        F.substring("event_type", 1, 1).alias("ch"),
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") <= _TRAJ_CAP)
    traj = seq.groupBy("user_id").agg(
        F.concat_ws(
            "", F.transform(F.array_sort(F.collect_list(F.struct("rn", "ch"))), lambda s: s["ch"])
        ).alias("trajectory")
    )
    return (
        traj.select(
            "user_id",
            "trajectory",
            F.levenshtein("trajectory", F.lit(_TRAJ_QUERY)).cast("int").alias("edit_dist"),
        )
        .orderBy(F.col("edit_dist").asc(), F.col("user_id").asc())
        .limit(_TRAJ_K)
    )


# -- top-k influential communities (PAPERS.md VLDB'18 theme) ------------------
#
# Communities from label propagation, influence from weighted PageRank,
# composed: score(community) = Σ member pagerank. The oracle regenerates
# BOTH unrolled iterative computations (4 LPA rounds + 3 PR iterations)
# over the shared 1996 co-order graph and must agree with Spark's two
# checkpointed loops end-to-end.

_TCOMM_K = 5


def _top_communities_oracle() -> str:
    lpa = ["""
nodes AS (SELECT DISTINCT v AS node FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)),
lp0 AS (SELECT node, node AS label FROM nodes)"""]
    for k in range(1, _LPA_ITERS + 1):
        lpa.append(f"""
nb{k} AS (SELECT e.a AS node, l.label FROM e JOIN lp{k - 1} l ON l.node = e.b
          UNION ALL
          SELECT e.b AS node, l.label FROM e JOIN lp{k - 1} l ON l.node = e.a),
lp{k} AS (SELECT node, label FROM (
  SELECT node, label,
         row_number() OVER (PARTITION BY node ORDER BY count(*) DESC, label ASC) AS rn
  FROM nb{k} GROUP BY node, label) WHERE rn = 1)""")
    pr = [f"""
de AS (SELECT m1.a AS src, m2.a AS dst, count(*) AS w
       FROM m m1 JOIN m m2 ON m1.g = m2.g AND m1.a <> m2.a GROUP BY m1.a, m2.a),
nt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
ow AS (SELECT src, SUM(w) AS out_w FROM de GROUP BY src),
frac AS (SELECT de.src, de.dst, CAST(de.w AS DOUBLE) / ow.out_w AS f FROM de JOIN ow USING (src)),
it0 AS (SELECT node, 1.0 / nt.n AS pr FROM nodes CROSS JOIN nt)"""]
    for k in range(1, _PR_ITERS + 1):
        pr.append(f"""
it{k} AS (
  SELECT nodes.node,
         (1 - {_PR_DAMPING}) / nt.n + {_PR_DAMPING} * COALESCE(inf.s, 0) AS pr
  FROM nodes CROSS JOIN nt
  LEFT JOIN (SELECT f.dst, SUM(p.pr * f.f) AS s
             FROM frac f JOIN it{k - 1} p ON p.node = f.src GROUP BY f.dst) inf
    ON inf.dst = nodes.node
)""")
    return f"""
WITH {_TRI_GRAPH_CTE},{",".join(lpa)},{",".join(pr)}
SELECT CAST(l.label AS BIGINT) AS community, CAST(count(*) AS BIGINT) AS n_members,
       ROUND(SUM(p.pr), 6) AS score
FROM lp{_LPA_ITERS} l JOIN it{_PR_ITERS} p USING (node)
GROUP BY l.label
ORDER BY score DESC, community ASC
LIMIT {_TCOMM_K}
"""


@register("parts_top_communities", _top_communities_oracle(), "graph", "relational")
def q_parts_top_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.graph import (
        co_membership_counts,
        label_propagation,
        pagerank,
    )

    li = (
        load(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_partkey")
    )
    # ONE membership self-join feeds both views of the graph: the
    # undirected edge list for LPA and (weights are symmetric) the
    # directed weighted list for PageRank as canonical ∪ swapped
    co = co_membership_counts(li, item_col="l_partkey", group_col="l_orderkey").localCheckpoint(
        eager=True
    )
    labels = label_propagation(co.select("a", "b"), iters=_LPA_ITERS)
    directed = co.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), F.col("c_ab").alias("w")
    ).unionAll(
        co.select(F.col("b").alias("src"), F.col("a").alias("dst"), F.col("c_ab").alias("w"))
    )
    pr = pagerank(directed, damping=_PR_DAMPING, iters=_PR_ITERS)
    return (
        labels.join(pr, "node")
        .groupBy(F.col("label").cast("long").alias("community"))
        .agg(F.count("*").alias("n_members"), F.round(F.sum("pr"), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("community").asc())
        .limit(_TCOMM_K)
    )


# -- Poisson bootstrap confidence intervals (Chamandy 2012) -------------------

_BOOT_B = 20


def _bootstrap_oracle() -> str:
    from vector_mcp_spark.operators.bootstrap import POISSON1_CDF

    case = "CASE " + " ".join(
        f"WHEN u < {POISSON1_CDF[k]} THEN {k}" for k in range(6)
    ) + " ELSE 6 END"
    return f"""
WITH reps AS (
  SELECT event_type AS grp, value::DOUBLE AS v, b.b AS b,
         CAST('0x' || substring(sha256(
           'boot|' || CAST(event_id AS VARCHAR) || '|d|' || CAST((b.b - 1) // 8 AS VARCHAR)),
           ((b.b - 1) % 8) * 8 + 1, 8)
           AS BIGINT) / 4294967296.0 AS u
  FROM events CROSS JOIN (SELECT unnest(range(1, {_BOOT_B + 1})) AS b) b
),
kk AS (SELECT grp, b, v, {case} AS k FROM reps),
rm AS (SELECT grp, b, SUM(k * v) / SUM(k) AS m FROM kk GROUP BY grp, b),
ci AS (SELECT grp, ROUND(quantile_cont(m, 0.05), 4) AS ci_lo,
              ROUND(quantile_cont(m, 0.95), 4) AS ci_hi
       FROM rm GROUP BY grp),
base AS (SELECT event_type AS grp, CAST(count(*) AS BIGINT) AS n,
                ROUND(AVG(value::DOUBLE), 4) AS mean
         FROM events GROUP BY 1)
SELECT base.grp AS event_type, base.n, base.mean, ci.ci_lo, ci.ci_hi
FROM base JOIN ci USING (grp)
"""


@register("events_bootstrap_mean_ci", _bootstrap_oracle(), "relational", "governance", "sketch")
def q_events_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.bootstrap import bootstrap_mean_ci

    ev = load(spark, sf_dir, "events").withColumn("_row_id", F.col("event_id"))
    return bootstrap_mean_ci(ev, "event_type", "value", replicates=_BOOT_B)


# -- changelog time-travel: snapshot AS OF a past timestamp -------------------
# Delta/Iceberg VERSION AS OF semantics over a raw upsert/delete append log
# (round-7 extension; sibling of events_snapshot_diff / events_scd2_intervals).
# op is derived deterministically so both engines see the same changelog:
# every 19th event is a delete of its user key, everything else an upsert.

_TT_ASOF = "2024-01-15 00:00:00"

_TT_ORACLE = f"""
WITH cut AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN event_id % 19 = 0 THEN 'delete' ELSE 'upsert' END AS op
  FROM events WHERE ts <= TIMESTAMP '{_TT_ASOF}'
),
ranked AS (
  SELECT user_id, event_id, event_type, value, op,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_versions
  FROM cut
)
SELECT user_id, event_id AS asof_event_id, event_type AS asof_event_type,
       ROUND(value, 4) AS asof_value, CAST(n_versions AS BIGINT) AS n_versions
FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


@register("events_time_travel", _TT_ORACLE, "cdc", "temporal")
def q_events_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruct per-user state AS OF the cut from the event changelog —
    one groupBy(user).max_by (map-side combinable, no window sort); users
    whose latest pre-cut operation is a delete are absent."""
    from datetime import datetime

    from vector_mcp_spark.operators.cdc import snapshot_asof

    ev = load(spark, sf_dir, "events").withColumn(
        "op",
        F.when(F.col("event_id") % 19 == 0, F.lit("delete")).otherwise(F.lit("upsert")),
    )
    snap = snapshot_asof(
        ev,
        asof=datetime(2024, 1, 15, 0, 0, 0),
        key_col="user_id",
        ts_col="ts",
        op_col="op",
        tiebreak_col="event_id",
        payload_cols=["event_id", "event_type", "value", "op"],
    )
    return snap.select(
        "user_id",
        F.col("event_id").alias("asof_event_id"),
        F.col("event_type").alias("asof_event_type"),
        F.round("value", 4).alias("asof_value"),
        "n_versions",
    )


# -- C4 repeated-span REMOVAL (the cut itself; span_novelty only scores) ------

_STRIP_N = 5

_STRIP_ORACLE = f"""
WITH dt AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
pos AS (
  SELECT doc_id, i,
         CAST('0x' || substring(sha256(
           array_to_string(toks[i + 1 : i + {_STRIP_N}], ' ')), 1, 15) AS BIGINT) AS h
  FROM dt, UNNEST(range(len(toks) - {_STRIP_N - 1})) AS t(i)
  WHERE len(toks) >= {_STRIP_N}
),
first_seen AS (SELECT h, min(doc_id) AS first_id FROM pos GROUP BY h),
strip AS (
  SELECT p.doc_id, p.i FROM pos p JOIN first_seen f USING (h)
  WHERE f.first_id < p.doc_id
),
tok AS (
  SELECT doc_id, i AS ti, toks[i + 1] AS tok, len(toks) AS n_tokens
  FROM dt, UNNEST(range(len(toks))) AS t(i)
),
kept AS (
  SELECT t.doc_id, t.ti, t.tok, t.n_tokens,
         COUNT(s.i) = 0 AS keep
  FROM tok t LEFT JOIN strip s
    ON s.doc_id = t.doc_id AND s.i BETWEEN t.ti - {_STRIP_N - 1} AND t.ti
  GROUP BY t.doc_id, t.ti, t.tok, t.n_tokens
)
SELECT doc_id AS id, CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       COALESCE(string_agg(tok, ' ' ORDER BY ti) FILTER (WHERE keep), '')
         AS clean_text
FROM kept GROUP BY doc_id
"""


@register("corpus_strip_repeated_spans", _STRIP_ORACLE, "dedup", "pipeline")
def q_corpus_strip_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 §2.2 cut: tokens covered by a span first seen in an EARLIER
    doc are removed; first copies survive. Positional 60-bit span hashes,
    two 8-byte-key shuffles, per-row HOF coverage mask — reconstruction
    never shuffles text."""
    from vector_mcp_spark.operators.novelty import strip_repeated_spans

    docs = load(spark, sf_dir, "documents")
    return strip_repeated_spans(docs, n=_STRIP_N, id_col="doc_id", text_col="text")


# -- mergeable log-histogram sketch quantiles ---------------------------------
# The quantile member of the sketch family (KMV/CMS/Bloom): DDSketch-style
# geometric bins with INTEGER-EXACT binning (bit-length octave + integer
# sub-bin — no libm, so no engine can flip a boundary value's bin).

_HQ_PS = (0.5, 0.95, 0.99)
_HQ_SCALE = 100
_HQ_SUB = 4

_HQ_ORACLE = f"""
WITH v AS (
  SELECT event_type, GREATEST(CAST(ROUND(value * {_HQ_SCALE}) AS BIGINT), 1) AS c
  FROM events
),
b AS (
  SELECT event_type,
         (length(bin(c)) - 1) AS e,
         CAST(FLOOR(c * {_HQ_SUB} / (1::BIGINT << (length(bin(c)) - 1))) AS BIGINT)
           - {_HQ_SUB} AS sub
  FROM v
),
hist AS (
  SELECT event_type, (e * {_HQ_SUB} + sub) AS bin_id, COUNT(*) AS cnt
  FROM b GROUP BY event_type, e * {_HQ_SUB} + sub
),
cum AS (
  SELECT event_type, bin_id, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin_id) AS _cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS _n
  FROM hist
),
probed AS (
  SELECT c.*, p.p, CAST(CEIL(p.p * c._n) AS BIGINT) AS _target
  FROM cum c CROSS JOIN (SELECT unnest([{", ".join(str(p) for p in _HQ_PS)}]::DOUBLE[]) AS p) p
),
hit AS (
  SELECT event_type, p, bin_id, cnt, _cum, _n, _target
  FROM (
    SELECT *, row_number() OVER (PARTITION BY event_type, p ORDER BY bin_id) AS rn
    FROM probed WHERE _cum >= _target
  ) WHERE rn = 1
)
SELECT event_type, p,
       ROUND((
         ((1::BIGINT << CAST(FLOOR(bin_id / {_HQ_SUB}) AS INT))::DOUBLE
            * (1.0 + (bin_id - FLOOR(bin_id / {_HQ_SUB}) * {_HQ_SUB}) / {float(_HQ_SUB)}))
         + (((1::BIGINT << CAST(FLOOR(bin_id / {_HQ_SUB}) AS INT))::DOUBLE
            * (1.0 + ((bin_id - FLOOR(bin_id / {_HQ_SUB}) * {_HQ_SUB}) + 1) / {float(_HQ_SUB)}))
            - ((1::BIGINT << CAST(FLOOR(bin_id / {_HQ_SUB}) AS INT))::DOUBLE
            * (1.0 + (bin_id - FLOOR(bin_id / {_HQ_SUB}) * {_HQ_SUB}) / {float(_HQ_SUB)})))
           * ((_target - (_cum - cnt)) / cnt)
       ) / {_HQ_SCALE}, 6) AS q_est
FROM hit
"""


@register("events_histogram_quantiles", _HQ_ORACLE, "sketch", "relational")
def q_events_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 per event type from the mergeable log-histogram sketch —
    bins are groupBy counts (map-side combinable, mergeable across shards);
    the quantile pass windows over ≤ ~bins rows per group, never the data."""
    from vector_mcp_spark.operators.sketches import histogram_quantiles, log_histogram

    ev = load(spark, sf_dir, "events")
    # strict=False: events.value includes exact zeros at sf0.1; both this
    # side and the oracle clamp them into the smallest bin with the SAME
    # GREATEST(round(v*scale), 1) expression, so parity holds bit-for-bit
    hist = log_histogram(
        ev, "value", ["event_type"], int_scale=_HQ_SCALE, sub_bins=_HQ_SUB, strict=False
    )
    return histogram_quantiles(
        hist, ["event_type"], ps=list(_HQ_PS), int_scale=_HQ_SCALE, sub_bins=_HQ_SUB
    )


# -- Zipf law fit over the token-frequency distribution ------------------------
#
# Both sides rank the top-100 tokens by (freq DESC, token ASC) and regress
# ln(freq) on ln(rank) with the engine's built-in REGR_* aggregates. regr_*
# are quotients of order-dependent float sums, so both sides round at 4 dp
# (the established quotient rule).

_ZIPF_TOP = 100

_ZIPF_ORACLE = f"""
WITH toks AS (
  SELECT unnest({_TOKS}) AS tok FROM documents
),
counts AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
top AS (SELECT tok, freq FROM counts ORDER BY freq DESC, tok LIMIT {_ZIPF_TOP}),
ranked AS (
  SELECT ln(CAST(freq AS DOUBLE)) AS y,
         ln(CAST(row_number() OVER (ORDER BY freq DESC, tok) AS DOUBLE)) AS x
  FROM top
)
SELECT ROUND(regr_slope(y, x), 4) AS zipf_slope,
       ROUND(regr_intercept(y, x), 4) AS zipf_intercept,
       ROUND(regr_r2(y, x), 4) AS zipf_r2,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM ranked
"""


@register("corpus_zipf_fit", _ZIPF_ORACLE, "textstats", "pipeline")
def q_corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope/intercept/R² of the corpus token-frequency curve — the
    rank pass is TakeOrdered over 100 rows (plan carries the bounding
    limit), the regression is built-in regr_* aggregates; nothing after the
    vocabulary groupBy depends on corpus size."""
    from vector_mcp_spark.operators.textstats import zipf_fit

    docs = load(spark, sf_dir, "documents")
    return zipf_fit(docs, content_col="text", top_n=_ZIPF_TOP)


# -- BFS reach over the co-purchase graph (recursive-CTE oracle) ---------------
#
# "Every part within 3 hops of the seed part, with its hop distance" — the
# graph-exploration shape (recommendation radius, blast-radius analysis)
# that neither PageRank nor communities cover. Spark side is distributed
# frontier expansion (join + anti-join per hop, state = |reached| rows,
# localCheckpoint per iteration); the oracle is a DuckDB recursive CTE over
# the identical edge list — (node, level) pairs are bounded by the hop cap,
# so the recursion terminates on cyclic graphs, and MIN(level) per node is
# the BFS distance.

_BFS_HOPS = 3

_BFS_ORACLE = f"""
WITH RECURSIVE m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS a FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
e AS (SELECT DISTINCT m1.a AS a, m2.a AS b FROM m m1 JOIN m m2 ON m1.g = m2.g AND m1.a < m2.a),
adj AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
seed AS (SELECT MIN(a) AS s FROM e),
bfs(node, level) AS (
  SELECT s, 0 FROM seed
  UNION
  SELECT adj.dst, bfs.level + 1
  FROM bfs JOIN adj ON adj.src = bfs.node
  WHERE bfs.level < {_BFS_HOPS}
)
SELECT node AS partkey, CAST(MIN(level) AS INTEGER) AS level
FROM bfs GROUP BY node
"""


@register("parts_bfs_reach", _BFS_ORACLE, "graph", "relational")
def q_parts_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.graph import bfs_levels, undirected_edges

    li = (
        load(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_partkey")
    )
    edges = undirected_edges(li, item_col="l_partkey", group_col="l_orderkey")
    # seed = smallest edge endpoint (a < b canonical ⇒ MIN(a)): always a
    # CONNECTED part, so the reach is non-trivial at every scale factor
    source = edges.agg(F.min("a")).first()[0]
    return bfs_levels(edges, source, max_hops=_BFS_HOPS).select(
        F.col("node").alias("partkey"), "level"
    )


# -- personalized PageRank around a seed part ----------------------------------
#
# Teleport returns to the SEED instead of all nodes: "importance relative
# to this basket" (topic-sensitive PageRank, Haveliwala 2002) — the
# random-walk recommendation primitive BFS reach doesn't weight. Same
# unrolled-CTE oracle scheme as graph_pagerank_event_types, over the
# weighted co-purchase graph; only nodes with rank mass survive the output
# (the seed's walk-neighborhood), so the result stays compact.

_PPR_DAMPING = 0.85
_PPR_ITERS = 3


def _ppr_oracle() -> str:
    base = f"""
WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS a FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
cw AS (SELECT m1.a AS a, m2.a AS b, count(*) AS w
       FROM m m1 JOIN m m2 ON m1.g = m2.g AND m1.a < m2.a GROUP BY m1.a, m2.a),
e AS (SELECT a AS src, b AS dst, CAST(w AS DOUBLE) AS w FROM cw
      UNION ALL SELECT b, a, CAST(w AS DOUBLE) FROM cw),
nodes AS (SELECT DISTINCT src AS node FROM e),
seed AS (SELECT MIN(node) AS s FROM nodes),
ow AS (SELECT src, SUM(w) AS out_w FROM e GROUP BY src),
frac AS (SELECT e.src, e.dst, e.w / ow.out_w AS f FROM e JOIN ow USING (src)),
it0 AS (SELECT node, CASE WHEN node = seed.s THEN 1.0 ELSE 0.0 END AS pr
        FROM nodes CROSS JOIN seed)"""
    for k in range(1, _PPR_ITERS + 1):
        base += f""",
it{k} AS (
  SELECT nodes.node,
         (1 - {_PPR_DAMPING}) * CASE WHEN nodes.node = seed.s THEN 1.0 ELSE 0.0 END
         + {_PPR_DAMPING} * COALESCE(inf.acc, 0) AS pr
  FROM nodes CROSS JOIN seed
  LEFT JOIN (
    SELECT f.dst, SUM(p.pr * f.f) AS acc
    FROM frac f JOIN it{k - 1} p ON p.node = f.src
    GROUP BY f.dst
  ) inf ON inf.dst = nodes.node
)"""
    return base + f"""
SELECT node AS partkey, ROUND(pr, 6) AS pr
FROM it{_PPR_ITERS}
WHERE ROUND(pr, 6) > 0
"""


@register("parts_personalized_pagerank", _ppr_oracle(), "graph", "relational")
def q_parts_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.graph import co_membership_counts, personalized_pagerank

    li = (
        load(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_partkey")
    )
    cw = co_membership_counts(li, item_col="l_partkey", group_col="l_orderkey")
    edges = cw.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), F.col("c_ab").alias("w")
    ).unionByName(
        cw.select(F.col("b").alias("src"), F.col("a").alias("dst"), F.col("c_ab").alias("w"))
    )
    seed = edges.agg(F.min("src")).first()[0]
    pr = personalized_pagerank(edges, [seed], damping=_PPR_DAMPING, iters=_PPR_ITERS)
    return (
        pr.select(F.col("node").alias("partkey"), F.round("pr", 6).alias("pr"))
        .where(F.col("pr") > 0)
    )


# -- autocorrelation of daily event counts ------------------------------------

_ACF_MAX_LAG = 7

_ACF_ORACLE = f"""
WITH daily AS (
  SELECT event_type AS key, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2
),
span AS (SELECT key, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY key),
spine AS (
  SELECT key, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
),
dense AS (
  SELECT s.key, s.day, COALESCE(d.x, 0.0) AS x
  FROM spine s LEFT JOIN daily d ON s.key = d.key AND s.day = d.day
),
m AS (SELECT key, avg(x) AS xbar FROM dense GROUP BY key),
centered AS (
  SELECT d.key, d.day, d.x - m.xbar AS c FROM dense d JOIN m ON d.key = m.key
),
denom AS (SELECT key, sum(c * c) AS ss FROM centered GROUP BY key),
lags AS (SELECT CAST(unnest(generate_series(1, {_ACF_MAX_LAG})) AS BIGINT) AS lag),
num AS (
  SELECT a.key, l.lag, sum(a.c * b.c) AS sp
  FROM centered a
  CROSS JOIN lags l
  JOIN centered b ON a.key = b.key AND b.day = a.day + CAST(l.lag AS INTEGER)
  GROUP BY a.key, l.lag
)
SELECT n.key AS key, n.lag AS lag, ROUND(n.sp / d.ss, 6) AS acf
FROM num n JOIN denom d ON n.key = d.key
WHERE d.ss > 0
ORDER BY key, lag
"""


@register("events_autocorrelation", _ACF_ORACLE, "temporal", "relational")
def q_events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.temporal import autocorrelation

    ev = load(spark, sf_dir, "events")
    return autocorrelation(ev, _ACF_MAX_LAG, key_col="event_type", ts_col="ts")


# -- per-key EWMA of daily event counts (pandas adjust=True, closed form) -----

_EWMA_ALPHA = 0.3

_EWMA_ORACLE = f"""
WITH daily AS (
  SELECT event_type AS key, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT key, day, x,
         row_number() OVER (PARTITION BY key ORDER BY day) - 1 AS i,
         count(*) OVER (PARTITION BY key) AS n
  FROM daily
),
cum AS (
  SELECT key, day,
         SUM(x * power({1.0 - _EWMA_ALPHA}, n - 1 - i))
           OVER (PARTITION BY key ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS num,
         SUM(power({1.0 - _EWMA_ALPHA}, n - 1 - i))
           OVER (PARTITION BY key ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS den
  FROM idx
)
SELECT key, day, ROUND(num / den, 6) AS ewma FROM cum ORDER BY key, day
"""


@register("events_ewma_daily", _EWMA_ORACLE, "temporal", "relational")
def q_events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_mcp_spark.operators.temporal import ewma_daily

    ev = load(spark, sf_dir, "events")
    return ewma_daily(ev, _EWMA_ALPHA, key_col="event_type", ts_col="ts")
