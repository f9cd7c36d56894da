"""Lexical (full-text) search — SURVEY.md §2.3 Q4/Q5.

Canonical semantics chosen for cross-engine parity (SURVEY §7 risk 1):

- **tf scoring** (default): score(doc) = Σ over *distinct* query terms of the
  token-count of that term in the content — the reference native backend's
  scan fallback (``vector_mcp/vectordb/epistemic_graph.py:352-375``,
  ``sum(content.count(term))``) on token boundaries, casefolded with
  ``[A-Za-z0-9_]{2,}`` (``epistemic_graph.py:55,324-326``).
- **AND match**: all query terms must appear (PostgreSQL
  ``plainto_tsquery`` AND-of-terms semantics, ``postgres.py:358-365``).
- **substring match**: constant score 1.0 when content contains the raw
  query (ChromaDB ``where_document={"$contains": q}``,
  ``chromadb.py:259-290``; Couchbase N1QL ``LIKE '%q%'``,
  ``couchbase.py:700``).
- **BM25**: the ranked variant (pg ``ts_rank_cd`` analogue) built from a
  postings aggregation — k1=1.2, b=0.75, idf = ln((N−df+0.5)/(df+0.5)+1).

Scale design: tf/AND scoring is a single map-side pass over content (tokens
+ array intersect — whole-stage codegen, zero shuffle before top-k, which is
TakeOrderedAndProject). BM25 shuffles only the exploded (doc, term) pairs
*for query terms only* — terms are semi-join-filtered before the groupBy, so
shuffle volume is O(matching postings), not O(corpus tokens).
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from typing import TYPE_CHECKING

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_mcp_spark.functions.text import (
    content_tokens_py,
    term_count,
    tokenize_py,
    tokens,
    with_bound_tokens,
)

if TYPE_CHECKING:
    from vector_mcp_spark.operators.driver_table import DriverTable

SCORE_DECIMALS = 6


def _distinct_terms(query: str) -> list[str]:
    seen: dict[str, None] = {}
    for t in tokenize_py(query):
        seen.setdefault(t)
    return list(seen)


def lexical_tf_topk(
    docs: DataFrame,
    query: str,
    k: int,
    id_col: str = "id",
    content_col: str = "content",
    payload_cols: tuple[str, ...] = (),
    require_all_terms: bool = False,
) -> DataFrame:
    """Term-frequency ranked lexical search; ``require_all_terms=True`` gives
    pg ``plainto_tsquery`` AND semantics. Returns (id, *payload, score)."""
    terms = _distinct_terms(query)
    if not terms:
        return docs.select(id_col, *payload_cols).where(F.lit(False)).withColumn("score", F.lit(0.0))
    terms_lit = F.array(*[F.lit(t) for t in terms])
    toks = tokens(F.col(content_col))
    score = F.size(F.filter(toks, lambda t: F.array_contains(terms_lit, t))).cast("double")
    out = docs.withColumn("score", score).where(F.col("score") > 0)
    if require_all_terms:
        matched = F.size(F.array_intersect(F.array_distinct(tokens(F.col(content_col))), terms_lit))
        out = out.where(matched == F.lit(len(terms)))
    return (
        out.select(id_col, *payload_cols, "score")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def lexical_substring_topk(
    docs: DataFrame,
    query: str,
    k: int,
    id_col: str = "id",
    content_col: str = "content",
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Substring containment with constant score 1.0 (chroma/couchbase
    semantics); deterministic order by id."""
    return (
        docs.where(F.col(content_col).contains(query))
        .select(id_col, *payload_cols)
        .withColumn("score", F.lit(1.0))
        .orderBy(F.col(id_col).asc())
        .limit(k)
    )


def build_postings(
    docs: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """Materializable inverted index: (term, id, tf) — the Spark analogue of
    the pg GIN index (``postgres.py:189-196``). Partition/bucket by term when
    persisting so query-term lookups prune partitions."""
    return (
        docs.select(id_col, F.explode(tokens(F.col(content_col))).alias("term"))
        .groupBy("term", id_col)
        .agg(F.count("*").alias("tf"))
    )


def _idf(df_col, n_docs_col):
    """The one idf form (Lucene/ATIRE, always ≥ 0):
    ln((N − df + 0.5)/(df + 0.5) + 1). Shared by BM25 scoring and MLT term
    selection so the expression cannot drift between the two."""
    return F.log((n_docs_col - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)) + F.lit(1.0))


def _corpus_stats(
    docs: DataFrame,
    id_col: str,
    content_col: str,
    postings: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared BM25 prologue: (postings, lengths, stats) — one tokenizer
    pass declared three ways. Used by bm25_topk, rm3_topk and
    more_like_this_topk so the corpus statistics are defined once.

    NOTE r13: localCheckpointing postings AND (separately) lengths for the
    multi-stage callers (RM3, MLT) were both tried and both measured NET
    LOSSES at sf0.1 (postings: rm3 2.06→2.85 s; lengths: rm3 2.42→2.90 s)
    — the eager materialization job costs more than the lazy re-tokenize
    of each branch. The wins that stuck are per-doc rewrites (tokenize
    only the feedback/seed docs), not materialization.

    r14 parameterizes exactly that trade for cluster scale: when the docs
    relation's Catalyst size estimate exceeds
    ``spark.vector_mcp_spark.lexical.materializeStatsMinBytes`` (default
    256 MiB; driver-side stat read, no job), postings and lengths ARE
    eagerly materialized — the multi-stage callers reference each 2-3
    times, and at real corpus sizes one checkpointed tokenizer pass beats
    re-scanning and re-tokenizing the corpus per reference. Below the
    threshold (every local SF) the lazy r13 shape is byte-identical."""
    if postings is None:
        postings = build_postings(docs, id_col, content_col)
        from vector_mcp_spark.operators.partition import _plan_size_bytes

        spark = docs.sparkSession
        try:
            min_bytes = int(
                spark.conf.get(
                    "spark.vector_mcp_spark.lexical.materializeStatsMinBytes",
                    str(256 * 1024 * 1024),
                )
            )
        except (TypeError, ValueError):
            min_bytes = 256 * 1024 * 1024
        size = _plan_size_bytes(docs)
        if size is not None and size >= min_bytes:
            postings = postings.localCheckpoint(eager=True)
            lengths = docs.select(
                id_col, F.size(tokens(F.col(content_col))).alias("doc_len")
            ).localCheckpoint(eager=True)
            stats = lengths.agg(
                F.count("*").alias("n_docs"),
                F.avg("doc_len").alias("avg_len"),
            )
            return postings, lengths, stats
    lengths = docs.select(id_col, F.size(tokens(F.col(content_col))).alias("doc_len"))
    # stats derives FROM lengths (same rows, same values: count(*) and avg of
    # the identical size(tokens) expression) — one tokenizer pass, not two.
    stats = lengths.agg(
        F.count("*").alias("n_docs"),
        F.avg("doc_len").alias("avg_len"),
    )
    return postings, lengths, stats


def _bm25_sum(
    qpost: DataFrame,
    lengths: DataFrame,
    stats: DataFrame,
    id_col: str,
    k1: float,
    b: float,
    weights: DataFrame | None = None,
) -> DataFrame:
    """The one BM25 scorer: Σ over the (term, id, tf) rows of ``qpost`` of
    idf(t)·tf_norm(t, d), optionally weighted per term by a (term, w)
    frame. Shared by plain BM25 and every RM3 stage so the idf/tf_norm
    forms cannot drift apart. Returns (id, s) with the UNROUNDED sum.
    """
    df_per_term = qpost.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        qpost.join(F.broadcast(df_per_term), "term")
        .join(lengths, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn("idf", _idf(F.col("df"), F.col("n_docs")))
        .withColumn(
            "tf_norm",
            (F.col("tf") * (F.lit(k1) + 1.0))
            / (F.col("tf") + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("doc_len") / F.col("avg_len"))),
        )
    )
    contrib = F.col("idf") * F.col("tf_norm")
    if weights is not None:
        scored = scored.join(F.broadcast(weights), "term")
        contrib = contrib * F.col("w")
    return scored.groupBy(id_col).agg(F.sum(contrib).alias("s"))


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int,
    id_col: str = "id",
    content_col: str = "content",
    k1: float = 1.2,
    b: float = 0.75,
    postings: DataFrame | None = None,
) -> DataFrame:
    """BM25-ranked lexical search (the ``ts_rank_cd``-shaped variant, Q4).

    idf = ln((N − df + 0.5)/(df + 0.5) + 1) (Lucene/ATIRE form, always ≥ 0);
    tf_norm = tf·(k1+1)/(tf + k1·(1 − b + b·len/avg_len)). doc length is in
    tokens. Returns (id, score) rounded to 6 dp.
    """
    terms = _distinct_terms(query)
    if not terms:
        return docs.select(id_col).where(F.lit(False)).withColumn("score", F.lit(0.0))
    terms_lit = F.array(*[F.lit(t) for t in terms])

    postings, lengths, stats = _corpus_stats(docs, id_col, content_col, postings)
    qpost = postings.where(F.array_contains(terms_lit, F.col("term")))
    scored = _bm25_sum(qpost, lengths, stats, id_col, k1, b).withColumn(
        "score", F.round("s", SCORE_DECIMALS)
    )
    return (
        scored.select(id_col, "score")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def lexical_tf_topk_multi(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int,
    id_col: str = "id",
    content_col: str = "content",
    require_all_terms: bool = False,
) -> DataFrame:
    """Batched multi-query lexical search (Q7 batching applied to Q4/Q5):
    one job for N queries. Returns (query_id, rank, id, score).

    Per-query scores are map-side struct columns exploded per row — zero
    shuffle before the per-query top-k window (which moves only matching
    (query_id, id, score) triples, never content).
    """
    from pyspark.sql import Window

    toks = tokens(F.col(content_col))
    entries = []
    for qid, qtext in queries:
        terms = _distinct_terms(qtext)
        if not terms:
            continue
        terms_lit = F.array(*[F.lit(t) for t in terms])
        matched = F.filter(toks, lambda t: F.array_contains(terms_lit, t))
        score = F.size(matched).cast("double")
        if require_all_terms:
            score = F.when(
                F.size(F.array_distinct(matched)) == F.lit(len(terms)), score
            ).otherwise(F.lit(None).cast("double"))
        entries.append(F.struct(F.lit(qid).alias("query_id"), score.alias("score")))
    if not entries:
        # every query tokenized to nothing (e.g. one-char/punctuation-only
        # questions): F.array() of zero structs is VOID and explode would
        # raise a raw AnalysisException — return the empty result instead,
        # matching the single-query guard above
        return docs.select(
            F.lit(0).alias("query_id"),
            F.lit(0).alias("rank"),
            F.col(id_col),
            F.lit(0.0).alias("score"),
        ).where(F.lit(False))
    scored = (
        docs.select(F.col(id_col), F.explode(F.array(*entries)).alias("_q"))
        .select(id_col, F.col("_q.query_id").alias("query_id"), F.col("_q.score").alias("score"))
        .where(F.col("score") > 0)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "score")
    )


def local_postings(contents: Sequence[str]) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """term → (rows, counts) over ``contents``, tokenized as Spark's
    :func:`~vector_mcp_spark.functions.text.tokens` column does — the
    inverted lists :func:`lexical_tf_topk_local` scores from."""
    acc: dict[str, dict[int, int]] = {}
    for row, text in enumerate(contents):
        for tok in content_tokens_py(text):
            per_row = acc.setdefault(tok, {})
            per_row[row] = per_row.get(row, 0) + 1
    return {
        t: (np.fromiter(c.keys(), dtype=np.intp), np.fromiter(c.values(), dtype=np.float64))
        for t, c in acc.items()
    }


def lexical_tf_topk_local(
    table: DriverTable, queries: Sequence[tuple[int, str]], k: int
) -> list[tuple[int, int, int, float]]:
    """:func:`lexical_tf_topk_multi` (and per query :func:`lexical_tf_topk`)
    over a driver-resident table: ``(query_id, rank, row, score)`` in
    (query_id, rank) order. A document scores the count of its tokens in
    the query's distinct term set; only scores > 0 are kept, ranked by
    (score desc, id asc). A query with no terms answers nothing."""
    out = []
    for qid, text in queries:
        terms = _distinct_terms(text)
        if not terms:
            continue
        scores = np.zeros(len(table.ids))
        for term in terms:
            hit = table.postings.get(term)
            if hit is not None:
                scores[hit[0]] += hit[1]
        matched = np.flatnonzero(scores > 0)
        ranked = matched[np.lexsort((table.id_order[matched], -scores[matched]))]
        out += [(qid, rank, int(r), float(scores[r])) for rank, r in enumerate(ranked[:k], 1)]
    return out


def fuzzy_term_topk(
    docs: DataFrame,
    query_term: str,
    k: int,
    max_edits: int = 1,
    id_col: str = "id",
    content_col: str = "content",
    postings: DataFrame | None = None,
) -> DataFrame:
    """Typo-tolerant term search: match any VOCABULARY term within
    ``max_edits`` Levenshtein edits of the query term, then rank documents
    by their total tf over the matched terms (ties by id).

    Scale shape: the edit-distance computation runs once per DISTINCT
    vocabulary term — never per posting, never per document — and is
    pre-pruned by the length band |len(term) − len(q)| ≤ max_edits (an
    upper-bound consequence of edit distance, so it loses nothing). The
    matched-term set is tiny and broadcasts into the postings join.
    Returns (id, matched_terms, score).
    """
    q = query_term.lower().strip()
    if postings is None:
        postings = build_postings(docs, id_col, content_col)
    vocab = postings.select("term").distinct()
    matched = vocab.where(
        (F.abs(F.length("term") - F.lit(len(q))) <= max_edits)
        & (F.levenshtein(F.col("term"), F.lit(q)) <= max_edits)
    )
    return (
        postings.join(F.broadcast(matched), "term")
        .groupBy(id_col)
        .agg(
            F.array_join(F.array_sort(F.collect_set("term")), ",").alias("matched_terms"),
            F.sum("tf").alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def snippet_extract(
    docs: DataFrame,
    terms: list[str],
    width: int = 30,
    id_col: str = "id",
    content_col: str = "content",
) -> DataFrame:
    """Result-snippet projection: the context window around the FIRST
    occurrence of any query term (case-insensitive substring match, earliest
    position wins; ties between terms resolve to the longer term so nested
    matches like 'join'/'joins' are stable). Pure per-row projection —
    runs at scan speed on whatever (small) result set the ranker produced.
    Returns (id, hit_pos, snippet); rows with no occurrence are dropped.
    """
    _BIG = 1 << 30
    lowered = F.lower(F.col(content_col))
    # evaluate positions once per term; 0 (absent) → sentinel
    pos_cols = [
        F.coalesce(F.nullif(F.instr(lowered, t.lower()), F.lit(0)), F.lit(_BIG))
        for t in sorted(terms, key=lambda t: (-len(t), t))
    ]
    first = F.least(*pos_cols) if len(pos_cols) > 1 else pos_cols[0]
    with_pos = docs.withColumn("hit_pos", first).where(F.col("hit_pos") < _BIG)
    start = F.greatest(F.lit(1), F.col("hit_pos") - width)
    return with_pos.select(
        id_col,
        F.col("hit_pos").cast("int").alias("hit_pos"),
        F.substring(F.col(content_col), start, 2 * width).alias("snippet"),
    )


def postings_index_summary(
    docs: DataFrame,
    id_col: str = "id",
    content_col: str = "content",
    top_docs: int = 10,
) -> DataFrame:
    """Dictionary view of the inverted index: (term, df, cf, postings).

    ``build_postings`` above is the raw (term, id, tf) index table the
    scoring operators consume; this summarizes it per vocab term for
    serving/inspection: ``df`` = document frequency, ``cf`` = collection
    frequency, ``postings`` = the top ``top_docs`` documents by term
    frequency (ties → lower id), serialized ``id:tf`` comma-joined so the
    row stays bounded no matter how common the term is — the full postings
    list shards naturally by writing the raw table partitioned by term
    hash instead.

    Scale shape: one tokenize+explode pass, one groupBy(term, id) with
    map-side partial aggregation, one window per term for the top slice
    (partitioned — never a global sort), one groupBy(term). Everything
    shuffles on uniform term/doc keys.
    """
    from pyspark.sql import Window

    tf = build_postings(docs, id_col, content_col).withColumnRenamed(id_col, "id")
    w = Window.partitionBy("term").orderBy(F.col("tf").desc(), F.col("id").asc())
    ranked = tf.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.sum("tf").alias("cf"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rk") <= top_docs,
                                F.struct(F.col("rk"), F.col("id"), F.col("tf")),
                            )
                        )
                    ),
                    lambda s: F.concat_ws(":", s.id.cast("string"), s.tf.cast("string")),
                ),
                ",",
            ).alias("postings"),
        )
    )


def term_bucket(term) -> "F.Column":
    """2-hex sha prefix of the term — the partition key the postings index
    is written under (256 uniform buckets, same scheme as the engine's
    id-prefix table partitioning)."""
    t = F.col(term) if isinstance(term, str) else term
    return F.substring(F.sha2(t, 256), 1, 2)


def phrase_topk(
    docs: DataFrame,
    phrase: str,
    k: int,
    id_col: str = "id",
    content_col: str = "content",
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Positional phrase search: score = number of occurrences of the exact
    token-adjacent phrase (PostgreSQL ``phraseto_tsquery`` / ``<->``
    semantics, ``vector_mcp/vectordb/postgres.py:358-365`` is the AND form
    this tightens; Couchbase FTS ``match_phrase`` is the same contract).

    Scale design: matching is a single map-side pass per document — the
    token array plus a bounded ``sequence`` over its start positions,
    entirely JVM higher-order functions (no Python, no shuffle before the
    TakeOrderedAndProject top-k). A positional-postings join would shuffle
    (doc, term, pos) triples for every phrase term; the scan form moves
    nothing and still prunes early: documents missing any phrase term
    short-circuit to score 0 via the cheap ``array_contains`` guard before
    the positional walk runs.
    """
    terms = tokenize_py(phrase)
    n = len(terms)
    if n == 0:
        return (
            docs.select(id_col, *payload_cols)
            .where(F.lit(False))
            .withColumn("score", F.lit(0.0))
        )
    if n == 1:
        count = term_count(F.col(content_col), terms[0])
    else:
        # the walk references the token array many times → bind it once per
        # row (functions/text.with_bound_tokens explains the 6× trap)
        def _count_in(tk):
            # all-terms guard first: the positional walk only runs on
            # documents containing every distinct phrase term as a token
            # (first-seen order → deterministic plans across processes)
            has_all = None
            for t in dict.fromkeys(terms):
                cond = F.array_contains(tk, t)
                has_all = cond if has_all is None else (has_all & cond)

            def _match_at(i):
                cond = None
                for j, t in enumerate(terms):
                    c = F.element_at(tk, i + F.lit(j + 1)) == F.lit(t)
                    cond = c if cond is None else (cond & c)
                return cond

            walk = F.size(F.filter(F.sequence(F.lit(0), F.size(tk) - F.lit(n)), _match_at))
            # sequence(0, negative) would generate a DESCENDING range —
            # guard short documents explicitly
            return F.when((F.size(tk) >= F.lit(n)) & has_all, walk).otherwise(F.lit(0))

        count = with_bound_tokens(F.col(content_col), _count_in)
    scored = docs.withColumn("score", count.cast("double")).where(F.col("score") > 0)
    return (
        scored.select(id_col, *payload_cols, "score")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def rm3_topk(
    docs: DataFrame,
    query: str,
    k: int,
    id_col: str = "id",
    content_col: str = "content",
    fb_docs: int = 10,
    fb_terms: int = 5,
    orig_weight: float = 0.6,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """RM3 pseudo-relevance-feedback expansion over BM25 (Lavrenko &
    Croft relevance models; the classic Anserini/Indri default re-ranker).

    1. Feedback: BM25 top ``fb_docs`` for the original query.
    2. Expansion: RM1 term weights over the feedback set —
       rel(t) = Σ_d (tf(t,d)/len(d)) · (score(d)/Σ score) — top ``fb_terms``
       new terms (original terms excluded), ties by term ascending.
    3. Re-score: final(d) = Σ_t w_t · idf(t) · tf_norm(t,d) with original
       terms sharing ``orig_weight`` uniformly and expansion terms sharing
       (1 − orig_weight) proportionally to their normalized rel weights.

    Scale design — two bounded driver round-trips, exactly like the
    classic two-pass RM3 retrieval loop: stage 1 collects the ≤ fb_docs
    (id, score) feedback rows, stage 2 collects the ≤ fb_terms expansion
    weights; stage 3 is the returned distributed plan. Folding all three
    stages into one lazy DAG re-derives the corpus-wide postings subtree
    combinatorially (the fb frame alone appears 4× via the normalization
    joins — a 77-exchange plan at audit); with the two collects, postings
    are exploded once per stage and the final plan is a handful of
    broadcast joins of literal weight rows. Both collects are bounded by
    the query parameters, never the corpus.
    """
    terms = _distinct_terms(query)
    if not terms:
        return docs.select(id_col).where(F.lit(False)).withColumn("score", F.lit(0.0))
    terms_lit = F.array(*[F.lit(t) for t in terms])

    postings, lengths, stats = _corpus_stats(docs, id_col, content_col)
    spark = docs.sparkSession

    # --- stage 1 (bounded collect #1): feedback docs — original-query BM25
    qpost = postings.where(F.array_contains(terms_lit, F.col("term")))
    fb_rows = (
        _bm25_sum(qpost, lengths, stats, id_col, k1, b)
        .withColumn("score", F.round("s", SCORE_DECIMALS))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(fb_docs)
        .select(id_col, "score")
        .collect()
    )
    if not fb_rows:
        return docs.select(id_col).where(F.lit(False)).withColumn("score", F.lit(0.0))
    fb_total = sum(r.score for r in fb_rows)
    if fb_total <= 0:
        # every feedback score rounded to 0 (query terms in ~all docs):
        # no usable relevance signal — fall back to unexpanded BM25,
        # ranked by the UNROUNDED sum (the rounded one is all zeros here,
        # which would degenerate the order to id-ascending)
        return (
            _bm25_sum(qpost, lengths, stats, id_col, k1, b)
            .orderBy(F.col("s").desc(), F.col(id_col).asc())
            .limit(k)
            .select(id_col, F.round("s", SCORE_DECIMALS).alias("score"))
        )
    fb_norm = F.broadcast(
        spark.createDataFrame(
            [(r[0], r.score / fb_total) for r in fb_rows],
            schema=f"{id_col} {dict(docs.dtypes)[id_col]}, nscore double",
        )
    )

    # --- stage 2 (bounded collect #2): RM1 expansion weights ---------------
    # tf and doc_len are PER-DOC quantities, and this stage only reads the
    # ≤ fb_docs feedback docs — tokenize exactly those (the id predicate
    # reaches the scan) instead of re-deriving the corpus-wide postings and
    # inner-joining them down to 10 rows. Same tokenizer, same (id, term,
    # tf) and doc_len values for those ids — bit-identical weights.
    fb_ids = [r[0] for r in fb_rows]
    fb_only = docs.where(F.col(id_col).isin(fb_ids))
    fb_post = build_postings(fb_only, id_col, content_col)
    fb_len = fb_only.select(id_col, F.size(tokens(F.col(content_col))).alias("doc_len"))
    exp_rows = (
        fb_post.join(fb_norm, id_col)
        .where(~F.array_contains(terms_lit, F.col("term")))
        .join(fb_len, id_col)
        .groupBy("term")
        .agg(F.round(F.sum(F.col("tf") / F.col("doc_len") * F.col("nscore")), SCORE_DECIMALS).alias("rel"))
        .orderBy(F.col("rel").desc(), F.col("term").asc())
        .limit(fb_terms)
        .collect()
    )
    rel_total = sum(r.rel for r in exp_rows)
    weight_rows = [(t, orig_weight / len(terms)) for t in terms]
    if rel_total > 0:
        weight_rows += [
            (r.term, (1.0 - orig_weight) * r.rel / rel_total) for r in exp_rows
        ]
    weights = spark.createDataFrame(weight_rows, schema="term string, w double")

    # --- stage 3 (returned distributed plan): weighted BM25 ----------------
    expanded_post = postings.join(F.broadcast(weights.select("term")), "term", "leftsemi")
    final = _bm25_sum(expanded_post, lengths, stats, id_col, k1, b, weights=weights)
    return (
        final.withColumn("score", F.round("s", SCORE_DECIMALS))
        .select(id_col, "score")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def more_like_this_topk(
    docs: DataFrame,
    seed_id,
    k: int,
    id_col: str = "id",
    content_col: str = "content",
    max_terms: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Lucene/Elasticsearch More-Like-This: find documents lexically similar
    to a seed document — the BM25 twin of the vector-side ``recommend``
    operator. The seed's terms are ranked by tf·idf, the top ``max_terms``
    become a weighted query (weights ∝ their tf·idf), and the corpus is
    scored with the shared BM25 scorer; the seed itself is excluded.

    Scale design: stage 1 collects ≤ max_terms rows — the seed document's
    postings are one id's worth, and the df counts come from a semi-joined
    postings aggregate over just those terms. Stage 2 is the same bounded
    weighted-BM25 plan RM3 returns (postings semi-join-filtered to the
    selected terms before any shuffle). Nothing scales with the corpus
    except the one postings pass.
    """
    postings, lengths, stats = _corpus_stats(docs, id_col, content_col)
    spark = docs.sparkSession

    # --- stage 1 (bounded collect): the seed's top tf·idf terms -----------
    # tf is per-doc: tokenize ONLY the seed row (id predicate reaches the
    # scan) instead of building corpus-wide postings and filtering to one
    # doc — identical (term, tf) rows for the seed by construction (r13)
    seed_post = build_postings(
        docs.where(F.col(id_col) == F.lit(seed_id)), id_col, content_col
    ).select("term", "tf")
    seed_df = (
        postings.join(F.broadcast(seed_post.select("term")), "term", "leftsemi")
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    term_rows = (
        seed_post.join(F.broadcast(seed_df), "term")
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * _idf(F.col("df"), F.col("n_docs")), SCORE_DECIMALS),
        )
        .orderBy(F.col("tfidf").desc(), F.col("term").asc())
        .limit(max_terms)
        .select("term", "tfidf")
        .collect()
    )
    total = sum(r.tfidf for r in term_rows)
    if not term_rows or total <= 0:
        return docs.select(id_col).where(F.lit(False)).withColumn("score", F.lit(0.0))
    weights = spark.createDataFrame(
        [(r.term, r.tfidf / total) for r in term_rows], schema="term string, w double"
    )

    # --- stage 2 (returned distributed plan): weighted BM25, seed excluded
    qpost = postings.join(F.broadcast(weights.select("term")), "term", "leftsemi")
    final = _bm25_sum(qpost, lengths, stats, id_col, k1, b, weights=weights)
    return (
        final.where(F.col(id_col) != F.lit(seed_id))
        .withColumn("score", F.round("s", SCORE_DECIMALS))
        .select(id_col, "score")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def proximity_topk(
    docs: DataFrame,
    first: str,
    second: str,
    window: int,
    k: int,
    id_col: str = "id",
    content_col: str = "content",
) -> DataFrame:
    """Ordered proximity (NEAR) search — pg tsquery's ``<N>`` distance
    operator / FTS proximity: score = number of occurrences of ``first``
    followed by ``second`` within the next ``window`` tokens (anchor-count
    semantics: each anchor counts once however many matches follow it).
    ``window=1`` degenerates to the two-term exact phrase.

    Same zero-shuffle scan shape as :func:`phrase_topk`, with the token
    array bound once per row (functions/text.with_bound_tokens).

    ``first``/``second`` must each tokenize to exactly ONE term: a
    multi-token argument raises rather than silently searching only its
    first token (for a multi-token needle use :func:`phrase_topk`). Terms
    that tokenize to nothing (punctuation-only) match nothing → empty,
    the same empty-query contract as the other lexical operators.
    """
    t1s, t2s = tokenize_py(first), tokenize_py(second)
    if len(t1s) > 1 or len(t2s) > 1:
        raise ValueError(
            "proximity_topk expects single terms; got "
            f"{first!r}/{second!r} — use phrase_topk for multi-token needles"
        )
    if not t1s or not t2s or window < 1:
        return (
            docs.select(id_col).where(F.lit(False)).withColumn("score", F.lit(0.0))
        )
    t1, t2 = t1s[0], t2s[0]

    def _count_in(tk):
        guard = F.array_contains(tk, t1) & F.array_contains(tk, t2)
        anchors = F.filter(
            F.sequence(F.lit(1), F.size(tk)),
            lambda i: (F.element_at(tk, i) == F.lit(t1))
            & F.exists(F.slice(tk, i + F.lit(1), window), lambda x: x == F.lit(t2)),
        )
        return F.when(guard, F.size(anchors)).otherwise(F.lit(0))

    count = with_bound_tokens(F.col(content_col), _count_in)
    scored = docs.withColumn("score", count.cast("double")).where(F.col("score") > 0)
    return (
        scored.select(id_col, "score")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


# --- boolean full-text queries (pg to_tsquery grammar) -----------------------

def parse_boolean_query(query: str):
    """Parse a pg ``to_tsquery``-style boolean query — ``&`` (AND), ``|``
    (OR), ``!`` (NOT), parentheses, term leaves — into a nested AST of
    ``("and"|"or", left, right) | ("not", child) | ("term", t)`` tuples.
    Terms are casefolded through the standard tokenizer; a term that
    tokenizes to nothing, to several tokens, or to anything other than
    its own casefold (e.g. ``don't`` → ``don``, residue dropped) is
    rejected. Raises ``ValueError`` on any malformed input — a governed
    query surface must refuse, not guess."""
    tokens_lex: list[str] = []
    i = 0
    while i < len(query):
        c = query[i]
        if c.isspace():
            i += 1
        elif c in "&|!()":
            tokens_lex.append(c)
            i += 1
        else:
            j = i
            while j < len(query) and not query[j].isspace() and query[j] not in "&|!()":
                j += 1
            tokens_lex.append(query[i:j])
            i = j
    pos = 0

    def peek():
        return tokens_lex[pos] if pos < len(tokens_lex) else None

    def take(expected=None):
        nonlocal pos
        if pos >= len(tokens_lex):
            raise ValueError(f"boolean query ended unexpectedly: {query!r}")
        t = tokens_lex[pos]
        if expected is not None and t != expected:
            raise ValueError(f"expected {expected!r} at {t!r} in {query!r}")
        pos += 1
        return t

    def atom():
        t = peek()
        if t == "!":
            take()
            return ("not", atom())
        if t == "(":
            take()
            node = or_expr()
            take(")")
            return node
        if t is None or t in "&|)":
            raise ValueError(f"expected a term at position {pos} in {query!r}")
        word = take()
        words = tokenize_py(word)
        if len(words) != 1:
            raise ValueError(f"each leaf must be one term; got {t!r} in {query!r}")
        if words[0] != word.casefold():
            # the tokenizer dropped part of the leaf (e.g. don't -> 'don',
            # spark, -> 'spark'): searching the residue would silently
            # answer a DIFFERENT query — refuse, matching the multi-token
            # strictness above
            raise ValueError(
                f"leaf {word!r} does not tokenize to itself "
                f"(got {words[0]!r}) in {query!r}"
            )
        return ("term", words[0])

    def and_expr():
        node = atom()
        while peek() == "&":
            take()
            node = ("and", node, atom())
        return node

    def or_expr():
        node = and_expr()
        while peek() == "|":
            take()
            node = ("or", node, and_expr())
        return node

    ast = or_expr()
    if pos != len(tokens_lex):
        raise ValueError(f"trailing input {tokens_lex[pos:]!r} in {query!r}")
    return ast


def positive_terms(ast) -> list[str]:
    """Terms at even negation depth — the ones whose presence the query
    rewards; ranking counts their occurrences (first-seen order)."""
    out: dict[str, None] = {}

    def walk(node, neg: bool):
        kind = node[0]
        if kind == "term":
            if not neg:
                out.setdefault(node[1])
        elif kind == "not":
            walk(node[1], not neg)
        else:
            walk(node[1], neg)
            walk(node[2], neg)

    walk(ast, False)
    return list(out)


def boolean_topk(
    docs: DataFrame,
    query: str,
    k: int,
    id_col: str = "id",
    content_col: str = "content",
) -> DataFrame:
    """Boolean full-text search with pg ``to_tsquery`` semantics
    (``postgres.py:358-365`` exposes the plainto AND form; this is the
    full operator grammar those backends accept): a document matches when
    the boolean expression over "term appears as a token" is true; matches
    rank by total occurrences of the query's positive terms (the tf
    convention shared with the reference's scan fallback), ties by id.

    Zero-shuffle scan: the predicate and the tf score are each one
    map-side expression over the bound token array."""
    ast = parse_boolean_query(query)
    pos_terms = positive_terms(ast)

    def _eval(tk):
        def pred(node):
            kind = node[0]
            if kind == "term":
                return F.array_contains(tk, node[1])
            if kind == "not":
                return ~pred(node[1])
            left, right = pred(node[1]), pred(node[2])
            return (left & right) if kind == "and" else (left | right)

        if pos_terms:
            plit = F.array(*[F.lit(t) for t in pos_terms])
            score = F.size(F.filter(tk, lambda t: F.array_contains(plit, t)))
        else:
            score = F.lit(0)  # pure-negation query: constant rank, id order
        return F.when(pred(ast), score).otherwise(F.lit(-1))

    matched = with_bound_tokens(F.col(content_col), _eval)
    scored = docs.withColumn("score", matched.cast("double")).where(F.col("score") >= 0)
    return (
        scored.select(id_col, "score")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )
