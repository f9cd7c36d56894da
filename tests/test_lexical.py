from __future__ import annotations

import re

import pytest

from vector_mcp_spark.operators.lexical import (
    bm25_topk,
    build_postings,
    lexical_substring_topk,
    lexical_tf_topk,
)

DOCS = [
    (1, "spark joins data with spark shuffle join"),
    (2, "vector search with spark"),
    (3, "nothing relevant here"),
    (4, "join join join"),
    (5, "Spark SPARK spark"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string").cache()


def _tf(text: str, terms: list[str]) -> int:
    toks = [t.casefold() for t in re.findall(r"[A-Za-z0-9_]{2,}", text)]
    return sum(toks.count(t) for t in terms)


def test_tf_scores_match_reference_semantics(docs):
    got = {
        r.doc_id: r.score
        for r in lexical_tf_topk(docs, "spark join", 10, id_col="doc_id", content_col="text").collect()
    }
    expect = {d: float(_tf(t, ["spark", "join"])) for d, t in DOCS if _tf(t, ["spark", "join"]) > 0}
    assert got == expect


def test_tf_casefolds_both_sides(docs):
    got = lexical_tf_topk(docs, "SPARK", 10, id_col="doc_id", content_col="text").collect()
    assert {r.doc_id: r.score for r in got}[5] == 3.0


def test_and_match_requires_all_terms(docs):
    got = lexical_tf_topk(
        docs, "spark join", 10, id_col="doc_id", content_col="text", require_all_terms=True
    ).collect()
    assert sorted(r.doc_id for r in got) == [1]  # only doc1 has both


def test_duplicate_query_terms_counted_once(docs):
    # canonical semantics: distinct query terms
    a = lexical_tf_topk(docs, "spark spark", 10, id_col="doc_id", content_col="text").collect()
    b = lexical_tf_topk(docs, "spark", 10, id_col="doc_id", content_col="text").collect()
    assert {(r.doc_id, r.score) for r in a} == {(r.doc_id, r.score) for r in b}


def test_empty_query_returns_empty(docs):
    assert lexical_tf_topk(docs, "!!", 10, id_col="doc_id", content_col="text").collect() == []


def test_substring_constant_score(docs):
    got = lexical_substring_topk(docs, "join", 10, id_col="doc_id", content_col="text").collect()
    assert all(r.score == 1.0 for r in got)
    assert sorted(r.doc_id for r in got) == [1, 4]  # case-sensitive contains


def test_bm25_rare_term_outranks_common(docs):
    # 'vector' appears in 1 doc, 'spark' in 3 → doc2 (vector) should score
    # higher on "vector" than doc3 scores on anything
    got = bm25_topk(docs, "vector", 10, id_col="doc_id", content_col="text").collect()
    assert got[0].doc_id == 2 and got[0].score > 0


def test_bm25_accepts_prebuilt_postings(docs):
    postings = build_postings(docs, id_col="doc_id", content_col="text")
    a = bm25_topk(docs, "spark join", 5, id_col="doc_id", content_col="text").collect()
    b = bm25_topk(docs, "spark join", 5, id_col="doc_id", content_col="text", postings=postings).collect()
    assert [(r.doc_id, r.score) for r in a] == [(r.doc_id, r.score) for r in b]


def test_fuzzy_term_matches_one_edit_only(spark):
    from vector_mcp_spark.operators.lexical import fuzzy_term_topk

    df = spark.createDataFrame(
        [
            (1, "vector vector store"),
            (2, "vektor database"),
            (3, "victor works here"),   # 2 edits from 'vektor' — excluded
            (4, "completely unrelated"),
        ],
        "id long, content string",
    )
    got = {r.id: (r.matched_terms, r.score) for r in fuzzy_term_topk(df, "vektor", 10).collect()}
    assert got[1] == ("vector", 2)   # tf-weighted
    assert got[2] == ("vektor", 1)   # exact hit
    assert 3 not in got and 4 not in got
    # ranking: highest total tf first
    order = [r.id for r in fuzzy_term_topk(df, "vektor", 10).collect()]
    assert order[0] == 1


def test_snippet_window_and_position(spark):
    from vector_mcp_spark.operators.lexical import snippet_extract

    long_pad = "x" * 100
    df = spark.createDataFrame(
        [
            (1, f"{long_pad} vector appears here"),
            (2, "vector at the very start"),
            (3, "no match at all"),
        ],
        "id long, content string",
    )
    got = {r.id: r for r in snippet_extract(df, ["vector", "join"], width=10).collect()}
    assert 3 not in got
    assert got[2].hit_pos == 1 and got[2].snippet.startswith("vector")
    r1 = got[1]
    assert r1.hit_pos == 102  # 1-based: after 100 x's + space
    assert "vector" in r1.snippet and len(r1.snippet) <= 20


# --- phrase search -----------------------------------------------------------


def test_phrase_counts_adjacent_occurrences(docs):
    from vector_mcp_spark.operators.lexical import phrase_topk

    got = {
        r.doc_id: r.score
        for r in phrase_topk(docs, "spark join", 10, id_col="doc_id", content_col="text").collect()
    }
    # doc1: "...spark shuffle join" has no adjacent pair; "joins data" is a
    # different token; only "spark join" occurring token-adjacent counts
    assert got == {}


def test_phrase_matches_and_counts_repeats(spark):
    rows = [
        (1, "vector search beats plain search"),
        (2, "vector search then vector search again"),
        (3, "search vector"),  # reversed order — no phrase hit
        (4, "vector gap search"),  # gap token — no hit ("x" wouldn't count:
        # 1-char strings fall below the [A-Za-z0-9_]{2,} token floor)
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    from vector_mcp_spark.operators.lexical import phrase_topk

    got = {r.doc_id: r.score for r in phrase_topk(df, "vector search", 10, id_col="doc_id", content_col="text").collect()}
    assert got == {1: 1.0, 2: 2.0}


def test_phrase_single_term_is_term_count(docs):
    from vector_mcp_spark.operators.lexical import phrase_topk

    got = {r.doc_id: r.score for r in phrase_topk(docs, "spark", 10, id_col="doc_id", content_col="text").collect()}
    assert got[5] == 3.0 and got[1] == 2.0


def test_phrase_shorter_doc_than_phrase_scores_zero(spark):
    df = spark.createDataFrame([(1, "spark")], "doc_id int, text string")
    from vector_mcp_spark.operators.lexical import phrase_topk

    assert phrase_topk(df, "spark join vector", 10, id_col="doc_id", content_col="text").count() == 0


def test_phrase_empty_query_returns_empty(docs):
    from vector_mcp_spark.operators.lexical import phrase_topk

    assert phrase_topk(docs, "!!", 10, id_col="doc_id", content_col="text").count() == 0


# --- RM3 expansion -----------------------------------------------------------


def test_rm3_expands_beyond_original_terms(spark):
    # docs about "spark" also mention "shuffle"; a doc with only "shuffle"
    # should surface via expansion even though the query never says it
    rows = [
        (1, "spark shuffle spark shuffle tuning"),
        (2, "spark shuffle partitions"),
        (3, "shuffle service internals deep dive"),
        (4, "gardening tips for spring"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    from vector_mcp_spark.operators.lexical import rm3_topk

    got = [r.doc_id for r in rm3_topk(df, "spark", 10, id_col="doc_id", content_col="text", fb_docs=2, fb_terms=2).collect()]
    assert 3 in got  # expansion-only match
    assert 4 not in got


def test_rm3_original_terms_dominate_with_high_orig_weight(spark):
    rows = [
        (1, "spark spark spark"),
        (2, "shuffle shuffle shuffle"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    from vector_mcp_spark.operators.lexical import rm3_topk

    top = rm3_topk(df, "spark", 1, id_col="doc_id", content_col="text", fb_docs=1, fb_terms=1, orig_weight=0.9).collect()
    assert top[0].doc_id == 1


def test_rm3_empty_query_returns_empty(docs):
    from vector_mcp_spark.operators.lexical import rm3_topk

    assert rm3_topk(docs, "??", 5, id_col="doc_id", content_col="text").count() == 0


# --- More-Like-This ----------------------------------------------------------


def test_mlt_finds_lexical_twin_and_excludes_seed(spark):
    rows = [
        (1, "quantum entanglement superposition qubits decoherence"),
        (2, "quantum entanglement qubits laboratory experiment"),
        (3, "gardening compost tomato seedlings watering"),
        (4, "entanglement decoherence superposition quantum theory"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    from vector_mcp_spark.operators.lexical import more_like_this_topk

    out = more_like_this_topk(df, 1, 10, id_col="doc_id", content_col="text").collect()
    ids = [r.doc_id for r in out]
    assert 1 not in ids  # seed never returned
    assert ids[0] == 4  # shares 4 of the seed's rare terms; doc2 shares 3
    assert 3 not in ids or out[-1].doc_id == 3  # gardening at best ranks last


def test_mlt_missing_seed_returns_empty(spark):
    rows = [(1, "alpha beta"), (2, "beta gamma")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    from vector_mcp_spark.operators.lexical import more_like_this_topk

    assert more_like_this_topk(df, 99, 5, id_col="doc_id", content_col="text").count() == 0


# --- proximity (NEAR) --------------------------------------------------------


def test_proximity_counts_anchors_within_window(spark):
    rows = [
        (1, "alpha one two beta"),        # gap 3 ≤ window 3 → 1
        (2, "alpha one two three beta"),  # gap 4 > window 3 → 0
        (3, "alpha beta alpha junk beta"),  # both anchors match → 2
        (4, "beta alpha"),                # wrong order → 0
        (5, "alpha beta beta"),           # anchor counts ONCE → 1
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    from vector_mcp_spark.operators.lexical import proximity_topk

    got = {r.doc_id: r.score for r in
           proximity_topk(df, "alpha", "beta", 3, 10, id_col="doc_id", content_col="text").collect()}
    assert got == {1: 1.0, 3: 2.0, 5: 1.0}


def test_proximity_window_one_is_exact_phrase(spark):
    rows = [(1, "alpha beta"), (2, "alpha gap beta")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    from vector_mcp_spark.operators.lexical import phrase_topk, proximity_topk

    prox = {r.doc_id: r.score for r in
            proximity_topk(df, "alpha", "beta", 1, 10, id_col="doc_id", content_col="text").collect()}
    phr = {r.doc_id: r.score for r in
           phrase_topk(df, "alpha beta", 10, id_col="doc_id", content_col="text").collect()}
    assert prox == phr == {1: 1.0}


def test_proximity_invalid_inputs_return_empty(spark):
    df = spark.createDataFrame([(1, "alpha beta")], "doc_id int, text string")
    from vector_mcp_spark.operators.lexical import proximity_topk

    assert proximity_topk(df, "!!", "beta", 3, 5, id_col="doc_id", content_col="text").count() == 0
    assert proximity_topk(df, "alpha", "beta", 0, 5, id_col="doc_id", content_col="text").count() == 0


def test_proximity_multi_token_arguments_raise(spark):
    df = spark.createDataFrame([(1, "alpha beta")], "doc_id int, text string")
    import pytest

    from vector_mcp_spark.operators.lexical import proximity_topk

    with pytest.raises(ValueError, match="single terms"):
        proximity_topk(df, "hash table", "join", 4, 5, id_col="doc_id", content_col="text")


# --- boolean queries ---------------------------------------------------------


def test_boolean_query_grammar(spark):
    rows = [
        (1, "spark join fast"),
        (2, "spark vector store"),
        (3, "spark slow join"),     # excluded by !slow
        (4, "join vector no spark-mention"),  # hmm: 'spark' IS a token here
        (5, "gardening only"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    from vector_mcp_spark.operators.lexical import boolean_topk

    got = {r.doc_id: r.score for r in
           boolean_topk(df, "spark & (join | vector) & !slow", 10,
                        id_col="doc_id", content_col="text").collect()}
    # doc4 contains token 'spark' (from spark-mention) + join + vector → 3 hits
    assert set(got) == {1, 2, 4}
    assert got[1] == 2.0 and got[2] == 2.0 and got[4] == 3.0


def test_boolean_pure_negation_matches_constant_rank(spark):
    rows = [(1, "alpha"), (2, "beta")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    from vector_mcp_spark.operators.lexical import boolean_topk

    got = [r.doc_id for r in boolean_topk(df, "!alpha", 10, id_col="doc_id", content_col="text").collect()]
    assert got == [2]


def test_boolean_operator_precedence_and_parens(spark):
    # a | b & c  parses as  a | (b & c)
    rows = [(1, "aa"), (2, "bb cc"), (3, "bb")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    from vector_mcp_spark.operators.lexical import boolean_topk

    got = {r.doc_id for r in boolean_topk(df, "aa | bb & cc", 10, id_col="doc_id", content_col="text").collect()}
    assert got == {1, 2}
    got2 = {r.doc_id for r in boolean_topk(df, "(aa | bb) & cc", 10, id_col="doc_id", content_col="text").collect()}
    assert got2 == {2}


def test_boolean_malformed_queries_raise(spark):
    df = spark.createDataFrame([(1, "alpha")], "doc_id int, text string")
    import pytest

    from vector_mcp_spark.operators.lexical import boolean_topk

    for bad in ["a &", "& a", "(a", "a )", "a b", "", "a & ()"]:
        with pytest.raises(ValueError):
            boolean_topk(df, bad, 5, id_col="doc_id", content_col="text")


def test_boolean_leaf_residue_rejected(spark):
    """ADVICE r10: a leaf whose tokenization drops characters (don't ->
    'don') must be refused — searching the residue answers a different
    query."""
    import pytest

    from vector_mcp_spark.operators.lexical import parse_boolean_query

    for bad in ["don't", "spark, & join", "foo.bar"]:
        with pytest.raises(ValueError):
            parse_boolean_query(bad)
    # casefolding alone is NOT residue: SPARK tokenizes to 'spark'
    assert parse_boolean_query("SPARK & Join") == (
        "and", ("term", "spark"), ("term", "join")
    )


def test_materialized_corpus_stats_match_lazy(spark, tmp_path):
    """materializeStatsMinBytes=0 forces the checkpointed postings/lengths
    branch of _corpus_stats; RM3 and MLT must answer exactly as on the lazy
    path (a small parquet scan stays below the default threshold)."""
    from vector_mcp_spark.operators.lexical import _corpus_stats, more_like_this_topk, rm3_topk

    rows = [
        (1, "spark shuffle spark shuffle tuning"),
        (2, "spark shuffle partitions and joins"),
        (3, "shuffle service internals deep dive"),
        (4, "gardening tips for spring"),
        (5, "spark joins data with spark shuffle join"),
    ]
    spark.createDataFrame(rows, "doc_id int, text string").write.parquet(str(tmp_path / "d"))
    df = spark.read.parquet(str(tmp_path / "d"))

    def answers():
        rm3 = rm3_topk(df, "spark", 10, id_col="doc_id", content_col="text", fb_docs=2, fb_terms=2)
        mlt = more_like_this_topk(df, 1, 10, id_col="doc_id", content_col="text")
        return [tuple(r) for r in rm3.collect()], [tuple(r) for r in mlt.collect()]

    def materialized() -> bool:
        postings = _corpus_stats(df, "doc_id", "text")[0]
        return postings._jdf.queryExecution().logical().nodeName() == "LogicalRDD"

    key = "spark.vector_mcp_spark.lexical.materializeStatsMinBytes"
    assert not materialized()
    lazy = answers()
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "0")
    try:
        assert materialized()
        assert answers() == lazy
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert lazy[0] and lazy[1]
