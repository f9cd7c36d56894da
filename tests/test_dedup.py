from __future__ import annotations

import pytest

from vector_mcp_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    minhash_signature_array,
    ngram_jaccard_pairs,
    normalized_key_dedup,
    simhash,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog", "en"),
    (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
    (3, "the quick brown fox jumps over a lazy dog today", "en"),  # near dup
    (4, "completely different content about databases and indexes", "en"),
    (5, "der schnelle braune fuchs springt", "de"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string, lang string").cache()


def _jaccard(a: str, b: str) -> float:
    import re

    tok = lambda s: set(re.findall(r"[A-Za-z0-9_]{2,}", s.lower()))  # noqa: E731
    sa, sb = tok(a), tok(b)
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup_groups(docs):
    got = {r.content_id: (r.n_docs, r.kept_id) for r in
           exact_dedup_groups(docs, id_col="doc_id", content_col="text").collect()}
    assert len(got) == 4  # 5 docs, one exact dup pair
    assert (2, 1) in got.values()  # dup group keeps min id


def test_normalized_prefix_dedup(docs):
    got = {r.dedup_key: r.n_docs for r in
           normalized_key_dedup(docs, id_col="doc_id", content_col="text", n_prefix_tokens=2).collect()}
    assert got["the quick"] == 3  # docs 1,2,3 share the 2-token prefix


def test_ngram_jaccard_finds_near_dups(docs):
    got = ngram_jaccard_pairs(docs, 0.5, id_col="doc_id", content_col="text").collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in got}
    assert pairs[(1, 2)] == 1.0
    assert abs(pairs[(1, 3)] - _jaccard(DOCS[0][1], DOCS[2][1])) < 1e-6
    assert (1, 4) not in pairs


def test_ngram_jaccard_blocking_restricts_pairs(docs):
    blocked = ngram_jaccard_pairs(docs, 0.0, id_col="doc_id", content_col="text", block_cols=("lang",))
    assert all(r.id_a != 5 and r.id_b != 5 or False for r in blocked.collect())
    # doc5 is the only 'de' doc → appears in no pair
    ids = {i for r in blocked.collect() for i in (r.id_a, r.id_b)}
    assert 5 not in ids


def test_bigram_jaccard(docs):
    got = ngram_jaccard_pairs(docs, 0.99, id_col="doc_id", content_col="text", ngram=2).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(1, 2)}  # only exact dup survives bigrams


def test_minhash_exact_dup_identical_signatures(docs):
    sigs = minhash_signature_array(docs, id_col="doc_id", content_col="text", num_hashes=8)
    rows = {r.id: r.sigs for r in sigs.collect()}
    assert rows[1] == rows[2] and len(rows[1]) == 8


def test_minhash_lsh_pipeline(docs):
    got = minhash_lsh_pairs(docs, 0.5, id_col="doc_id", content_col="text",
                            num_hashes=8, bands=4).collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    assert (1, 2) in pairs  # exact dup always collides
    for r in got:
        assert r.jaccard >= 0.5  # verification filter holds
        assert r.id_a < r.id_b  # ordered pairs, never a cross join


def test_simhash_similar_docs_close(docs):
    got = {r.id: r.simhash for r in simhash(docs, id_col="doc_id", content_col="text", bits=32).collect()}
    assert got[1] == got[2]  # identical text → identical fingerprint

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(got[1], got[3]) < hamming(got[1], got[4])  # near-dup closer than unrelated


def test_ngram_short_docs_do_not_crash(spark):
    # a doc with fewer tokens than the gram width must yield an empty gram
    # set, not abort the job (sequence(0,-1) -> slice crash regression)
    df = spark.createDataFrame(
        [(1, "word", "en"), (2, "one two three four five", "en"),
         (3, "one two three four five", "en"), (4, "", "en")],
        "doc_id int, text string, lang string",
    )
    got = ngram_jaccard_pairs(df, 0.5, id_col="doc_id", content_col="text", ngram=3).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(2, 3)}


def test_near_dup_clusters_transitive_closure(spark):
    from vector_mcp_spark.operators.dedup import near_dup_clusters

    # chain 1-2-3-4 (transitivity), pair (20,21), singleton 30
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (21, 20)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 20, 21, 30]], "id long")
    got = {r.id: (r.cluster_id, r.is_canonical) for r in near_dup_clusters(pairs, nodes).collect()}
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
        20: (20, True), 21: (20, False), 30: (30, True),
    }


def test_near_dup_clusters_ring(spark):
    from vector_mcp_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame([(5, 9), (9, 3), (3, 7), (7, 5)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in [3, 5, 7, 9]], "id long")
    got = {r.id: r.cluster_id for r in near_dup_clusters(pairs, nodes).collect()}
    assert got == {3: 3, 5: 3, 7: 3, 9: 3}


# -- winnowed rolling-hash fingerprints ---------------------------------------


def test_winnow_guarantee_and_short_docs(spark):
    from vector_mcp_spark.operators.dedup import winnow_fingerprints, winnow_near_dup_pairs

    shared = "the quick brown fox jumps over the lazy dog tonight"  # 10 tokens
    df = spark.createDataFrame(
        [
            (1, f"intro alpha {shared} outro beta"),
            (2, f"completely different preamble {shared} and another ending"),
            (3, "nothing in common with anything here at all whatsoever"),
            (4, "too short"),  # < k + w - 1 tokens → no fingerprints
        ],
        "id long, content string",
    )
    fps = winnow_fingerprints(df, k=3, w=4)
    by_id = {r.id for r in fps.select("id").distinct().collect()}
    assert 4 not in by_id  # short doc winnows to nothing
    # winnowing guarantee: a shared run of >= k+w-1 (=6) tokens must share
    # at least one selected fingerprint → docs 1 and 2 pair up
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_near_dup_pairs(df, k=3, w=4, min_shared=1).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert not any(3 in p for p in pairs)


def test_winnow_max_df_drops_boilerplate(spark):
    from vector_mcp_spark.operators.dedup import winnow_near_dup_pairs

    boiler = "standard legal disclaimer applies to every document in this corpus"
    df = spark.createDataFrame(
        [(i, f"unique text number {i} follows here {boiler}") for i in range(6)],
        "id long, content string",
    )
    # every doc shares the boilerplate run; max_df below the corpus size
    # kills those fingerprints so no pair survives
    assert winnow_near_dup_pairs(df, k=3, w=4, min_shared=1, max_df=3).count() == 0
    assert winnow_near_dup_pairs(df, k=3, w=4, min_shared=1, max_df=None).count() == 15


def test_blocked_clusters_match_pair_based_clusters(docs):
    from vector_mcp_spark.operators.dedup import near_dup_clusters, near_dup_clusters_blocked, ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs, 0.5, id_col="doc_id", content_col="text")
    via_pairs = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in near_dup_clusters(pairs.select("id_a", "id_b"), docs, id_col="doc_id").collect()
    }
    via_sets = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in near_dup_clusters_blocked(docs, 0.5, id_col="doc_id", content_col="text").collect()
    }
    assert via_sets == via_pairs


def test_blocked_clusters_empty_set_docs_are_singletons(spark):
    from vector_mcp_spark.operators.dedup import near_dup_clusters_blocked

    df = spark.createDataFrame(
        [(1, "shared words here"), (2, "shared words here"), (3, "!!!"), (4, "???")],
        "id long, content string",
    )
    got = {r.id: (r.cluster_id, r.is_canonical) for r in
           near_dup_clusters_blocked(df, 0.9).collect()}
    assert got[1] == (1, True) and got[2] == (1, False)  # exact dups cluster
    # docs 3/4 tokenize to EMPTY sets — identical sets, but never paired
    # (NULL jaccard): each is its own singleton cluster
    assert got[3] == (3, True) and got[4] == (4, True)


def test_leakage_safe_split_is_cluster_coherent(spark, sf_dir):
    """No near-dup cluster may straddle a train/val/test boundary, every doc
    gets exactly one split, and the draw is deterministic across runs."""
    from pyspark.sql import functions as F

    from vector_mcp_spark.suite import SUITE

    fn = SUITE["corpus_leakage_safe_split"].spark_fn
    out = fn(spark, sf_dir).cache()
    try:
        straddlers = (
            out.groupBy("cluster_id")
            .agg(F.countDistinct("split").alias("n_splits"))
            .where(F.col("n_splits") > 1)
            .count()
        )
        assert straddlers == 0
        n_docs = out.count()
        assert out.select("doc_id").distinct().count() == n_docs
        assert out.where(F.col("split").isin("train", "val", "test")).count() == n_docs
        # deterministic: a second build produces the identical assignment
        again = fn(spark, sf_dir)
        assert out.exceptAll(again).count() == 0
    finally:
        out.unpersist()


def test_incremental_near_dup_matches_full_lsh_cross_pairs(spark, sf_dir):
    """Incremental screen (incoming vs corpus) must find exactly the
    full-LSH pairs that cross the batch boundary — nothing more, nothing
    less — and never emit corpus-corpus or incoming-incoming pairs."""
    from pyspark.sql import functions as F

    from vector_mcp_spark.operators.dedup import incremental_near_dup, minhash_lsh_pairs
    from vector_mcp_spark.suite import load

    docs = load(spark, sf_dir, "documents")
    incoming = docs.where(F.col("doc_id") % 2 == 1)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    inc = {
        (r.in_id, r.corpus_id, r.jaccard)
        for r in incremental_near_dup(
            incoming, corpus, 0.8, id_col="doc_id", content_col="text"
        ).collect()
    }
    full = minhash_lsh_pairs(docs, 0.8, id_col="doc_id", content_col="text").collect()
    crossing = set()
    for r in full:
        if r.id_a % 2 != r.id_b % 2:  # one odd (incoming), one even (corpus)
            a, b = (r.id_a, r.id_b) if r.id_a % 2 == 1 else (r.id_b, r.id_a)
            crossing.add((a, b, r.jaccard))
    assert inc == crossing
    assert all(a % 2 == 1 and b % 2 == 0 for a, b, _ in inc)
