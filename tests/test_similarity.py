from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_mcp_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_self_join_topk,
    embedding_near_dup_blocked,
    lsh_bucketize,
)
from vector_mcp_spark.suite import load

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embs(spark):
    return load(spark, SF_DIR, "embeddings").cache()


def test_self_join_topk_excludes_self(embs):
    queries = embs.where(F.col("vec_id") < 10)
    got = cosine_self_join_topk(queries, embs, 3, id_col="vec_id").collect()
    assert all(r.query_id != r.neighbor_id for r in got)
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 10
    for rows in by_q.values():
        ranks = sorted(r.rank for r in rows)
        assert ranks == [1, 2, 3]
        scores = [r.score for r in sorted(rows, key=lambda r: r.rank)]
        assert scores == sorted(scores, reverse=True)


def test_ann_recall_against_exact(embs):
    """Multi-table multi-probe LSH ANN should recover most exact top-5
    neighbors even on random (hard, low-cosine) data."""
    queries = embs.where(F.col("vec_id") < 20)
    exact = cosine_self_join_topk(queries, embs, 5, id_col="vec_id").collect()
    bucketed, planes = lsh_bucketize(embs, dim=64, n_planes=6, n_tables=4)
    approx = ann_lsh_topk(queries, bucketed, planes, 5, id_col="vec_id").collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"recall {recall}"


def test_ann_scores_are_exact_cosine(embs):
    """Whatever ANN returns, its scores must equal the exact operator's for
    the same (query, neighbor) pair — re-rank is exact."""
    queries = embs.where(F.col("vec_id") < 5)
    bucketed, planes = lsh_bucketize(embs, dim=64, n_planes=6, n_tables=4)
    approx = ann_lsh_topk(queries, bucketed, planes, 3, id_col="vec_id").collect()
    exact = cosine_self_join_topk(queries, embs, 1000, id_col="vec_id").collect()
    exact_scores = {(r.query_id, r.neighbor_id): r.score for r in exact}
    for r in approx:
        assert exact_scores[(r.query_id, r.neighbor_id)] == r.score


def test_bucketize_deterministic(embs):
    b1, p1 = lsh_bucketize(embs, dim=64, n_planes=6, n_tables=2)
    b2, p2 = lsh_bucketize(embs, dim=64, n_planes=6, n_tables=2)
    assert p1 == p2
    r1 = sorted((r.vec_id, tuple(r.buckets)) for r in b1.select("vec_id", "buckets").collect())
    r2 = sorted((r.vec_id, tuple(r.buckets)) for r in b2.select("vec_id", "buckets").collect())
    assert r1 == r2
    assert all(0 <= b < 64 for _, bs in r1 for b in bs)


def test_blocked_near_dup_matches_brute_force(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], "x"),
        (2, [0.99, 0.1, 0.0], "x"),
        (3, [0.0, 1.0, 0.0], "x"),
        (4, [1.0, 0.0, 0.0], "y"),  # same vector as 1 but different block
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>, label string")
    got = embedding_near_dup_blocked(df, 0.9, block_col="label", id_col="vec_id").collect()
    assert {(r.id_a, r.id_b) for r in got} == {(1, 2)}  # (1,4) blocked apart, (1,3) below threshold


def test_ivf_recall_vs_exact(embs):
    from vector_mcp_spark.operators.similarity import ann_ivf_topk, ivf_build

    assigned, centroids = ivf_build(embs, n_centroids=8, id_col="vec_id", max_iter=2)
    assert len(centroids) == 8
    queries = embs.where(F.col("vec_id") < 10)
    approx = ann_ivf_topk(queries, assigned, centroids, 5, nprobe=4, id_col="vec_id").collect()
    exact = cosine_self_join_topk(queries, embs, 5, id_col="vec_id").collect()
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx}
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact}
    recall = len(approx_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.5  # half the clusters probed → decent recall floor
    # scores inside the candidate set are exact
    exact_all = cosine_self_join_topk(queries, embs, 1000, id_col="vec_id").collect()
    exact_scores = {(r.query_id, r.neighbor_id): r.score for r in exact_all}
    for r in approx:
        assert exact_scores[(r.query_id, r.neighbor_id)] == r.score


def test_ivf_deterministic(embs):
    from vector_mcp_spark.operators.similarity import ivf_build

    _, c1 = ivf_build(embs, n_centroids=4, id_col="vec_id", max_iter=1)
    _, c2 = ivf_build(embs, n_centroids=4, id_col="vec_id", max_iter=1)
    assert c1 == c2


def test_ann_recall_threshold_table(embs):
    """The explicit recall contract (the beam-width analogue of the
    reference's numCandidates, mongodb.py:277): each (config → floor) row is
    a measured bound with margin, asserted tight so a recall regression in
    bucketing/probing fails loudly.

    Measured on this corpus: LSH 4x8 probe=1 → 1.00; IVF 16/nprobe=12 → 0.94.
    """
    from vector_mcp_spark.operators.similarity import ann_ivf_topk, ivf_build

    queries = embs.where(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_self_join_topk(queries, embs, 5, id_col="vec_id").collect()
    }

    bucketed, planes = lsh_bucketize(embs, dim=64, n_planes=4, n_tables=8)
    lsh = {
        (r.query_id, r.neighbor_id)
        for r in ann_lsh_topk(
            queries, bucketed, planes, 5, id_col="vec_id", multiprobe_bits=1
        ).collect()
    }
    lsh_recall = len(exact & lsh) / len(exact)
    assert lsh_recall >= 0.9, f"LSH(4 planes, 8 tables) recall@5 {lsh_recall} < 0.9"

    assigned, centroids = ivf_build(embs, n_centroids=16, id_col="vec_id", max_iter=2)
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_topk(
            queries, assigned, centroids, 5, nprobe=12, id_col="vec_id"
        ).collect()
    }
    ivf_recall = len(exact & ivf) / len(exact)
    assert ivf_recall >= 0.85, f"IVF(16 centroids, nprobe=12) recall@5 {ivf_recall} < 0.85"


def test_hard_negatives_exclude_same_label(spark, sf_dir):
    from pyspark.sql import functions as F

    from vector_mcp_spark.operators.similarity import hard_negative_mine
    from vector_mcp_spark.suite import load

    embs = load(spark, sf_dir, "embeddings")
    anchors = embs.where(F.col("vec_id") % 25 == 0)
    out = hard_negative_mine(anchors, embs, 3, id_col="vec_id", emb_col="embedding")
    labels = {r.vec_id: r.label for r in embs.select("vec_id", "label").collect()}
    rows = out.collect()
    assert rows, "expected at least one anchor with negatives"
    per_anchor = {}
    for r in rows:
        # every mined negative carries a different label than its anchor
        assert labels[r.negative_id] != labels[r.anchor_id]
        per_anchor.setdefault(r.anchor_id, []).append((r.rank, r.score))
    for ranked in per_anchor.values():
        ranked.sort()
        assert [rk for rk, _ in ranked] == list(range(1, len(ranked) + 1))
        scores = [s for _, s in ranked]
        assert scores == sorted(scores, reverse=True)  # descending similarity


def test_semantic_dedup_keep_first_within_cluster(spark):
    """SemDeDup policy: within a cluster, the lowest-id member of a >=tau
    pair survives; cross-cluster near-dups are NOT compared (the paper's
    approximation); singletons always keep."""
    from vector_mcp_spark.operators.similarity import semantic_dedup

    rows = [
        (1, 0, [1.0, 0.0, 0.0]),
        (2, 0, [1.0, 0.0, 0.0]),      # identical to 1, same cluster -> dropped
        (3, 0, [0.0, 1.0, 0.0]),      # same cluster, dissimilar -> kept
        (4, 1, [1.0, 0.0, 0.0]),      # identical to 1 but OTHER cluster -> kept
        (5, 2, [0.5, 0.5, 0.0]),      # singleton cluster -> kept
    ]
    df = spark.createDataFrame(rows, "id int, cluster int, embedding array<double>")
    got = {r.id: r.kept for r in semantic_dedup(df, tau=0.95, id_col="id").collect()}
    assert got == {1: True, 2: False, 3: True, 4: True, 5: True}


@pytest.mark.slow
def test_hnsw_recall_threshold(embs):
    """The HNSW-style graph-ANN recall contract (the last reference index
    family, epistemic_graph.py:5-9 / postgres.py:182-188). Measured on this
    hash-random corpus (the worst case): 1.00 at sf0.001/0.01, 0.98 at
    sf0.1 — gated at the IVF-np12 floor with margin."""
    from vector_mcp_spark.operators.graph_ann import ann_hnsw_topk, hnsw_build
    from vector_mcp_spark.operators.similarity import ivf_build

    queries = embs.where(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_self_join_topk(queries, embs, 5, id_col="vec_id").collect()
    }
    assigned, _ = ivf_build(embs, n_centroids=16, id_col="vec_id", max_iter=2)
    edges, meta = hnsw_build(assigned, m=12, id_col="vec_id")
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_hnsw_topk(
            queries, embs, edges, meta["entry"], k=5, ef=48, id_col="vec_id"
        ).collect()
    }
    rec = len(exact & approx) / len(exact)
    assert rec >= 0.85, f"HNSW(M=12, ef=48) recall@5 {rec} < 0.85"
    # structural invariants: layered, symmetric, entry on the top layer
    by_layer = {r.layer for r in edges.select("layer").distinct().collect()}
    assert by_layer == {0, 1, 2}
    e0 = {(r.src, r.dst) for r in edges.where(F.col("layer") == 0).collect()}
    assert all((d, s) in e0 for s, d in e0), "layer-0 graph must be symmetric"
    from vector_mcp_spark.operators.graph_ann import hnsw_levels

    levels = hnsw_levels(embs.select(F.col("vec_id").alias("node")), id_col="node")
    top = levels.agg(F.max("level")).first()[0]
    assert meta["top_layer"] == top


def test_training_triplets_label_contract(embs):
    """Triplets pair each anchor with its best SAME-label neighbor and best
    DIFFERENT-label neighbor — and the negative is exactly the k=1 hard
    negative (mined in one scan, same scores)."""
    from vector_mcp_spark.operators.similarity import (
        hard_negative_mine,
        training_triplets,
    )

    anchors = embs.where(F.col("vec_id") < 10)
    got = training_triplets(anchors, embs, id_col="vec_id").collect()
    assert {r.anchor_id for r in got} == set(range(10))
    labels = {r.vec_id: r.label for r in embs.collect()}
    for r in got:
        assert labels[r.positive_id] == labels[r.anchor_id]
        assert labels[r.negative_id] != labels[r.anchor_id]
        assert r.positive_id != r.anchor_id
    hn = {r.anchor_id: (r.negative_id, r.score)
          for r in hard_negative_mine(anchors, embs, 1, id_col="vec_id").collect()}
    for r in got:
        assert hn[r.anchor_id] == (r.negative_id, r.neg_score)


@pytest.mark.slow
def test_filtered_ann_selectivity_routing(embs):
    """The routed filtered-ANN composition (qdrant's planner behavior):
    a selective payload predicate (label=3 AND even id, ~3%) MUST route to
    pre-filter + exact re-rank — and the result IS the true top-k of the
    allowed set; a broad one (even label, ~49%) MUST route to graph beam +
    post-filter. Both extremes pinned so a threshold regression fails here,
    not just in the suite's hash gate."""
    from vector_mcp_spark.operators.graph_ann import (
        ann_filtered_topk_routed,
        hnsw_build,
    )
    from vector_mcp_spark.operators.similarity import ivf_build

    queries = embs.where(F.col("vec_id") < 10)
    assigned, _ = ivf_build(embs, n_centroids=16, id_col="vec_id", max_iter=2)
    edges, meta = hnsw_build(assigned, m=12, id_col="vec_id")

    selective = embs.where(
        (F.col("label") == 3) & (F.col("vec_id") % 2 == 0)
    ).select("vec_id")
    broad = embs.where(F.col("label") % 2 == 0).select("vec_id")

    out_sel, regime_sel = ann_filtered_topk_routed(
        queries, embs, edges, meta["entry"], selective, k=5, id_col="vec_id"
    )
    out_broad, regime_broad = ann_filtered_topk_routed(
        queries, embs, edges, meta["entry"], broad, k=5, id_col="vec_id"
    )
    assert regime_sel == "exact"
    assert regime_broad == "graph"

    # exact regime = the true top-k of the allowed set
    allowed_corpus = embs.join(selective, "vec_id", "left_semi")
    truth = {
        (r.query_id, r.rank, r.neighbor_id)
        for r in cosine_self_join_topk(
            queries, allowed_corpus, 5, id_col="vec_id"
        ).collect()
    }
    got = {(r.query_id, r.rank, r.neighbor_id) for r in out_sel.collect()}
    assert got == truth

    # graph regime honors the filter and never exceeds k
    broad_ids = {r.vec_id for r in broad.collect()}
    rows = out_broad.collect()
    assert all(r.neighbor_id in broad_ids for r in rows)
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(len(v) <= 5 for v in per_q.values())


def test_ivf_l2_recall_vs_exact(embs):
    """L2-metric IVF (pgvector <-> / qdrant EUCLID route): build and probe
    under Euclidean distance; recall gate vs exact L2 top-5 mirrors the
    cosine gate above."""
    import math

    from vector_mcp_spark.operators.similarity import ann_ivf_topk, ivf_build

    queries = embs.where(F.col("vec_id") < 20)
    assigned, centroids = ivf_build(embs, n_centroids=16, id_col="vec_id", metric="l2")
    approx = ann_ivf_topk(
        queries, assigned, centroids, 5, nprobe=12, id_col="vec_id", metric="l2"
    ).collect()
    # exact L2 top-5 per query, computed driver-side on the tiny fixture
    rows = embs.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}
    exact = set()
    for qid in range(20):
        qv = vecs[qid]
        d = sorted(
            (
                (math.sqrt(sum((x - y) ** 2 for x, y in zip(v, qv))), nid)
                for nid, v in vecs.items()
                if nid != qid
            ),
        )[:5]
        exact |= {(qid, nid) for _, nid in d}
    got = {(r.query_id, r.neighbor_id) for r in approx}
    rec = len(exact & got) / len(exact)
    assert rec >= 0.85, f"IVF-L2(16 centroids, nprobe=12) recall@5 {rec} < 0.85"
    # scores ascend per query (lower distance = better rank)
    by_q = {}
    for r in sorted(approx, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.score)
    assert all(s == sorted(s) for s in by_q.values())


@pytest.mark.slow
def test_hnsw_l2_recall_threshold(embs):
    """The l2-metric graph twin of test_hnsw_recall_threshold: build under
    Euclidean distance (l2 coarse quantizer + l2 edges), beam ascending,
    recall graded against the exact EUCLIDEAN top-k — the pgvector
    vector_l2_ops hnsw contract."""
    from vector_mcp_spark.functions.vector import l2_distance
    from vector_mcp_spark.operators.graph_ann import ann_hnsw_topk, hnsw_build
    from vector_mcp_spark.operators.similarity import ivf_build

    queries = embs.where(F.col("vec_id") < 20)
    # exact euclidean ground truth via the same operator convention
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    scored = (
        embs.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv"))
        .join(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("d", l2_distance(F.col("nv"), F.col("qv")))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("d").asc(), F.col("neighbor_id").asc())
    exact = {
        (r.query_id, r.neighbor_id)
        for r in scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .collect()
    }
    assigned, _ = ivf_build(embs, n_centroids=16, id_col="vec_id", max_iter=2, metric="l2")
    edges, meta = hnsw_build(assigned, m=12, id_col="vec_id", metric="l2")
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_hnsw_topk(
            queries, embs, edges, meta["entry"], k=5, ef=48, id_col="vec_id", metric="l2"
        ).collect()
    }
    rec = len(exact & approx) / len(exact)
    assert rec >= 0.85, f"HNSW-l2(M=12, ef=48) recall@5 {rec} < 0.85"
    scores = [
        r.score
        for r in ann_hnsw_topk(
            queries.where(F.col("vec_id") == 0), embs, edges, meta["entry"],
            k=5, ef=48, id_col="vec_id", metric="l2",
        ).collect()
    ]
    assert scores == sorted(scores), "l2 beam must rank ascending"


@pytest.mark.slow
def test_hnsw_dot_recall_threshold(embs):
    """The dot-metric (MIPS) graph twin of test_hnsw_recall_threshold:
    edges ranked by raw inner product over the SHARED cosine coarse
    quantizer (the standard MIPS compromise — the engine's dot collections
    cluster under cosine too), beam descending, recall graded against the
    exact INNER-PRODUCT top-k — the pgvector vector_ip_ops hnsw contract."""
    from pyspark.sql import Window

    from vector_mcp_spark.functions.vector import dot
    from vector_mcp_spark.operators.graph_ann import ann_hnsw_topk, hnsw_build
    from vector_mcp_spark.operators.similarity import ivf_build

    queries = embs.where(F.col("vec_id") < 20)
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    scored = (
        embs.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv"))
        .join(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("s", dot(F.col("nv"), F.col("qv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("s").desc(), F.col("neighbor_id").asc())
    exact = {
        (r.query_id, r.neighbor_id)
        for r in scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .collect()
    }
    assigned, _ = ivf_build(embs, n_centroids=16, id_col="vec_id", max_iter=2)
    edges, meta = hnsw_build(assigned, m=12, id_col="vec_id", metric="dot")
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_hnsw_topk(
            queries, embs, edges, meta["entry"], k=5, ef=48, id_col="vec_id", metric="dot"
        ).collect()
    }
    rec = len(exact & approx) / len(exact)
    assert rec >= 0.85, f"HNSW-dot(M=12, ef=48) recall@5 {rec} < 0.85"
    scores = [
        r.score
        for r in ann_hnsw_topk(
            queries.where(F.col("vec_id") == 0), embs, edges, meta["entry"],
            k=5, ef=48, id_col="vec_id", metric="dot",
        ).collect()
    ]
    assert scores == sorted(scores, reverse=True), "dot beam must rank descending"


def test_ivf_dot_recall_vs_exact(embs):
    """Dot-metric IVF: probes ranked and clusters re-ranked by raw inner
    product over the cosine-built assignment (the MIPS compromise);
    recall gate vs the exact inner-product top-5, mirroring the l2 twin."""
    from pyspark.sql import Window

    from vector_mcp_spark.functions.vector import dot
    from vector_mcp_spark.operators.similarity import ann_ivf_topk, ivf_build

    queries = embs.where(F.col("vec_id") < 20)
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    scored = (
        embs.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv"))
        .join(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("s", dot(F.col("nv"), F.col("qv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("s").desc(), F.col("neighbor_id").asc())
    exact = {
        (r.query_id, r.neighbor_id)
        for r in scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .collect()
    }
    assigned, cents = ivf_build(embs, n_centroids=16, id_col="vec_id", max_iter=2)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_topk(
            queries, assigned, cents, 5, nprobe=12, id_col="vec_id", metric="dot"
        ).collect()
    }
    rec = len(exact & approx) / len(exact)
    assert rec >= 0.8, f"IVF-dot(16 centroids, nprobe=12) recall@5 {rec} < 0.8"
    # scores descend per query (higher inner product = better rank)
    got = ann_ivf_topk(
        queries.where(F.col("vec_id") == 0), assigned, cents, 5,
        nprobe=12, id_col="vec_id", metric="dot",
    ).collect()
    scores = [r.score for r in sorted(got, key=lambda r: r.rank)]
    assert scores == sorted(scores, reverse=True)


def test_hnsw_suite_serve_set_resolves_from_sibling_session(spark, sf_dir):
    """The suite's graph serve set is cached per application, so its views
    must resolve from a sibling SparkSession that hits the cache after the
    parent session built it."""
    from vector_mcp_spark.suite_pipeline import q_ann_hnsw_topk

    parent = sorted(tuple(r) for r in q_ann_hnsw_topk(spark, sf_dir).collect())
    sibling = sorted(tuple(r) for r in q_ann_hnsw_topk(spark.newSession(), sf_dir).collect())
    assert parent and sibling == parent


def _descent_every_way(spark, rows, edges, entry, queries, k, ef, metric):
    """For each form of the one SQL renderer, (got, want) (rank, id, score)
    lists per query; want comes from the driver descent. The driver returns
    the whole final beam at k = ef, so exclusion and the allowed filter are
    applied to that ranked beam before the cut to k. Forms: one literal
    query, a literal batch with exclude_self, a query view, and a query
    view with an allowed view."""
    from vector_mcp_spark.operators.driver_table import collect_driver_table
    from vector_mcp_spark.operators.graph_ann import (
        ann_hnsw_driver_topk,
        ann_hnsw_prepared_sql,
        ann_hnsw_topk,
        driver_serve_set,
        publish_serve_set,
    )

    corpus = spark.createDataFrame(rows, "id string, embedding array<float>")
    edge_df = spark.createDataFrame(edges, "layer int, src string, dst string")
    ss = publish_serve_set(corpus, edge_df, metric=metric)
    table = collect_driver_table(corpus, "embedding", None, 0)
    driver = driver_serve_set(table, ss.edges, metric, 0)
    assert driver.vecs is table.vecs and driver.rows is table.rows
    beams = {qid: ann_hnsw_driver_topk(driver, entry, qv, k=ef, ef=ef, metric=metric)
             for qid, qv in queries}
    allowed = {r[0] for r in rows[::2]}

    def want(qid, keep) -> list:
        kept = [(node, s) for _, node, s in beams[qid] if keep(qid, node)][:k]
        return [(rank, node, s) for rank, (node, s) in enumerate(kept, 1)]

    def by_query(df) -> dict:
        got: dict = {qid: [] for qid, _ in queries}
        for r in df.collect():
            got[r.query_id].append((r.rank, r.neighbor_id, r.score))
        return {qid: sorted(v) for qid, v in got.items()}

    def view_form(**kw) -> dict:
        qdf = spark.createDataFrame(queries, "id string, embedding array<float>")
        return by_query(ann_hnsw_topk(
            qdf, None, None, entry, k=k, ef=ef, metric=metric, serve_set=ss, **kw
        ))

    def sql(batch, **kw):
        return spark.sql(ann_hnsw_prepared_sql(
            ss.nodes_view, ss.edges_view, entry, batch, k=k, ef=ef, metric=metric,
            broadcast_edges=ss.bcast_edges, **kw,
        ))

    out = []
    for qid, qv in queries:
        one = by_query(sql([(qid, qv)]))[qid]
        driver_k = ann_hnsw_driver_topk(driver, entry, qv, k=k, ef=ef, metric=metric)
        out += [(one, want(qid, lambda q, n: True)), (one, driver_k)]
    forms = [
        (by_query(sql(queries, exclude_self=True)), lambda q, n: n != q),
        (view_form(exclude_self=False), lambda q, n: True),
        (
            view_form(allowed=spark.createDataFrame([(a,) for a in allowed], "id string")),
            lambda q, n: n != q and n in allowed,
        ),
    ]
    out += [(got[qid], want(qid, keep)) for got, keep in forms for qid, _ in queries]
    ss.drop()
    return out


@pytest.mark.parametrize("metric", ["cosine", "dot", "l2"])
def test_driver_descent_matches_sql_and_dataframe(spark, metric):
    """The in-process descent the engine serves small graphs with returns
    exactly the SQL renderer's (rank, id, score) rows in every form the
    renderer takes (see _descent_every_way): k past the corpus size, ef
    below it, and a two-node graph. The corpus has a zero-norm row (cosine
    guard), the queries include a zero vector and exact corpus rows (l2
    clamp; their ids make exclude_self bite), and the graph has duplicate
    edges and edges to a node missing from the node set."""
    import random

    rng = random.Random(23)
    dim, n = 8, 24
    ids = [f"id{i:02d}" for i in range(n)]
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in ids]
    rows[3] = (ids[3], [0.0] * dim)
    edges = [(0, s, d) for s in ids for d in rng.sample(ids, 4) if d != s]
    upper = ids[::4]
    edges += [(1, s, d) for s in upper for d in rng.sample(upper, 2) if d != s]
    edges += [(2, ids[0], ids[8]), (2, ids[8], ids[0]), (2, ids[0], ids[8])]
    edges += [(0, ids[5], "ghost"), (1, ids[0], "ghost")]
    free = ("free", [rng.uniform(-1, 1) for _ in range(dim)])
    pair = rows[:2]
    cases = [
        (rows, edges, 30, 48, [free, ("zero", [0.0] * dim), rows[7]]),
        (rows, edges, 5, 6, [free, rows[8]]),
        (pair, [(0, ids[0], ids[1]), (0, ids[1], ids[0])], 3, 48, [pair[1]]),
    ]
    for case_rows, case_edges, k, ef, queries in cases:
        pairs = _descent_every_way(spark, case_rows, case_edges, ids[0], queries, k, ef, metric)
        for got, want in pairs:
            assert got == want, (metric, k, ef)
            assert len(got) <= min(k, len(case_rows))
        assert all(got for got, _ in pairs[: 2 * len(queries)])


@pytest.mark.parametrize("metric", ["cosine", "dot", "l2"])
def test_driver_serve_set_norms_equal_the_spark_norms(spark, metric):
    """The driver serve set derives its per-node norms in numpy from the
    table copy's vectors; they equal the serve set's Spark ``n`` column
    bit for bit — a zero-norm row (cosine's guard makes it 1.0) and
    float32 values over a wide dynamic range included."""
    import random

    from vector_mcp_spark.operators.driver_table import collect_driver_table
    from vector_mcp_spark.operators.graph_ann import driver_serve_set, publish_serve_set

    rng = random.Random(11)
    rows = [
        (f"n{i:02d}", [rng.choice((-1, 1)) * rng.uniform(1, 10) * 10.0 ** rng.randint(-8, 8)
                       for _ in range(16)])
        for i in range(32)
    ]
    rows[5] = (rows[5][0], [0.0] * 16)
    corpus = spark.createDataFrame(rows, "id string, embedding array<float>")
    edges = spark.createDataFrame([(0, "n00", "n01")], "layer int, src string, dst string")
    ss = publish_serve_set(corpus, edges, metric=metric)
    try:
        table = collect_driver_table(corpus, "embedding", None, 0)
        driver = driver_serve_set(table, ss.edges, metric, 0)
        want = {r.node: r.n for r in ss.nodes.select("node", "n").collect()}
        assert driver.norms.tolist() == [want[i] for i in table.ids]
        assert (driver.norms[table.rows["n05"]] == 1.0) == (metric == "cosine")
    finally:
        ss.drop()


def test_spark_round_score_matches_spark_round(spark):
    """The driver descent's ROUND twin equals Spark's ROUND(x, 6) (HALF_UP
    on the JVM's decimal rendering) on half-way values, where Python's
    round() (half-even on the binary value) differs, and on signed zeros
    and large magnitudes."""
    import math

    from vector_mcp_spark.operators.graph_ann import spark_round_score

    ties = [(n + 0.5) / 1e6 for n in (-1234567, -3, 0, 1, 2, 12345, 999999, 123456789)]
    xs = ties + [math.nextafter(t, d) for t in ties for d in (-math.inf, math.inf)]
    xs += [0.0, -0.0, -1e-9, 4.9999999e-7, 1e20, -123456.0000005, 0.30000000000000004]
    assert any(round(x, 6) != spark_round_score(x) for x in xs)
    got = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x double")
    want = {r.i: r.r for r in got.selectExpr("i", "ROUND(x, 6) AS r").collect()}
    assert [repr(spark_round_score(x)) for x in xs] == [repr(want[i]) for i in range(len(xs))]


def test_driver_fold_matches_spark_aggregate(spark):
    """The driver descent's dot products are the SQL's sequential left fold
    bit-for-bit, on float32 vectors with a wide dynamic range where a
    reassociating sum (BLAS, numpy's pairwise sum) gives other doubles."""
    import random

    import numpy as np

    from vector_mcp_spark.functions.vector import dot
    from vector_mcp_spark.operators.graph_ann import _fold_rows

    rng = random.Random(5)
    rows = [
        [rng.choice((-1, 1)) * rng.uniform(1, 10) * 10.0 ** rng.randint(-8, 8) for _ in range(16)]
        for _ in range(64)
    ]
    df = spark.createDataFrame(
        [(i, r, rows[0]) for i, r in enumerate(rows)], "i int, a array<float>, b array<float>"
    )
    want = {r.i: r.d for r in df.select("i", dot("a", "b").alias("d")).collect()}
    vecs = np.array(rows, dtype=np.float32).astype(np.float64)
    got = _fold_rows(vecs * vecs[0])
    assert [float(x) for x in got] == [want[i] for i in range(len(rows))]
    assert (vecs @ vecs[0] != got).any()
