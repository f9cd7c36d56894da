"""10× corpus scale probe: measure heavy pipeline operators at 1× and 10×.

Builds a 10× documents corpus from sf0.1 in the web-corpus shape — copies
alternate between exact duplicates (doc_id shifted) and perturbed
near-duplicates (a copy-specific token appended) — then times each heavy
declared query at both scales and prints the wall-clock ratio. Sub-linear
or ~linear ratios are the scale evidence; anything clearly super-linear is
a red flag to fix.

Usage: python tools/scale_probe.py [query ...]   (default: the heavy set)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")

BASE_SF = "/root/testdata/sf0.1"
PROBE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".tmp", "scale10")

HEAVY = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_incremental_lsh",
    "dedup_winnow_fingerprints",
    "corpus_decontaminate",
    "corpus_source_overlap",
    "corpus_leakage_safe_split",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "embedding_pq_adc_topk",
    "embedding_near_dup",
    "embedding_hard_negatives",
    "semantic_late_interaction",
    "corpus_span_novelty",
    "corpus_dsir_weights",
    "lexical_postings_index",
    "corpus_bpe_merges",
    "corpus_bigram_logprob",
    "corpus_bigram_heldout_ppl",
    "corpus_collocations_pmi",
    "embedding_covariance_cells",
    "embedding_top_pc",
    "dedup_sorted_neighborhood",
    "corpus_doc_keywords",
    "embedding_nearest_centroid_eval",
    "corpus_curation_funnel",
    "parts_bfs_reach",
    "parts_personalized_pagerank",
    "events_ks_two_sample",
    "events_hll_merge_rollup",
    "ann_hnsw_topk",
    "corpus_nb_classifier",
    "corpus_training_triplets",
    "corpus_ccnet_filter",
    "ann_filtered_routed_topk",
    "hybrid_indexed_rrf",
    "ann_ivfpq_topk",
    "ann_ivfpq_rerank_topk",
    "dedup_canonicalize",
    "events_tdigest_quantiles",
    "events_tdigest_read",
    "lexical_phrase",
    "lexical_rm3_expansion",
    "semantic_payload_boost_topk",
    "events_autocorrelation",
    "lexical_more_like_this",
    "lexical_proximity",
    "events_ewma_daily",
    "semantic_recommend_best_score",
    "semantic_context_topk",
    "lexical_boolean",
    "semantic_topk_dot",
    "semantic_topk_l2",
    "hybrid_sparse_dense",
]


def build_corpus(spark, factor: int = 10, probe_dir: str | None = None) -> str:
    from pyspark.sql import functions as F

    from vector_mcp_spark.suite import load

    probe = os.path.abspath(probe_dir or PROBE_DIR)
    out = os.path.join(probe, "documents.parquet")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        docs = load(spark, BASE_SF, "documents")
        n = docs.count()
        copies = []
        for i in range(factor):
            c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * n))
            if i % 2 == 1:  # odd copies: near-dup perturbation, breaks exactness
                c = c.withColumn("text", F.concat(F.col("text"), F.lit(f" zz{i}")))
            copies.append(c)
        big = copies[0]
        for c in copies[1:]:
            big = big.unionByName(c)
        big.write.mode("overwrite").parquet(out)
    eout = os.path.join(probe, "embeddings.parquet")
    if not os.path.exists(os.path.join(eout, "_SUCCESS")):
        embs = load(spark, BASE_SF, "embeddings")
        n = embs.count()
        copies = []
        for i in range(factor):
            c = embs.withColumn("vec_id", F.col("vec_id") + F.lit(i * n))
            if i % 2 == 1:
                # deterministic small perturbation: flip the sign of one
                # dimension per copy — near-dup in cosine, not identical
                c = c.withColumn(
                    "embedding",
                    F.transform(
                        "embedding",
                        lambda v, j: F.when(j == i % 64, -v).otherwise(v),
                    ),
                )
            copies.append(c)
        big = copies[0]
        for c in copies[1:]:
            big = big.unionByName(c)
        big.write.mode("overwrite").parquet(eout)
    if probe_dir is not None:
        # deep-probe corpora carry only documents + embeddings; the three
        # deep scenarios touch nothing else
        return probe
    # events 10×: shift user/event ids so distinct-cardinality work scales
    # with the data (timestamps untouched — window/session shapes persist)
    evout = os.path.join(probe, "events.parquet")
    if not os.path.exists(os.path.join(evout, "_SUCCESS")):
        ev = load(spark, BASE_SF, "events")
        n_u = ev.agg(F.max("user_id")).first()[0] + 1
        n_e = ev.agg(F.max("event_id")).first()[0] + 1
        big = None
        for i in range(10):
            c = ev.withColumn("user_id", F.col("user_id") + F.lit(i * n_u)).withColumn(
                "event_id", F.col("event_id") + F.lit(i * n_e)
            )
            big = c if big is None else big.unionByName(c)
        big.write.mode("overwrite").parquet(evout)
    # lineitem 10×: shift BOTH order and part keys → 10 disjoint copies of
    # the co-purchase graph (graph ops must scale with components, not
    # collapse onto one densified copy)
    liout = os.path.join(probe, "lineitem.parquet")
    if not os.path.exists(os.path.join(liout, "_SUCCESS")):
        li = load(spark, BASE_SF, "lineitem")
        n_o = li.agg(F.max("l_orderkey")).first()[0] + 1
        n_p = li.agg(F.max("l_partkey")).first()[0] + 1
        big = None
        for i in range(10):
            c = li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * n_o)).withColumn(
                "l_partkey", F.col("l_partkey") + F.lit(i * n_p)
            )
            big = c if big is None else big.unionByName(c)
        big.write.mode("overwrite").parquet(liout)
    return probe


def changelog_probe() -> int:
    """Long-log time-travel scenario (VERDICT r9 #6): hundreds of changelog
    batches on one collection, ``read_asof`` timed before and after
    ``compact_changelog``. The claim under test: pre-compaction asof cost is
    O(all batches); post-compaction it is O(epoch + post-cut batches), with
    identical results. Run: ``python tools/scale_probe.py changelog``."""
    import shutil
    from datetime import datetime, timezone

    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.session import get_spark

    spark = get_spark("scale_probe_changelog")
    root = os.path.abspath(os.path.join(PROBE_DIR, "changelog_root"))
    shutil.rmtree(root, ignore_errors=True)
    eng = CollectionEngine(spark, root)
    eng.create_collection("log")
    n_batches = int(os.environ.get("PROBE_LOG_BATCHES", "240"))
    t0 = time.time()
    for i in range(n_batches):
        eng.add_documents("log", [f"log probe doc {i}"])
    print(f"wrote {n_batches} changelog batches in {time.time() - t0:.1f}s")
    cut = datetime.now(timezone.utc)
    eng.add_documents("log", ["post-cut doc a"])
    eng.add_documents("log", ["post-cut doc b"])
    now = datetime.now(timezone.utc)

    def timed_asof() -> tuple[float, int]:
        eng.read_asof("log", now).count()  # warm plans/JVM
        t = time.time()
        n = eng.read_asof("log", now).count()
        return time.time() - t, n

    t_before, n_before = timed_asof()
    t0 = time.time()
    collapsed = eng.compact_changelog("log", cut)
    t_compact = time.time() - t0
    t_after, n_after = timed_asof()
    if n_before != n_after:
        print(f"FAIL: asof row count changed {n_before} -> {n_after}")
        return 1
    print(f"{'scenario':34s} {'batches':>8s} {'asof_s':>8s}")
    print(f"{'read_asof pre-compaction':34s} {n_batches + 2:8d} {t_before:8.2f}")
    print(f"{'read_asof post-compaction':34s} {'epoch+2':>8s} {t_after:8.2f}")
    print(
        f"compact collapsed {collapsed} batches in {t_compact:.1f}s; "
        f"asof speedup {t_before / max(t_after, 1e-9):.1f}x at {n_before} rows"
    )
    return 0


def deep_probe(factor: int) -> int:
    """Deep-scale spot-probe (VERDICT r10 #6): re-run the three WORST 10×
    ratios (MinHash-LSH banding, hard-negative mining, HNSW build) at
    ``factor``× and decompose each wall-clock ratio into candidate/output
    growth vs per-output cost. The claim under test: growth is OUTPUT-bound
    (wall scales ~linearly with emitted rows — a duplicated corpus really
    does contain quadratically more near-dup pairs), never STAGE-bound (a
    quadratic stage whose cost grows even when output doesn't).

    Run: ``python tools/scale_probe.py deep [factor]`` (default 40).
    """
    from vector_mcp_spark.session import get_spark
    from vector_mcp_spark.suite import SUITE, load

    spark = get_spark("deep_probe")
    probe = build_corpus(
        spark, factor=factor, probe_dir=os.path.join(os.path.dirname(PROBE_DIR), f"scale{factor}")
    )

    def timed(fn):
        fn()  # warm plans + JVM + index caches
        t0 = time.time()
        out = fn()
        return time.time() - t0, out

    # each scenario measures its REAL growth driver, not the (possibly
    # capped) suite output: minhash → UNCAPPED emitted candidate pairs (the
    # suite entry tops at 200 rows); hard negatives → scored pairs
    # (anchors × corpus — the exact scorer's work; the suite docstring's
    # 100 TB path puts an LSH/IVF shortlist in front); hnsw → edge rows;
    # CC fixpoint → verified set pairs (the edge input the label
    # propagation shuffles every round) + the round count itself.
    from vector_mcp_spark.operators.dedup import (
        _gram_sets,
        _ngram_set_graph,
        minhash_lsh_pairs,
        near_dup_clusters,
    )
    from vector_mcp_spark.operators.graph_ann import hnsw_build
    from vector_mcp_spark.operators.similarity import hard_negative_mine, ivf_build
    from vector_mcp_spark.suite_pipeline import (
        _HARDNEG_K,
        _JACCARD_T,
        _MH_BANDS,
        _MH_HASHES,
        _MH_T,
    )

    from pyspark.sql import functions as F

    def minhash_at(sf: str) -> tuple[float, int]:
        docs = load(spark, sf, "documents")
        wall, pairs = timed(
            lambda: minhash_lsh_pairs(
                docs, _MH_T, id_col="doc_id", content_col="text",
                num_hashes=_MH_HASHES, bands=_MH_BANDS,
            ).count()
        )
        return wall, pairs

    def hardneg_at(sf: str) -> tuple[float, int]:
        embs = load(spark, sf, "embeddings")
        anchors = embs.where(F.col("vec_id") % 25 == 0)
        wall, _ = timed(
            lambda: hard_negative_mine(
                anchors, embs, _HARDNEG_K, id_col="vec_id",
                emb_col="embedding", label_col="label",
            ).count()
        )
        return wall, anchors.count() * embs.count()  # scored-pair work

    def hnsw_at(sf: str) -> tuple[float, int]:
        def build() -> int:
            embs = load(spark, sf, "embeddings")
            assigned, _ = ivf_build(embs, n_centroids=16, id_col="vec_id", max_iter=2)
            edges, _meta = hnsw_build(assigned, id_col="vec_id")
            return edges.count()

        return timed(build)

    cc_rounds: dict[str, dict] = {}

    def cc_at(sf: str) -> tuple[float, int]:
        """The CC-fixpoint family (dedup_clusters / dedup_canonicalize /
        corpus_leakage_safe_split all run this set-level label propagation
        over blocked-Jaccard verified pairs). Wall times the FIXPOINT; work
        is the verified-pair edge input it shuffles per round; the executed
        round counts land in cc_rounds — bounded rounds + wall tracking
        pairs is the 100 TB claim under test."""
        docs = load(spark, sf, "documents").withColumn(
            "len_bucket", F.floor(F.col("n_chars") / 100)
        )
        groups, ver = _ngram_set_graph(
            docs, _gram_sets("text", 1), _JACCARD_T, "doc_id", ("lang", "len_bucket")
        )
        ver = ver.select(
            F.col("node_a").alias("id_a"), F.col("node_b").alias("id_b")
        ).localCheckpoint(eager=True)  # materialize: time the CC, not the pair gen
        nodes = groups.where(F.col("_n") > 0).select("_node").localCheckpoint(eager=True)
        n_pairs = ver.count()
        stats: dict = {}
        wall, _ = timed(
            lambda: near_dup_clusters(ver, nodes, id_col="_node", stats=stats).count()
        )
        cc_rounds[sf] = dict(stats)
        return wall, n_pairs

    rows = []
    for name, fn in (
        ("minhash_candidate_pairs", minhash_at),
        ("hardneg_scored_pairs", hardneg_at),
        ("hnsw_build_edges", hnsw_at),
        ("cc_fixpoint_pairs", cc_at),
    ):
        t1, n1 = fn(BASE_SF)
        tN, nN = fn(probe)
        rows.append((name, t1, tN, n1, nN))

    print(
        f"{'scenario':26s} {'1x_s':>7s} {f'{factor}x_s':>8s} {'wall':>6s} "
        f"{'work_1x':>10s} {f'work_{factor}x':>11s} {'work':>8s} {'wall/work':>9s}"
    )
    worst = 0.0
    for name, t1, tN, n1, nN in rows:
        wall = tN / t1
        work = nN / max(n1, 1)
        per_work = wall / work
        worst = max(worst, per_work)
        print(
            f"{name:26s} {t1:7.2f} {tN:8.2f} {wall:5.1f}x "
            f"{n1:10d} {nN:11d} {work:7.1f}x {per_work:9.2f}"
        )
    print(
        f"wall/work <= 1 means the wall grew no faster than the real emitted/"
        f"scored work; worst ratio {worst:.2f} "
        f"({'work-bound' if worst <= 2.0 else 'STAGE-bound — investigate'})"
    )
    if cc_rounds:
        for sf, st in cc_rounds.items():
            tag = "1x" if sf == BASE_SF else f"{factor}x"
            print(
                f"cc_fixpoint rounds @{tag}: propagation={st.get('rounds')} "
                f"compression={st.get('compress_rounds')} (bounded ≪ max_rounds=15)"
            )
    return 0


def serve_probe(factor: int) -> int:
    """Warm serve-path probe for the engine-served index families
    (VERDICT r12 item 6): named-sparse postings serving, sparse+dense
    fusion, the l2 graph beam, and a named multi-vector family, each timed
    WARM at 1× and ``factor``× with the wall decomposed against the
    family's index-bounded work metric — postings rows actually touched
    for the query's terms (partition-pruned), or beam candidate rows
    scored (≤ stages × ef × (2m+1), corpus-size-independent). The claim
    under test: serve cost tracks the index-bounded work, never corpus
    bytes. Builds are one-time and cached under .tmp/serve_families.
    Run: ``python tools/scale_probe.py serve [factor]`` (default 40).
    """
    import hashlib
    import json
    import re

    from pyspark.sql import functions as F

    from vector_mcp_spark.functions.text import tokens as _tokens
    from vector_mcp_spark.operators.graph_ann import (
        ann_hnsw_prepared_sql,
        ann_hnsw_topk,
        hnsw_build,
        publish_serve_set,
    )
    from vector_mcp_spark.operators.hybrid import rrf_fuse
    from vector_mcp_spark.operators.lexical import build_postings, term_bucket
    from vector_mcp_spark.operators.similarity import ivf_build
    from vector_mcp_spark.operators.vecapi import indexed_sparse_dot_topk
    from vector_mcp_spark.session import get_spark
    from vector_mcp_spark.suite import load

    spark = get_spark("serve_probe")
    big = build_corpus(
        spark, factor=factor, probe_dir=os.path.join(os.path.dirname(PROBE_DIR), f"scale{factor}")
    )
    fam_root = os.path.abspath(os.path.join(os.path.dirname(PROBE_DIR), "serve_families"))

    def cache_dir(tag: str, name: str) -> str:
        d = os.path.join(fam_root, tag, name)
        os.makedirs(d, exist_ok=True)
        return d

    def built(path: str) -> bool:
        return os.path.exists(os.path.join(path, "_SUCCESS"))

    def sparse_family(tag: str, sf: str) -> tuple[str, str]:
        """postings + doclen exactly as engine.build_search_index writes
        them (engine.py named-sparse family)."""
        pdir = cache_dir(tag, "postings")
        ldir = cache_dir(tag, "doclen")
        if not built(pdir):
            docs = load(spark, sf, "documents").select(
                F.col("doc_id").cast("string").alias("id"), F.col("text").alias("content")
            )
            build_postings(docs, "id", "content").withColumn(
                "term_bucket", term_bucket("term")
            ).write.mode("overwrite").partitionBy("term_bucket").parquet(pdir)
            docs.select("id", F.size(_tokens(F.col("content"))).alias("dlen")).write.mode(
                "overwrite"
            ).parquet(ldir)
        return pdir, ldir

    def graph_family(tag: str, sf: str, metric: str, transform=None) -> tuple[str, str]:
        """ivf assignment + hnsw edges under ``metric`` (optionally over a
        transformed copy of the vectors — the named multi-vector case)."""
        gdir = cache_dir(tag, f"graph_{metric}{'_named' if transform else ''}")
        edges_path = os.path.join(gdir, "edges")
        meta_path = os.path.join(gdir, "meta.json")
        if not (os.path.exists(meta_path) and built(edges_path)):
            embs = load(spark, sf, "embeddings")
            if transform is not None:
                embs = embs.withColumn("embedding", transform(F.col("embedding")))
            coarse = "l2" if metric == "l2" else "cosine"
            assigned, _ = ivf_build(
                embs, n_centroids=16, id_col="vec_id", max_iter=2, metric=coarse
            )
            edges, meta = hnsw_build(assigned, m=12, id_col="vec_id", metric=metric)
            edges.write.mode("overwrite").parquet(edges_path)
            with open(meta_path, "w") as f:
                json.dump(meta, f)
        with open(meta_path) as f:
            meta = json.load(f)
        return edges_path, meta

    def candidate_rows(q, embs, edges, entry: object, k: int, metric: str = "cosine") -> int:
        """Beam candidate rows scored across all hops, counted from the
        rendered descent's cand_* CTEs (one count job per hop)."""
        ss = publish_serve_set(embs, edges, id_col="vec_id", metric=metric)
        batch = [(r.vec_id, list(r.embedding)) for r in q.collect()]
        sql = ann_hnsw_prepared_sql(
            ss.nodes_view, ss.edges_view, entry, batch, k=k, metric=metric,
            broadcast_edges=ss.bcast_edges,
        )
        ctes = sql.rsplit("\nSELECT ", 1)[0]
        n = sum(
            spark.sql(f"{ctes}\nSELECT count(*) FROM {cand}").first()[0]
            for cand in re.findall(r"\b(cand_\d+) AS \(", sql)
        )
        ss.drop()
        return n

    def timed_warm(fn):
        fn()  # warm: plans, JVM, parquet footers, index cache
        t0 = time.time()
        fn()
        return time.time() - t0

    QW = [("spark", 1.0), ("data", 0.5), ("pipeline", 0.25)]

    def scenario_sparse(tag: str, sf: str) -> tuple[float, int]:
        pdir, ldir = sparse_family(tag, sf)
        buckets = sorted(
            {hashlib.sha256(t.encode()).hexdigest()[:2] for t, _ in QW}
        )
        postings = spark.read.parquet(pdir).where(F.col("term_bucket").isin(buckets))
        doclens = spark.read.parquet(ldir)
        wall = timed_warm(
            lambda: indexed_sparse_dot_topk(postings, doclens, QW, 10, id_col="id").count()
        )
        # index-bounded work: the postings rows actually touched = the
        # query terms' rows inside the pruned buckets
        touched = postings.where(
            F.col("term").isin([t for t, _ in QW])
        ).count()
        return wall, touched

    def scenario_graph(tag: str, sf: str, metric: str, transform=None) -> tuple[float, int]:
        edges_path, meta = graph_family(tag, sf, metric, transform)
        embs = load(spark, sf, "embeddings")
        if transform is not None:
            embs = embs.withColumn("embedding", transform(F.col("embedding")))
        edges = spark.read.parquet(edges_path)
        q = embs.where(F.col("vec_id") == 0)

        def serve():
            return ann_hnsw_topk(
                q, embs, edges, meta["entry"], k=10, ef=48, id_col="vec_id", metric=metric,
            ).count()

        wall = timed_warm(serve)
        # measured separately: counting adds jobs
        return wall, candidate_rows(q, embs, edges, meta["entry"], 10, metric)

    def scenario_sparse_dense(tag: str, sf: str) -> tuple[float, int]:
        pdir, ldir = sparse_family(tag, sf)
        edges_path, meta = graph_family(tag, sf, "cosine")
        buckets = sorted(
            {hashlib.sha256(t.encode()).hexdigest()[:2] for t, _ in QW}
        )
        postings = spark.read.parquet(pdir).where(F.col("term_bucket").isin(buckets))
        doclens = spark.read.parquet(ldir)
        embs = load(spark, sf, "embeddings")
        edges = spark.read.parquet(edges_path)
        q = embs.where(F.col("vec_id") == 0)

        def serve():
            sparse = indexed_sparse_dot_topk(postings, doclens, QW, 20, id_col="id")
            dense = ann_hnsw_topk(
                q, embs, edges, meta["entry"], k=20, ef=48, id_col="vec_id"
            ).select(F.col("neighbor_id").alias("id"), "score")
            return rrf_fuse([(dense, 0.5), (sparse, 0.5)], 10, rrf_k=60, id_col="id").count()

        wall = timed_warm(serve)
        touched = postings.where(F.col("term").isin([t for t, _ in QW])).count()
        return wall, touched + candidate_rows(q, embs, edges, meta["entry"], 20)

    # named multi-vector family: a second dense space per point — the
    # deterministic transform (reversed vector) stands in for a real second
    # encoder; serving descends the per-name graph exactly like
    # engine.named_vector_search(indexed=True)
    rev = lambda c: F.reverse(c)  # noqa: E731

    scenarios = [
        ("sparse_postings_serve", scenario_sparse, {}),
        ("sparse_dense_rrf_serve", scenario_sparse_dense, {}),
        ("graph_l2_beam_serve", lambda t, s: scenario_graph(t, s, "l2"), {}),
        ("named_mv_beam_serve", lambda t, s: scenario_graph(t, s, "cosine", rev), {}),
    ]
    print(
        f"{'scenario':26s} {'1x_s':>7s} {f'{factor}x_s':>8s} {'wall':>6s} "
        f"{'work_1x':>9s} {f'work_{factor}x':>10s} {'work':>7s} {'wall/work':>9s}"
    )
    worst = 0.0
    for name, fn, _ in scenarios:
        t1, n1 = fn("1x", BASE_SF)
        tN, nN = fn(f"{factor}x", big)
        wall = tN / t1
        work = nN / max(n1, 1)
        ratio = wall / max(work, 1e-9)
        worst = max(worst, wall if work < 1e-9 else ratio)
        print(
            f"{name:26s} {t1:7.2f} {tN:8.2f} {wall:5.1f}x "
            f"{n1:9d} {nN:10d} {work:6.1f}x {ratio:9.2f}"
        )
    print(
        f"serve walls must track index-bounded work (postings rows touched / "
        f"beam candidates), not corpus bytes; worst wall-vs-work {worst:.2f}"
    )
    return 0


def main() -> int:
    if sys.argv[1:] == ["changelog"]:
        return changelog_probe()
    if sys.argv[1:2] == ["serve"]:
        return serve_probe(int(sys.argv[2]) if len(sys.argv) > 2 else 40)
    if sys.argv[1:2] == ["deep"]:
        return deep_probe(int(sys.argv[2]) if len(sys.argv) > 2 else 40)
    only = sys.argv[1:] or HEAVY

    from vector_mcp_spark.session import get_spark
    from vector_mcp_spark.suite import SUITE

    spark = get_spark("scale_probe")
    probe = build_corpus(spark)
    print(f"{'query':34s} {'1x':>8s} {'10x':>8s} {'ratio':>7s}")
    for name in only:
        fn = SUITE[name].spark_fn
        fn(spark, BASE_SF).count()  # warm plans + JVM
        t0 = time.time(); fn(spark, BASE_SF).count(); t1 = time.time() - t0
        t0 = time.time(); fn(spark, probe).count(); t10 = time.time() - t0
        print(f"{name:34s} {t1:8.2f} {t10:8.2f} {t10 / t1:6.1f}x")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
