from __future__ import annotations

import pytest

from vector_mcp_spark.api import VectorSearchApi
from vector_mcp_spark.engine import CollectionEngine
from vector_mcp_spark.validation import EngineError

CORPUS = [
    "Python is a great programming language for data work",
    "Vector databases store embeddings for semantic search",
    "Apache Spark processes large datasets in parallel",
    "Databases use indexes to speed up queries",
    "Machine learning models learn from data",
]


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("api_root")))
    eng.create_collection("kb")
    eng.add_documents("kb", CORPUS)
    return VectorSearchApi(eng)


def test_hybrid_search_end_to_end(api):
    got = api.search("kb", "database search", number_results=3)
    rows = got.collect()
    assert 0 < len(rows) <= 3
    assert rows[0].content is not None
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_lexical_leg_drives_matching(api):
    rows = api.search("kb", "Python programming", number_results=5).collect()
    top_contents = [r.content for r in rows[:2]]
    assert any("Python" in c for c in top_contents)


def test_semantic_search_multi_query(api):
    got = api.semantic_search("kb", ["data processing", "semantic search"], number_results=2)
    rows = got.collect()
    assert {r.query_id for r in rows} == {0, 1}
    assert all(r.rank in (1, 2) for r in rows)


def test_lexical_search_batch(api):
    rows = api.lexical_search("kb", ["Python", "databases"], number_results=3).collect()
    assert {r.query_id for r in rows} <= {0, 1}
    assert all(r.score > 0 for r in rows)


def test_validation_boundary(api):
    with pytest.raises(EngineError, match="question_invalid"):
        api.search("kb", "   ")
    with pytest.raises(EngineError, match="number_results_invalid"):
        api.search("kb", "q", number_results=0)
    with pytest.raises(EngineError, match="number_results_invalid"):
        api.search("kb", "q", number_results=True)
    with pytest.raises(EngineError, match="rrf_k_invalid"):
        api.search("kb", "q", rrf_k=0)
    with pytest.raises(EngineError, match="hybrid_weights_invalid"):
        api.search("kb", "q", semantic_weight=0.0, lexical_weight=0.0)


def test_query_sanitized_before_search(api):
    # PII in the query must not crash and must be redacted pre-embedding
    rows = api.search("kb", "find alice@example.com data", number_results=2).collect()
    assert len(rows) > 0


def test_empty_questions_rejected(api):
    with pytest.raises(EngineError, match="question_invalid"):
        api.lexical_search("kb", [])
    with pytest.raises(EngineError, match="question_invalid"):
        api.semantic_search("kb", [])


def test_plan_build_launches_no_jobs(api, spark):
    """Building the search DAG must not run any Spark job (the old
    ``WHERE embedding IS NULL LIMIT 1`` probe cost an extra table scan per
    query before the search even started)."""
    sc = spark.sparkContext
    sc.setJobGroup("plan_only_probe", "api plan build")
    try:
        api.search("kb", "database search", number_results=3)
        api.semantic_search("kb", ["data"], number_results=2)
        api.lexical_search("kb", ["data"], number_results=2)
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("plan_only_probe") == []


def test_legacy_collection_upgrades_once_on_first_read(spark, tmp_path_factory):
    """A collection written by an older engine holds rows without vectors
    and carries the legacy flag. Its first read embeds those rows once
    through the engine's seam, rewrites them and clears the flag; after
    that it answers exactly like a twin that stored the same vectors."""
    import hashlib

    from vector_mcp_spark.engine import _PART_LEN
    from vector_mcp_spark.functions.embedder import hash_embed
    from vector_mcp_spark.schema import DOCUMENT_SCHEMA

    embedded = spark.sparkContext.accumulator(0)

    def counting_model(texts):
        embedded.add(len(texts))
        return [hash_embed(t, 64) for t in texts]

    eng = CollectionEngine(
        spark, str(tmp_path_factory.mktemp("legacy_root")), embed_model=counting_model
    )
    for name in ("legacy", "twin", "empty"):
        eng.create_collection(name)
    rows = [(hashlib.sha256(c.encode()).hexdigest(), c, None, None) for c in CORPUS]
    legacy = eng._require("legacy")
    eng._rewrite_partitions(
        legacy, [i[:_PART_LEN] for i, *_ in rows], spark.createDataFrame(rows, DOCUMENT_SCHEMA)
    )
    eng._write_catalog([
        r[:4] + (True,) + r[5:] if r[0] in (legacy, eng._require("empty")) else r
        for r in eng._catalog_rows()
    ])
    eng.add_documents("twin", CORPUS, embeddings=[hash_embed(c, 64) for c in CORPUS])
    assert eng.needs_embed("legacy") and embedded.value == 0

    api = VectorSearchApi(eng)
    got = api.semantic_search("legacy", ["data processing"], number_results=3).collect()
    assert not eng.needs_embed("legacy")
    assert embedded.value == len(CORPUS) + 1  # the legacy rows once, plus the query
    assert eng.read("legacy").where("embedding IS NULL").count() == 0
    twin = api.semantic_search("twin", ["data processing"], number_results=3).collect()
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in twin]
    hybrid = api.search("legacy", "spark data", number_results=3).collect()
    assert hybrid == api.search("twin", "spark data", number_results=3).collect()
    assert embedded.value == len(CORPUS) + 4  # queries only from here on
    # a flagged collection without a table just has its flag cleared
    assert eng.needs_embed("empty")
    assert eng.read("empty").count() == 0 and not eng.needs_embed("empty")


def test_configured_model_scan_and_indexed_search_agree(spark, tmp_path_factory):
    """One model embeds the documents at insert and the queries at search,
    so the scan and the indexed path rank in the same vector space: with
    a 3-dim model a content-only collection answers identically from
    semantic_search and the graph."""
    from vector_mcp_spark.functions.embedder import hash_embed

    eng = CollectionEngine(
        spark,
        str(tmp_path_factory.mktemp("model3_root")),
        embed_model=lambda texts: [hash_embed(t, 3) for t in texts],
    )
    eng.create_collection("m3")
    docs = [f"model doc {i} topic {i % 4}" for i in range(16)]
    eng.add_documents("m3", docs)
    eng.build_search_index("m3")
    api = VectorSearchApi(eng)
    question = "model doc 5 topic 1"
    scan = [
        (r.id, r.score)
        for r in api.semantic_search("m3", [question], number_results=5).collect()
    ]
    qv = api.embed_query("m3", question)
    assert len(qv) == 3 and len(scan) == 5
    graph = eng.indexed_graph_search("m3", qv, k=5).collect()
    assert [(r.id, r.score) for r in graph] == scan


def test_federated_search_across_collections(spark, tmp_path_factory):
    from vector_mcp_spark.api import VectorSearchApi
    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.validation import EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("fed_root")))
    api = VectorSearchApi(eng)
    eng.create_collection("kb_a")
    eng.add_documents("kb_a", ["spark processes data fast", "cats nap in the sun"])
    eng.create_collection("kb_b")
    eng.add_documents("kb_b", ["data processing with spark", "gardening tips for spring"])

    out = api.federated_search(["kb_a", "kb_b"], "spark data processing",
                               number_results=3, k_per_collection=1).collect()
    # quota 1 per collection: at most one hit per collection, globally ranked
    assert len(out) == 2
    assert {r.collection for r in out} == {"kb_a", "kb_b"}
    assert [r.rank for r in out] == [1, 2]
    assert all(r.collection_rank == 1 for r in out)
    # unknown collection inside the fan-out → stable error
    import pytest as _pytest

    with _pytest.raises(EngineError, match="collection_not_found"):
        api.federated_search(["kb_a", "nope"], "q")
    with _pytest.raises(EngineError, match="collection_not_found"):
        api.federated_search([], "q")


def test_semantic_search_metric_variants(api):
    """metric=dot/l2 serve through the facade: dot descends, l2 ascends
    (lower distance = better rank), and each facade result equals the
    single-query operator under the same metric."""
    from vector_mcp_spark.functions.embedder import embed_documents, hash_embed
    from vector_mcp_spark.operators.semantic import semantic_topk

    q = "vector databases store embeddings"
    docs = embed_documents(api.engine.read("kb"), text_col="content", out_col="embedding")
    for metric in ("cosine", "dot", "l2"):
        rows = api.semantic_search("kb", [q], number_results=3, metric=metric).collect()
        assert len(rows) == 3
        ranked = sorted(rows, key=lambda r: r.rank)
        scores = [r.score for r in ranked]
        assert scores == sorted(scores, reverse=(metric != "l2"))
        single = semantic_topk(
            docs, hash_embed(q, 64), 3, id_col="id", emb_col="embedding", metric=metric
        ).collect()
        assert [r.id for r in ranked] == [r.id for r in single]
        assert [r.score for r in ranked] == [r.score for r in single]


def test_semantic_search_metric_invalid_is_stable_code(api):
    with pytest.raises(EngineError, match="metric_invalid"):
        api.semantic_search("kb", ["anything"], metric="manhattan")


def test_semantic_search_defaults_to_collection_distance(spark, tmp_path):
    """qdrant-style: a search without an explicit metric scores under the
    collection's locked distance config; passing one overrides per query."""
    from vector_mcp_spark.api import VectorSearchApi
    from vector_mcp_spark.engine import CollectionEngine

    eng = CollectionEngine(spark, str(tmp_path / "apidist_root"))
    api = VectorSearchApi(eng)
    eng.create_collection("l2api", distance="l2")
    eng.add_documents("l2api", [f"api metric doc {i}" for i in range(10)])

    got = api.semantic_search("l2api", ["api metric doc 4"], number_results=3).collect()
    got = sorted(got, key=lambda r: r.rank)
    assert got[0].content == "api metric doc 4"
    scores = [r.score for r in got]
    assert scores == sorted(scores), "default search on an l2 collection ranks ascending"

    # explicit override still wins (pgvector per-operator choice)
    cos = api.semantic_search(
        "l2api", ["api metric doc 4"], number_results=3, metric="cosine"
    ).collect()
    cos = sorted(cos, key=lambda r: r.rank)
    assert [r.score for r in cos] == sorted((r.score for r in cos), reverse=True)


def test_lexical_search_answers_best_first_without_an_extra_job(spark, tmp_path_factory):
    """Lexical rows come back per query by (score desc, id asc): equal
    scores break on id, not on the file listing. The bounded sort plans as
    a TakeOrderedAndProject, so a warm MCP lexical_search still runs the
    three Spark jobs it ran unordered — no range-sampling job."""
    from vector_mcp_spark.mcp import McpVeneer

    sc = spark.sparkContext._jsc.sc()

    def next_job_id() -> int:
        sc.listenerBus().waitUntilEmpty()
        return int(sc.dagScheduler().nextJobId())

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("lex_order")))
    eng.create_collection("lex")
    eng.add_documents(
        "lex",
        [f"spark tie doc {i}" for i in range(12)] + ["spark spark best doc", "unrelated words"],
    )
    api = VectorSearchApi(eng)
    ordered = api.lexical_search("lex", ["spark", "tie"], number_results=5)
    plan = ordered._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = ordered.collect()
    assert [r.query_id for r in rows] == [0] * 5 + [1] * 5
    assert rows[0].content == "spark spark best doc" and rows[0].score == 2.0
    for q in (0, 1):
        got = [(-r.score, r.id) for r in rows if r.query_id == q]
        assert got == sorted(got)
    tied = [r.id for r in rows if r.query_id == 1]
    every_tie = sorted(r.id for r in eng.read("lex").collect() if "tie" in r.content)
    assert tied == every_tie[:5]

    ven = McpVeneer(eng, api)

    def call() -> list:
        out = ven.vector_search(
            "lexical_search", collection_name="lex", question="spark", number_results=5
        )
        return [r["id"] for r in out["results"]]

    call()  # warm: the listed frame and the plan caches
    before = next_job_id()
    assert call() == [r.id for r in rows if r.query_id == 0]
    assert next_job_id() - before == 3
