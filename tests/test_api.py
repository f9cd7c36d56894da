from __future__ import annotations

import pytest

from vector_mcp_spark.api import VectorSearchApi
from vector_mcp_spark.engine import CollectionEngine, hit_rows
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
    query before the search even started). The first scan of a table
    version sizes (and here collects) its driver copy; after it neither
    the driver route nor, with broadcasting off, the Spark plans' build
    runs a job."""
    prev = spark.conf.get(_BOUND)
    sc = spark.sparkContext
    for bound in (prev, "-1"):
        spark.conf.set(_BOUND, bound)
        try:
            fresh = VectorSearchApi(CollectionEngine(spark, str(api.engine.root)))
            fresh.lexical_search("kb", ["warm"], number_results=1)
            sc.setJobGroup("plan_only_probe", "api plan build")
            fresh.search("kb", "database search", number_results=3)
            fresh.semantic_search("kb", ["data"], number_results=2)
            fresh.lexical_search("kb", ["data"], number_results=2)
        finally:
            sc.setJobGroup("", "")
            spark.conf.set(_BOUND, prev)
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
    scores break on id, not on the file listing. On the Spark route (no
    driver copy: broadcasting off) the bounded sort plans as a
    TakeOrderedAndProject, so a warm MCP lexical_search still runs the
    three Spark jobs it ran unordered — no range-sampling job; on the
    driver copy it runs none. Both routes give the same rows."""
    from vector_mcp_spark.mcp import McpVeneer

    next_job_id = _job_counter(spark)
    root = str(tmp_path_factory.mktemp("lex_order"))
    eng = CollectionEngine(spark, root)
    eng.create_collection("lex")
    eng.add_documents(
        "lex",
        [f"spark tie doc {i}" for i in range(12)] + ["spark spark best doc", "unrelated words"],
    )
    every_tie = sorted(r.id for r in eng.read("lex").collect() if "tie" in r.content)

    def route(bound: str, warm_jobs: int) -> list:
        prev = spark.conf.get(_BOUND)
        spark.conf.set(_BOUND, bound)
        try:
            api = VectorSearchApi(CollectionEngine(spark, root))
            ven = McpVeneer(api.engine, api)
            ordered = api.lexical_search("lex", ["spark", "tie"], number_results=5)
            plan = ordered._jdf.queryExecution().executedPlan().toString()
            assert ("TakeOrderedAndProject" in plan) == (bound == "-1")
            rows = ordered.collect()
            assert [r.query_id for r in rows] == [0] * 5 + [1] * 5
            assert rows[0].content == "spark spark best doc" and rows[0].score == 2.0
            for q in (0, 1):
                got = [(-r.score, r.id) for r in rows if r.query_id == q]
                assert got == sorted(got)
            assert [r.id for r in rows if r.query_id == 1] == every_tie[:5]

            def call() -> list:
                out = ven.vector_search(
                    "lexical_search", collection_name="lex", question="spark", number_results=5
                )
                return [r["id"] for r in out["results"]]

            call()  # warm: the listed frame and the plan caches
            before = next_job_id()
            assert call() == [r.id for r in rows if r.query_id == 0]
            assert next_job_id() - before == warm_jobs
            return rows
        finally:
            spark.conf.set(_BOUND, prev)

    assert route("-1", 3) == route(spark.conf.get(_BOUND), 0)


# -- the driver copy of a table version against the Spark plans -------------

_BOUND = "spark.sql.autoBroadcastJoinThreshold"
#: stored vectors the equality pins need by construction: equal-score ties,
#: a rounding tie (cosine 1.0 and 0.999999995 both round to 1.0), a
#: zero-norm row (cosine scores it NULL) and a query-equal row (l2 clamp)
_PINNED_VECS = {
    "tie alpha spark": [0.5, 0.5, 0.5, 0.5],
    "tie beta spark": [0.5, 0.5, 0.5, 0.5],
    "near exact": [1.0, 0.0, 0.0, 0.0],
    "near rounded": [1.0, 1e-4, 0.0, 0.0],
    "zero norm doc": [0.0, 0.0, 0.0, 0.0],
}
_SCAN_DOCS = [
    *_PINNED_VECS,
    "\ufb01le \ufb01nder for spark",  # the ﬁ ligature: lower keeps it, casefold does not
    "\u212aelvin scale readings",  # the Kelvin sign lowers to ASCII k
    "\u0130stanbul spark meetup",  # dotted İ lowers to i + U+0307
    "spark spark spark heavy doc",
    "data lake search engine",
    "tie gamma words",
    "vector search over data",
]
_SCAN_QUESTIONS = [
    "spark", "near exact", "tie spark", "file finder", "\ufb01le", "kelvin", "stanbul",
    "zzzz qqqq", "a ! ?", "data search spark",
]


def _scan_model(texts):
    """Pinned vectors for the pinned texts; a signed hash vector otherwise."""
    from vector_mcp_spark.functions.embedder import hash_embed

    return [_PINNED_VECS.get(t) or [2 * x - 1 for x in hash_embed(t, 4)] for t in texts]


def _job_counter(spark):
    sc = spark.sparkContext._jsc.sc()

    def next_job_id() -> int:
        sc.listenerBus().waitUntilEmpty()
        return int(sc.dagScheduler().nextJobId())

    return next_job_id


def _rows(df, sort=False) -> tuple:
    collected = df.collect()
    # what the MCP veneer reads (a driver answer's kept rows) is collect()'s
    # rows: the same fields, values and value types
    assert list(map(repr, hit_rows(df))) == list(map(repr, collected))
    rows = [tuple(r) for r in collected]
    return df.dtypes, sorted(rows, key=lambda r: r[:2]) if sort else rows


def _spark_route(spark, root, calls) -> list:
    """Each call answered by a fresh engine with broadcasting off, so no
    table version fits the driver bound and the Spark plans serve."""
    prev = spark.conf.get(_BOUND)
    spark.conf.set(_BOUND, "-1")
    try:
        api = VectorSearchApi(CollectionEngine(spark, root, embed_model=_scan_model))
        out = [_rows(call(api), sort) for call, sort in calls]
        assert api.engine.describe_collection("scan")["scan_serve"] == "spark"
        return out
    finally:
        spark.conf.set(_BOUND, prev)


@pytest.mark.parametrize("distance", ["cosine", "dot", "l2"])
def test_driver_scans_equal_the_spark_plans(spark, tmp_path_factory, distance):
    """semantic_search, lexical_search and search answer a warm in-budget
    version from its driver copy with 0 Spark jobs, and their frames equal
    the Spark plans' (bound −1) in schema, ids, scores and order: every
    metric as the collection's and as a per-query override, thresholds
    (a negative dot bound applies), a 40-question batch (the broadcast-
    join scorer) and small ones (the literal scorer), equal-score and
    rounding ties, a zero-norm row, out-of-vocabulary and empty-token
    questions, ligature, Kelvin-sign and dotted-I content, k past the corpus, and non-default
    RRF weights and rrf_k."""
    root = str(tmp_path_factory.mktemp(f"scan_{distance}"))
    eng = CollectionEngine(spark, root, embed_model=_scan_model)
    eng.create_collection("scan", distance=distance)
    eng.add_documents("scan", _SCAN_DOCS)
    api = VectorSearchApi(eng)
    assert eng.describe_collection("scan")["scan_serve"] == "cold"
    many = [f"question {i} spark data" for i in range(40)]
    calls = [(lambda a: a.semantic_search("scan", _SCAN_QUESTIONS, number_results=50), True),
             (lambda a: a.semantic_search("scan", many, number_results=3), True)]
    for metric, bounds in (("cosine", (0.5, -1.0)), ("dot", (-0.25, 0.3)), ("l2", (1.2,))):
        calls.append((lambda a, m=metric: a.semantic_search(
            "scan", _SCAN_QUESTIONS[:3], number_results=4, metric=m), True))
        calls += [(lambda a, m=metric, t=t: a.semantic_search(
            "scan", _SCAN_QUESTIONS, number_results=50, metric=m, distance_threshold=t), True)
            for t in bounds]
    lexical_at = len(calls)
    calls += [
        (lambda a: a.lexical_search("scan", _SCAN_QUESTIONS, number_results=50), False),
        (lambda a: a.lexical_search("scan", ["tie spark", "spark"], number_results=2), False),
        (lambda a: a.lexical_search("scan", ["zzzz", "a ! ?"], number_results=5), False),
    ]
    calls += [(lambda a, q=q: a.search("scan", q, number_results=50), False)
              for q in _SCAN_QUESTIONS]
    calls += [
        (lambda a: a.search("scan", "spark data", number_results=4, semantic_weight=0.8,
                            lexical_weight=0.2, rrf_k=5), False),
        (lambda a: a.search("scan", "tie spark", number_results=3, semantic_weight=0.0,
                            lexical_weight=1.0, rrf_k=1), False),
    ]
    next_job_id = _job_counter(spark)
    api.search("scan", "warm", number_results=1).collect()  # sizes and collects the copy
    state = eng.describe_collection("scan")
    assert state["scan_serve"] == "driver" and state["scan_serve_bytes"] > 0
    before = next_job_id()
    driver = [_rows(call(api), sort) for call, sort in calls]
    assert next_job_id() == before
    assert driver == _spark_route(spark, root, calls)
    (dtypes, semantic), (_, batch) = driver[:2]
    assert dtypes[:2] == [("query_id", "int"), ("rank", "int")] and len(batch) == 40 * 3
    if distance == "cosine":
        zero = [r for r in semantic if r[3] == "zero norm doc"]
        assert zero and all(r[4] is None for r in zero)
    lexical = driver[lexical_at][1]

    def matched(qid) -> set:
        return {r[2] for r in lexical if r[0] == qid}

    assert matched(4) == {"\ufb01le \ufb01nder for spark"}
    assert matched(5) == {"\u212aelvin scale readings"}
    assert matched(6) == {"\u0130stanbul spark meetup"}
    assert matched(3) == matched(7) == matched(8) == set()


def test_driver_copy_follows_each_table_version(spark, tmp_path_factory):
    """The copy lives and dies with its version: after add_documents or
    delete_documents the next scan answers from the new rows (describe
    says ``cold`` until then, ``driver`` after), delete_collection drops
    it, and a version that fails a fail-closed check (a NULL vector)
    serves through Spark with the Spark plans' answers."""
    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("scan_versions"))
    eng = CollectionEngine(spark, root, embed_model=_scan_model)
    eng.create_collection("scan")
    eng.add_documents("scan", _SCAN_DOCS[:6])
    api = VectorSearchApi(eng)
    assert not api.lexical_search("scan", ["meetup"]).collect()
    assert eng.describe_collection("scan")["scan_serve"] == "driver"
    eng.add_documents("scan", ["a late meetup note"])
    assert eng.describe_collection("scan")["scan_serve"] == "cold"
    assert [r.content for r in api.lexical_search("scan", ["meetup"]).collect()] == [
        "a late meetup note"
    ]
    assert eng.describe_collection("scan")["scan_serve"] == "driver"
    late = api.semantic_search("scan", ["a late meetup note"], number_results=1).first()
    eng.delete_documents("scan", [late.id])
    assert late.id not in {r.id for r in api.search("scan", "meetup", number_results=50).collect()}
    assert eng.describe_collection("scan")["scan_serve"] == "driver"
    eng.delete_collection("scan", confirm=True)
    assert not [k for k in eng._frames if k[0] == eng._scoped("scan")]

    # a NULL vector: the version keeps the Spark plans, with their answers
    eng.create_collection("scan")
    eng.add_documents("scan", _SCAN_DOCS)
    hole = eng.read("scan").limit(1).withColumn("embedding", F.lit(None).cast("array<float>"))
    eng._rewrite_partitions(
        eng._scoped("scan"), [hole.first().id[:2]],
        eng._read_partitions(eng._scoped("scan"), [hole.first().id[:2]])
        .join(hole.select("id"), "id", "left_anti").unionByName(hole),
    )
    calls = [
        (lambda a: a.semantic_search("scan", _SCAN_QUESTIONS, number_results=50), True),
        (lambda a: a.lexical_search("scan", _SCAN_QUESTIONS, number_results=50), False),
        (lambda a: a.search("scan", "spark data", number_results=50), False),
    ]
    got = [_rows(call(api), sort) for call, sort in calls]
    assert eng.describe_collection("scan")["scan_serve"] == "spark"
    assert got == _spark_route(spark, root, calls)
