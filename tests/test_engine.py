from __future__ import annotations

import pytest

from vector_mcp_spark.engine import CollectionEngine
from vector_mcp_spark.validation import EngineError


@pytest.fixture()
def engine(spark, tmp_path):
    return CollectionEngine(spark, str(tmp_path), tenant="acme")


def _exact_topk(df, qv, k: int, metric: str) -> list[str]:
    """Ids of the exact top-k over the stored vectors, scored in numpy and
    ordered as every served search orders: the score rounded to 6 places
    (l2 ascending, cosine and dot descending), then id."""
    import numpy as np

    q = np.asarray(qv, dtype=np.float64)

    def score(v) -> float:
        v = np.asarray(v, dtype=np.float64)
        if metric == "cosine":
            return float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        if metric == "dot":
            return float(v @ q)
        return float(np.linalg.norm(v - q))

    sign = 1.0 if metric == "l2" else -1.0
    rows = [(r.id, score(r.embedding)) for r in df.select("id", "embedding").collect()
            if r.embedding is not None]
    rows.sort(key=lambda r: (sign * round(r[1], 6), r[0]))
    return [i for i, _ in rows[:k]]


def test_lifecycle(engine):
    engine.create_collection("kb")
    assert engine.get_collections() == ["kb"]
    assert engine.collection_exists("kb")
    engine.delete_collection("kb", confirm=True)
    assert engine.get_collections() == []


def test_create_existing_no_get_or_create(engine):
    engine.create_collection("kb")
    with pytest.raises(EngineError, match="collection_exists"):
        engine.create_collection("kb", get_or_create=False)
    engine.create_collection("kb")  # get-or-create default is silent


def test_overwrite_drops_documents(engine):
    engine.create_collection("kb")
    engine.add_documents("kb", ["doc one text"])
    assert engine.read("kb").count() == 1
    engine.create_collection("kb", overwrite=True)
    assert engine.read("kb").count() == 0


def test_ingest_dedup_and_sanitize(engine):
    engine.create_collection("kb")
    n = engine.add_documents(
        "kb",
        ["same content", "same content", "mail bob@example.com", "see /private/x/y now"],
        metadatas=[{"topic": "t"}, {"topic": "t"}, {"filepath": "/a/b", "kept": "v"}, None],
    )
    assert n == 3  # exact dup collapsed
    rows = {r.content: r.metadata for r in engine.read("kb").collect()}
    assert "mail [REDACTED] maybe" not in rows  # sanity: no over-redaction
    assert any("[REDACTED]" in c for c in rows)
    assert any("[REDACTED_PATH]" in c for c in rows)
    meta = rows[next(c for c in rows if "[REDACTED]" in c and "PATH" not in c)]
    assert meta == {"kept": "v"}  # filepath key dropped


def test_content_addressed_ids_stable(engine):
    engine.create_collection("kb")
    engine.add_documents("kb", ["alpha"])
    id1 = engine.read("kb").collect()[0].id
    engine.add_documents("kb", ["alpha"])  # upsert same content
    rows = engine.read("kb").collect()
    assert len(rows) == 1 and rows[0].id == id1


def test_no_upsert_duplicate_guard(engine):
    engine.create_collection("kb")
    engine.add_documents("kb", ["alpha"])
    with pytest.raises(EngineError, match="document_exists"):
        engine.add_documents("kb", ["alpha"], upsert=False)


def test_delete_and_get_by_ids(engine):
    engine.create_collection("kb")
    engine.add_documents("kb", ["a text", "b text", "c text"])
    ids = sorted(r.id for r in engine.read("kb").collect())
    got = engine.get_documents_by_ids("kb", ids[:2], include=["content"])
    assert got.count() == 2 and got.columns == ["id", "content"]
    engine.delete_documents("kb", ids[:1])
    assert engine.read("kb").count() == 2


def test_tenant_isolation(spark, tmp_path, engine):
    engine.create_collection("kb")
    other = CollectionEngine(spark, str(tmp_path), tenant="other")
    assert other.get_collections() == []
    with pytest.raises(EngineError, match="collection_not_found"):
        other.read("kb")


def test_untenanted_engine(spark, tmp_path):
    eng = CollectionEngine(spark, str(tmp_path))
    eng.create_collection("plain")
    assert eng.get_collections() == ["plain"]


def test_validation_errors(engine):
    with pytest.raises(EngineError, match="collection_name_invalid"):
        engine.create_collection("9starts_with_digit")
    with pytest.raises(EngineError, match="collection_name_invalid"):
        engine.create_collection("x" * 41)
    engine.create_collection("kb")
    with pytest.raises(EngineError, match="delete_not_confirmed"):
        engine.delete_collection("kb")
    with pytest.raises(EngineError, match="ingest_too_many_documents"):
        engine.add_documents("kb", ["x"] * 1001)


def test_upsert_leaves_untouched_partitions_byte_identical(spark, tmp_path):
    """The partition-pruned MERGE contract: a batch rewrite must not read or
    rewrite partitions its ids don't hash into — their files stay identical
    (same paths, sizes, mtimes)."""
    from pathlib import Path

    import hashlib

    from vector_mcp_spark.engine import CollectionEngine, _PART_LEN, _physical_name

    eng = CollectionEngine(spark, str(tmp_path / "root"))
    eng.create_collection("pruned")
    docs = [f"stable doc number {i}" for i in range(40)]
    eng.add_documents("pruned", docs)
    table = Path(tmp_path / "root" / "collections" / _physical_name("pruned"))

    def snapshot():
        return {
            str(p): (p.stat().st_size, p.stat().st_mtime_ns)
            for p in table.rglob("*.parquet")
        }

    before = snapshot()
    new_doc = "a brand new document"
    touched = {hashlib.sha256(new_doc.encode()).hexdigest()[:_PART_LEN]}
    eng.add_documents("pruned", [new_doc])
    after = snapshot()
    untouched_before = {
        p: v for p, v in before.items()
        if not any(f"_p={t}/" in p or p.split("_p=")[-1].split("/")[0] == t for t in touched)
    }
    for p, v in untouched_before.items():
        assert after.get(p) == v, f"untouched partition file changed: {p}"
    assert eng.read("pruned").count() == 41

    # delete prunes too: removing one doc must leave other buckets alone
    victim_id = hashlib.sha256(docs[0].encode()).hexdigest()
    before = snapshot()
    eng.delete_documents("pruned", [victim_id])
    after = snapshot()
    for p, v in before.items():
        if f"_p={victim_id[:_PART_LEN]}" not in p:
            assert after.get(p) == v, f"untouched partition file changed: {p}"
    assert eng.read("pruned").count() == 40


def test_dimension_lock_on_recreate(spark, tmp_path):
    # postgres.py:161-172 — get-or-create with a drifted dimension must raise
    from vector_mcp_spark.engine import CollectionEngine

    eng = CollectionEngine(spark, str(tmp_path / "dimroot"))
    eng.create_collection("vecs", dimension=64)
    eng.create_collection("vecs", dimension=64)  # same dim: fine
    with pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
        eng.create_collection("vecs", dimension=128)
    # overwrite re-locks to the new dimension
    eng.create_collection("vecs", dimension=128, overwrite=True)
    eng.create_collection("vecs", dimension=128)


def test_dimension_lock_on_ingest(spark, tmp_path):
    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.schema import DOCUMENT_SCHEMA

    eng = CollectionEngine(spark, str(tmp_path / "dimroot2"))
    eng.create_collection("vecs", dimension=4)
    eng.add_documents("vecs", ["ok"], embeddings=[[1.0, 0.0, 0.0, 0.0]])
    with pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
        eng.add_documents("vecs", ["bad"], embeddings=[[1.0, 0.0]])
    with pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
        eng.update_documents(
            "vecs",
            spark.createDataFrame([("idx", "bad", None, [1.0, 0.0])], DOCUMENT_SCHEMA),
        )
    # rejected batches must not have partially landed
    assert eng.read("vecs").count() == 1
    # content-only rows (embedding null) are still accepted
    eng.add_documents("vecs", ["no vector yet"])
    assert eng.read("vecs").count() == 2


def test_in_batch_last_writer_wins_order_is_list_position(spark, tmp_path):
    # the _ord column is the caller's list position — dedup keeps the LAST
    # occurrence's metadata regardless of partitioning
    from vector_mcp_spark.engine import CollectionEngine

    eng = CollectionEngine(spark, str(tmp_path / "ordroot"))
    eng.create_collection("kb")
    eng.add_documents(
        "kb",
        ["same text"] * 3,
        metadatas=[{"v": "first"}, {"v": "mid"}, {"v": "last"}],
    )
    rows = eng.read("kb").collect()
    assert len(rows) == 1 and rows[0].metadata == {"v": "last"}


def test_empty_collection_and_nonexistent_ids_parity(spark, tmp_path_factory):
    """Reference parity (test_all_backends.py test_empty_collection /
    test_nonexistent_document): searching an empty collection returns zero
    hits — not an error — and point-lookups of unknown ids return zero rows."""
    from vector_mcp_spark.api import VectorSearchApi

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("empty_root")))
    eng.create_collection("hollow")
    api = VectorSearchApi(eng)
    assert api.semantic_search("hollow", ["anything"], number_results=5).count() == 0
    assert api.search("hollow", "anything", number_results=5).count() == 0
    assert eng.get_documents_by_ids("hollow").count() == 0
    eng.add_documents("hollow", ["one real doc"])
    assert eng.get_documents_by_ids("hollow", ids=["nonexistent_id"]).count() == 0


# -- transactional MERGE seam (VERDICT r4 optional stretch) -------------------


def test_transactional_format_gate():
    import pytest

    from vector_mcp_spark.operators.transactional import transactional_format
    from vector_mcp_spark.validation import EngineError

    assert transactional_format({}) is None
    assert transactional_format({"VECTOR_MCP_SPARK_TABLE_FORMAT": "parquet"}) is None
    assert transactional_format({"VECTOR_MCP_SPARK_TABLE_FORMAT": " Delta "}) == "delta"
    assert transactional_format({"VECTOR_MCP_SPARK_TABLE_FORMAT": "iceberg"}) == "iceberg"
    with pytest.raises(EngineError, match="table_format_unsupported"):
        transactional_format({"VECTOR_MCP_SPARK_TABLE_FORMAT": "orc"})


def test_merge_sql_generation():
    from vector_mcp_spark.operators.transactional import (
        delete_where_sql,
        merge_into_sql,
        qualified_table,
    )

    tgt = qualified_table("delta", "/lake/docs")
    assert tgt == "delta.`/lake/docs`"
    assert qualified_table("iceberg", "cat.db.docs") == "cat.db.docs"
    sql = merge_into_sql(tgt, "_merge_src")
    assert "MERGE INTO delta.`/lake/docs` AS t" in sql
    assert "ON t.id = s.id" in sql
    assert "WHEN MATCHED THEN UPDATE SET *" in sql
    assert "WHEN NOT MATCHED THEN INSERT *" in sql
    dsql = delete_where_sql(tgt, "_delete_src")
    assert dsql.startswith("DELETE FROM delta.`/lake/docs`")
    assert "id IN (SELECT id FROM _delete_src)" in dsql


def test_engine_flag_routes_to_merge_and_fails_closed(spark, tmp_path_factory, monkeypatch):
    """With the flag set but no Delta runtime in the session, a mutation must
    fail with the stable code (not an AnalysisException) and reads/creates
    must still work — the gate touches only the mutation path."""
    import pytest

    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.validation import EngineError

    monkeypatch.setenv("VECTOR_MCP_SPARK_TABLE_FORMAT", "delta")
    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("txn_root")))
    assert eng._table_format == "delta"
    eng.create_collection("txn")
    docs = spark.createDataFrame(
        [("d1", "hello", None, None)],
        "id string, content string, metadata map<string,string>, embedding array<float>",
    )
    with pytest.raises(EngineError, match="table_format_unavailable"):
        eng.update_documents("txn", docs)
    with pytest.raises(EngineError, match="table_format_unavailable"):
        eng.delete_documents("txn", ["d1"])
    # unset flag → the parquet rewrite path still works end to end
    monkeypatch.delenv("VECTOR_MCP_SPARK_TABLE_FORMAT")
    eng2 = CollectionEngine(spark, str(tmp_path_factory.mktemp("txn_root2")))
    eng2.create_collection("plain")
    eng2.update_documents("plain", docs)
    assert eng2.read("plain").count() == 1


@pytest.mark.slow
def test_search_index_build_serve_staleness(spark, tmp_path_factory):
    """Build → fresh; the sparse search served from the postings family is
    result-identical to the scan operator, with partition pruning on term
    buckets; any mutation → stale and both indexed searches refuse rather
    than return stale results, until a rebuild."""
    import pytest

    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.functions.embedder import hash_embed
    from vector_mcp_spark.operators.vecapi import sparse_dot_topk
    from vector_mcp_spark.validation import EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("idx_root")))
    eng.create_collection("idx")
    eng.add_documents("idx", [
        "spark joins data", "vector spark search", "coffee and tea",
        "spark spark spark", "data pipelines at scale",
    ])
    qw = [("spark", 1.0), ("data", 1.0)]
    qv = hash_embed("spark data", 64)
    assert eng.index_status("idx") == "absent"
    with pytest.raises(EngineError, match="index_not_fresh"):
        eng.indexed_sparse_search("idx", qw)

    info = eng.build_search_index("idx")
    assert info["n_vectors"] == 5 and info["n_terms"] > 0
    assert eng.index_status("idx") == "fresh"

    served = eng.indexed_sparse_search("idx", qw, k=5)
    scan = sparse_dot_topk(eng.read("idx"), qw, 5, id_col="id", content_col="content")
    assert [(r.id, r.score) for r in served.collect()] == [
        (r.id, r.score) for r in scan.collect()
    ]
    # the scan opens only the query terms' hash-bucket partitions
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "term_bucket" in plan

    # any mutation flips freshness; serving refuses until rebuild
    eng.add_documents("idx", ["fresh new doc about spark"])
    assert eng.index_status("idx") == "stale"
    for call in (
        lambda: eng.indexed_sparse_search("idx", qw),
        lambda: eng.indexed_graph_search("idx", qv),
    ):
        with pytest.raises(EngineError, match="index_not_fresh"):
            call()
    eng.build_search_index("idx")
    assert eng.index_status("idx") == "fresh"
    assert eng.indexed_sparse_search("idx", [("fresh", 1.0)]).count() == 1
    assert eng.indexed_graph_search("idx", qv, k=6).count() == 6


def test_search_index_on_empty_collection(spark, tmp_path_factory):
    """Building and serving against an empty or one-document collection
    must work (zero or one vectors, fresh status, empty results) — not
    crash on parquet schema inference over marker-only directories. Under
    two vectors there is no graph to descend, so dense search answers
    empty with the stable (id, content, score) schema."""
    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.functions.embedder import hash_embed

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("empty_idx")))
    eng.create_collection("empty")
    info = eng.build_search_index("empty")
    assert info["n_terms"] == 0 and info["n_vectors"] == 0
    assert eng.index_status("empty") == "fresh"
    qv = hash_embed("anything", 64)
    assert eng.indexed_graph_search("empty", qv, k=3).collect() == []

    eng.create_collection("tiny")
    eng.add_documents("tiny", ["only one doc"])
    assert eng.build_search_index("tiny")["n_vectors"] == 1
    assert eng.index_status("tiny") == "fresh"
    got = eng.indexed_graph_search("tiny", qv, k=3)
    assert got.columns == ["id", "content", "score"] and got.collect() == []
    assert [r.content for r in eng.indexed_sparse_search("tiny", [("doc", 1.0)]).collect()] == [
        "only one doc"
    ]


def test_index_family_schemas_equal_the_inferred_ones(spark, tmp_path_factory):
    """Every index-family read supplies the schema parquet inference gives
    a non-empty index, so no read infers one; an indexed empty
    collection's families hold only ``_SUCCESS`` markers, read empty, and
    MCP ``sparse_search`` on it answers no results instead of a raw
    ``UNABLE_TO_INFER_SCHEMA``."""
    from vector_mcp_spark import engine as engine_mod
    from vector_mcp_spark.mcp import McpVeneer

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("family_schemas")))
    eng.create_collection("fam")
    eng.add_documents("fam", [f"family doc {i} about topic {i % 5} word{i}" for i in range(40)])
    eng.build_search_index("fam")
    root = eng._index_root(eng._require("fam"))
    families = {
        "postings": engine_mod._POSTINGS_SCHEMA,
        "doclen": engine_mod._DOCLEN_SCHEMA,
        "ids": engine_mod._IDS_SCHEMA,
        "graph": engine_mod._GRAPH_SCHEMA,
    }
    for family, ddl in families.items():
        supplied = eng._read_family(root / family, ddl)
        assert supplied.schema == spark.read.parquet(str(root / family)).schema, family
        assert supplied.count() > 0, family

    eng.create_collection("hollow")
    eng.build_search_index("hollow")
    hollow = eng._index_root(eng._require("hollow"))
    for family in ("postings", "doclen", "ids"):
        assert eng._read_family(hollow / family, families[family]).count() == 0
    out = McpVeneer(eng).vector_search(
        "sparse_search", collection_name="hollow", query_weights={"x": 1.0}
    )
    assert out == {"action": "sparse_search", "collection_name": "hollow", "results": []}


def test_build_embeds_once_and_derives_families_from_one_corpus(spark, tmp_path_factory):
    """Each row is embedded once, at insert: the build calls no embedder,
    the ``ids`` sidecar fingerprints the stored vectors, the graph links
    only stored rows, no retired family is written, and the manifest
    counts match driver-side recounts."""
    import json

    from pyspark.sql import functions as F

    from vector_mcp_spark.functions import embedder
    from vector_mcp_spark.functions.text import tokenize_py

    embedded = spark.sparkContext.accumulator(0)

    def counting_model(texts):
        embedded.add(len(texts))
        return [embedder.hash_embed(t, 64) for t in texts]

    eng = CollectionEngine(
        spark, str(tmp_path_factory.mktemp("build_once")), embed_model=counting_model
    )
    eng.create_collection("once")
    docs = [f"pin doc {i} topic {i % 5} word{i % 3}" for i in range(24)]
    eng.add_documents("once", docs)
    assert embedded.value == 24
    info = eng.build_search_index("once")
    assert embedded.value == 24

    root = eng._index_root(eng._require("once"))
    manifest = json.loads((root / "manifest.json").read_text())
    assert sorted(p.name for p in root.iterdir() if p.is_dir()) == [
        "doclen", "graph", "ids", "postings"
    ]
    assert "ivfpq" not in manifest and "quantization" not in manifest
    stored = eng.read("once")
    expected = stored.select("id", F.xxhash64("id", "content", "embedding").alias("rowhash"))
    as_rows = lambda df: sorted((r.id, r.rowhash) for r in df.collect())  # noqa: E731
    assert as_rows(spark.read.parquet(str(root / "ids"))) == as_rows(expected)
    edges = spark.read.parquet(str(root / "graph"))
    linked = {r.node for r in edges.select(F.col("src").alias("node")).union(
        edges.select("dst")).distinct().collect()}
    ids = {r.id for r in stored.select("id").collect()}
    assert linked <= ids and manifest["graph"]["entry"] in ids

    contents = [r.content for r in stored.select("content").collect()]
    vocab = {t for c in contents for t in tokenize_py(c)}
    assert manifest["n_vectors"] == info["n_vectors"] == len(contents) == 24
    assert manifest["n_terms"] == info["n_terms"] == len(vocab)
    assert manifest["dimension"] == len(stored.first().embedding) == 64


def test_index_with_retired_families_reads_fresh_serves_and_repairs(spark, tmp_path_factory):
    """An index written while the sign/int8 and IVF-PQ families were still
    built — manifest keys ``ivfpq`` and ``quantization``, ``signs``,
    ``int8q`` and ``ivfpq`` directories — reads fresh, serves the same
    graph answers without a rebuild, and repair extends it after an
    append. The next build removes the retired directories and keys."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from vector_mcp_spark.functions.embedder import hash_embed

    root_dir = str(tmp_path_factory.mktemp("retired_families"))
    eng = CollectionEngine(spark, root_dir)
    eng.create_collection("old")
    eng.add_documents("old", [f"retired family doc {i} topic {i % 4}" for i in range(16)])
    eng.build_search_index("old")
    qs = [hash_embed(f"topic {i} doc", 64) for i in range(3)]

    def answers(engine) -> list:
        return [[tuple(r) for r in engine.indexed_graph_search("old", q, k=5).collect()]
                for q in qs]

    want = answers(eng)
    root = eng._index_root(eng._require("old"))
    mpath = root / "manifest.json"
    meta = json.loads(mpath.read_text())
    meta["quantization"] = "sign"
    meta["ivfpq"] = {
        "m": 4, "n_codes": 16, "centroids": [[0.0] * 64], "codebooks": [[[0.0] * 16]] * 4,
    }
    mpath.write_text(json.dumps(meta))
    retired = {"signs": {"id": ["x"], "lo": [0], "hi": [0]},
               "int8q": {"id": ["x"], "scale": [1.0]},
               "ivfpq": {"id": ["x"], "cluster": [0]}}
    for family, cols in retired.items():
        (root / family).mkdir()
        pq.write_table(pa.table(cols), str(root / family / "part-0.parquet"))

    cold = CollectionEngine(spark, root_dir)
    assert cold.index_status("old") == "fresh"
    assert answers(cold) == want
    cold.add_documents("old", ["a late retired family arrival"])
    assert cold.index_status("old") == "stale"
    assert cold.repair_search_index("old")["repaired"] == 1
    assert cold.index_status("old") == "repaired"
    late = cold.indexed_graph_search("old", hash_embed("a late retired family arrival", 64), k=1)
    assert [r.content for r in late.collect()] == ["a late retired family arrival"]

    cold.build_search_index("old")
    assert cold.index_status("old") == "fresh"
    assert not any((root / family).exists() for family in retired)
    assert not {"ivfpq", "quantization"} & set(json.loads(mpath.read_text()))


def test_spread_repartitions_checkpointed_single_partition_input(spark):
    """A checkpoint leaf reports Catalyst's no-statistics placeholder size;
    spread must read it as unknown and repartition, not as already big."""
    from vector_mcp_spark.operators.partition import _plan_size_bytes, spread

    target = spark.sparkContext.defaultParallelism
    assert target > 1
    rows = spark.sparkContext.parallelize([(i, f"t{i}") for i in range(24)], 1)
    pinned = spark.createDataFrame(rows, "id long, s string").localCheckpoint(eager=True)
    assert pinned.rdd.getNumPartitions() == 1
    no_stats = int(spark.conf.get("spark.sql.defaultSizeInBytes").rstrip("b"))
    assert _plan_size_bytes(pinned) >= no_stats
    spread_df = spread(pinned)
    assert spread_df.rdd.getNumPartitions() == target
    assert sorted(r.id for r in spread_df.collect()) == list(range(24))


def test_indexed_graph_search_rejects_non_finite_and_empty_queries(spark, tmp_path_factory):
    """NaN/Inf elements and empty vectors have no SQL literal form: every
    indexed vector search and the descent renderer refuse them with a
    stable code before any SQL is rendered — a lone query, a bad row in a
    batch, an empty batch."""
    from vector_mcp_spark.operators.graph_ann import ann_hnsw_prepared_sql

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("graph_nonfinite")))
    eng.create_collection("kb", dimension=4)
    eng.add_documents(
        "kb",
        ["alpha", "beta", "gamma"],
        embeddings=[[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]],
    )
    eng.build_search_index("kb")
    nan, inf = float("nan"), float("inf")
    good = [1.0, 0.0, 0.0, 0.0]
    searches = (
        lambda v: eng.indexed_graph_search("kb", v, k=2),
        lambda v: eng.indexed_filtered_search("kb", v, {"team": "a"}, k=2),
        lambda v: ann_hnsw_prepared_sql("n", "e", "x", [("q", v)], k=2),
        lambda v: ann_hnsw_prepared_sql("n", "e", "x", [("p", good), ("q", v)], k=2),
    )
    for bad in ([nan, 0.0, 0.0, 0.0], [0.0, inf, 0.0, 0.0], [0.0, 0.0, -inf, 0.0], []):
        for search in searches:
            with pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
                search(bad)
    with pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
        ann_hnsw_prepared_sql("n", "e", "x", [], k=2)
    got = eng.indexed_graph_search("kb", good, k=2).collect()
    assert len(got) == 2 and all(r.score is not None for r in got)


def test_add_documents_refuses_non_finite_embeddings(spark, tmp_path_factory):
    """A NaN/Inf embedding element (or one past the float32 range the table
    stores) is refused with the stable schema-mismatch code and nothing is
    written: stored, a NaN row would rank first in every scan and keep the
    collection's graph serve set off the driver."""
    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("add_nonfinite")))
    eng.create_collection("kb", dimension=2)
    nan, inf = float("nan"), float("inf")
    for bad in ([nan, 0.0], [0.0, inf], [-inf, 0.0], [1e39, 0.0]):
        with pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
            eng.add_documents("kb", ["ok", "bad"], embeddings=[[1.0, 0.0], bad])
    assert eng.count_documents("kb") == 0
    assert eng.add_documents("kb", ["ok"], embeddings=[[1.0, 0.0]]) == 1


def test_conf_bytes_follows_spark_byte_strings(spark):
    """One reader for byte-size confs: Spark's rendered default ("...b"), a
    user value with a unit suffix, and -1 (broadcast off) all read as
    Spark reads them, and the broadcast gate follows."""
    from vector_mcp_spark.operators.partition import conf_bytes, fits_broadcast

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.unset(key)
        assert spark.conf.get(key) == "10485760b"
        assert conf_bytes(spark, key, 0) == 10 * 1024**2
        for value, want in (("20m", 20 * 1024**2), ("64MB", 64 * 1024**2), ("3g", 3 * 1024**3),
                            ("4096", 4096), ("-1", -1)):
            spark.conf.set(key, value)
            assert conf_bytes(spark, key, 7) == want, value
        spark.conf.set(key, "20m")
        assert fits_broadcast(spark, 20 * 1024**2) and not fits_broadcast(spark, 20 * 1024**2 + 1)
        spark.conf.set(key, "-1")
        assert not fits_broadcast(spark, 0)
    finally:
        spark.conf.set(key, prev)


def test_read_reuses_listed_frame_until_table_changes(spark, tmp_path, monkeypatch):
    """A second read of an unchanged table runs no Spark job (the listing
    is reused), and every write is seen by the next read: each mutation
    kind, a write through another engine on the same root, delete and
    re-create under the same name, and a write that lands while the read
    is listing. Dropping a collection drops its frames; named-vector
    scans follow their sidecar the same way."""
    from pyspark.sql import DataFrameReader
    from pyspark.sql import functions as F

    sc = spark.sparkContext._jsc.sc()

    def next_job_id() -> int:
        sc.listenerBus().waitUntilEmpty()
        return int(sc.dagScheduler().nextJobId())

    def rows(engine) -> list:
        return sorted(
            (r.id, r.content, sorted((r.metadata or {}).items()), r.embedding)
            for r in engine.read("fr").collect()
        )

    root = str(tmp_path)
    eng, other = CollectionEngine(spark, root), CollectionEngine(spark, root)
    cfg = {"v": {"dimension": 2}}
    eng.create_collection("fr", vectors_config=cfg)
    # enough id prefixes (> parallelPartitionDiscovery.threshold) that the
    # listing itself is a Spark job
    eng.add_documents("fr", [f"listed doc {i}" for i in range(48)])
    before = next_job_id()
    eng.read("fr")
    assert next_job_id() > before
    before = next_job_id()
    eng.read("fr")
    assert next_job_id() == before

    def seen_after(change) -> list:
        """Apply ``change``; the warm engine's next read must equal a cold
        engine's, and differ from what it read before."""
        old = rows(eng)
        change()
        new = rows(eng)
        assert new == rows(CollectionEngine(spark, root))
        assert new != old
        return new

    some_id = rows(eng)[0][0]
    got = seen_after(lambda: eng.add_documents("fr", ["a brand new doc"]))
    assert any(c == "a brand new doc" for _, c, _, _ in got)
    got = seen_after(lambda: eng.add_documents("fr", ["listed doc 3"], [{"v": "up"}]))
    assert ("v", "up") in next(m for _, c, m, _ in got if c == "listed doc 3")
    got = seen_after(lambda: eng.delete_documents("fr", [some_id]))
    assert some_id not in {i for i, _, _, _ in got}
    target = got[0][0]
    seen_after(lambda: eng.set_payload("fr", [target], {"tag": "x"}))
    seen_after(lambda: eng.update_documents(
        "fr", eng.read("fr").where(F.col("id") == target)
        .withColumn("embedding", F.array(F.lit(1.0), F.lit(0.0)).cast("array<float>"))
    ))
    seen_after(lambda: other.add_documents("fr", ["written by another engine"]))
    # an upsert of every row keeps the rows but replaces every file: a
    # reused stale listing would fail on the deleted files
    pre = rows(eng)
    eng.update_documents("fr", eng.read("fr"))
    assert rows(eng) == pre

    # a write that lands after the read listed: the frame may miss it, the
    # next read may not
    listing = DataFrameReader.parquet
    raced: list[str] = []

    def parquet_then_write(reader, *paths, **kw):
        df = listing(reader, *paths, **kw)
        if not raced:
            raced.append("a doc written mid-read")
            other.add_documents("fr", raced)
        return df

    eng.add_documents("fr", ["forces a miss"])
    monkeypatch.setattr(DataFrameReader, "parquet", parquet_then_write)
    eng.read("fr")
    monkeypatch.setattr(DataFrameReader, "parquet", listing)
    assert raced and any(c == raced[0] for _, c, _, _ in rows(eng))

    # named vectors: the scan sees every put
    def named_ids() -> set:
        return {r.id for r in eng.named_vector_search("fr", "v", [1.0, 0.0], k=50, indexed=False).collect()}

    ids = [i for i, _, _, _ in rows(eng)]
    eng.put_named_vectors("fr", "v", {ids[0]: [1.0, 0.0]})
    assert named_ids() == {ids[0]}
    eng.put_named_vectors("fr", "v", {ids[1]: [0.5, 0.5]})
    assert named_ids() == {ids[0], ids[1]}

    scoped = eng._require("fr")
    eng.delete_collection("fr", confirm=True)
    assert not any(key[0] == scoped for key in eng._frames)
    eng.create_collection("fr")
    assert rows(eng) == []
    eng.add_documents("fr", ["only doc after re-create"])
    assert [c for _, c, _, _ in rows(eng)] == ["only doc after re-create"]
    eng.create_collection("fr", overwrite=True)
    assert not any(key[0] == scoped for key in eng._frames)
    assert rows(eng) == []


def test_driver_serve_set_lifecycle(spark, tmp_path_factory):
    """A warm graph query whose serve set fits the session broadcast bound
    is answered in-process: no Spark job, and the same rows (ids, content,
    scores, order) as the SQL descent a fresh engine serves with the bound
    at -1 — on the built index and again after a repair. A table change
    still refuses first, and describe_collection reports the regime."""
    from vector_mcp_spark.functions.embedder import hash_embed

    bound = "spark.sql.autoBroadcastJoinThreshold"
    sc = spark.sparkContext._jsc.sc()

    def next_job_id() -> int:
        sc.listenerBus().waitUntilEmpty()
        return int(sc.dagScheduler().nextJobId())

    root = str(tmp_path_factory.mktemp("driver_serve"))
    eng = CollectionEngine(spark, root)
    eng.create_collection("drv")
    eng.add_documents("drv", [f"driver serve doc {i} topic {i % 4}" for i in range(24)])
    eng.build_search_index("drv")
    assert eng.describe_collection("drv")["graph_serve"] == "cold"
    qs = [hash_embed(f"topic {i} doc", 64) for i in range(3)]

    def answers(engine) -> list:
        return [engine.indexed_graph_search("drv", q, k=30, ef=48).collect() for q in qs]

    def sql_answers() -> list:
        prev = spark.conf.get(bound)
        spark.conf.set(bound, "-1")
        try:
            sql_engine = CollectionEngine(spark, root)
            got = answers(sql_engine)
            assert sql_engine.describe_collection("drv")["graph_serve"] == "sql"
        finally:
            spark.conf.set(bound, prev)
        return got

    cold = answers(eng)  # the miss builds and collects the serve set
    before = next_job_id()
    warm = answers(eng)
    state = eng._graph_serve_state(eng._require("drv"), "fresh")
    assert next_job_id() == before
    assert state["graph_serve"] == "driver" and state["graph_serve_bytes"] > 24 * 64 * 8
    # the graph's driver set is the table's driver copy plus adjacency
    table = eng.scan_table("drv")[1]
    serve = eng._collection_graph_serve("drv", eng._require("drv"), "cosine")
    assert serve.driver.vecs is table.vecs and serve.driver.payload is table.content
    assert eng.describe_collection("drv")["scan_serve"] == "driver"
    assert eng.describe_collection("drv")["graph_serve"] == "driver"
    assert warm == cold and all(rows for rows in warm)
    assert warm == sql_answers()

    eng.add_documents("drv", ["a late document about topic 1"])
    with pytest.raises(EngineError, match="index_not_fresh"):
        eng.indexed_graph_search("drv", qs[0], k=30)
    assert eng.describe_collection("drv")["graph_serve"] == "cold"
    eng.repair_search_index("drv")
    repaired = answers(eng)
    assert any(r.content == "a late document about topic 1" for rows in repaired for r in rows)
    assert repaired == sql_answers()


def test_serve_sets_are_dropped_with_their_engine(spark, tmp_path_factory):
    """A graph serve set's global views live as long as the engine that
    published them: engines that served and were collected leave no
    ``_hnsw_*`` view behind."""
    import gc

    from vector_mcp_spark.functions.embedder import hash_embed

    def global_views() -> set:
        return {t.name for t in spark.catalog.listTables("global_temp") if t.isTemporary}

    root = str(tmp_path_factory.mktemp("serve_set_gc"))
    eng = CollectionEngine(spark, root)
    eng.create_collection("gc")
    eng.add_documents("gc", [f"collected doc {i} topic {i % 3}" for i in range(12)])
    eng.build_search_index("gc")
    del eng
    gc.collect()
    baseline = global_views()
    for _ in range(3):
        eng = CollectionEngine(spark, root)
        assert eng.indexed_graph_search("gc", hash_embed("topic 1", 64), k=3).collect()
        assert len(global_views() - baseline) == 2
        del eng
        gc.collect()
        assert global_views() == baseline


def test_catalog_dataframe_contract(spark, tmp_path_factory):
    """ADVICE r12 (medium): the catalog rows _catalog_rows reads back carry
    the six fields _write_catalog persists, including the per-collection
    distance, in a fresh engine as in the writing one."""
    import pyarrow.parquet as pq

    from vector_mcp_spark.engine import CollectionEngine

    root = str(tmp_path_factory.mktemp("cat_df"))
    eng = CollectionEngine(spark, root)
    eng.create_collection("cosdefault", dimension=4)
    eng.create_collection("l2coll", dimension=4, distance="l2")
    assert pq.read_schema(eng._catalog_path).names == [
        "collection_name", "table_name", "dimension", "created_at",
        "needs_embed", "distance",
    ]
    for reader in (eng, CollectionEngine(spark, root)):
        rows = reader._catalog_rows()
        assert all(len(r) == 6 for r in rows)
        assert {r[0]: (r[2], r[5]) for r in rows} == {
            "cosdefault": (4, "cosine"), "l2coll": (4, "l2"),
        }


def test_catalog_legacy_row_padding(spark, tmp_path_factory):
    """ADVICE r12 (low): _write_catalog pads legacy rows by MISSING FIELD —
    a 5-tuple (pre-distance) gets distance='cosine', never a boolean; a
    malformed row fails loudly instead of writing garbage."""
    import datetime as _dt

    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("cat_legacy")))
    now = _dt.datetime.now(_dt.timezone.utc)
    eng._write_catalog([
        ("four", "c_four", 4, now),                # pre-needs_embed era
        ("five", "c_five", 8, now, False),         # pre-distance era
        ("six", "c_six", 8, now, False, "dot"),    # current shape
    ])
    rows = {r[0]: r for r in eng._catalog_rows()}
    assert rows["four"][4:] == (True, "cosine")
    assert rows["five"][4:] == (False, "cosine")
    assert rows["six"][4:] == (False, "dot")
    with _pytest.raises(EngineError, match="catalog_row_malformed"):
        eng._write_catalog([("bad", "c_bad", 4)])


def test_catalog_concurrent_write_fails_loudly(spark, tmp_path_factory):
    """Two engine instances sharing a root: a write based on a stale catalog
    read raises EngineError('catalog_conflict') instead of silently dropping
    the other instance's row (ADVICE r5 — unserialized read-modify-write)."""
    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError

    root = str(tmp_path_factory.mktemp("cat_race"))
    a, b = CollectionEngine(spark, root), CollectionEngine(spark, root)
    a.create_collection("from_a")
    stale = b._catalog_rows()  # b's read caches a's mtime (the CAS base)
    a.create_collection("second_from_a")  # advances the catalog under b
    with _pytest.raises(EngineError, match="catalog_conflict"):
        b._write_catalog(stale)  # the write the old code let silently win
    # nothing was dropped, and a re-read refreshes the CAS base
    assert sorted(b.get_collections()) == ["from_a", "second_from_a"]
    b.create_collection("from_b", get_or_create=False)
    assert sorted(a.get_collections()) == ["from_a", "from_b", "second_from_a"]


def test_catalog_write_lock_blocks_second_writer(spark, tmp_path_factory):
    """A held .lock file makes a concurrent writer fail loudly, never merge
    blindly."""
    from pathlib import Path

    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError

    root = str(tmp_path_factory.mktemp("cat_lock"))
    eng = CollectionEngine(spark, root)
    lock = Path(eng._catalog_path + ".lock")
    lock.touch()
    try:
        with _pytest.raises(EngineError, match="catalog_locked"):
            eng.create_collection("blocked")
    finally:
        lock.unlink()
    eng.create_collection("unblocked")
    assert eng.get_collections() == ["unblocked"]


def test_catalog_stale_lock_recovery(spark, tmp_path_factory):
    """Orphaned .lock files are broken instead of write-bricking the
    warehouse (ADVICE r6): provably-dead pid -> immediate break; unreadable
    pid -> broken only past the TTL; a live holder still blocks."""
    import os
    import time as _time
    from pathlib import Path

    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError

    root = str(tmp_path_factory.mktemp("cat_stale"))
    eng = CollectionEngine(spark, root)
    lock = Path(eng._catalog_path + ".lock")

    # (a) dead-pid lock: spawn-and-reap a child so the pid is provably gone
    pid = os.fork()
    if pid == 0:
        os._exit(0)
    os.waitpid(pid, 0)
    lock.write_text(f"{pid} {_time.time():.3f}")
    eng.create_collection("after_dead_holder")  # breaks the lock and proceeds
    assert not lock.exists()

    # (b) fresh lock with no readable pid: NOT stale -> still blocks
    lock.touch()
    with _pytest.raises(EngineError, match=r"catalog_locked: .*\.lock"):
        eng.create_collection("blocked")
    # (c) same lock aged past the TTL: broken
    old = _time.time() - CollectionEngine._LOCK_TTL_S - 5
    os.utime(lock, (old, old))
    eng.create_collection("after_ttl")
    assert sorted(eng.get_collections()) == ["after_dead_holder", "after_ttl"]

    # (d) a live holder (this process) still blocks regardless of content
    lock.write_text(f"{os.getpid()} {_time.time():.3f}")
    try:
        with _pytest.raises(EngineError, match="catalog_locked"):
            eng.create_collection("still_blocked")
    finally:
        lock.unlink()


def test_time_travel_read_asof(spark, tmp_path_factory):
    """Every mutation appends to the changelog; read_asof reconstructs the
    table at any past instant and read_asof(now) always equals read()."""
    from datetime import datetime, timezone

    from vector_mcp_spark.engine import CollectionEngine

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("tt_root")))
    eng.create_collection("tt")
    eng.add_documents("tt", ["first doc", "second doc"],
                      metadatas=[{"k": "v1"}, None])
    t1 = datetime.now(timezone.utc)
    eng.add_documents("tt", ["third doc"])
    eng.add_documents("tt", ["first doc"])  # content-hash upsert, same id
    t2 = datetime.now(timezone.utc)
    # delete one of the originals
    first_id = {r.content: r.id for r in eng.read("tt").collect()}["second doc"]
    eng.delete_documents("tt", [first_id])

    at_t1 = {r.content for r in eng.read_asof("tt", t1).collect()}
    assert at_t1 == {"first doc", "second doc"}
    at_t2 = {r.content for r in eng.read_asof("tt", t2).collect()}
    assert at_t2 == {"first doc", "second doc", "third doc"}
    now = datetime.now(timezone.utc)
    assert {r.content for r in eng.read_asof("tt", now).collect()} == {
        "first doc", "third doc"}
    # full current-state equivalence, metadata and embeddings included
    cur = {(r.id, r.content, tuple(sorted((r.metadata or {}).items())))
           for r in eng.read("tt").collect()}
    tt = {(r.id, r.content, tuple(sorted((r.metadata or {}).items())))
          for r in eng.read_asof("tt", now).collect()}
    assert cur == tt
    # before creation: empty
    assert eng.read_asof("tt", datetime(2000, 1, 1, tzinfo=timezone.utc)).count() == 0
    # history audit: 3 upsert batches + 1 delete batch, in order
    hist = eng.collection_history("tt").collect()
    assert [h.op for h in hist] == ["upsert", "upsert", "upsert", "delete"]
    assert [h.n_rows for h in hist] == [2, 1, 1, 1]


def test_time_travel_distributed_upsert_and_legacy_guard(spark, tmp_path_factory):
    from datetime import datetime, timezone

    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError
    from vector_mcp_spark.schema import DOCUMENT_SCHEMA

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("tt2_root")))
    eng.create_collection("tt2")
    eng.add_documents("tt2", ["seed doc"], metadatas=[{"a": "1"}])
    t1 = datetime.now(timezone.utc)
    # distributed-path upsert (update_documents) logs too, same metadata shape
    df = spark.createDataFrame(
        [("zz" + "0" * 62, "bulk doc", {"b": "2"}, None)], DOCUMENT_SCHEMA
    )
    eng.update_documents("tt2", df)
    now = datetime.now(timezone.utc)
    snap = {r.content: (r.metadata or {}) for r in eng.read_asof("tt2", now).collect()}
    assert snap == {"seed doc": {"a": "1"}, "bulk doc": {"b": "2"}}
    assert {r.content for r in eng.read_asof("tt2", t1).collect()} == {"seed doc"}

    # a table that predates its changelog refuses to time-travel loudly
    import shutil

    scoped = eng._require("tt2")
    shutil.rmtree(eng._changelog_root(scoped))
    with _pytest.raises(EngineError, match="time_travel_unavailable"):
        eng.read_asof("tt2", now)


def test_payload_set_delete_and_count(spark, tmp_path_factory):
    """Qdrant-parity payload mutation: set_payload merges keys last-write-wins
    without touching content/embedding, delete_payload removes keys, both ride
    the changelog so read_asof stays consistent, and count_documents answers
    filtered point counts."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("pl_root")))
    eng.create_collection("pl")
    eng.add_documents(
        "pl",
        ["alpha doc", "beta doc", "gamma doc"],
        metadatas=[{"k": "old", "keep": "1"}, {"k": "old"}, None],
    )
    by_content = {r.content: r.id for r in eng.read("pl").collect()}
    t0 = datetime.now(timezone.utc)

    n = eng.set_payload(
        "pl", [by_content["alpha doc"], by_content["gamma doc"]],
        {"k": "new", "extra": "x", "file_path": "/etc/dropped"},
    )
    assert n == 2
    rows = {r.content: dict(r.metadata or {}) for r in eng.read("pl").collect()}
    assert rows["alpha doc"] == {"k": "new", "keep": "1", "extra": "x"}
    assert rows["beta doc"] == {"k": "old"}  # untouched id
    assert rows["gamma doc"] == {"k": "new", "extra": "x"}  # NULL map patched
    # content untouched, sanitizer dropped the private key
    assert "file_path" not in rows["alpha doc"]

    n = eng.delete_payload("pl", [by_content["alpha doc"]], ["extra", "absent"])
    assert n == 1
    rows = {r.content: dict(r.metadata or {}) for r in eng.read("pl").collect()}
    assert rows["alpha doc"] == {"k": "new", "keep": "1"}

    # changelog consistency: asof(now) == read(), asof(t0) == pre-patch state
    now = datetime.now(timezone.utc)
    tt = {(r.id, tuple(sorted((r.metadata or {}).items())))
          for r in eng.read_asof("pl", now).collect()}
    cur = {(r.id, tuple(sorted((r.metadata or {}).items())))
           for r in eng.read("pl").collect()}
    assert tt == cur
    pre = {r.content: dict(r.metadata or {}) for r in eng.read_asof("pl", t0).collect()}
    assert pre["alpha doc"] == {"k": "old", "keep": "1"}

    # counts: full, filtered, and zero-match
    assert eng.count_documents("pl") == 3
    assert eng.count_documents("pl", where=F.col("metadata")["k"] == "new") == 2
    assert eng.count_documents("pl", where=F.col("metadata")["k"] == "nope") == 0

    # no-op inputs
    assert eng.set_payload("pl", [], {"k": "v"}) == 0
    assert eng.set_payload("pl", [by_content["alpha doc"]], {"file_path": "/x"}) == 0
    assert eng.delete_payload("pl", [by_content["alpha doc"]], []) == 0
    assert eng.set_payload("pl", ["missing-id"], {"k": "v"}) == 0

    # JSON payload values coerce to their lexical form; None is dropped
    n = eng.set_payload("pl", [by_content["beta doc"]], {"views": 5, "hot": True, "gone": None})
    assert n == 1
    beta = {r.content: dict(r.metadata or {}) for r in eng.read("pl").collect()}["beta doc"]
    assert beta == {"k": "old", "views": "5", "hot": "true"}
    assert eng.set_payload("pl", [by_content["beta doc"]], {"gone": None}) == 0

    # delete_payload is a true no-op on docs without the keys: returns 0,
    # appends no changelog batch, and never coerces NULL metadata to {}
    hist_before = eng.collection_history("pl").count()
    eng.delete_payload("pl", [by_content["gamma doc"]], ["k"])  # gamma HAS k
    assert eng.delete_payload("pl", [by_content["gamma doc"]], ["k"]) == 0  # now absent
    assert eng.collection_history("pl").count() == hist_before + 1
    no_meta = eng.add_documents("pl", ["delta doc"])
    delta_id = {r.content: r.id for r in eng.read("pl").collect()}["delta doc"]
    assert eng.delete_payload("pl", [delta_id], ["k"]) == 0
    delta_meta = [r.metadata for r in eng.read("pl").collect() if r.id == delta_id]
    assert delta_meta == [None]


def test_concurrent_mutations_serialize_per_collection(spark, tmp_path_factory):
    """ADVICE r7 (high): SSE/HTTP transports dispatch tools/call on threads,
    so pipelined mutations of one collection must serialize — no lost rows
    from a shared stage dir, no colliding changelog seqs."""
    import threading

    from vector_mcp_spark.engine import CollectionEngine

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("conc_root")))
    eng.create_collection("conc")
    errs: list[BaseException] = []

    def ingest(i: int) -> None:
        try:
            eng.add_documents(
                "conc", [f"doc {i}-{j}" for j in range(5)], metadatas=[{"w": str(i)}] * 5
            )
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errs.append(e)

    threads = [threading.Thread(target=ingest, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    # every batch's rows survived (4 writers x 5 docs, all distinct content)
    assert eng.count_documents("conc") == 20
    # changelog seqs are unique per batch and the history is complete
    hist = eng.collection_history("conc").collect()
    seqs = [h.seq for h in hist]
    assert len(seqs) == len(set(seqs)) == 4
    assert sorted(h.n_rows for h in hist) == [5, 5, 5, 5]


def test_changelog_seq_claims_are_crash_safe(spark, tmp_path_factory):
    """Seq allocation is an O_EXCL dot-claim: a second allocator can never
    reuse a claimed seq, and claims are invisible to the log readers."""
    from vector_mcp_spark.engine import CollectionEngine

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("seq_root")))
    eng.create_collection("sq")
    eng.add_documents("sq", ["one doc"])
    root = eng._changelog_root(eng._require("sq"))
    # simulate a writer that claimed a seq then crashed before writing
    orphan = eng._next_seq(root)
    nxt = eng._next_seq(root)
    assert nxt == orphan + 1
    # dot-claims don't count as batches for readers
    assert eng.collection_history("sq").count() == 1


def test_legacy_table_seeds_changelog_on_first_mutation(spark, tmp_path_factory):
    """ADVICE r7 (medium): a table populated before the changelog existed
    must not silently time-travel to a PARTIAL snapshot after its first
    post-upgrade mutation — the first logged mutation seeds the log with the
    pre-mutation rows."""
    import shutil
    from datetime import datetime, timezone

    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("legacy_root")))
    eng.create_collection("lg")
    eng.add_documents("lg", ["ancient doc", "old doc"], metadatas=[{"a": "1"}, None])
    # simulate a pre-changelog table: drop the log the ingest wrote
    shutil.rmtree(eng._changelog_root(eng._require("lg")))
    now = datetime.now(timezone.utc)
    with _pytest.raises(EngineError, match="time_travel_unavailable"):
        eng.read_asof("lg", now)

    # first post-upgrade mutation seeds, then logs itself
    eng.add_documents("lg", ["new doc"])
    now = datetime.now(timezone.utc)
    snap = {r.content: (dict(r.metadata) if r.metadata else None)
            for r in eng.read_asof("lg", now).collect()}
    assert snap == {"ancient doc": {"a": "1"}, "old doc": None, "new doc": None}
    hist = eng.collection_history("lg").collect()
    assert [h.op for h in hist] == ["upsert", "upsert"]  # seed + mutation
    assert [h.n_rows for h in hist] == [2, 1]

    # delete path seeds too
    eng2_root = str(tmp_path_factory.mktemp("legacy2_root"))
    eng2 = CollectionEngine(spark, eng2_root)
    eng2.create_collection("lg2")
    eng2.add_documents("lg2", ["keep doc", "drop doc"])
    shutil.rmtree(eng2._changelog_root(eng2._require("lg2")))
    drop_id = {r.content: r.id for r in eng2.read("lg2").collect()}["drop doc"]
    eng2.delete_documents("lg2", [drop_id])
    now = datetime.now(timezone.utc)
    assert {r.content for r in eng2.read_asof("lg2", now).collect()} == {"keep doc"}


def test_update_documents_from_self_derived_df(spark, tmp_path_factory):
    """ADVICE r7 (low): a re-embed pipeline upserts a df READ FROM the same
    collection; the changelog append must not re-read the parquet files the
    rewrite just replaced (input is localCheckpoint-ed once up front)."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from vector_mcp_spark.engine import CollectionEngine

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("selfdf_root")))
    eng.create_collection("sd", dimension=4)
    eng.add_documents("sd", ["re-embed me", "me too"])
    # the classic re-embed shape: read -> fill embedding -> upsert back
    reembedded = eng.read("sd").withColumn(
        "embedding", F.array(*[F.lit(0.5)] * 4).cast("array<float>")
    )
    eng.update_documents("sd", reembedded)
    rows = eng.read("sd").collect()
    assert len(rows) == 2
    assert all(r.embedding == [0.5] * 4 for r in rows)
    # changelog saw the upsert with the new embeddings
    now = datetime.now(timezone.utc)
    tt = eng.read_asof("sd", now).collect()
    assert all(r.embedding == [0.5] * 4 for r in tt)


def test_collection_aliases(spark, tmp_path_factory):
    """Qdrant-parity aliases: resolve on read/search/mutation, re-point as
    the atomic blue-green switch, never shadow or cascade into DDL."""
    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("alias_root")))
    eng.create_collection("blue")
    eng.create_collection("green")
    eng.add_documents("blue", ["blue doc"])
    eng.add_documents("green", ["green doc"])

    eng.create_alias("prod", "blue")
    assert {r.content for r in eng.read("prod").collect()} == {"blue doc"}
    assert eng.count_documents("prod") == 1
    assert eng.list_aliases() == [("prod", "blue")]
    assert eng.list_aliases("blue") == [("prod", "blue")]
    assert eng.list_aliases("green") == []

    # mutations resolve through the alias too
    eng.add_documents("prod", ["second blue doc"])
    assert eng.count_documents("blue") == 2

    # re-point = blue-green switch
    eng.create_alias("prod", "green")
    assert {r.content for r in eng.read("prod").collect()} == {"green doc"}
    assert eng.list_aliases() == [("prod", "green")]

    # an alias can't take a live collection's name; a real collection wins
    with _pytest.raises(EngineError, match="alias_conflicts_with_collection"):
        eng.create_alias("blue", "green")
    # chains flatten: aliasing to an alias binds to its target
    eng.create_alias("prod2", "prod")
    assert eng.list_aliases("green") == [("prod", "green"), ("prod2", "green")]

    # DDL never follows aliases
    with _pytest.raises(EngineError, match="collection_not_found"):
        eng.delete_collection("prod", confirm=True)
    # dropping the target drops its aliases
    eng.delete_collection("green", confirm=True)
    assert eng.list_aliases() == []
    with _pytest.raises(EngineError, match="collection_not_found"):
        eng.read("prod")
    with _pytest.raises(EngineError, match="alias_not_found"):
        eng.delete_alias("prod")

    # tenant isolation: an alias made by tenant A is invisible to tenant B
    root2 = str(tmp_path_factory.mktemp("alias_tenants"))
    a = CollectionEngine(spark, root2, tenant="acme")
    b = CollectionEngine(spark, root2, tenant="bravo")
    a.create_collection("docs")
    a.add_documents("docs", ["acme doc"])
    a.create_alias("live", "docs")
    assert a.list_aliases() == [("live", "docs")]
    assert b.list_aliases() == []
    with _pytest.raises(EngineError, match="collection_not_found"):
        b.read("live")


def test_snapshot_create_restore(spark, tmp_path_factory):
    """qdrant snapshot parity: freeze a collection, keep mutating, restore
    the frozen state under a new name (with its time-travel log intact)."""
    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("snap_root")))
    eng.create_collection("src", dimension=4)
    eng.add_documents("src", ["frozen doc one", "frozen doc two"])
    snap = eng.create_snapshot("src")
    eng.add_documents("src", ["post-snapshot doc"])

    scoped = eng.restore_snapshot(snap, "restored")
    assert scoped == "restored"
    assert eng.count_documents("src") == 3
    assert {r.content for r in eng.read("restored").collect()} == {
        "frozen doc one", "frozen doc two"}
    # catalog metadata rides along: dimension lock survives the restore
    with _pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
        eng.add_documents("restored", ["bad vec"], embeddings=[[1.0, 2.0]])
    # the changelog came with it: history has the pre-snapshot batch only
    assert [h.n_rows for h in eng.collection_history("restored").collect()] == [2]
    # restored collection evolves independently
    eng.add_documents("restored", ["only in restored"])
    assert eng.count_documents("restored") == 3
    assert eng.count_documents("src") == 3

    # listing / deletion / guards
    snap_id = snap.rsplit("/", 1)[-1]
    assert snap_id in eng.list_snapshots()
    with _pytest.raises(EngineError, match="collection_exists"):
        eng.restore_snapshot(snap, "src")
    with _pytest.raises(EngineError, match="snapshot_invalid"):
        eng.restore_snapshot(str(tmp_path_factory.mktemp("not_a_snap")), "x")
    with _pytest.raises(EngineError, match="snapshot_invalid"):
        eng.delete_snapshot("../escape")
    eng.delete_snapshot(snap_id)
    assert eng.list_snapshots() == []
    with _pytest.raises(EngineError, match="snapshot_not_found"):
        eng.delete_snapshot(snap_id)


def test_alias_writes_are_atomic_under_threads(spark, tmp_path_factory):
    """Review r8: alias sidecar updates are read-modify-write; two threads
    creating different aliases concurrently must both survive."""
    import threading

    from vector_mcp_spark.engine import CollectionEngine

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("alias_rmw")))
    eng.create_collection("tgt")
    errs: list[BaseException] = []

    def mk(i: int) -> None:
        try:
            eng.create_alias(f"alias_{i}", "tgt")
        except BaseException as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=mk, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert [a for a, _ in eng.list_aliases()] == [f"alias_{i}" for i in range(6)]


def test_collection_cannot_shadow_alias(spark, tmp_path_factory):
    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("alias_shadow")))
    eng.create_collection("tgt")
    eng.create_alias("live", "tgt")
    with _pytest.raises(EngineError, match="collection_conflicts_with_alias"):
        eng.create_collection("live")
    # restore path enforces the same rule
    eng.add_documents("tgt", ["doc"])
    snap = eng.create_snapshot("tgt")
    with _pytest.raises(EngineError, match="collection_conflicts_with_alias"):
        eng.restore_snapshot(snap, "live")
    # needs_embed resolves through the alias to the target's flag
    eng2_doc = eng.read("tgt")
    assert eng.needs_embed("live") == eng.needs_embed("tgt")
    assert eng2_doc.count() == 1


def test_restore_recovers_from_orphaned_table_dir(spark, tmp_path_factory):
    """A restore that crashed after copytree but before the catalog write
    leaves an orphan dir; the retry must clear it and succeed."""
    import shutil as _sh

    from vector_mcp_spark.engine import CollectionEngine

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("snap_orphan")))
    eng.create_collection("src")
    eng.add_documents("src", ["doc a", "doc b"])
    snap = eng.create_snapshot("src")
    # simulate the crash: table dir exists under the target name, no catalog row
    orphan = eng._table_path(eng._scoped("target"))
    _sh.copytree(str(eng._snapshots_root() / snap.rsplit("/", 1)[-1] / "table"), orphan)
    eng.restore_snapshot(snap, "target")
    assert eng.count_documents("target") == 2


def test_changelog_claims_are_pruned(spark, tmp_path_factory):
    from vector_mcp_spark.engine import CollectionEngine

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("claims_root")))
    eng.create_collection("c")
    for i in range(4):
        eng.add_documents("c", [f"doc {i}"])
    root = eng._changelog_root(eng._require("c"))
    claims = [p.name for p in root.iterdir() if p.name.startswith(".seq-")]
    assert claims == [".seq-00000003.claim"]  # only the latest survives
    # history is intact despite the pruning
    assert [h.seq for h in eng.collection_history("c").collect()] == [0, 1, 2, 3]


def test_concurrent_collection_creates_all_survive(spark, tmp_path_factory):
    """In-process catalog RMW race: the shared engine's mtime CAS can't see
    two threads of the SAME instance racing (the first write refreshes the
    cache the second compares against), so creates serialize explicitly —
    every created collection must land in the catalog."""
    import threading

    from vector_mcp_spark.engine import CollectionEngine

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("cat_rmw")))
    errs: list[BaseException] = []

    def mk(i: int) -> None:
        try:
            eng.create_collection(f"coll_{i}")
        except BaseException as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=mk, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert eng.get_collections() == [f"coll_{i}" for i in range(6)]


def test_snapshot_tenant_scoping(spark, tmp_path_factory):
    """ADVICE r9: the shared snapshot root is tenant-confined the same way
    collections and aliases are — a tenant-scoped engine can't enumerate,
    restore, or delete another tenant's snapshots; the untenanted engine is
    the admin view and sees everything."""
    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError

    root = str(tmp_path_factory.mktemp("snap_tenants"))
    acme = CollectionEngine(spark, root, tenant="acme")
    other = CollectionEngine(spark, root, tenant="other")
    admin = CollectionEngine(spark, root)

    acme.create_collection("src")
    acme.add_documents("src", ["tenant-a secret doc"])
    snap = acme.create_snapshot("src")
    snap_id = snap.rsplit("/", 1)[-1]

    # owner sees + restores its own
    assert acme.list_snapshots() == [snap_id]
    acme.restore_snapshot_id(snap_id, "copy")
    assert acme.count_documents("copy") == 1

    # the other tenant can't see, delete, or restore it
    assert other.list_snapshots() == []
    with _pytest.raises(EngineError, match="snapshot_not_found"):
        other.delete_snapshot(snap_id)
    with _pytest.raises(EngineError, match="snapshot_not_found"):
        other.restore_snapshot_id(snap_id, "stolen")
    with _pytest.raises(EngineError, match="snapshot_not_found"):
        other.restore_snapshot(snap, "stolen")  # path form confined too
    assert other.get_collections() == []

    # admin view sees everything
    assert admin.list_snapshots() == [snap_id]


def test_snapshot_copy_retries_on_cross_process_mutation(spark, tmp_path_factory, monkeypatch):
    """ADVICE r9: a cross-process writer rewriting partition dirs mid-copy
    must not produce a torn snapshot — the copy retries until a quiet
    bracket, and fails loudly (no half-written snapshot dir) if the table
    never goes quiet."""
    import pytest as _pytest

    from vector_mcp_spark import engine as engine_mod
    from vector_mcp_spark.engine import CollectionEngine, EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("snap_race")))
    eng.create_collection("src")
    eng.add_documents("src", ["doc a", "doc b"])

    # (a) a file vanishing mid-walk (FileNotFoundError) is retried
    real_copytree = engine_mod.shutil.copytree
    calls = {"n": 0}

    def flaky(*a, **kw):  # copytree recurses into itself positionally
        calls["n"] += 1
        if calls["n"] == 1:
            raise FileNotFoundError(a[0])
        return real_copytree(*a, **kw)

    monkeypatch.setattr(engine_mod.shutil, "copytree", flaky)
    snap = eng.create_snapshot("src")
    assert calls["n"] >= 2
    eng.restore_snapshot(snap, "ok")
    assert eng.count_documents("ok") == 2
    monkeypatch.setattr(engine_mod.shutil, "copytree", real_copytree)

    # (b) a fingerprint that never stabilizes fails loudly, leaves no dir
    seq = {"n": 0}
    real_fp = CollectionEngine._mutation_fingerprint

    def churn(self, scoped):
        seq["n"] += 1
        return ("changed", seq["n"])

    monkeypatch.setattr(CollectionEngine, "_mutation_fingerprint", churn)
    before_ids = set(eng.list_snapshots())
    with _pytest.raises(EngineError, match="snapshot_conflict"):
        eng.create_snapshot("src")
    monkeypatch.setattr(CollectionEngine, "_mutation_fingerprint", real_fp)
    assert set(eng.list_snapshots()) == before_ids  # no torn leftovers


def test_collection_alias_create_race_is_serialized(spark, tmp_path_factory):
    """ADVICE r9: concurrent create_collection("x") and create_alias("x")
    can never BOTH succeed — the conflict guards run under the shared
    __catalog__ lock, so afterwards "x" is a collection or an alias, never
    both (the shadow state both guards exist to prevent)."""
    import threading

    from vector_mcp_spark.engine import CollectionEngine, EngineError

    for trial in range(4):
        eng = CollectionEngine(spark, str(tmp_path_factory.mktemp(f"race_{trial}")))
        eng.create_collection("tgt")
        barrier = threading.Barrier(2)
        errs: list[str] = []

        def mk_coll():
            barrier.wait()
            try:
                eng.create_collection("x", get_or_create=False)
            except EngineError as e:
                errs.append(e.code)

        def mk_alias():
            barrier.wait()
            try:
                eng.create_alias("x", "tgt")
            except EngineError as e:
                errs.append(e.code)

        t1, t2 = threading.Thread(target=mk_coll), threading.Thread(target=mk_alias)
        t1.start(); t2.start(); t1.join(); t2.join()
        is_coll = "x" in eng.get_collections()
        is_alias = any(a == "x" for a, _ in eng.list_aliases())
        assert not (is_coll and is_alias), f"trial {trial}: x is both ({errs})"
        assert is_coll or is_alias  # and one of them did win


def test_compact_changelog_bounds_log_and_preserves_asof(spark, tmp_path_factory):
    """VERDICT r8 #4: read_asof replays the full per-collection changelog;
    compact_changelog collapses batches older than the cut into ONE epoch
    batch. asof ≥ cut stays bit-identical, asof < cut fails loudly, the
    epoch never moves backward, and the seq high-water mark is carried."""
    from datetime import datetime, timezone

    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("compact_root")))
    eng.create_collection("log")
    eng.add_documents("log", ["first doc", "second doc"])
    ids = {r.content: r.id for r in eng.read("log").collect()}
    eng.delete_documents("log", [ids["second doc"]])  # deleted BEFORE the cut
    t_precut = datetime.now(timezone.utc)
    cut = datetime.now(timezone.utc)
    eng.add_documents("log", ["third doc"])
    t_mid = datetime.now(timezone.utc)
    eng.add_documents("log", ["fourth doc"])

    root = eng._changelog_root(eng._scoped("log"))
    n_files_before = sum(1 for p in root.iterdir()
                         if p.name.endswith(".parquet") and not p.name.startswith("."))
    hist_before = [(r.seq, r.op, r.n_rows) for r in eng.collection_history("log").collect()]
    asof_mid_before = sorted(
        (r.id, r.content, r.embedding is not None) for r in eng.read_asof("log", t_mid).collect()
    )
    now_before = sorted(r.content for r in eng.read("log").collect())

    collapsed = eng.compact_changelog("log", cut)
    assert collapsed == 2  # the first add batch + the delete batch

    # asof at/after the cut is unchanged bit-for-bit
    asof_mid_after = sorted(
        (r.id, r.content, r.embedding is not None) for r in eng.read_asof("log", t_mid).collect()
    )
    assert asof_mid_after == asof_mid_before
    assert sorted(r.content for r in eng.read("log").collect()) == now_before
    # the pre-cut delete stays deleted in every reconstruction
    assert all("second doc" != c for _, c, _ in asof_mid_after)

    # asof below the epoch fails loudly instead of answering epoch state
    with _pytest.raises(EngineError, match="time_travel_unavailable"):
        eng.read_asof("log", t_precut)

    # the log is bounded: one epoch write (≤8 files) replaced 3 batches
    n_files_after = sum(1 for p in root.iterdir()
                        if p.name.endswith(".parquet") and not p.name.startswith("."))
    assert n_files_after <= n_files_before
    hist_after = [(r.seq, r.op, r.n_rows) for r in eng.collection_history("log").collect()]
    assert len(hist_after) < len(hist_before)
    # the epoch batch carries the max collapsed seq; kept batches follow
    assert hist_after[0][1] == "upsert"
    assert [h[0] for h in hist_after] == sorted(h[0] for h in hist_after)

    # epoch never moves backward: an earlier cut is a no-op
    assert eng.compact_changelog("log", t_precut) == 0
    with _pytest.raises(EngineError, match="time_travel_unavailable"):
        eng.read_asof("log", t_precut)

    # seq high-water mark carried: the next mutation's seq strictly grows
    eng.add_documents("log", ["fifth doc"])
    hist_final = [r.seq for r in eng.collection_history("log").collect()]
    assert hist_final[-1] > max(h[0] for h in hist_after)
    # and time travel still reconstructs the post-compaction timeline
    assert len(eng.read_asof("log", datetime.now(timezone.utc)).collect()) == 4


def test_snapshot_alias_timetravel_composition(spark, tmp_path_factory):
    """Composition invariants across the three r8/r9 surfaces:
    (a) snapshotting an ALIAS freezes its current target (resolution
        follows the alias, manifest records the target);
    (b) the compaction epoch sidecar rides the snapshot — a restore of a
        compacted collection declares pre-epoch history unavailable with
        the same stable code instead of silently replaying epoch state;
    (c) a restore never follows aliases for its target name (DDL rule) and
        re-pointing the alias after the snapshot doesn't retarget the
        frozen copy."""
    import json
    from datetime import datetime, timezone
    from pathlib import Path

    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("compose_root")))
    eng.create_collection("blue")
    eng.add_documents("blue", ["blue doc"])
    eng.create_collection("green")
    eng.add_documents("green", ["green doc"])
    eng.create_alias("prod", "blue")

    # (a) snapshot through the alias → freezes blue; manifest says so
    snap = eng.create_snapshot("prod")
    manifest = json.loads((Path(snap) / "manifest.json").read_text())
    assert manifest["scoped_name"] == "blue"
    # re-point the alias — the frozen copy must NOT follow
    eng.create_alias("prod", "green")
    restored = eng.restore_snapshot(snap, "from_alias")
    assert {r.content for r in eng.read("from_alias").collect()} == {"blue doc"}
    assert restored == "from_alias"

    # (b) compaction epoch survives snapshot → restore
    t0 = datetime.now(timezone.utc)
    cut = datetime.now(timezone.utc)
    eng.add_documents("blue", ["post-cut doc"])
    eng.compact_changelog("blue", cut)
    snap2 = eng.create_snapshot("blue")
    eng.restore_snapshot(snap2, "blue_copy")
    with _pytest.raises(EngineError, match="time_travel_unavailable"):
        eng.read_asof("blue_copy", t0)
    # ... while post-epoch history replays fine on the restored copy
    assert {r.content for r in eng.read_asof(
        "blue_copy", datetime.now(timezone.utc)).collect()} == {"blue doc", "post-cut doc"}

    # (c) compact_changelog through the alias hits the live target (green)
    eng.add_documents("green", ["green two"])
    assert eng.compact_changelog("prod", datetime.now(timezone.utc)) >= 1
    with _pytest.raises(EngineError, match="time_travel_unavailable"):
        eng.read_asof("green", t0)
    # blue_copy's epoch is its own — untouched by the alias-routed compaction
    assert eng.read_asof("blue_copy", cut) is not None


def test_snapshot_copy_survives_shutil_error_and_hides_torn_attempts(
    spark, tmp_path_factory, monkeypatch
):
    """Review r9: copytree aggregates per-file failures into shutil.Error
    (not FileNotFoundError) — the retry must catch it; and a conflicted
    attempt must never be listable (manifest written only after a quiet
    copy)."""
    import shutil as _sh

    import pytest as _pytest

    from vector_mcp_spark import engine as engine_mod
    from vector_mcp_spark.engine import CollectionEngine, EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("snap_sherr")))
    eng.create_collection("src")
    eng.add_documents("src", ["doc a"])

    real_copytree = engine_mod.shutil.copytree
    calls = {"n": 0}

    def flaky(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise _sh.Error([("x", "y", "[Errno 2] No such file or directory: 'x'")])
        return real_copytree(*a, **kw)

    monkeypatch.setattr(engine_mod.shutil, "copytree", flaky)
    snap = eng.create_snapshot("src")
    assert calls["n"] >= 2
    eng.restore_snapshot(snap, "ok2")
    assert eng.count_documents("ok2") == 1
    monkeypatch.setattr(engine_mod.shutil, "copytree", real_copytree)

    # conflict path (persistent vanished-source churn): dest dir is fully
    # removed, so nothing half-written is ever listable or restorable
    def always(*a, **kw):
        raise _sh.Error([("x", "y", "[Errno 2] No such file or directory: 'x'")])

    monkeypatch.setattr(engine_mod.shutil, "copytree", always)
    before = set(eng.list_snapshots())
    with _pytest.raises(EngineError, match="snapshot_conflict"):
        eng.create_snapshot("src")
    assert set(eng.list_snapshots()) == before
    snaps_root = eng._snapshots_root()
    assert {p.name for p in snaps_root.iterdir()} == before  # no torn dirs at all

    # a NON-transient per-file failure (permissions) is its own code,
    # surfaced on the first attempt — not 5 retries + a misleading conflict
    calls2 = {"n": 0}

    def denied(*a, **kw):
        calls2["n"] += 1
        raise _sh.Error([("x", "y", "[Errno 13] Permission denied: 'x'")])

    monkeypatch.setattr(engine_mod.shutil, "copytree", denied)
    with _pytest.raises(EngineError, match="snapshot_copy_failed"):
        eng.create_snapshot("src")
    assert calls2["n"] == 1
    assert set(eng.list_snapshots()) == before

    # MIXED churn+persistent entries: the persistent one must win (no
    # 5-attempt retry masking it as a conflict)
    calls3 = {"n": 0}

    def mixed(*a, **kw):
        calls3["n"] += 1
        raise _sh.Error([
            ("x", "y", "[Errno 2] No such file or directory: 'x'"),
            ("p", "q", "[Errno 13] Permission denied: 'p'"),
        ])

    monkeypatch.setattr(engine_mod.shutil, "copytree", mixed)
    with _pytest.raises(EngineError, match="snapshot_copy_failed"):
        eng.create_snapshot("src")
    assert calls3["n"] == 1


def test_compact_changelog_naive_datetimes_and_corrupt_epoch(spark, tmp_path_factory):
    """Review r9: naive datetimes normalize to UTC (no TypeError on the
    aware-epoch comparison) and a corrupt epoch sidecar fails CLOSED."""
    from datetime import datetime, timezone

    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("compact_tz")))
    eng.create_collection("log")
    eng.add_documents("log", ["one"])
    aware_cut = datetime.now(timezone.utc)
    eng.add_documents("log", ["two"])
    assert eng.compact_changelog("log", aware_cut) == 1
    # naive values on BOTH apis compare fine against the aware epoch
    naive_now = datetime.now(timezone.utc).replace(tzinfo=None)
    assert eng.compact_changelog("log", naive_now) == 2  # epoch batch + add
    assert len(eng.read_asof("log", naive_now).collect()) == 2

    # corrupt sidecar → stable fail-closed code, not a silent epoch answer
    root = eng._changelog_root(eng._scoped("log"))
    (root / "_epoch.json").write_text("{truncated")
    with _pytest.raises(EngineError, match="changelog_epoch_corrupt"):
        eng.read_asof("log", datetime.now(timezone.utc))
    with _pytest.raises(EngineError, match="changelog_epoch_corrupt"):
        eng.compact_changelog("log", datetime.now(timezone.utc))


def test_compact_changelog_carries_concurrent_foreign_batch(
    spark, tmp_path_factory, monkeypatch
):
    """Review r9: a cross-process batch landing between the compaction's
    log read and the directory swap must survive (carried into the new
    root), not vanish with the old dir."""
    from datetime import datetime, timezone
    from pathlib import Path

    from vector_mcp_spark.engine import CollectionEngine

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("compact_race")))
    eng.create_collection("log")
    eng.add_documents("log", ["one"])
    cut = datetime.now(timezone.utc)
    eng.add_documents("log", ["two"])
    root = eng._changelog_root(eng._scoped("log"))

    # emulate the foreign writer: just before the root→old rename, drop a
    # fully-formed batch (the shape the driver-side writer produces) + its
    # seq claim into the live root
    real_rename = Path.rename
    state = {"fired": False}

    def racy_rename(self, target):
        if not state["fired"] and self == root:
            state["fired"] = True
            eng2 = CollectionEngine(spark, str(eng.root))
            eng2._log_mutation_rows(eng._scoped("log"), "upsert",
                               [("foreign-id", "foreign doc", None, None)])
        return real_rename(self, target)

    monkeypatch.setattr(Path, "rename", racy_rename)
    collapsed = eng.compact_changelog("log", cut)
    monkeypatch.setattr(Path, "rename", real_rename)
    assert collapsed == 1 and state["fired"]
    # the foreign batch survived the swap and is visible in history
    ops = [(r.op, r.n_rows) for r in eng.collection_history("log").collect()]
    assert ("upsert", 1) in ops
    rows = {r.id for r in eng.read_asof("log", datetime.now(timezone.utc)).collect()}
    assert "foreign-id" in rows


def test_compact_changelog_rejects_future_cut(spark, tmp_path_factory):
    """ADVICE r9 (medium): a future ``before`` collapses every row into the
    epoch and stamps the sidecar with the future instant, so every
    subsequent read_asof — including asof=now — refuses until wall clock
    passes the cut. One bad MCP before_ts must not disable time travel:
    reject with a stable code, leave the log untouched."""
    from datetime import datetime, timedelta, timezone

    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("compact_future")))
    eng.create_collection("log")
    eng.add_documents("log", ["one", "two"])
    with _pytest.raises(EngineError, match="compaction_cut_in_future"):
        eng.compact_changelog("log", datetime.now(timezone.utc) + timedelta(hours=1))
    # naive datetimes normalize to UTC before the check (the MCP veneer
    # passes whatever isoformat the client sent)
    naive_future = datetime.now(timezone.utc).replace(tzinfo=None) + timedelta(hours=1)
    with _pytest.raises(EngineError, match="compaction_cut_in_future"):
        eng.compact_changelog("log", naive_future)
    # the log is untouched: no epoch sidecar, time travel still answers
    root = eng._changelog_root(eng._scoped("log"))
    assert not (root / "_epoch.json").exists()
    assert len(eng.read_asof("log", datetime.now(timezone.utc)).collect()) == 2


def test_next_seq_swap_lock_protocol(spark, tmp_path_factory):
    """ADVICE r9 (medium): compact_changelog's two-rename swap is
    serialized against cross-process writers via an O_EXCL lock that
    _next_seq honors — a live FOREIGN lock is waited out (the writer's
    mkdir would otherwise recreate the log root mid-swap and strand the
    log in .old-*), a stale lock is skipped, and a same-pid lock is
    skipped (in-process writers are already excluded by the per-collection
    mutation lock the compactor holds)."""
    import os as _os
    import threading
    import time as _time

    from vector_mcp_spark.engine import CollectionEngine

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("swap_lock")))
    eng.create_collection("log")
    eng.add_documents("log", ["seed"])
    scoped = eng._scoped("log")
    root = eng._changelog_root(scoped)
    lock = eng._swap_lock_path(root)

    # stale lock (provably dead pid): skipped immediately
    lock.write_text(f"999999 {_time.time():.3f}")
    t0 = _time.monotonic()
    eng._log_mutation_rows(scoped, "upsert", [("a", "a", None, None)])
    assert _time.monotonic() - t0 < 2.0
    lock.unlink()

    # same-pid lock: skipped immediately (mutation lock covers in-process)
    lock.write_text(f"{_os.getpid()} {_time.time():.3f}")
    t0 = _time.monotonic()
    eng._log_mutation_rows(scoped, "upsert", [("b", "b", None, None)])
    assert _time.monotonic() - t0 < 2.0
    lock.unlink()

    # live foreign lock (pid 1 is alive and not us; the engine treats a
    # same-uid live holder as genuine): the writer must WAIT until the
    # lock is released, then proceed
    lock.write_text(f"1 {_time.time():.3f}")
    released = {"at": None}

    def release():
        _time.sleep(0.5)
        released["at"] = _time.monotonic()
        lock.unlink()

    t = threading.Thread(target=release)
    t.start()
    t0 = _time.monotonic()
    eng._log_mutation_rows(scoped, "upsert", [("c", "c", None, None)])
    waited = _time.monotonic() - t0
    t.join()
    assert released["at"] is not None and waited >= 0.4
    assert eng.count_documents("log") >= 1  # log still consistent


@pytest.mark.slow
def test_indexed_graph_search_dimension_mismatch(spark, tmp_path_factory):
    """ADVICE r9 (low): a query vector that disagrees with the collection's
    locked dimension would NULL-pad through zip_with and return k arbitrary
    rows with NULL scores — refuse with the same stable code the ingest
    gate uses instead of silently returning garbage."""
    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("graph_dim")))
    eng.create_collection("kb", dimension=4)
    eng.add_documents(
        "kb",
        ["alpha", "beta", "gamma"],
        embeddings=[[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]],
    )
    eng.build_search_index("kb")
    with _pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
        eng.indexed_graph_search("kb", [1.0, 0.0], k=2)
    # the right width still answers
    got = eng.indexed_graph_search("kb", [1.0, 0.0, 0.0, 0.0], k=2).collect()
    assert len(got) == 2 and all(r.score is not None for r in got)


@pytest.mark.slow
def test_indexed_graph_search(spark, tmp_path_factory):
    """The third engine-side index family (HNSW-style layered graph — the
    pgvector `USING hnsw` analogue): build persists the edge table + entry,
    queries beam-descend it, staleness refuses, and on a beam that covers
    the whole small collection the results equal the exact scorer's."""
    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError
    from vector_mcp_spark.functions.embedder import hash_embed

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("graph_idx")))
    eng.create_collection("kb")
    docs = [f"document number {i} about topic {i % 5}" for i in range(40)]
    eng.add_documents("kb", docs)
    qvec = hash_embed("document number 7 about topic 2", 64)

    with _pytest.raises(EngineError, match="index_not_fresh"):
        eng.indexed_graph_search("kb", qvec, k=3)
    eng.build_search_index("kb")
    assert eng.index_status("kb") == "fresh"

    got = eng.indexed_graph_search("kb", qvec, k=3).collect()
    assert len(got) == 3
    assert got[0].score >= got[1].score >= got[2].score
    # beam covers all 40 docs → agrees with an exact numpy cosine top-3
    assert [r.id for r in got] == _exact_topk(eng.read("kb"), qvec, 3, "cosine")

    # a mutation stales the graph index too
    eng.add_documents("kb", ["fresh doc invalidates the index"])
    with _pytest.raises(EngineError, match="index_not_fresh"):
        eng.indexed_graph_search("kb", qvec, k=3)

    # sub-2-vector collections have no graph: empty result, stable schema
    eng.create_collection("tiny")
    eng.add_documents("tiny", ["only one"])
    eng.build_search_index("tiny")
    assert eng.indexed_graph_search("tiny", qvec, k=3).collect() == []


@pytest.mark.slow
def test_pre_graph_manifest_reports_stale(spark, tmp_path_factory):
    """Review r9: a fingerprint-fresh index whose manifest predates the
    graph family must report 'stale' from index_status (so status-polling
    automation rebuilds) AND refuse indexed_graph_search — the status API
    and the query contract agree."""
    import json

    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine, EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("legacy_idx")))
    eng.create_collection("kb")
    eng.add_documents("kb", ["doc one", "doc two"])
    eng.build_search_index("kb")
    assert eng.index_status("kb") == "fresh"
    # strip the graph key to simulate an index built before the family
    mpath = eng._index_root(eng._scoped("kb")) / "manifest.json"
    meta = json.loads(mpath.read_text())
    del meta["graph"]
    mpath.write_text(json.dumps(meta))
    assert eng.index_status("kb") == "stale"
    with _pytest.raises(EngineError, match="index_not_fresh"):
        eng.indexed_graph_search("kb", [0.1] * 64, k=2)
    # rebuild restores both
    eng.build_search_index("kb")
    assert eng.index_status("kb") == "fresh"
    assert len(eng.indexed_graph_search("kb", [0.1] * 64, k=2).collect()) == 2


@pytest.mark.slow
def test_repair_search_index_grows_and_serves(spark, tmp_path_factory):
    """Incremental index repair (VERDICT r9 #4): after an append-only grow,
    repair_search_index extends every family without a rebuild — status
    becomes 'repaired', the sparse and graph searches serve again, a brand
    new document is reachable through the repaired graph, and batch recall
    on the grown corpus clears the rebuild floor (0.85)."""
    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.functions.embedder import embed_documents, hash_embed
    from vector_mcp_spark.operators.graph_ann import ann_hnsw_topk
    from vector_mcp_spark.operators.similarity import cosine_self_join_topk

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("repair_root")))
    eng.create_collection("g")
    eng.add_documents("g", [f"base doc {i} topic {i % 11}" for i in range(150)])
    eng.build_search_index("g")
    assert eng.index_status("g") == "fresh"

    eng.add_documents(
        "g", [f"grown doc {i} zanzibar subject {i % 7}" for i in range(50)]
    )
    assert eng.index_status("g") == "stale"
    info = eng.repair_search_index("g")
    assert info["repaired"] == 50
    assert info["n_vectors"] == 200
    assert eng.index_status("g") == "repaired"

    # every family serves in the repaired state
    assert eng.indexed_sparse_search("g", [("zanzibar", 1.0)], k=5).count() == 5
    qv = hash_embed("grown doc 3 zanzibar subject 3", 64)
    top = eng.indexed_graph_search("g", qv, k=3).collect()
    assert top and top[0].content == "grown doc 3 zanzibar subject 3"
    assert top[0].score == 1.0

    # batch recall over the grown corpus >= the rebuild floor
    scoped = eng._require("g")
    import json

    manifest = json.loads(
        (eng._index_root(scoped) / "manifest.json").read_text()
    )
    edges = spark.read.parquet(str(eng._index_root(scoped) / "graph"))
    corpus = embed_documents(eng.read("g"), text_col="content", out_col="embedding")
    queries = corpus.orderBy("id").limit(20)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_hnsw_topk(
            queries, corpus, edges, manifest["graph"]["entry"], k=5, ef=48
        ).collect()
    }
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_self_join_topk(queries, corpus, 5).collect()
    }
    rec = len(exact & approx) / len(exact)
    assert rec >= 0.85, f"repaired-graph recall@5 {rec} < 0.85"

    # a second grow repairs again (the ids sidecar was extended)
    eng.add_documents("g", ["third wave quetzal document"])
    assert eng.index_status("g") == "stale"
    assert eng.repair_search_index("g")["repaired"] == 1
    assert eng.index_status("g") == "repaired"
    assert eng.indexed_sparse_search("g", [("quetzal", 1.0)], k=2).count() == 1

    # a full rebuild restores 'fresh'
    eng.build_search_index("g")
    assert eng.index_status("g") == "fresh"


@pytest.mark.slow
def test_repair_search_index_refuses_non_append(spark, tmp_path_factory):
    """Repair is append-only by contract: a deleted or in-place-changed
    indexed row refuses with index_repair_requires_rebuild (stable code) —
    serving a graph whose edges point at vanished/moved vectors would be
    silently wrong. A fresh index is a no-op; no index refuses."""
    import pytest

    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.validation import EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("repair_neg")))
    eng.create_collection("r")
    with pytest.raises(EngineError, match="index_not_fresh"):
        eng.repair_search_index("r")
    eng.add_documents("r", [f"row {i} words {i % 5}" for i in range(30)])
    eng.build_search_index("r")
    assert eng.repair_search_index("r")["repaired"] == 0  # fresh no-op

    # deletion -> rebuild required
    victim = eng.read("r").orderBy("id").first().id
    eng.delete_documents("r", [victim])
    with pytest.raises(EngineError, match="index_repair_requires_rebuild"):
        eng.repair_search_index("r")
    eng.build_search_index("r")

    # in-place content change -> rebuild required
    kept = eng.read("r").orderBy("id").first()
    changed = spark.createDataFrame(
        [(kept.id, "rewritten body", None, None)],
        "id string, content string, metadata map<string,string>, embedding array<float>",
    )
    eng.update_documents("r", changed)
    with pytest.raises(EngineError, match="index_repair_requires_rebuild"):
        eng.repair_search_index("r")


def test_payload_field_index_accelerates_and_never_lies(spark, tmp_path_factory):
    """Payload field index (qdrant create_payload_index analogue): a fresh
    index serves equality counts from its own value partition; a mutation
    makes it stale and the count transparently falls back to the table
    scan — the accelerator can be slow but never wrong. Numeric-looking
    string values survive the round trip ('01' stays '01'), a key with no
    values yields an empty-but-servable index, and bad keys refuse."""
    import pytest

    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.validation import EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("pidx_root")))
    eng.create_collection("p")
    eng.add_documents(
        "p",
        [f"doc {i}" for i in range(30)],
        metadatas=[
            {"team": f"t{i % 3}", "rank": "01" if i % 5 == 0 else str(i % 5)}
            for i in range(30)
        ],
    )
    assert eng.payload_index_status("p", "team") == "absent"
    info = eng.create_payload_index("p", "team")
    assert info["n_values"] == 3 and info["n_rows"] == 30
    assert eng.payload_index_status("p", "team") == "fresh"
    assert eng.count_by_payload("p", "team", "t1") == 10

    # numeric-looking strings: partition-type inference must not coerce
    eng.create_payload_index("p", "rank")
    assert eng.count_by_payload("p", "rank", "01") == 6
    assert eng.count_by_payload("p", "rank", "1") == 6  # i%5==1, i%5!=0

    # a key nobody set: empty index is servable, count is 0
    eng.create_payload_index("p", "ghost")
    assert eng.payload_index_status("p", "ghost") == "fresh"
    assert eng.count_by_payload("p", "ghost", "x") == 0

    # mutation -> stale -> fallback scan stays CORRECT
    eng.add_documents("p", ["late doc"], metadatas=[{"team": "t1"}])
    assert eng.payload_index_status("p", "team") == "stale"
    assert eng.count_by_payload("p", "team", "t1") == 11
    eng.create_payload_index("p", "team")
    assert eng.count_by_payload("p", "team", "t1") == 11

    # hive-hostile values must not lie: empty string and the hive default
    # partition literal round-trip exactly through the hex encoding
    eng.add_documents(
        "p", ["edge a", "edge b"],
        metadatas=[{"team": ""}, {"team": "__HIVE_DEFAULT_PARTITION__"}],
    )
    eng.create_payload_index("p", "team")
    assert eng.count_by_payload("p", "team", "") == 1
    assert eng.count_by_payload("p", "team", "__HIVE_DEFAULT_PARTITION__") == 1
    assert eng.count_by_payload("p", "team", "t1") == 11

    # dotted keys cannot collide with another key's manifest
    eng.create_payload_index("p", "x.json")
    eng.create_payload_index("p", "x")
    assert eng.payload_index_status("p", "x.json") == "fresh"
    assert eng.payload_index_status("p", "x") == "fresh"

    # overlong values partition under their sha bucket, still exact
    long_v = "L" * 150
    eng.add_documents("p", ["long doc"], metadatas=[{"team": long_v}])
    eng.create_payload_index("p", "team")
    assert eng.count_by_payload("p", "team", long_v) == 1
    assert eng.count_by_payload("p", "team", "L" * 151) == 0

    with pytest.raises(EngineError, match="payload_key_invalid"):
        eng.create_payload_index("p", "bad key!")
    # the READ paths validate too — a traversal key must refuse, not
    # resolve into another key's manifest
    with pytest.raises(EngineError, match="payload_key_invalid"):
        eng.payload_index_status("p", "team/../payload_team")
    with pytest.raises(EngineError, match="payload_key_invalid"):
        eng.count_by_payload("p", "x..y", "v")
    with pytest.raises(EngineError, match="collection_not_found"):
        eng.create_payload_index("nope", "team")


@pytest.mark.slow
def test_indexed_filtered_search_both_regimes(spark, tmp_path_factory):
    """Engine-level filter+vector search (the qdrant planner composition
    over the persisted graph): a SELECTIVE payload filter routes to
    pre-filter + exact rank — the true top-k of the allowed set always
    comes back — while a BROAD filter beam-searches and post-filters.
    Staleness and bad filters refuse with stable codes."""
    import pytest

    from pyspark.sql import functions as F

    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.functions.embedder import embed_documents, hash_embed
    from vector_mcp_spark.operators.semantic import semantic_topk
    from vector_mcp_spark.validation import EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("filt_root")))
    eng.create_collection("fs")
    # 10% 'rare' rows (selective), 60% 'common' rows (broad)
    contents = [f"filtered doc {i} topic {i % 13}" for i in range(100)]
    metas = [
        {"tier": "rare" if i % 10 == 0 else ("common" if i % 10 < 7 else "other")}
        for i in range(100)
    ]
    eng.add_documents("fs", contents, metadatas=metas)
    qv = hash_embed("filtered doc 30 topic 4", 64)

    with pytest.raises(EngineError, match="index_not_fresh"):
        eng.indexed_filtered_search("fs", qv, {"tier": "rare"}, k=3)
    eng.build_search_index("fs")

    with pytest.raises(EngineError, match="payload_filter_invalid"):
        eng.indexed_filtered_search("fs", qv, {}, k=3)

    # SELECTIVE: results equal the exact top-k over the filtered subset
    got = eng.indexed_filtered_search("fs", qv, {"tier": "rare"}, k=3).collect()
    docs = embed_documents(eng.read("fs"), text_col="content", out_col="embedding")
    rare = docs.where(F.col("metadata").getItem("tier") == "rare")
    exact = semantic_topk(rare, qv, 3, id_col="id", emb_col="embedding").collect()
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in exact]

    # BROAD: served rows all satisfy the filter and rank by exact cosine
    broad = eng.indexed_filtered_search("fs", qv, {"tier": "common"}, k=5).collect()
    assert broad, "broad filter must return hits"
    common_ids = {r.id for r in eng.read("fs").where(
        F.col("metadata").getItem("tier") == "common").select("id").collect()}
    assert all(r.id in common_ids for r in broad)
    scores = [r.score for r in broad]
    assert scores == sorted(scores, reverse=True)

    # staleness refusal after a mutation, like every indexed search
    eng.add_documents("fs", ["late arrival"], metadatas=[{"tier": "rare"}])
    with pytest.raises(EngineError, match="index_not_fresh"):
        eng.indexed_filtered_search("fs", qv, {"tier": "rare"}, k=3)


@pytest.mark.slow
def test_restored_snapshot_index_contract(spark, tmp_path_factory):
    """Snapshots carry table + changelog but NOT the index sidecar (the
    index is derived state — rebuild-on-restore is the honest contract):
    the restored collection reports index_status 'absent', every indexed
    search refuses with index_not_fresh, and one build serves every
    family again."""
    import pytest

    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.functions.embedder import hash_embed
    from vector_mcp_spark.validation import EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("snapidx_root")))
    eng.create_collection("src")
    eng.add_documents(
        "src",
        [f"snapshot doc {i} topic {i % 5}" for i in range(30)],
        metadatas=[{"topic": str(i % 5)} for i in range(30)],
    )
    eng.build_search_index("src")
    assert eng.index_status("src") == "fresh"
    snap = eng.create_snapshot("src")

    eng.restore_snapshot(snap, "back")
    assert eng.index_status("back") == "absent"
    qv = hash_embed("snapshot doc 7 topic 2", 64)
    for call in (
        lambda: eng.indexed_sparse_search("back", [("snapshot", 1.0)]),
        lambda: eng.indexed_graph_search("back", qv),
        lambda: eng.indexed_filtered_search("back", qv, {"topic": "2"}),
    ):
        with pytest.raises(EngineError, match="index_not_fresh"):
            call()
    eng.build_search_index("back")
    assert eng.index_status("back") == "fresh"
    assert eng.indexed_sparse_search("back", [("snapshot", 1.0)], k=5).count() == 5
    assert eng.indexed_graph_search("back", qv, k=3).count() == 3
    got = eng.indexed_filtered_search("back", qv, {"topic": "2"}, k=3).collect()
    assert got and all(r.id for r in got)


@pytest.mark.slow
def test_filtered_search_refuses_when_graph_family_vanishes(spark, tmp_path_factory, monkeypatch):
    """ADVICE r11: indexed_filtered_search must mirror indexed_graph_search
    when the re-read manifest lost its 'graph' key (manifest rewritten
    between the freshness check and the serve read): refuse with
    index_not_fresh, never silently answer empty."""
    import json as _json

    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.functions.embedder import hash_embed
    from vector_mcp_spark.validation import EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("filtrace_root")))
    eng.create_collection("fr")
    eng.add_documents("fr", [f"race doc {i}" for i in range(6)],
                      metadatas=[{"tier": "a"}] * 6)
    eng.build_search_index("fr")
    scoped = eng._require("fr")
    manifest_path = eng._index_root(scoped) / "manifest.json"
    manifest = _json.loads(manifest_path.read_text())
    del manifest["graph"]
    manifest_path.write_text(_json.dumps(manifest))
    # freeze the freshness check at 'fresh' to reproduce the between-reads
    # race (index_status reads the same file and would otherwise report
    # stale for a graph-less manifest)
    monkeypatch.setattr(eng, "index_status", lambda name: "fresh")
    with _pytest.raises(EngineError, match="index_not_fresh"):
        eng.indexed_filtered_search(
            "fr", hash_embed("race doc 1", 64), {"tier": "a"}, k=2
        )


def test_embedding_seam_runs_at_insert_only(spark, tmp_path_factory, monkeypatch):
    """Every row gets its vector when it is written: once the documents
    are in, poisoning embed_documents and failing the model on any corpus
    text leaves every scan and indexed search, the build and the repair
    answering, and the scan plans carry no embed projection. A model whose
    output is non-finite or of the wrong width is refused at insert and
    nothing is written."""
    from pathlib import Path

    import pytest as _pytest

    from vector_mcp_spark.api import VectorSearchApi
    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.functions import embedder as embedder_mod
    from vector_mcp_spark.functions.embedder import hash_embed
    from vector_mcp_spark.operators.semantic import semantic_topk
    from vector_mcp_spark.schema import DOCUMENT_SCHEMA
    from vector_mcp_spark.validation import EngineError

    corpus = {f"no reembed doc {i} topic {i % 5}" for i in range(40)}
    poisoned = []

    def model(texts):
        if poisoned and corpus.intersection(texts):
            raise AssertionError("the corpus was embedded after insert")
        return [hash_embed(t, 64) for t in texts]

    def _poisoned(*a, **k):
        raise AssertionError("embed_documents ran after insert")

    eng = CollectionEngine(
        spark, str(tmp_path_factory.mktemp("noembed_root")), embed_model=model
    )
    eng.create_collection("ne")
    ordered = sorted(corpus)
    eng.add_documents(
        "ne", ordered,
        metadatas=[{"tier": "a" if i % 10 == 0 else "b"} for i in range(len(ordered))],
    )
    assert not eng.needs_embed("ne")
    poisoned.append(True)
    monkeypatch.setattr(embedder_mod, "embed_documents", _poisoned)

    api = VectorSearchApi(eng)
    question = "topic 0 question"
    qv = api.embed_query("ne", question)
    for plan in (
        api.semantic_search("ne", [question], number_results=5),
        api.search("ne", question, number_results=5),
    ):
        assert "MapInPandas" not in plan._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count() == 5
    exact = semantic_topk(eng.read("ne"), qv, 5, id_col="id", emb_col="embedding").collect()

    eng.build_search_index("ne")
    got = eng.indexed_graph_search("ne", qv, k=5).collect()
    assert [r.id for r in got] == [r.id for r in exact]
    assert eng.indexed_filtered_search("ne", qv, {"tier": "a"}, k=3).count() > 0
    assert eng.indexed_sparse_search("ne", [("topic", 1.0)], k=3).count() == 3

    # a late batch is embedded as it is written; repair and serving after
    # it still embed nothing of the corpus
    eng.add_documents("ne", ["late arrival vector"], metadatas=[{"tier": "a"}])
    corpus.add("late arrival vector")
    assert eng.repair_search_index("ne")["repaired"] == 1
    top = eng.indexed_graph_search("ne", hash_embed("late arrival vector", 64), k=3).collect()
    assert top and top[0].content == "late arrival vector"
    assert api.semantic_search("ne", ["late arrival"], number_results=1).count() == 1

    # a refused model output writes nothing, through either write path
    monkeypatch.undo()
    bad = CollectionEngine(
        spark,
        str(tmp_path_factory.mktemp("badmodel_root")),
        embed_model=lambda texts: [
            [float("nan")] * 3 if "nan" in t else [1.0] * (2 if "short" in t else 3)
            for t in texts
        ],
    )
    bad.create_collection("free")
    bad.create_collection("four", dimension=4)
    for name, texts in (
        ("free", ["ok doc", "nan doc"]),
        ("free", ["ok doc", "short doc"]),
        ("four", ["ok doc"]),
    ):
        with _pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
            bad.add_documents(name, texts)
    nan_row = spark.createDataFrame([("x1", "nan doc", None, None)], DOCUMENT_SCHEMA)
    with _pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
        bad.update_documents("free", nan_row)
    for name in ("free", "four"):
        assert not Path(bad._table_path(bad._require(name))).exists()
        assert bad.count_documents(name) == 0


@pytest.mark.slow
def test_filtered_search_counts_only_the_filtered_side(spark, tmp_path_factory, monkeypatch):
    """VERDICT r11 watch item 1: the routed filtered search takes the corpus
    cardinality from the index manifest, so a served query triggers exactly
    one driver-side count — the predicate-pruned allowed side — never a
    corpus-wide count."""
    # patch the CONCRETE class: pyspark 4's pyspark.sql.DataFrame is the
    # abstract base and the classic session dispatches to its own override
    from pyspark.sql.classic.dataframe import DataFrame

    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.functions.embedder import hash_embed

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("selcount_root")))
    eng.create_collection("sc")
    eng.add_documents(
        "sc",
        [f"count probe doc {i}" for i in range(40)],
        metadatas=[{"tier": "rare" if i % 10 == 0 else "bulk"} for i in range(40)],
    )
    eng.build_search_index("sc")

    counted = []
    orig_count = DataFrame.count

    def spy(df):
        counted.append(df)
        return orig_count(df)

    monkeypatch.setattr(DataFrame, "count", spy)
    out = eng.indexed_filtered_search(
        "sc", hash_embed("count probe doc 10", 64), {"tier": "rare"}, k=3
    )
    monkeypatch.setattr(DataFrame, "count", orig_count)
    assert out.count() > 0
    assert len(counted) == 1, f"expected 1 count (allowed side), saw {len(counted)}"
    plan = counted[0]._jdf.queryExecution().analyzed().toString()
    assert "metadata" in plan, "the single count must be the filtered side"


@pytest.mark.slow
def test_collection_distance_config_lifecycle(spark, tmp_path_factory):
    """Per-collection distance config (qdrant locks Distance at create,
    qdrant.py:122-127): l2 locked at create builds the index under l2,
    every indexed serve path ranks ascending-by-distance and finds the
    exact nearest document, and a metric switch stales the index (repair
    refuses; a rebuild re-derives it under the new metric)."""
    import json as _json

    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.functions.embedder import hash_embed
    from vector_mcp_spark.validation import EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("dist_root")))
    with _pytest.raises(EngineError, match="metric_invalid"):
        eng.create_collection("bad", distance="manhattan")

    eng.create_collection("l2c", distance="l2")
    assert eng.collection_distance("l2c") == "l2"
    assert eng.describe_collection("l2c")["distance"] == "l2"
    # get-or-create under another metric must not silently hand it back
    with _pytest.raises(EngineError, match="collection_distance_mismatch"):
        eng.create_collection("l2c", distance="cosine")
    eng.create_collection("l2c", distance="l2")  # matching config is fine

    eng.add_documents(
        "l2c",
        [f"euclid doc {i} theme {i % 7}" for i in range(50)],
        metadatas=[{"tier": "a" if i % 10 == 0 else "b"} for i in range(50)],
    )
    eng.build_search_index("l2c")
    scoped = eng._require("l2c")
    root = eng._index_root(scoped)
    manifest = _json.loads((root / "manifest.json").read_text())
    assert manifest["distance"] == "l2"

    # graph + filtered serve ascending under l2; the graph's beam covers
    # all 50 docs, so it equals the exact l2 top-k
    qv = hash_embed("euclid doc 21 theme 0", 64)
    g = eng.indexed_graph_search("l2c", qv, k=5, ef=50).collect()
    assert [r.id for r in g] == _exact_topk(eng.read("l2c"), qv, 5, "l2")
    assert [r.score for r in g] == sorted(r.score for r in g)
    f = eng.indexed_filtered_search("l2c", qv, {"tier": "b"}, k=3).collect()
    assert f and [r.score for r in f] == sorted(r.score for r in f)

    # metric switch: index stales, repair refuses, serve refuses
    eng.set_collection_distance("l2c", "cosine")
    assert eng.index_status("l2c") == "stale"
    with _pytest.raises(EngineError, match="index_not_fresh"):
        eng.indexed_graph_search("l2c", qv, k=5)
    with _pytest.raises(EngineError, match="index_repair_requires_rebuild"):
        eng.repair_search_index("l2c")

    # rebuild under the new config serves cosine, descending
    eng.build_search_index("l2c")
    manifest = _json.loads((root / "manifest.json").read_text())
    assert manifest["distance"] == "cosine"
    cos = eng.indexed_graph_search("l2c", qv, k=5, ef=50).collect()
    assert [r.id for r in cos] == _exact_topk(eng.read("l2c"), qv, 5, "cosine")
    assert [r.score for r in cos] == sorted((r.score for r in cos), reverse=True)


@pytest.mark.slow
def test_indexed_sparse_family_lifecycle(spark, tmp_path_factory):
    """Named-sparse index family (r12): build persists (term,id,tf)
    postings + (id,dlen) L1 norms; indexed_sparse_search serves the SPLADE
    dot from them (scores equal the on-the-fly operator); staleness
    refuses; repair appends doclen rows."""
    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.operators.vecapi import sparse_dot_topk
    from vector_mcp_spark.validation import EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("sparse_root")))
    eng.create_collection("sp")
    eng.add_documents(
        "sp",
        [
            f"spark vector stream doc {i}" if i % 3 == 0 else f"plain filler text {i}"
            for i in range(45)
        ],
    )
    qw = [("spark", 2.0), ("vector", 1.5), ("stream", 1.0)]

    with _pytest.raises(EngineError, match="index_not_fresh"):
        eng.indexed_sparse_search("sp", qw, k=5)
    eng.build_search_index("sp")
    root = eng._index_root(eng._require("sp"))
    assert (root / "doclen").exists()

    got = eng.indexed_sparse_search("sp", qw, k=5).collect()
    exact = sparse_dot_topk(eng.read("sp"), qw, 5, id_col="id", content_col="content").collect()
    assert {(r.id, r.score) for r in got} == {(r.id, r.score) for r in exact}

    # staleness after a mutation, then repair appends the batch's doclen
    eng.add_documents("sp", ["fresh spark vector stream arrival"])
    with _pytest.raises(EngineError, match="index_not_fresh"):
        eng.indexed_sparse_search("sp", qw, k=5)
    eng.repair_search_index("sp")
    dl = spark.read.parquet(str(root / "doclen"))
    assert dl.count() == 46
    served = eng.indexed_sparse_search("sp", qw, k=46).collect()
    assert any(r.content == "fresh spark vector stream arrival" for r in served)


@pytest.mark.slow
def test_named_multivector_lifecycle(spark, tmp_path_factory):
    """Named multi-vector collections (qdrant vectors_config parity): two
    named dense vectors per point with their own dimension + distance,
    per-name sidecar storage, per-name graph index family, and
    search(using=<name>) under the name's metric. Config locked at create;
    puts validate membership and width; the per-name index serves the same
    rows as the exact scan and stales on a re-put."""
    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.functions.embedder import hash_embed
    from vector_mcp_spark.validation import EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("mv_root")))
    with _pytest.raises(EngineError, match="named_vectors_config_invalid"):
        eng.create_collection("bad", vectors_config={"no spaces": {}})
    with _pytest.raises(EngineError, match="metric_invalid"):
        eng.create_collection("bad", vectors_config={"t": {"distance": "hamming"}})

    cfg = {
        "text": {"dimension": 64, "distance": "cosine"},
        "summary": {"dimension": 16, "distance": "l2"},
    }
    eng.create_collection("mv", vectors_config=cfg)
    assert set(eng.named_vectors_config("mv")) == {"text", "summary"}
    # config locked: get-or-create with a different map refuses
    with _pytest.raises(EngineError, match="named_vectors_config_mismatch"):
        eng.create_collection("mv", vectors_config={"text": {"dimension": 64}})
    eng.create_collection("mv", vectors_config=cfg)  # identical map is fine

    contents = [f"mv point {i:02d}" for i in range(40)]
    eng.add_documents("mv", contents)
    ids = {
        r.content: r.id for r in eng.read("mv").select("id", "content").collect()
    }
    text_vecs = {ids[c]: hash_embed(c, 64) for c in contents}
    sum_vecs = {ids[c]: hash_embed("s:" + c, 16) for c in contents}

    with _pytest.raises(EngineError, match="named_vector_unknown"):
        eng.put_named_vectors("mv", "image", text_vecs)
    with _pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
        eng.put_named_vectors("mv", "text", {next(iter(ids.values())): [1.0, 2.0]})
    with _pytest.raises(EngineError, match="point_not_found"):
        eng.put_named_vectors("mv", "text", {"ghost-id": hash_embed("x", 64)})

    assert eng.put_named_vectors("mv", "text", text_vecs) == 40
    assert eng.put_named_vectors("mv", "summary", sum_vecs) == 40

    # exact named search under each name's metric
    q_text = hash_embed("mv point 07", 64)
    got = eng.named_vector_search("mv", "text", q_text, k=3, indexed=False).collect()
    assert got[0].content == "mv point 07"
    assert [r.score for r in got] == sorted((r.score for r in got), reverse=True)
    q_sum = hash_embed("s:mv point 31", 16)
    got = eng.named_vector_search("mv", "summary", q_sum, k=3, indexed=False).collect()
    assert got[0].content == "mv point 31"
    assert [r.score for r in got] == sorted(r.score for r in got)  # l2 asc

    with _pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
        eng.named_vector_search("mv", "text", [1.0] * 16, k=3)

    # per-name index family: indexed serve matches the exact scan
    assert eng.named_vector_index_status("mv", "text") == "absent"
    with _pytest.raises(EngineError, match="index_not_fresh"):
        eng.named_vector_search("mv", "text", q_text, k=3, indexed=True)
    eng.build_named_vector_index("mv", "text")
    assert eng.named_vector_index_status("mv", "text") == "fresh"
    exact = eng.named_vector_search("mv", "text", q_text, k=3, indexed=False).collect()
    served = eng.named_vector_search("mv", "text", q_text, k=3, indexed=True).collect()
    assert [r.id for r in served] == [r.id for r in exact]
    # the summary name is independent: still unindexed, exact-auto routes
    assert eng.named_vector_index_status("mv", "summary") == "absent"

    # a re-put stales only that name's index; auto mode falls back to exact
    some_id = ids["mv point 00"]
    eng.put_named_vectors("mv", "text", {some_id: hash_embed("moved", 64)})
    assert eng.named_vector_index_status("mv", "text") == "stale"
    with _pytest.raises(EngineError, match="index_not_fresh"):
        eng.named_vector_search("mv", "text", q_text, k=3, indexed=True)
    auto = eng.named_vector_search("mv", "text", q_text, k=3).collect()
    assert auto[0].content == "mv point 07"

    # delete_collection removes the named sidecar tree
    root = eng._named_root(eng._require("mv"))
    assert root.exists()
    eng.delete_collection("mv", confirm=True)
    assert not root.exists()


@pytest.mark.slow
def test_content_only_l2_graph_refuses_mis_sized_query(spark, tmp_path_factory):
    """Review r12: a content-only l2 collection locks no dimension, but the
    index manifest records the indexed width — a mis-sized query must
    refuse (previously greatest() coerced every NULL inner product to a
    PERFECT 0.0 l2 distance and served k arbitrary rows as exact matches)."""
    import json as _json

    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.functions.embedder import hash_embed
    from vector_mcp_spark.validation import EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("l2dim_root")))
    eng.create_collection("l2g", distance="l2")
    eng.add_documents(
        "l2g", [f"l2 guard doc {i}" for i in range(20)],
        metadatas=[{"t": "a"}] * 20,
    )
    assert eng._locked_dimension(eng._require("l2g")) is None
    eng.build_search_index("l2g")
    manifest = _json.loads(
        (eng._index_root(eng._require("l2g")) / "manifest.json").read_text()
    )
    assert manifest["dimension"] == 64
    bad = hash_embed("short", 16)
    with _pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
        eng.indexed_graph_search("l2g", bad, k=3)
    with _pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
        eng.indexed_filtered_search("l2g", bad, {"t": "a"}, k=3)
    good = eng.indexed_graph_search("l2g", hash_embed("l2 guard doc 7", 64), k=3).collect()
    assert good and good[0].content == "l2 guard doc 7"
    assert all(r.score is not None for r in good)


def test_snapshot_round_trips_named_vectors(spark, tmp_path_factory):
    """Review r12: snapshots must carry the _named sidecar — the config and
    the user-supplied per-name vectors are primary data, not derivable."""
    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.functions.embedder import hash_embed

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("snapmv_root")))
    eng.create_collection("orig", vectors_config={"t": {"dimension": 8, "distance": "cosine"}})
    eng.add_documents("orig", [f"snap mv doc {i}" for i in range(6)])
    ids = {r.content: r.id for r in eng.read("orig").select("id", "content").collect()}
    eng.put_named_vectors("orig", "t", {ids[c]: hash_embed(c, 8) for c in ids})
    snap = eng.create_snapshot("orig")
    eng.delete_collection("orig", confirm=True)
    eng.restore_snapshot(snap, "back")
    assert set(eng.named_vectors_config("back")) == {"t"}
    got = eng.named_vector_search("back", "t", hash_embed("snap mv doc 3", 8), k=1).collect()
    assert got and got[0].content == "snap mv doc 3"


def test_get_or_create_without_distance_is_idempotent(spark, tmp_path_factory):
    """Review r12: distance=None means UNSPECIFIED (the dimension sentinel
    contract) — a plain get-or-create of an l2 collection returns it; only
    an explicit conflicting distance drifts."""
    from vector_mcp_spark.engine import CollectionEngine

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("goc_root")))
    eng.create_collection("idem", distance="l2")
    assert eng.create_collection("idem") == "idem"  # no kwargs, no drift
    assert eng.collection_distance("idem") == "l2"


def test_named_auto_route_entryless_index_falls_back_to_exact(spark, tmp_path_factory):
    """Review r12: a fresh but entry-less per-name graph (built with < 2
    vectors) must not make the auto router answer empty while the exact
    scan has the point."""
    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.functions.embedder import hash_embed

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("mv1_root")))
    eng.create_collection("one", vectors_config={"t": {"dimension": 8, "distance": "cosine"}})
    eng.add_documents("one", ["solitary point"])
    pid = eng.read("one").select("id").first().id
    eng.put_named_vectors("one", "t", {pid: hash_embed("solitary point", 8)})
    eng.build_named_vector_index("one", "t")
    assert eng.named_vector_index_status("one", "t") == "fresh"
    got = eng.named_vector_search("one", "t", hash_embed("solitary point", 8), k=1).collect()
    assert got and got[0].content == "solitary point"


@pytest.mark.slow
def test_collection_distance_dot_serves_descending(spark, tmp_path_factory):
    """Dot (inner-product) distance config: the build records it, and the
    graph and filtered searches rank descending by raw dot; with a beam
    that covers the collection the graph equals the exact dot top-k."""
    import json as _json

    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.functions.embedder import hash_embed

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("dot_root")))
    eng.create_collection("dotc", distance="dot")
    eng.add_documents(
        "dotc", [f"inner product doc {i} theme {i % 5}" for i in range(30)],
        metadatas=[{"t": "x"}] * 30,
    )
    eng.build_search_index("dotc")
    manifest = _json.loads(
        (eng._index_root(eng._require("dotc")) / "manifest.json").read_text()
    )
    assert manifest["distance"] == "dot"

    qv = hash_embed("inner product doc 11 theme 1", 64)
    g = eng.indexed_graph_search("dotc", qv, k=5).collect()
    assert [r.id for r in g] == _exact_topk(eng.read("dotc"), qv, 5, "dot")
    assert [r.score for r in g] == sorted((r.score for r in g), reverse=True)
    f = eng.indexed_filtered_search("dotc", qv, {"t": "x"}, k=5).collect()
    assert f and [r.score for r in f] == sorted((r.score for r in f), reverse=True)


def test_payload_range_index_lifecycle(spark, tmp_path_factory):
    """Range payload index (qdrant Range filter accelerator, VERDICT r12
    item 3): a fresh index serves the ids in [gte, lte] from its overlapping
    band partitions; a mutation makes it stale and it serves nothing, so
    the filtered search scans instead — never wrong, at worst
    unaccelerated. Non-numeric values are excluded (a range can never match
    them), open bounds work, and malformed bounds/keys refuse with stable
    codes."""
    import json as _json

    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.validation import EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("pridx_root")))
    eng.create_collection("pr")
    # prices 0.0, 2.5, ..., 72.5 plus one non-numeric and one missing key
    metas = [{"price": str(i * 2.5)} for i in range(30)]
    metas += [{"price": "not-a-number"}, {"other": "1"}]
    eng.add_documents("pr", [f"doc {i}" for i in range(32)], metadatas=metas)

    assert eng.payload_range_index_status("pr", "price") == "absent"
    info = eng.create_payload_range_index("pr", "price", n_bands=8)
    assert info["n_rows"] == 30  # numeric values only
    assert (info["vmin"], info["vmax"]) == (0.0, 72.5)
    assert eng.payload_range_index_status("pr", "price") == "fresh"
    scoped = eng._scoped("pr")

    def served_count(key, lo=None, hi=None, **strict):
        """Ids the range index serves for the bounds; None when it is
        absent or stale."""
        bounds = eng._validate_range_bounds(gte=lo, lte=hi, **strict)
        allowed = eng._range_allowed_ids(scoped, key, bounds)
        return None if allowed is None else allowed.count()

    def scan_count(lo, hi):
        return sum(
            1 for m in metas
            if "price" in m
            and m["price"].replace(".", "").isdigit()
            and (lo is None or float(m["price"]) >= lo)
            and (hi is None or float(m["price"]) <= hi)
        )

    for lo, hi in [(10.0, 30.0), (None, 5.0), (50.0, None), (0.0, 72.5),
                   (72.5, 72.5), (100.0, 200.0), (-10.0, -1.0)]:
        assert served_count("price", lo, hi) == scan_count(lo, hi), (lo, hi)

    # strict bounds: the full qdrant Range grammar — endpoints excluded
    assert served_count("price", gt=10.0, lt=30.0) == sum(
        1 for i in range(30) if 10.0 < i * 2.5 < 30.0
    )
    assert served_count("price", gt=72.5) == 0
    assert (
        served_count("price", 10.0, lt=12.5)
        == 1  # exactly 10.0; 12.5 excluded by the strict upper bound
    )

    # the served probe is PARTITION-pruned: the narrow range's plan keeps a
    # band partition filter, so only overlapping band dirs are opened
    allowed = eng._range_allowed_ids(scoped, "price", {"gte": 10.0, "lte": 30.0})
    plan = allowed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "band" in plan

    # mutation -> stale -> the index serves nothing; a rebuild covers the
    # new row
    eng.add_documents("pr", ["late doc"], metadatas=[{"price": "20"}])
    assert eng.payload_range_index_status("pr", "price") == "stale"
    assert served_count("price", 10.0, 30.0) is None
    eng.create_payload_range_index("pr", "price", n_bands=8)
    assert served_count("price", 10.0, 30.0) == scan_count(10.0, 30.0) + 1

    # a key with no numeric values: empty-but-servable, count 0
    eng.create_payload_range_index("pr", "other")  # "1" IS numeric -> 1 row
    assert served_count("other", 0.0, 2.0) == 1
    eng.create_payload_range_index("pr", "ghost")
    assert eng.payload_range_index_status("pr", "ghost") == "fresh"
    assert served_count("ghost", 0.0, 1.0) == 0

    # refusals: bounds and keys
    with _pytest.raises(EngineError, match="payload_range_invalid"):
        served_count("price")  # both bounds absent
    with _pytest.raises(EngineError, match="payload_range_invalid"):
        served_count("price", 30.0, 10.0)  # inverted
    with _pytest.raises(EngineError, match="payload_range_invalid"):
        served_count("price", "cheap")
    with _pytest.raises(EngineError, match="payload_key_invalid"):
        eng.create_payload_range_index("pr", "a/../b")
    with _pytest.raises(EngineError, match="payload_bands_invalid"):
        eng.create_payload_range_index("pr", "price", n_bands=0)
    # manifest records the geometry the probe relies on
    root = eng._index_root(eng._scoped("pr")) / "payload_range_price"
    meta = _json.loads((root / "manifest.json").read_text())
    assert meta["n_bands"] == 8 and meta["vmin"] == 0.0


@pytest.mark.slow
def test_indexed_filtered_search_range_predicate(spark, tmp_path_factory, monkeypatch):
    """Range predicates in indexed_filtered_search (qdrant Range grammar):
    {key: {gte, lte}} filters numerically; with a FRESH range payload index
    the allowed set is served from the band partitions (spied), and the
    results hash-match the scan twin exactly; a stale index falls back to
    the scan and stays correct."""
    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.functions.embedder import hash_embed
    from vector_mcp_spark.validation import EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("rfs_root")))
    eng.create_collection("rf")
    eng.add_documents(
        "rf",
        [f"range doc {i} topic {i % 4}" for i in range(40)],
        metadatas=[{"price": str(i * 3), "tier": "a" if i % 2 else "b"} for i in range(40)],
    )
    eng.build_search_index("rf")
    qv = hash_embed("range doc 7 topic 3", 64)

    # scan twin first (no range index yet): correct by the metadata scan
    scan = eng.indexed_filtered_search("rf", qv, {"price": {"gte": 30, "lte": 60}}, k=5)
    scan_rows = [(r.id, r.content, round(r.score, 6)) for r in scan.collect()]
    assert scan_rows and all("doc 1" in c or True for _, c, _ in scan_rows)

    # build the range index; the allowed side must now come from it
    eng.create_payload_range_index("rf", "price")
    calls = []
    orig = CollectionEngine._range_allowed_ids

    def spy(self, scoped, key, bounds):
        out = orig(self, scoped, key, bounds)
        calls.append((key, bounds, out is not None))
        return out

    monkeypatch.setattr(CollectionEngine, "_range_allowed_ids", spy)
    served = eng.indexed_filtered_search("rf", qv, {"price": {"gte": 30, "lte": 60}}, k=5)
    served_rows = [(r.id, r.content, round(r.score, 6)) for r in served.collect()]
    assert calls and calls[-1] == ("price", {"gte": 30.0, "lte": 60.0}, True)
    assert served_rows == scan_rows  # index accelerates, never changes results

    # strict bounds (full qdrant Range grammar): gt/lt exclude the endpoints
    strict = eng.indexed_filtered_search(
        "rf", qv, {"price": {"gt": 30, "lt": 60}}, k=10
    )
    for r in strict.collect():
        i = int(r.content.split()[2])
        assert 30 < i * 3 < 60

    # mixed equality + range must intersect
    mixed = eng.indexed_filtered_search(
        "rf", qv, {"price": {"gte": 30, "lte": 60}, "tier": "a"}, k=10
    )
    for r in mixed.collect():
        i = int(r.content.split()[2])
        assert 30 <= i * 3 <= 60 and i % 2 == 1

    # malformed range refuses with the stable code
    with _pytest.raises(EngineError, match="payload_range_invalid"):
        eng.indexed_filtered_search("rf", qv, {"price": {"between": [1, 2]}}, k=5)
    with _pytest.raises(EngineError, match="payload_range_invalid"):
        eng.indexed_filtered_search("rf", qv, {"price": {"gte": "cheap"}}, k=5)


@pytest.mark.slow
def test_indexed_filtered_search_equality_and_matchany_use_payload_index(
    spark, tmp_path_factory, monkeypatch
):
    """Equality (qdrant MatchValue) and MatchAny ({'any': [...]}) filter
    conditions route through a FRESH equality payload index — one hex-value
    partition per value — with results identical to the metadata scan; a
    stale/absent index falls back; malformed 'any' refuses."""
    import pytest as _pytest

    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.functions.embedder import hash_embed
    from vector_mcp_spark.validation import EngineError

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("eqidx_root")))
    eng.create_collection("eq")
    eng.add_documents(
        "eq",
        [f"match doc {i} subject {i % 5}" for i in range(40)],
        metadatas=[{"team": f"t{i % 4}"} for i in range(40)],
    )
    eng.build_search_index("eq")
    qv = hash_embed("match doc 7 subject 2", 64)

    # scan twins first (no payload index yet)
    scan_eq = [(r.id, round(r.score, 6)) for r in
               eng.indexed_filtered_search("eq", qv, {"team": "t1"}, k=5).collect()]
    scan_any = [(r.id, round(r.score, 6)) for r in
                eng.indexed_filtered_search(
                    "eq", qv, {"team": {"any": ["t1", "t3"]}}, k=5).collect()]
    # MatchAny semantics: the allowed set really is the union
    for r in eng.indexed_filtered_search(
            "eq", qv, {"team": {"any": ["t1", "t3"]}}, k=20).collect():
        assert int(r.content.split()[2]) % 4 in (1, 3)

    eng.create_payload_index("eq", "team")
    calls = []
    orig = CollectionEngine._equality_allowed_ids

    def spy(self, scoped, key, values):
        out = orig(self, scoped, key, values)
        calls.append((key, tuple(values), out is not None))
        return out

    monkeypatch.setattr(CollectionEngine, "_equality_allowed_ids", spy)
    got_eq = [(r.id, round(r.score, 6)) for r in
              eng.indexed_filtered_search("eq", qv, {"team": "t1"}, k=5).collect()]
    got_any = [(r.id, round(r.score, 6)) for r in
               eng.indexed_filtered_search(
                   "eq", qv, {"team": {"any": ["t1", "t3"]}}, k=5).collect()]
    assert ("team", ("t1",), True) in calls
    assert ("team", ("t1", "t3"), True) in calls
    assert got_eq == scan_eq and got_any == scan_any

    # stale index -> served is None -> scan fallback, still correct
    eng.add_documents("eq", ["late doc"], metadatas=[{"team": "t1"}])
    eng.build_search_index("eq")  # vector index fresh, payload index stale
    calls.clear()
    out = eng.indexed_filtered_search("eq", qv, {"team": "t1"}, k=5)
    assert out.count() == 5
    assert calls and calls[-1][2] is False  # fell back to the scan

    # malformed MatchAny refuses with the stable code (incl. the 256-value
    # wire bound)
    for bad in ({"any": []}, {"any": "t1"}, {"any": [True]},
                {"any": ["t1"], "gte": 1}, {"any": [str(i) for i in range(257)]}):
        with _pytest.raises(EngineError, match="payload_filter_invalid|payload_range_invalid"):
            eng.indexed_filtered_search("eq", qv, {"team": bad}, k=5)
