"""MCP veneer dispatch + remote embedding client (offline, fake transport)."""

from __future__ import annotations

import pytest

from vector_mcp_spark.api import VectorSearchApi
from vector_mcp_spark.engine import CollectionEngine
from vector_mcp_spark.functions.embedding_client import RemoteEmbeddingClient
from vector_mcp_spark.mcp import McpVeneer, resolve_action
from vector_mcp_spark.validation import EngineError


@pytest.fixture(scope="module")
def veneer(spark, tmp_path_factory):
    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("mcp_root")))
    return McpVeneer(eng, VectorSearchApi(eng))


def test_did_you_mean_suggestions():
    out = resolve_action("semantic_serch", ("semantic_search", "lexical_search", "search"))
    assert out["error"] == "action_invalid"
    assert out["did_you_mean"][0] == "semantic_search"
    assert resolve_action("search", ("semantic_search", "search")) == "search"


def test_collection_management_lifecycle(veneer):
    out = veneer.vector_collection_management(
        "create_collection", collection_name="mcp_kb",
        document_contents=["alpha doc", "beta doc"],
    )
    assert out == {"collection_name": "mcp_kb", "documents_added": 2}
    assert "mcp_kb" in veneer.vector_collection_management("list_collections")["collections"]
    out = veneer.vector_collection_management("add_documents", collection_name="mcp_kb")
    assert out["error"] == "document_input_required"
    # stable error codes, never a traceback
    out = veneer.vector_collection_management("delete_collection", collection_name="mcp_kb")
    assert out["error"] == "delete_not_confirmed"
    out = veneer.vector_collection_management(
        "delete_collection", collection_name="mcp_kb", confirm=True
    )
    assert out == {"deleted": "mcp_kb"}
    out = veneer.vector_collection_management("create_colection")
    assert out["error"] == "action_invalid" and "create_collection" in out["did_you_mean"]


def test_search_dispatch(veneer):
    veneer.vector_collection_management(
        "create_collection", collection_name="mcp_search",
        document_contents=["spark processes data", "vectors enable search", "cats sleep"],
    )
    for action in ("semantic_search", "lexical_search", "search"):
        out = veneer.vector_search(action, collection_name="mcp_search", question="data search")
        assert out["action"] == action and len(out["results"]) > 0
    out = veneer.vector_search("search", collection_name="mcp_search", question="   ")
    assert out["error"] == "question_invalid"
    out = veneer.vector_search("search", collection_name="nope", question="q")
    assert out["error"] == "collection_not_found"


def _fake_transport(vectors_by_text):
    def transport(url, payload, headers, timeout_s):
        return {"data": [{"embedding": vectors_by_text[t]} for t in payload["input"]]}

    return transport


def test_embedding_client_batches_and_validates():
    table = {f"t{i}": [float(i), 1.0] for i in range(5)}
    calls = []
    inner = _fake_transport(table)

    def transport(url, payload, headers, timeout_s):
        calls.append(list(payload["input"]))
        return inner(url, payload, headers, timeout_s)

    client = RemoteEmbeddingClient(
        "http://fake/v1/embeddings", "m", batch_size=2, transport=transport
    )
    out = client([f"t{i}" for i in range(5)])
    assert out == [[float(i), 1.0] for i in range(5)]
    assert [len(c) for c in calls] == [2, 2, 1]  # chunked per batch_size


def test_embedding_client_retries_then_fails():
    attempts = []

    def flaky(url, payload, headers, timeout_s):
        attempts.append(1)
        raise ConnectionError("down")

    client = RemoteEmbeddingClient(
        "http://fake", "m", max_retries=2, backoff_s=0.0, transport=flaky
    )
    with pytest.raises(EngineError, match="embedding_endpoint_unavailable"):
        client(["x"])
    assert len(attempts) == 3  # initial + 2 retries


def test_embedding_client_rejects_bad_responses():
    short = RemoteEmbeddingClient(
        "http://fake", "m",
        transport=lambda u, p, h, t: {"data": [{"embedding": [1.0]}]}, max_retries=0,
    )
    with pytest.raises(EngineError, match="embedding_batch_invalid"):
        short(["a", "b"])
    raggy = RemoteEmbeddingClient(
        "http://fake", "m",
        transport=lambda u, p, h, t: {
            "data": [{"embedding": [1.0]}, {"embedding": [1.0, 2.0]}]
        },
        max_retries=0,
    )
    with pytest.raises(EngineError, match="embedding_invalid"):
        raggy(["a", "b"])


def test_embedding_client_env_gate():
    assert RemoteEmbeddingClient.from_env({}) is None
    client = RemoteEmbeddingClient.from_env(
        {"VECTOR_MCP_SPARK_EMBED_ENDPOINT": "http://e", "VECTOR_MCP_SPARK_EMBED_BATCH_SIZE": "7"}
    )
    assert client is not None and client.batch_size == 7


def test_embedding_client_plugs_into_embed_documents(spark):
    from vector_mcp_spark.functions.embedder import embed_documents

    table = {"doc a": [0.1, 0.2], "doc b": [0.3, 0.4]}
    client = RemoteEmbeddingClient(
        "http://fake", "m", transport=_fake_transport(table), max_retries=0
    )
    df = spark.createDataFrame([("1", "doc a"), ("2", "doc b")], "id string, content string")
    got = {r.id: r.embedding for r in
           embed_documents(df, model=client, dim=2).collect()}
    assert got["1"] == pytest.approx([0.1, 0.2]) and got["2"] == pytest.approx([0.3, 0.4])


def test_entitlement_scoped_listing(spark, tmp_path_factory):
    """Listings pass through the identity-scoping seam: a working resolver
    narrows the set, a broken or absent one degrades to the full set, and
    names the resolver invents are ignored."""
    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("ent_root")))
    for name in ("alpha", "beta", "gamma"):
        eng.create_collection(name)

    def scoped(namespace, names):
        assert namespace == "collection"
        return [n for n in names if n.startswith(("a", "g"))] + ["invented"]

    out = McpVeneer(eng, entitlements=scoped).vector_collection_management("list_collections")
    assert out["collections"] == ["alpha", "gamma"]

    def broken(namespace, names):
        raise RuntimeError("entitlement service down")

    # resolver failure must never break listing — full set comes back
    out = McpVeneer(eng, entitlements=broken).vector_collection_management("list_collections")
    assert out["collections"] == ["alpha", "beta", "gamma"]
    # no resolver bound (unauthenticated/local) → full set
    out = McpVeneer(eng).vector_collection_management("list_collections")
    assert out["collections"] == ["alpha", "beta", "gamma"]


# -- end-to-end through the real client seam (VERDICT r3 task 7) --------------
#
# The ingest→embed→search flow runs with a RemoteEmbeddingClient whose
# transport replays recorded responses — proving T6 parity against the wire
# seam (batching, validation, executor-side pickling through mapInPandas),
# not only the hash_embed stand-in.


def test_remote_client_end_to_end_search(spark, tmp_path_factory):
    # Deterministic stand-in for the embedding endpoint: replays what a
    # recorded server would return for each input (hash_embed vectors, the
    # same family the offline oracle uses). Defined inside the test so
    # cloudpickle serializes it BY VALUE into executor closures (a test-module
    # top-level def pickles by reference, which executors can't import).
    def _recorded_transport(url, payload, headers, timeout_s):
        from vector_mcp_spark.functions.embedder import hash_embed

        assert url == "https://fake.test/v1/embeddings"
        assert isinstance(payload["input"], list)
        return {"data": [{"embedding": hash_embed(t, 64)} for t in payload["input"]]}

    client = RemoteEmbeddingClient(
        endpoint="https://fake.test/v1/embeddings", model="fake-model",
        batch_size=2, transport=_recorded_transport,
    )
    docs = [
        "spark processes data in parallel",
        "vector search over embeddings",
        "coffee brewing techniques",
    ]
    # content-only → the engine embeds through the client at insert
    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("e2e_root")), embed_model=client)
    eng.create_collection("wired")
    eng.add_documents("wired", docs)
    api = VectorSearchApi(eng)
    rows = api.search("wired", "vector embeddings", number_results=2).collect()
    assert len(rows) == 2
    # identical scores to the offline hash-embedder path: the client replays
    # the same recorded vectors, so the seams are interchangeable
    hashed = CollectionEngine(spark, str(tmp_path_factory.mktemp("e2e_hash_root")))
    hashed.create_collection("wired")
    hashed.add_documents("wired", docs)
    offline = VectorSearchApi(hashed).search("wired", "vector embeddings", number_results=2).collect()
    assert [(r.id, round(r.score, 9)) for r in rows] == [
        (r.id, round(r.score, 9)) for r in offline
    ]
    # semantic leg too (query embedding goes through the client)
    sem = api.semantic_search("wired", ["parallel data processing"], number_results=1).collect()
    assert len(sem) == 1


def test_env_gate_selects_remote_client(monkeypatch, spark, tmp_path_factory):
    """VECTOR_MCP_SPARK_EMBED_ENDPOINT flips the engine from the hash
    embedder to the remote-client seam; unset env keeps the deterministic
    default."""
    root = str(tmp_path_factory.mktemp("gate_root"))
    monkeypatch.delenv("VECTOR_MCP_SPARK_EMBED_ENDPOINT", raising=False)
    assert CollectionEngine(spark, root)._embed_model is None
    monkeypatch.setenv("VECTOR_MCP_SPARK_EMBED_ENDPOINT", "https://fake.test/v1/embeddings")
    monkeypatch.setenv("VECTOR_MCP_SPARK_EMBED_MODEL", "fake-model")
    gated = CollectionEngine(spark, root)
    assert isinstance(gated._embed_model, RemoteEmbeddingClient)
    assert gated._embed_model.model == "fake-model"


def test_plural_alias_resolves():
    """Reference parity (test_action_discovery.py): a plural alias resolves
    to the canonical singular action instead of erroring."""
    assert resolve_action("searches", ("semantic_search", "lexical_search", "search")) == "search"
    assert resolve_action("list_collectionses", ("list_collections",)) == "list_collections"
    assert resolve_action("semantic_searches", ("semantic_search", "search")) == "semantic_search"
    # a plural of nothing still errors with suggestions
    out = resolve_action("bananas", ("search",))
    assert out["error"] == "action_invalid"


# -- doctor (static readiness, no JVM) ----------------------------------------


def test_doctor_reports_ready_environment():
    from vector_mcp_spark.doctor import doctor

    report = doctor()
    assert report["ok"] is True
    assert report["pyspark_available"] and report["java_executable"]
    assert report["arrow_available"] and report["pandas_available"]
    assert report["remote_embedding_configured"] is False


def test_doctor_warehouse_probe(tmp_path):
    from vector_mcp_spark.doctor import doctor

    ok = doctor(str(tmp_path / "wh"))
    assert ok["warehouse_writable"] is True and ok["ok"] is True


def test_doctor_flags_bad_remote_embed_config(monkeypatch):
    """Endpoint set but client gate rejects → ok must go false (mirrors the
    reference's credential-reference resolution check)."""
    from vector_mcp_spark.doctor import doctor

    monkeypatch.setenv("VECTOR_MCP_SPARK_EMBED_ENDPOINT", "https://example.test/v1")
    monkeypatch.setenv("VECTOR_MCP_SPARK_EMBED_BATCH_SIZE", "not-a-number")
    report = doctor()
    assert report["remote_embedding_configured"] is True
    assert report["remote_embedding_config_valid"] is False
    assert report["ok"] is False


def test_doctor_main_emits_json(capsys):
    from vector_mcp_spark.doctor import main

    assert main([]) == 0
    import json as _json

    out = _json.loads(capsys.readouterr().out.strip())
    assert out["backend"] == "spark" and out["ok"] is True


# -- connector surface (reference vector_mcp/connectors/) ---------------------


def test_tool_schema_fingerprints_are_pinned():
    """Drift gate: a signature change to either veneer tool must be a
    conscious, fingerprint-bumping decision (the reference pins these in
    tool_schema_fingerprints.json per release)."""
    from vector_mcp_spark.connectors import tool_schema_fingerprints

    out = tool_schema_fingerprints()
    assert out["algorithm"] == "vector-mcp-spark:mcp-tool-schema-compat:v1"
    assert out["schema_version"] == "1"
    assert sorted(out["tools"]) == ["vector_collection_management", "vector_search"]
    # recompute is deterministic
    assert out == tool_schema_fingerprints()
    assert out["tools"]["vector_collection_management"] == (
        tool_schema_fingerprints()["tools"]["vector_collection_management"]
    )


def test_tool_schema_fingerprint_detects_drift(monkeypatch):
    from vector_mcp_spark import connectors

    before = connectors.tool_schema_fingerprints()["tools"]["vector_search"]

    def changed(self, action, extra_param=None):  # pragma: no cover - schema only
        raise NotImplementedError

    monkeypatch.setattr(connectors.McpVeneer, "vector_search", changed)
    after = connectors.tool_schema_fingerprints()["tools"]["vector_search"]
    assert after != before


# -- fail-closed backend policy (reference backend_policy.py) -----------------


def test_backend_policy_allowlist():
    from vector_mcp_spark.backend_policy import (
        backend_status,
        canonical_backend,
        ensure_backend_available,
    )
    from vector_mcp_spark.validation import EngineError

    assert canonical_backend("  Postgres ") == "postgres"
    # reference names are admitted as aliases of the Spark engine
    for name in ("epistemic_graph", "MongoDB", "postgres", "QDRANT", "spark"):
        assert ensure_backend_available(name) == name.strip().casefold()
    with pytest.raises(EngineError, match="vector_backend_not_configured"):
        ensure_backend_available("   ")
    with pytest.raises(EngineError, match="vector_backend_unsupported"):
        ensure_backend_available("sqlite")
    st = backend_status("qdrant")
    assert st["available"] and "Spark engine" in st["advisory"]
    assert backend_status("spark")["advisory"] is None
    assert not backend_status("nope")["available"]


def test_veneer_rejects_unsupported_backend(spark, tmp_path_factory):
    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("bp_root")))
    v = McpVeneer(eng)
    out = v.vector_collection_management("list_collections", db_type="oracledb")
    assert out == {"error": "vector_backend_unsupported"}
    out = v.vector_search("search", collection_name="c", question="q", db_type="duck")
    assert out == {"error": "vector_backend_unsupported"}
    # a valid alias proceeds to normal routing (collection missing → its code)
    out = v.vector_search("search", collection_name="missing", question="q", db_type="postgres")
    assert out == {"error": "collection_not_found"}


# -- live network seam: loopback HTTP server (ADVICE r4 #4) -------------------
#
# The fake-transport tests above prove batching/validation logic; this one
# proves the DEFAULT stdlib urllib transport over a real TCP connection —
# request headers, JSON wire shape, retry-on-5xx, and the error mapping when
# the server misbehaves. The server is a stdlib ThreadingHTTPServer bound to
# 127.0.0.1:0; in local-mode Spark the executor threads reach it the same
# way a cluster executor would reach a real endpoint.


@pytest.fixture()
def embed_server():
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from vector_mcp_spark.functions.embedder import hash_embed

    state = {"batches": [], "auth": [], "fail_next": 0, "mode": "ok"}

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # keep pytest output clean
            pass

        def do_POST(self):
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            state["batches"].append(len(body["input"]))
            state["auth"].append(self.headers.get("Authorization"))
            if state["fail_next"] > 0:
                state["fail_next"] -= 1
                self.send_response(503)
                self.end_headers()
                return
            if state["mode"] == "short":
                data = [{"embedding": hash_embed(t, 64)} for t in body["input"][:-1]]
            elif state["mode"] == "ragged":
                data = [
                    {"embedding": hash_embed(t, 64 if i % 2 else 32)}
                    for i, t in enumerate(body["input"])
                ]
            else:
                data = [{"embedding": hash_embed(t, 64)} for t in body["input"]]
            payload = json.dumps({"data": data}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}/v1/embeddings", state
    finally:
        srv.shutdown()
        srv.server_close()


def test_live_loopback_search_end_to_end(spark, tmp_path_factory, embed_server):
    url, state = embed_server
    client = RemoteEmbeddingClient(
        endpoint=url, model="fake-model", api_key="sekret",
        batch_size=2, backoff_s=0.01,
    )
    docs = [
        "spark processes data in parallel",
        "vector search over embeddings",
        "coffee brewing techniques",
    ]
    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("live_root")), embed_model=client)
    eng.create_collection("live")
    eng.add_documents("live", docs)
    rows = VectorSearchApi(eng).search("live", "vector embeddings", number_results=2).collect()
    assert len(rows) == 2
    # wire-identical to the offline hash-embedder path
    hashed = CollectionEngine(spark, str(tmp_path_factory.mktemp("live_hash_root")))
    hashed.create_collection("live")
    hashed.add_documents("live", docs)
    offline = VectorSearchApi(hashed).search("live", "vector embeddings", number_results=2).collect()
    assert [(r.id, round(r.score, 9)) for r in rows] == [
        (r.id, round(r.score, 9)) for r in offline
    ]
    # batching respected over the wire and the key reached the server
    assert all(b <= 2 for b in state["batches"])
    assert "Bearer sekret" in state["auth"]


def test_live_loopback_retry_and_error_mapping(embed_server):
    url, state = embed_server
    client = RemoteEmbeddingClient(
        endpoint=url, model="m", batch_size=8, max_retries=2, backoff_s=0.01
    )
    # one 503 then success: the retry path recovers over real TCP
    state["fail_next"] = 1
    vecs = client(["a", "b", "c"])
    assert len(vecs) == 3 and all(len(v) == 64 for v in vecs)
    # count-mismatch response → embedding_batch_invalid
    state["mode"] = "short"
    with pytest.raises(EngineError, match="embedding_batch_invalid"):
        client(["a", "b", "c"])
    # inconsistent dimensions → embedding_invalid (dimension lock)
    state["mode"] = "ragged"
    with pytest.raises(EngineError, match="embedding_invalid"):
        client(["a", "b", "c"])
    # endpoint gone → embedding_endpoint_unavailable after retries
    dead = RemoteEmbeddingClient(
        endpoint="http://127.0.0.1:9/v1/embeddings", model="m",
        max_retries=0, timeout_s=0.5,
    )
    with pytest.raises(EngineError, match="embedding_endpoint_unavailable"):
        dead(["a"])


# -- A2A agent card + auth'd dispatch (ADVICE r4 #6) --------------------------


def _fake_identity(allowed_skills=None, allowed_actions=None):
    """Entitlement resolver for a fake authenticated identity."""
    def resolver(namespace, names):
        if namespace == "skill" and allowed_skills is not None:
            return [n for n in names if n in allowed_skills]
        if namespace == "action" and allowed_actions is not None:
            return [n for n in names if n in allowed_actions]
        return names
    return resolver


def test_agent_card_full_catalog_when_unauthenticated(veneer):
    from vector_mcp_spark.agent_card import AgentCardVeneer

    card = AgentCardVeneer(veneer).card()
    assert card["name"] and card["description"] and card["version"]
    assert [s["id"] for s in card["skills"]] == [
        "vector-collection-management", "vector-hybrid-search",
        "vector-backend-operations",
    ]
    assert "vector_search" in card["tools"]
    assert "search" in card["skills"][1]["actions"]


def test_agent_card_entitlement_filtered(veneer):
    from vector_mcp_spark.agent_card import AgentCardVeneer

    ident = _fake_identity(
        allowed_skills={"vector-hybrid-search", "vector-backend-operations"},
        allowed_actions={"semantic_search", "search", "doctor", "backend_status"},
    )
    card = AgentCardVeneer(veneer, entitlements=ident).card()
    assert [s["id"] for s in card["skills"]] == [
        "vector-hybrid-search", "vector-backend-operations",
    ]
    # the action list inside a granted skill narrows too
    assert card["skills"][0]["actions"] == ["semantic_search", "search"]
    # a skill whose actions are all denied would drop entirely
    none_allowed = _fake_identity(allowed_actions=set())
    assert AgentCardVeneer(veneer, entitlements=none_allowed).card()["skills"] == []
    # resolver outage degrades to the full catalog, like listings
    def broken(ns, names):
        raise RuntimeError("idp down")
    assert len(AgentCardVeneer(veneer, entitlements=broken).card()["skills"]) == 3


def test_agent_dispatch_routes_and_enforces(spark, tmp_path_factory):
    from vector_mcp_spark.agent_card import AgentCardVeneer

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("a2a_root")))
    agent = AgentCardVeneer(McpVeneer(eng, VectorSearchApi(eng)))
    out = agent.dispatch(
        "vector_collection_management", "create_collection",
        collection_name="a2a", document_contents=["alpha doc", "beta doc"],
    )
    assert out == {"collection_name": "a2a", "documents_added": 2}
    res = agent.dispatch(
        "vector_search", "search", collection_name="a2a",
        question="alpha", number_results=1,
    )
    assert res["action"] == "search" and len(res["results"]) == 1
    # backend ops route with the same stable shapes
    assert agent.dispatch("vector_backend_operations", "backend_status",
                          db_type="qdrant")["available"] is True
    assert agent.dispatch("vector_backend_operations", "doctor")["ok"] in (True, False)
    assert agent.dispatch("vector_backend_operations", "reboot")["error"] == "action_invalid"
    # unknown tool → stable error with suggestions, not a traceback
    bad = agent.dispatch("vector_searhc", "search")
    assert bad["error"] == "tool_invalid" and "vector_search" in bad["did_you_mean"]
    # underlying veneer codes surface unchanged (no confirm → stable code)
    err = agent.dispatch("vector_collection_management", "delete_collection",
                         collection_name="a2a")
    assert err == {"error": "delete_not_confirmed"}


def test_agent_dispatch_forbidden_action(spark, tmp_path_factory):
    from vector_mcp_spark.agent_card import AgentCardVeneer

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("a2a_auth")))
    ident = _fake_identity(allowed_actions={"list_collections", "search"})
    agent = AgentCardVeneer(McpVeneer(eng), entitlements=ident)
    out = agent.dispatch("vector_collection_management", "create_collection",
                         collection_name="nope")
    assert out == {"error": "action_forbidden", "action": "create_collection"}
    assert agent.dispatch("vector_collection_management", "list_collections") == {
        "collections": []
    }


def test_agent_dispatch_fails_closed_on_resolver_outage(spark, tmp_path_factory):
    """A resolver outage must DENY actions (fail closed) even though the same
    outage degrades card()/discovery to the full catalog (fail open) — an IdP
    blip must never grant delete_collection."""
    from vector_mcp_spark.agent_card import AgentCardVeneer

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("a2a_outage")))

    def broken(ns, names):
        raise RuntimeError("idp down")

    agent = AgentCardVeneer(McpVeneer(eng), entitlements=broken)
    out = agent.dispatch("vector_collection_management", "delete_collection",
                         collection_name="x", confirm=True)
    assert out == {"error": "entitlements_unavailable", "action": "delete_collection"}
    # discovery still fail-opens so the outage doesn't blank the card
    assert len(agent.card()["skills"]) == 3


# -- cross-encoder rerank seam ------------------------------------------------


def test_rerank_score_twins_agree(spark):
    from vector_mcp_spark.functions.rerank import rerank_score_col, rerank_score_py

    texts = ["alpha beta", "gamma delta", "epsilon"]
    df = spark.createDataFrame([(t,) for t in texts], "content string")
    got = [r.s for r in df.select(rerank_score_col("content", "my query").alias("s")).collect()]
    want = [rerank_score_py(t, "my query") for t in texts]
    assert got == pytest.approx(want, abs=0)
    assert all(0.0 <= s < 1.0 for s in got)


def test_rerank_search_offline_and_with_client(spark, tmp_path_factory):
    from vector_mcp_spark.functions.rerank import rerank_score_py
    from vector_mcp_spark.functions.rerank_client import RemoteRerankClient

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("rr_root")))
    eng.create_collection("rr")
    eng.add_documents("rr", [f"document number {i} about topic {i % 3}" for i in range(30)])
    api = VectorSearchApi(eng)
    offline = api.rerank_search("rr", "topic 1", number_results=5, shortlist=20).collect()
    assert len(offline) == 5
    assert all(offline[i].score >= offline[i + 1].score for i in range(4))

    # a recorded-transport client replaying the SAME deterministic scorer
    # must land on identical ids+scores — the seams are interchangeable
    def transport(url, payload, headers, timeout_s):
        return {"results": [
            {"index": i, "relevance_score": rerank_score_py(t, payload["query"])}
            for i, t in enumerate(payload["documents"])
        ]}

    client = RemoteRerankClient(endpoint="https://fake.test/v1/rerank",
                                model="fake", batch_size=7, transport=transport)
    wired = VectorSearchApi(eng, rerank_model=client)
    got = wired.rerank_search("rr", "topic 1", number_results=5, shortlist=20).collect()
    assert [(r.id, round(r.score, 9)) for r in got] == [
        (r.id, round(r.score, 9)) for r in offline
    ]
    # bounds: shortlist must dominate k
    with pytest.raises(EngineError, match="number_results_invalid"):
        api.rerank_search("rr", "q", number_results=10, shortlist=5)


def test_rerank_client_validation_and_env_gate():
    from vector_mcp_spark.functions.rerank_client import RemoteRerankClient

    # duplicate/missing indexes → rerank_batch_invalid
    def bad_transport(url, payload, headers, timeout_s):
        return {"results": [{"index": 0, "relevance_score": 0.5}] * len(payload["documents"])}

    c = RemoteRerankClient(endpoint="https://x/v1/rerank", model="m",
                           max_retries=0, transport=bad_transport)
    with pytest.raises(EngineError, match="rerank_batch_invalid"):
        c("q", ["a", "b"])

    def nan_transport(url, payload, headers, timeout_s):
        return {"results": [{"index": i, "relevance_score": float("nan")}
                            for i in range(len(payload["documents"]))]}

    c2 = RemoteRerankClient(endpoint="https://x/v1/rerank", model="m",
                            max_retries=0, transport=nan_transport)
    with pytest.raises(EngineError, match="rerank_invalid"):
        c2("q", ["a"])

    assert RemoteRerankClient.from_env({}) is None
    gated = RemoteRerankClient.from_env(
        {"VECTOR_MCP_SPARK_RERANK_ENDPOINT": "https://x/v1/rerank",
         "VECTOR_MCP_SPARK_RERANK_MODEL": "mm"}
    )
    assert gated is not None and gated.model == "mm"


def test_rerank_live_loopback(spark, tmp_path_factory):
    """The default urllib transport over a real TCP loopback server, with
    batching and a 503 retry — mirrors the embedding-client live test."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from vector_mcp_spark.functions.rerank import rerank_score_py
    from vector_mcp_spark.functions.rerank_client import RemoteRerankClient

    state = {"batches": [], "fail_next": 1}

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            body = _json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            state["batches"].append(len(body["documents"]))
            if state["fail_next"] > 0:
                state["fail_next"] -= 1
                self.send_response(503)
                self.end_headers()
                return
            payload = _json.dumps({"results": [
                {"index": i, "relevance_score": rerank_score_py(t, body["query"])}
                for i, t in enumerate(body["documents"])
            ]}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        client = RemoteRerankClient(
            endpoint=f"http://127.0.0.1:{srv.server_address[1]}/v1/rerank",
            model="m", batch_size=4, backoff_s=0.01,
        )
        texts = [f"text {i}" for i in range(10)]
        scores = client("the query", texts)
        assert scores == [rerank_score_py(t, "the query") for t in texts]
        assert all(b <= 4 for b in state["batches"])
    finally:
        srv.shutdown()
        srv.server_close()


def test_veneer_rerank_action_and_doctor_gate(spark, tmp_path_factory, monkeypatch):
    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("rrv_root")))
    v = McpVeneer(eng)
    v.vector_collection_management(
        "create_collection", collection_name="rv",
        document_contents=["alpha beta", "gamma delta", "alpha gamma"],
    )
    out = v.vector_search("rerank_search", collection_name="rv",
                          question="alpha", number_results=2)
    assert out["action"] == "rerank_search" and len(out["results"]) == 2
    # plural alias resolves like the other actions
    assert v.vector_search("rerank_searches", collection_name="rv",
                           question="alpha")["action"] == "rerank_search"
    # doctor reports the optional rerank config and flags malformed shape
    from vector_mcp_spark.doctor import doctor

    monkeypatch.delenv("VECTOR_MCP_SPARK_RERANK_ENDPOINT", raising=False)
    assert doctor()["remote_rerank_configured"] is False
    monkeypatch.setenv("VECTOR_MCP_SPARK_RERANK_ENDPOINT", "https://x/v1/rerank")
    d = doctor()
    assert d["remote_rerank_configured"] is True and d["remote_rerank_config_valid"] is True
    monkeypatch.setenv("VECTOR_MCP_SPARK_RERANK_BATCH_SIZE", "not-a-number")
    d2 = doctor()
    assert d2["remote_rerank_config_valid"] is False and d2["ok"] is False


@pytest.mark.slow
def test_veneer_index_actions(spark, tmp_path_factory):
    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("vidx_root")))
    v = McpVeneer(eng)
    v.vector_collection_management(
        "create_collection", collection_name="vi",
        document_contents=["spark engine", "query plans"],
    )
    assert v.vector_collection_management("index_status", collection_name="vi") == {
        "collection_name": "vi", "status": "absent",
    }
    out = v.vector_collection_management("build_search_index", collection_name="vi")
    assert out["collection_name"] == "vi" and out["n_vectors"] == 2
    assert v.vector_collection_management("index_status", collection_name="vi")[
        "status"
    ] == "fresh"
    # payload index action: key arrives via the payload dict
    out = v.vector_collection_management(
        "create_payload_index", collection_name="vi", payload={"team": ""},
    )
    assert out["key"] == "team" and out["collection_name"] == "vi"
    assert v.vector_collection_management(
        "create_payload_index", collection_name="vi",
    ) == {"error": "payload_key_invalid", "detail": "pass exactly one key via payload"}
    # multi-key refuses too — silently indexing one of N keys is worse
    assert v.vector_collection_management(
        "create_payload_index", collection_name="vi",
        payload={"team": "", "zone": ""},
    ) == {"error": "payload_key_invalid", "detail": "pass exactly one key via payload"}
    # the single-key equality count routes through the index-accelerated
    # path (identical answer either way — the accelerator contract)
    out = v.vector_collection_management(
        "count_documents", collection_name="vi", payload={"team": "t9"},
    )
    assert out == {"collection_name": "vi", "count": 0}
    # incremental repair action: grow, repair, status reports 'repaired'
    v.vector_collection_management(
        "add_documents", collection_name="vi", document_contents=["joins shuffle"],
    )
    out = v.vector_collection_management("repair_search_index", collection_name="vi")
    assert out["collection_name"] == "vi" and out["repaired"] == 1
    assert v.vector_collection_management("index_status", collection_name="vi")[
        "status"
    ] == "repaired"
    # stable error dict for a missing collection, never a traceback
    assert v.vector_collection_management("index_status", collection_name="nope") == {
        "error": "collection_not_found"
    }


# ---------------------------------------------------------------------------
# MCP transports: stdio (newline JSON-RPC) and streamable-http.
# Mirrors the reference's in-process client ring
# (/root/reference/tests/test_mcp_server.py:44-217): initialize → tools/list
# → create/add/search via tools/call → protocol errors → notification silence.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def transport_agent(spark, tmp_path_factory):
    from vector_mcp_spark.agent_card import AgentCardVeneer

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("mcp_stdio_root")))
    return AgentCardVeneer(McpVeneer(eng, VectorSearchApi(eng)))


def _rpc(method, msg_id=None, **params):
    msg = {"jsonrpc": "2.0", "method": method}
    if msg_id is not None:
        msg["id"] = msg_id
    if params:
        msg["params"] = params
    return msg


def _tool_text(resp):
    import json

    assert "error" not in resp, resp
    return json.loads(resp["result"]["content"][0]["text"])


def test_stdio_handle_message_full_ring(transport_agent):
    from vector_mcp_spark import mcp_stdio as t

    # initialize
    resp = t.handle_message(transport_agent, _rpc("initialize", 1))
    assert resp["id"] == 1
    assert resp["result"]["protocolVersion"] == t.MCP_PROTOCOL_VERSION
    assert resp["result"]["serverInfo"]["name"]
    # tools/list exposes the three action-routed tools with action enums
    resp = t.handle_message(transport_agent, _rpc("tools/list", 2))
    tools = {tl["name"]: tl for tl in resp["result"]["tools"]}
    assert "vector_collection_management" in tools and "vector_search" in tools
    assert "create_collection" in tools["vector_collection_management"][
        "inputSchema"]["properties"]["action"]["enum"]
    # create → add → search through tools/call
    out = _tool_text(t.handle_message(transport_agent, _rpc(
        "tools/call", 3, name="vector_collection_management",
        arguments={"action": "create_collection", "collection_name": "ring_kb",
                   "document_contents": ["spark processes data", "vectors enable search"]},
    )))
    assert out == {"collection_name": "ring_kb", "documents_added": 2}
    resp = t.handle_message(transport_agent, _rpc(
        "tools/call", 4, name="vector_search",
        arguments={"action": "search", "collection_name": "ring_kb",
                   "question": "data search"},
    ))
    assert resp["result"]["isError"] is False
    out = _tool_text(resp)
    assert out["action"] == "search" and len(out["results"]) > 0
    # tool-level failure rides through as isError result, not protocol error
    resp = t.handle_message(transport_agent, _rpc(
        "tools/call", 5, name="vector_search",
        arguments={"action": "search", "collection_name": "nope", "question": "q"},
    ))
    assert resp["result"]["isError"] is True
    assert _tool_text(resp)["error"] == "collection_not_found"
    # ping
    assert t.handle_message(transport_agent, _rpc("ping", 6))["result"] == {}


def test_stdio_protocol_errors(transport_agent):
    from vector_mcp_spark import mcp_stdio as t

    # invalid request envelope
    resp = t.handle_message(transport_agent, {"id": 1, "method": "ping"})
    assert resp["error"]["code"] == t.INVALID_REQUEST
    resp = t.handle_message(transport_agent, ["not", "a", "dict"])
    assert resp["error"]["code"] == t.INVALID_REQUEST
    # unknown method (resources/* is implemented now; use a fake)
    resp = t.handle_message(transport_agent, _rpc("wormholes/open", 2))
    assert resp["error"]["code"] == t.METHOD_NOT_FOUND
    # tools/call without name/action
    resp = t.handle_message(transport_agent, _rpc("tools/call", 3, arguments={}))
    assert resp["error"]["code"] == t.INVALID_PARAMS
    # dispatch exception → INTERNAL_ERROR envelope, no traceback leak
    class Boom:
        def card(self):
            raise RuntimeError("kaboom")

    resp = t.handle_message(Boom(), _rpc("initialize", 4))
    assert resp["error"]["code"] == t.INTERNAL_ERROR
    assert "kaboom" in resp["error"]["message"]


def test_stdio_notifications_are_silent(transport_agent):
    """JSON-RPC 2.0 forbids responding to id-less requests — even known
    methods and even errors (ADVICE r6: id:null replies broke strict clients)."""
    from vector_mcp_spark import mcp_stdio as t

    for method in ("initialize", "ping", "tools/list", "notifications/initialized",
                   "no/such/method"):
        assert t.handle_message(transport_agent, _rpc(method)) is None
    # side effects of an id-less tools/call still run
    assert t.handle_message(transport_agent, _rpc(
        "tools/call", name="vector_collection_management",
        arguments={"action": "create_collection", "collection_name": "notif_kb",
                   "document_contents": ["silent doc"]},
    )) is None
    resp = t.handle_message(transport_agent, _rpc(
        "tools/call", 9, name="vector_collection_management",
        arguments={"action": "list_collections"},
    ))
    assert "notif_kb" in _tool_text(resp)["collections"]


def test_stdio_serve_loop(transport_agent):
    """Drive serve() end-to-end over in-memory pipes: one JSON line per
    response, parse errors answered, blank lines and notifications skipped."""
    import io
    import json

    from vector_mcp_spark import mcp_stdio as t

    lines = [
        json.dumps(_rpc("initialize", 1)),
        "",  # blank line skipped
        "this is not json",  # → parse error with id null
        json.dumps(_rpc("notifications/initialized")),  # silent
        json.dumps(_rpc("tools/list", 2)),
    ]
    out = io.StringIO()
    t.serve(transport_agent, io.StringIO("\n".join(lines) + "\n"), out)
    resps = [json.loads(ln) for ln in out.getvalue().splitlines()]
    assert [r.get("id") for r in resps] == [1, None, 2]
    assert resps[1]["error"]["code"] == t.PARSE_ERROR
    assert {tl["name"] for tl in resps[2]["result"]["tools"]} >= {
        "vector_collection_management", "vector_search"}


@pytest.fixture()
def http_mcp_server(transport_agent):
    import threading

    from vector_mcp_spark.mcp_http import start_http

    server = start_http(transport_agent, port=0)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        yield f"http://127.0.0.1:{server.server_address[1]}/mcp"
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=5)


def _http_post(url, body: bytes):
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, data=body,
                                 headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=10) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def test_http_transport_loopback(http_mcp_server):
    """tools/call over real HTTP — the reference's streamable-http parity
    (mcp_server.py:328-336), protocol layer shared with stdio verbatim."""
    import json
    import urllib.request

    url = http_mcp_server
    status, body = _http_post(url, json.dumps(_rpc("initialize", 1)).encode())
    assert status == 200
    assert json.loads(body)["result"]["protocolVersion"]
    # full tool round-trip
    status, body = _http_post(url, json.dumps(_rpc(
        "tools/call", 2, name="vector_collection_management",
        arguments={"action": "create_collection", "collection_name": "http_kb",
                   "document_contents": ["served over http", "loopback doc"]},
    )).encode())
    assert status == 200
    assert _tool_text(json.loads(body)) == {"collection_name": "http_kb",
                                            "documents_added": 2}
    status, body = _http_post(url, json.dumps(_rpc(
        "tools/call", 3, name="vector_search",
        arguments={"action": "search", "collection_name": "http_kb",
                   "question": "http loopback"},
    )).encode())
    out = _tool_text(json.loads(body))
    assert len(out["results"]) > 0
    # notification → 202 empty; parse error → JSON-RPC envelope; GET → 405
    status, body = _http_post(url, json.dumps(_rpc("ping")).encode())
    assert status == 202 and body == b""
    status, body = _http_post(url, b"{not json")
    assert status == 200 and json.loads(body)["error"]["code"] == -32700
    req = urllib.request.Request(url)
    import urllib.error
    try:
        with urllib.request.urlopen(req, timeout=10) as r:
            status = r.status
    except urllib.error.HTTPError as e:
        status = e.code
    assert status == 405
    # /health GET parity with the reference's custom route
    base = url.rsplit("/", 1)[0]
    with urllib.request.urlopen(base + "/health", timeout=10) as r:
        assert r.status == 200 and json.loads(r.read()) == {"status": "ok"}
    # wrong path → 404
    status, _ = _http_post(url.replace("/mcp", "/other"),
                           json.dumps(_rpc("ping", 1)).encode())
    assert status == 404


def test_prompt_catalog_over_both_transports(transport_agent, http_mcp_server):
    """The reference's prompt-descriptor sidecars (vector_mcp/prompts/*.json)
    map to protocol-native prompts/list + prompts/get on every transport."""
    import json

    from vector_mcp_spark import mcp_stdio as t

    resp = t.handle_message(transport_agent, _rpc("initialize", 1))
    assert "prompts" in resp["result"]["capabilities"]
    resp = t.handle_message(transport_agent, _rpc("prompts/list", 2))
    names = {p["name"] for p in resp["result"]["prompts"]}
    assert names == {"vector_retrieval_specialist", "collection_curator"}
    listed = resp["result"]["prompts"][0]
    assert "template" not in listed and listed["arguments"]
    # get: placeholders render from arguments; missing ones stay literal
    resp = t.handle_message(transport_agent, _rpc(
        "prompts/get", 3, name="vector_retrieval_specialist",
        arguments={"collection_name": "kb", "question": "what is RRF?"},
    ))
    text = resp["result"]["messages"][0]["content"]["text"]
    assert "collection 'kb'" in text and "what is RRF?" in text
    resp = t.handle_message(transport_agent, _rpc(
        "prompts/get", 4, name="collection_curator", arguments={},
    ))
    assert "{collection_name}" in resp["result"]["messages"][0]["content"]["text"]
    # unknown prompt → INVALID_PARAMS; notification get → silent
    resp = t.handle_message(transport_agent, _rpc("prompts/get", 5, name="nope"))
    assert resp["error"]["code"] == t.INVALID_PARAMS
    assert t.handle_message(transport_agent, _rpc("prompts/list")) is None
    # and over real HTTP
    status, body = _http_post(http_mcp_server,
                              json.dumps(_rpc("prompts/list", 6)).encode())
    assert status == 200
    assert {p["name"] for p in json.loads(body)["result"]["prompts"]} == names


def test_collection_history_action(veneer):
    """The Delta-style audit trail is reachable through the management tool:
    one entry per changelog batch, stable error for unknown collections."""
    veneer.vector_collection_management(
        "create_collection", collection_name="hist_kb",
        document_contents=["first doc", "second doc"],
    )
    veneer.vector_collection_management(
        "add_documents", collection_name="hist_kb", document_contents=["third doc"],
    )
    out = veneer.vector_collection_management(
        "collection_history", collection_name="hist_kb"
    )
    ops = [(b["op"], b["n_rows"]) for b in out["history"]]
    assert ops == [("upsert", 2), ("upsert", 1)]
    assert all("ts" in b and b["ts"] for b in out["history"])
    out = veneer.vector_collection_management(
        "collection_history", collection_name="nope"
    )
    assert out["error"] == "collection_not_found"


def test_federated_search_action(veneer):
    for name, docs in (
        ("fed_a", ["spark runs queries", "dogs fetch sticks"]),
        ("fed_b", ["query engines at scale", "baking sourdough bread"]),
    ):
        veneer.vector_collection_management(
            "create_collection", collection_name=name, document_contents=docs
        )
    out = veneer.vector_search(
        "federated_search", collection_names=["fed_a", "fed_b"],
        question="query engine", number_results=4,
    )
    assert out["action"] == "federated_search"
    assert out["collection_names"] == ["fed_a", "fed_b"]
    assert {r["collection"] for r in out["results"]} == {"fed_a", "fed_b"}
    assert [r["rank"] for r in out["results"]] == list(
        range(1, len(out["results"]) + 1))
    # falls back to the singular param; unknown collection → stable error
    out = veneer.vector_search(
        "federated_search", collection_name="fed_a", question="spark"
    )
    assert out["collection_names"] == ["fed_a"] and out["results"]
    out = veneer.vector_search(
        "federated_search", collection_names=["fed_a", "nope"], question="q"
    )
    assert out["error"] == "collection_not_found"


def test_payload_and_count_actions(veneer):
    """count_documents / set_payload / delete_payload ride the collection
    tool with the same stable-error-code discipline as the rest."""
    veneer.vector_collection_management(
        "create_collection", collection_name="mcp_pl",
        document_contents=["red doc", "blue doc"],
    )
    eng = veneer.engine
    ids = {r.content: r.id for r in eng.read("mcp_pl").collect()}

    out = veneer.vector_collection_management(
        "set_payload", collection_name="mcp_pl",
        document_ids=[ids["red doc"]], payload={"color": "red"},
    )
    assert out == {"collection_name": "mcp_pl", "documents_patched": 1}
    out = veneer.vector_collection_management(
        "count_documents", collection_name="mcp_pl", payload={"color": "red"}
    )
    assert out == {"collection_name": "mcp_pl", "count": 1}
    out = veneer.vector_collection_management("count_documents", collection_name="mcp_pl")
    assert out == {"collection_name": "mcp_pl", "count": 2}

    out = veneer.vector_collection_management(
        "delete_payload", collection_name="mcp_pl",
        document_ids=[ids["red doc"]], payload_keys=["color"],
    )
    assert out == {"collection_name": "mcp_pl", "documents_patched": 1}
    out = veneer.vector_collection_management(
        "count_documents", collection_name="mcp_pl", payload={"color": "red"}
    )
    assert out["count"] == 0

    # input guards + stable error codes
    out = veneer.vector_collection_management("set_payload", collection_name="mcp_pl")
    assert out["error"] == "payload_input_required"
    out = veneer.vector_collection_management(
        "delete_payload", collection_name="mcp_pl", document_ids=[ids["red doc"]]
    )
    assert out["error"] == "payload_input_required"
    out = veneer.vector_collection_management(
        "count_documents", collection_name="missing_collection"
    )
    assert out["error"] == "collection_not_found"
    veneer.vector_collection_management(
        "delete_collection", collection_name="mcp_pl", confirm=True
    )


@pytest.fixture()
def sse_mcp_server(transport_agent):
    import threading

    from vector_mcp_spark.mcp_sse import start_sse

    server = start_sse(transport_agent, port=0, keepalive_s=0.2)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        yield f"http://127.0.0.1:{server.server_address[1]}"
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=5)


def _sse_read_event(fp):
    """Read one SSE event (skipping ping comments); returns (event, data)."""
    event, data = None, []
    while True:
        line = fp.readline()
        if not line:
            return event, "\n".join(data)
        line = line.decode().rstrip("\n").rstrip("\r")
        if not line:
            if event or data:
                return event, "\n".join(data)
            continue
        if line.startswith(":"):
            continue  # keepalive comment
        if line.startswith("event:"):
            event = line.split(":", 1)[1].strip()
        elif line.startswith("data:"):
            data.append(line.split(":", 1)[1].strip())


def test_sse_transport_loopback(sse_mcp_server):
    """Full SSE handshake and tool round-trip: GET /sse announces the
    session POST endpoint, POSTs are 202, responses arrive as message
    events on the stream, notifications push nothing (the next pushed
    event answers the next request id), parse errors ride the stream
    as -32700."""
    import http.client
    import json
    from urllib.parse import urlparse

    base = urlparse(sse_mcp_server)
    stream = http.client.HTTPConnection(base.hostname, base.port, timeout=10)
    stream.request("GET", "/sse")
    resp = stream.getresponse()
    assert resp.status == 200
    assert resp.getheader("Content-Type") == "text/event-stream"
    event, endpoint = _sse_read_event(resp.fp)
    assert event == "endpoint" and endpoint.startswith("/messages?session_id=")

    post_url = sse_mcp_server + endpoint
    status, body = _http_post(post_url, json.dumps(_rpc("initialize", 1)).encode())
    assert status == 202 and body == b""
    event, data = _sse_read_event(resp.fp)
    msg = json.loads(data)
    assert event == "message" and msg["id"] == 1
    assert msg["result"]["protocolVersion"]

    # notification pushes nothing; the next stream event answers id 2
    status, _ = _http_post(post_url, json.dumps(_rpc("notifications/initialized")).encode())
    assert status == 202
    status, _ = _http_post(post_url, json.dumps(_rpc(
        "tools/call", 2, name="vector_collection_management",
        arguments={"action": "create_collection", "collection_name": "sse_kb",
                   "document_contents": ["served over sse"]},
    )).encode())
    assert status == 202
    event, data = _sse_read_event(resp.fp)
    msg = json.loads(data)
    assert msg["id"] == 2
    assert _tool_text(msg) == {"collection_name": "sse_kb", "documents_added": 1}

    # parse error rides the stream with id null
    status, _ = _http_post(post_url, b"{not json")
    assert status == 202
    event, data = _sse_read_event(resp.fp)
    assert json.loads(data)["error"]["code"] == -32700

    # unknown session / unknown endpoint are HTTP-level 404s
    status, _ = _http_post(sse_mcp_server + "/messages?session_id=nope", b"{}")
    assert status == 404
    status, _ = _http_post(sse_mcp_server + "/elsewhere", b"{}")
    assert status == 404
    stream.close()


def test_resources_list_and_read(transport_agent):
    """MCP resources surface: the ontology TTL and governance sidecars are
    listed and readable over the shared protocol layer (every transport)."""
    import json

    from vector_mcp_spark import mcp_stdio as t

    resp = t.handle_message(transport_agent, _rpc("initialize", 1))
    assert "resources" in resp["result"]["capabilities"]
    resp = t.handle_message(transport_agent, _rpc("resources/list", 2))
    listing = {r["uri"]: r for r in resp["result"]["resources"]}
    assert "vector-mcp-spark://ontology/vector.ttl" in listing
    assert listing["vector-mcp-spark://ontology/vector.ttl"]["mimeType"] == "text/turtle"

    resp = t.handle_message(transport_agent, _rpc(
        "resources/read", 3, uri="vector-mcp-spark://ontology/vector.ttl"))
    body = resp["result"]["contents"][0]
    assert body["mimeType"] == "text/turtle"
    assert ":Collection a owl:Class" in body["text"]

    resp = t.handle_message(transport_agent, _rpc(
        "resources/read", 4, uri="vector-mcp-spark://skills/catalog.json"))
    skills = json.loads(resp["result"]["contents"][0]["text"])
    assert {s["tool"] for s in skills} == {
        "vector_collection_management", "vector_search", "vector_backend_operations"}
    # new payload actions ride the catalog automatically
    mgmt = next(s for s in skills if s["tool"] == "vector_collection_management")
    assert {"set_payload", "delete_payload", "count_documents"} <= set(mgmt["actions"])

    resp = t.handle_message(transport_agent, _rpc(
        "resources/read", 5, uri="vector-mcp-spark://schema/tool-fingerprints.json"))
    fp = json.loads(resp["result"]["contents"][0]["text"])
    assert sorted(fp["tools"]) == ["vector_collection_management", "vector_search"]

    resp = t.handle_message(transport_agent, _rpc("resources/read", 6, uri="nope://x"))
    assert resp["error"]["code"] == t.INVALID_PARAMS
    # notification form is silent like every other method
    assert t.handle_message(transport_agent, _rpc("resources/list")) is None


def test_alias_actions(veneer):
    v = veneer
    v.vector_collection_management("create_collection", collection_name="al_blue")
    v.vector_collection_management("create_collection", collection_name="al_green")
    v.vector_collection_management(
        "add_documents", collection_name="al_blue", document_contents=["blue doc"]
    )
    out = v.vector_collection_management(
        "create_alias", alias_name="al_prod", collection_name="al_blue"
    )
    assert out == {"alias": "al_prod", "collection_name": "al_blue"}
    # reads and mutations resolve through the alias
    n = v.vector_collection_management("count_documents", collection_name="al_prod")
    assert n["count"] == 1
    listed = v.vector_collection_management("list_aliases")
    assert {"alias": "al_prod", "collection_name": "al_blue"} in listed["aliases"]
    # blue-green switch then cleanup
    v.vector_collection_management(
        "create_alias", alias_name="al_prod", collection_name="al_green"
    )
    assert v.vector_collection_management(
        "count_documents", collection_name="al_prod"
    )["count"] == 0
    assert v.vector_collection_management("delete_alias", alias_name="al_prod") == {
        "deleted_alias": "al_prod"
    }
    assert v.vector_collection_management("delete_alias", alias_name="al_prod") == {
        "error": "alias_not_found"
    }
    # input validation + plural alias routing
    assert v.vector_collection_management("create_alias") == {
        "error": "alias_input_required"
    }
    assert v.vector_collection_management("list_aliases")["aliases"] == []


def test_snapshot_actions(veneer):
    v = veneer
    v.vector_collection_management("create_collection", collection_name="sn_src")
    v.vector_collection_management(
        "add_documents", collection_name="sn_src", document_contents=["frozen doc"]
    )
    out = v.vector_collection_management("create_snapshot", collection_name="sn_src")
    sid = out["snapshot_id"]
    assert out["collection_name"] == "sn_src" and sid
    assert sid in v.vector_collection_management("list_snapshots")["snapshots"]
    restored = v.vector_collection_management(
        "restore_snapshot", snapshot_id=sid, new_collection_name="sn_copy"
    )
    assert restored == {"collection_name": "sn_copy", "restored_from": sid}
    assert v.vector_collection_management(
        "count_documents", collection_name="sn_copy"
    )["count"] == 1
    # guards: path traversal, missing input, unknown id
    assert v.vector_collection_management(
        "restore_snapshot", snapshot_id="../x", new_collection_name="y"
    ) == {"error": "snapshot_invalid"}
    assert v.vector_collection_management("delete_snapshot") == {
        "error": "snapshot_input_required"
    }
    assert v.vector_collection_management("delete_snapshot", snapshot_id=sid) == {
        "deleted_snapshot": sid
    }
    assert v.vector_collection_management("delete_snapshot", snapshot_id=sid) == {
        "error": "snapshot_not_found"
    }


def test_describe_collection_action(veneer):
    v = veneer
    v.vector_collection_management("create_collection", collection_name="desc_me", dimension=8)
    v.vector_collection_management(
        "add_documents", collection_name="desc_me", document_contents=["a doc", "b doc"]
    )
    v.vector_collection_management(
        "create_alias", alias_name="desc_alias", collection_name="desc_me"
    )
    out = v.vector_collection_management("describe_collection", collection_name="desc_me")
    assert out["collection_name"] == "desc_me"
    assert out["dimension"] == 8
    assert out["points_count"] == 2
    assert out["needs_embed"] is False  # contents are embedded at insert
    assert out["aliases"] == ["desc_alias"]
    assert out["index_status"] in {"absent", "stale", "fresh", "repaired"}
    # describing through the alias reports the live target's state
    via = v.vector_collection_management("describe_collection", collection_name="desc_alias")
    assert via["points_count"] == 2 and via["dimension"] == 8
    assert v.vector_collection_management("describe_collection", collection_name="nope") == {
        "error": "collection_not_found"
    }


def test_sse_concurrent_mutations_no_lost_rows(sse_mcp_server):
    """ADVICE r7 end-to-end: a client PIPELINING mutations over SSE (each
    tools/call dispatched on its own server thread) must not lose staged
    rows or collide changelog seqs — the engine's per-collection lock
    serializes them. Fire 4 add_documents at the same collection without
    waiting for responses, then drain the stream and check the final state."""
    import http.client
    import json
    from urllib.parse import urlparse

    base = urlparse(sse_mcp_server)
    stream = http.client.HTTPConnection(base.hostname, base.port, timeout=30)
    stream.request("GET", "/sse")
    resp = stream.getresponse()
    _, endpoint = _sse_read_event(resp.fp)
    post_url = sse_mcp_server + endpoint

    _http_post(post_url, json.dumps(_rpc("initialize", 1)).encode())
    _sse_read_event(resp.fp)
    _http_post(post_url, json.dumps(_rpc(
        "tools/call", 2, name="vector_collection_management",
        arguments={"action": "create_collection", "collection_name": "sse_conc"},
    )).encode())
    _sse_read_event(resp.fp)

    # pipeline 4 ingests without reading responses in between
    for i in range(4):
        status, _ = _http_post(post_url, json.dumps(_rpc(
            "tools/call", 10 + i, name="vector_collection_management",
            arguments={"action": "add_documents", "collection_name": "sse_conc",
                       "document_contents": [f"pipelined doc {i}-{j}" for j in range(3)]},
        )).encode())
        assert status == 202
    results = {}
    for _ in range(4):
        _, data = _sse_read_event(resp.fp)
        msg = json.loads(data)
        results[msg["id"]] = _tool_text(msg)
    assert set(results) == {10, 11, 12, 13}
    assert all(r["documents_added"] == 3 for r in results.values())

    # every row survived and the history has 4 distinct batches
    _http_post(post_url, json.dumps(_rpc(
        "tools/call", 20, name="vector_collection_management",
        arguments={"action": "count_documents", "collection_name": "sse_conc"},
    )).encode())
    _, data = _sse_read_event(resp.fp)
    assert _tool_text(json.loads(data))["count"] == 12
    _http_post(post_url, json.dumps(_rpc(
        "tools/call", 21, name="vector_collection_management",
        arguments={"action": "collection_history", "collection_name": "sse_conc"},
    )).encode())
    _, data = _sse_read_event(resp.fp)
    hist = _tool_text(json.loads(data))["history"]
    assert len(hist) == 4
    assert len({h["seq"] for h in hist}) == 4
    stream.close()


def test_compact_changelog_action(veneer):
    """compact_changelog over the veneer: ISO cut, stable errors, and the
    collapsed count rides back."""
    from datetime import datetime, timezone

    veneer.vector_collection_management(
        "create_collection", collection_name="compact_kb",
        document_contents=["one", "two"])
    cut = datetime.now(timezone.utc).isoformat()
    veneer.vector_collection_management(
        "add_documents", collection_name="compact_kb", document_contents=["three"])
    out = veneer.vector_collection_management(
        "compact_changelog", collection_name="compact_kb")
    assert out == {"error": "before_ts_required"}
    out = veneer.vector_collection_management(
        "compact_changelog", collection_name="compact_kb", before_ts="not-a-ts")
    assert out == {"error": "before_ts_invalid"}
    out = veneer.vector_collection_management(
        "compact_changelog", collection_name="compact_kb", before_ts=cut)
    assert out == {"collection_name": "compact_kb", "batches_collapsed": 1}
    hist = veneer.vector_collection_management(
        "collection_history", collection_name="compact_kb")
    assert len(hist["history"]) == 2  # epoch batch + the kept add


# ---------------------------------------------------------------------------
# A2A agent serving loop (agent_server.py) — the vector-agent console script
# equivalent (/root/reference/vector_mcp/agent_server.py:26-92) without the
# external framework: card discovery + authenticated dispatch over real HTTP.
# ---------------------------------------------------------------------------


def test_agent_server_card_and_invoke_over_http(spark, tmp_path_factory):
    import json as _json
    import threading
    import urllib.request

    from vector_mcp_spark.agent_card import AgentCardVeneer
    from vector_mcp_spark.agent_server import start_agent_http

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("a2a_root")))
    agent = AgentCardVeneer(McpVeneer(eng, VectorSearchApi(eng)))
    server = start_agent_http(agent, port=0)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        # A2A discovery: the well-known card route serves the same document
        # as agent.card()
        with urllib.request.urlopen(base + "/.well-known/agent-card.json", timeout=10) as r:
            card = _json.loads(r.read())
        assert card["name"] and card["version"]
        assert {s["id"] for s in card["skills"]} == {
            s["id"] for s in agent.card()["skills"]
        }
        with urllib.request.urlopen(base + "/health", timeout=10) as r:
            assert _json.loads(r.read()) == {"status": "ok"}

        def invoke(body, principal=None):
            req = urllib.request.Request(
                base + "/invoke",
                data=_json.dumps(body).encode(),
                headers={"Content-Type": "application/json"}
                | ({"Authorization": f"Bearer {principal}"} if principal else {}),
                method="POST",
            )
            with urllib.request.urlopen(req, timeout=10) as r:
                return _json.loads(r.read())

        # one authenticated dispatch end-to-end: create + list a collection
        out = invoke(
            {"tool": "vector_collection_management", "action": "create_collection",
             "args": {"collection_name": "a2a_demo"}},
            principal="alice",
        )
        assert "error" not in out, out
        out = invoke(
            {"tool": "vector_collection_management", "action": "list_collections"},
            principal="alice",
        )
        assert "a2a_demo" in out["collections"]

        # governed refusal stays a stable snake_case dict over the wire
        out = invoke({"tool": "nonsense_tool", "action": "x"})
        assert out["error"] == "tool_invalid" and "did_you_mean" in out

        # transport errors are 4xx JSON, not tracebacks
        req = urllib.request.Request(
            base + "/invoke", data=b"not json",
            headers={"Content-Type": "application/json"}, method="POST",
        )
        try:
            urllib.request.urlopen(req, timeout=10)
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert _json.loads(e.read())["error"] == "invalid JSON"
        # unknown GET route lists the served routes
        try:
            urllib.request.urlopen(base + "/nope", timeout=10)
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.shutdown()
        server.server_close()


def test_vector_search_semantic_metric_threading(veneer):
    """The MCP veneer threads metric to the facade (pgvector <#>/<->
    selection over the wire) and surfaces metric_invalid as a stable
    error dict."""
    veneer.vector_collection_management("create_collection", collection_name="mx")
    veneer.vector_collection_management(
        "add_documents", collection_name="mx",
        document_contents=["alpha beta vector", "gamma delta text", "epsilon zeta data"],
    )
    for metric in ("dot", "l2"):
        out = veneer.vector_search(
            "semantic_search", collection_name="mx",
            question="alpha beta vector", number_results=2, metric=metric,
        )
        assert "error" not in out, out
        assert len(out["results"]) == 2
    out = veneer.vector_search(
        "semantic_search", collection_name="mx", question="x", metric="manhattan"
    )
    assert out["error"] == "metric_invalid"


def test_agent_server_invalid_args_stay_json(spark, tmp_path_factory):
    """ADVICE r11: client-controlled args must never crash the request with
    a bare TypeError (connection reset) — reserved keys are rejected up
    front and unexpected kwargs come back as a stable arguments_invalid
    dict, matching the stdio transport's never-leak-a-traceback contract."""
    import json as _json
    import threading
    import urllib.request

    from vector_mcp_spark.agent_card import AgentCardVeneer
    from vector_mcp_spark.agent_server import start_agent_http

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("a2a_args_root")))
    agent = AgentCardVeneer(McpVeneer(eng, VectorSearchApi(eng)))
    server = start_agent_http(agent, port=0)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        def invoke(body):
            req = urllib.request.Request(
                base + "/invoke", data=_json.dumps(body).encode(),
                headers={"Content-Type": "application/json"}, method="POST",
            )
            with urllib.request.urlopen(req, timeout=10) as r:
                return _json.loads(r.read())

        # duplicate-kwarg attack: args carrying 'principal' (or tool/action)
        out = invoke({
            "tool": "vector_collection_management", "action": "list_collections",
            "args": {"principal": "mallory"},
        })
        assert out["error"] == "arguments_invalid"
        assert out["reserved_keys"] == ["principal"]

        # unexpected kwarg for the routed method -> stable dict, not a reset
        out = invoke({
            "tool": "vector_collection_management", "action": "create_collection",
            "args": {"collection_name": "argsafe", "bogus_kwarg": 1},
        })
        assert out.get("error"), out
        # and the connection is still serviceable afterwards
        out = invoke({
            "tool": "vector_collection_management", "action": "list_collections",
        })
        assert "collections" in out
    finally:
        server.shutdown()


@pytest.mark.slow
def test_veneer_distance_named_and_sparse_actions(spark, tmp_path_factory):
    """r12 surfaces over the condensed veneer: create_collection takes the
    distance + vectors_config, put_named_vectors/named_search round-trip a
    named vector, sparse_search serves from the named-sparse family, and
    set_distance stales the index — all stable dicts, no tracebacks."""
    from vector_mcp_spark.functions.embedder import hash_embed

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("veneer12_root")))
    ven = McpVeneer(eng, VectorSearchApi(eng))

    out = ven.vector_collection_management(
        "create_collection",
        collection_name="v12",
        distance="l2",
        vectors_config={"tower": {"dimension": 8, "distance": "cosine"}},
    )
    assert out == {"collection_name": "v12", "documents_added": 0}
    assert eng.collection_distance("v12") == "l2"

    ven.vector_collection_management(
        "add_documents", collection_name="v12",
        document_contents=[f"veneer doc {i} spark vector" for i in range(12)],
    )
    ids = {r.content: r.id for r in eng.read("v12").select("id", "content").collect()}
    out = ven.vector_collection_management(
        "put_named_vectors", collection_name="v12", vector_name="tower",
        named_vectors={ids[c]: hash_embed(c, 8) for c in ids},
    )
    assert out["vectors_put"] == 12

    out = ven.vector_search(
        "named_search", collection_name="v12", vector_name="tower",
        query_vector=hash_embed("veneer doc 3 spark vector", 8), number_results=3,
    )
    assert out["results"][0]["content"] == "veneer doc 3 spark vector"

    # sparse_search refuses pre-index with the stable code, then serves
    out = ven.vector_search(
        "sparse_search", collection_name="v12",
        query_weights={"spark": 2.0, "vector": 1.0}, number_results=3,
    )
    assert out == {"error": "index_not_fresh"}
    ven.vector_collection_management("build_search_index", collection_name="v12")
    out = ven.vector_search(
        "sparse_search", collection_name="v12",
        query_weights={"spark": 2.0, "vector": 1.0}, number_results=3,
    )
    assert len(out["results"]) == 3 and all(r["score"] > 0 for r in out["results"])

    # set_distance stales the built index; missing args stay stable dicts
    out = ven.vector_collection_management(
        "set_distance", collection_name="v12", distance="cosine"
    )
    assert out["distance"] == "cosine"
    assert eng.index_status("v12") == "stale"
    assert ven.vector_collection_management("set_distance", collection_name="v12") == {
        "error": "distance_required"
    }
    assert ven.vector_search("named_search", collection_name="v12") == {
        "error": "named_search_input_required"
    }
    assert ven.vector_search("sparse_search", collection_name="v12") == {
        "error": "sparse_search_input_required"
    }


@pytest.mark.slow
def test_veneer_indexed_search_with_num_candidates(spark, tmp_path_factory):
    """The indexed_search action serves from the persisted graph family and
    exposes the beam width (mongodb numCandidates, default max(k*10, 100))
    as a first-class tunable; staleness refuses with the stable code."""
    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("idxsearch_root")))
    ven = McpVeneer(eng, VectorSearchApi(eng))
    ven.vector_collection_management(
        "create_collection", collection_name="ix",
        document_contents=[f"indexed search doc {i} topic {i % 4}" for i in range(30)],
    )
    out = ven.vector_search("indexed_search", collection_name="ix",
                            question="indexed search doc 7 topic 3")
    assert out == {"error": "index_not_fresh"}
    ven.vector_collection_management("build_search_index", collection_name="ix")
    out = ven.vector_search(
        "indexed_search", collection_name="ix",
        question="indexed search doc 7 topic 3", number_results=3,
    )
    assert out["results"][0]["content"] == "indexed search doc 7 topic 3"
    # an explicit tiny beam still answers (recall knob, not a correctness one)
    out2 = ven.vector_search(
        "indexed_search", collection_name="ix",
        question="indexed search doc 7 topic 3", number_results=3, num_candidates=8,
    )
    assert len(out2["results"]) > 0
    # ADVICE r12: indexed_search gets the same bounds as every other search
    # action — k through validate_number_results, num_candidates a positive
    # capped int, and a non-numeric value a stable dict, never a traceback
    assert ven.vector_search(
        "indexed_search", collection_name="ix", question="x", number_results=0,
    ) == {"error": "number_results_invalid"}
    assert ven.vector_search(
        "indexed_search", collection_name="ix", question="x", number_results=5000,
    ) == {"error": "number_results_invalid"}
    for bad in (0, -3, 100_001, "many", True):
        assert ven.vector_search(
            "indexed_search", collection_name="ix", question="x",
            number_results=3, num_candidates=bad,
        ) == {"error": "num_candidates_invalid"}, bad


def test_read_asof_over_both_transports(transport_agent, http_mcp_server):
    """VERDICT r12 item 7: the engine's time travel is reachable from every
    transport — a read_asof action with asof_ts, bounded documents in the
    response, stable asof_ts_required/asof_ts_invalid refusals, and the
    engine's time_travel_unavailable passing through as an error dict on
    BOTH stdio and HTTP (never a traceback)."""
    import json
    import time
    from datetime import datetime, timezone

    from vector_mcp_spark import mcp_stdio as t

    # stdio: build history — v1 docs, then a later batch
    out = _tool_text(t.handle_message(transport_agent, _rpc(
        "tools/call", 1, name="vector_collection_management",
        arguments={"action": "create_collection", "collection_name": "tt_kb",
                   "document_contents": ["first era doc"]},
    )))
    assert out["documents_added"] == 1
    time.sleep(0.05)
    t1 = datetime.now(timezone.utc).isoformat()
    time.sleep(0.05)
    _tool_text(t.handle_message(transport_agent, _rpc(
        "tools/call", 2, name="vector_collection_management",
        arguments={"action": "add_documents", "collection_name": "tt_kb",
                   "document_contents": ["second era doc"]},
    )))
    # as-of t1 sees only the first era
    out = _tool_text(t.handle_message(transport_agent, _rpc(
        "tools/call", 3, name="vector_collection_management",
        arguments={"action": "read_asof", "collection_name": "tt_kb",
                   "asof_ts": t1},
    )))
    assert out["n_documents"] == 1
    assert [d["content"] for d in out["documents"]] == ["first era doc"]
    # refusals are stable dicts
    out = _tool_text(t.handle_message(transport_agent, _rpc(
        "tools/call", 4, name="vector_collection_management",
        arguments={"action": "read_asof", "collection_name": "tt_kb"},
    )))
    assert out == {"error": "asof_ts_required"}
    out = _tool_text(t.handle_message(transport_agent, _rpc(
        "tools/call", 5, name="vector_collection_management",
        arguments={"action": "read_asof", "collection_name": "tt_kb",
                   "asof_ts": "not-a-timestamp"},
    )))
    assert out == {"error": "asof_ts_invalid"}
    # compaction makes pre-epoch instants unavailable — stable pass-through
    now_ts = datetime.now(timezone.utc).isoformat()
    _tool_text(t.handle_message(transport_agent, _rpc(
        "tools/call", 6, name="vector_collection_management",
        arguments={"action": "compact_changelog", "collection_name": "tt_kb",
                   "before_ts": now_ts},
    )))
    out = _tool_text(t.handle_message(transport_agent, _rpc(
        "tools/call", 7, name="vector_collection_management",
        arguments={"action": "read_asof", "collection_name": "tt_kb",
                   "asof_ts": t1},
    )))
    assert out["error"] == "time_travel_unavailable"

    # HTTP: same veneer, same rows over the wire (shares transport_agent)
    url = http_mcp_server
    status, body = _http_post(url, json.dumps(_rpc(
        "tools/call", 8, name="vector_collection_management",
        arguments={"action": "read_asof", "collection_name": "tt_kb",
                   "asof_ts": datetime.now(timezone.utc).isoformat()},
    )).encode())
    assert status == 200
    out = _tool_text(json.loads(body))
    assert out["n_documents"] == 2
    assert {d["content"] for d in out["documents"]} == {"first era doc",
                                                        "second era doc"}
    status, body = _http_post(url, json.dumps(_rpc(
        "tools/call", 9, name="vector_collection_management",
        arguments={"action": "read_asof", "collection_name": "tt_kb",
                   "asof_ts": t1},
    )).encode())
    assert status == 200
    assert _tool_text(json.loads(body))["error"] == "time_travel_unavailable"


@pytest.mark.slow
def test_veneer_filtered_indexed_search_and_range_index(spark, tmp_path_factory):
    """The filter+vector composition is reachable from the veneer:
    indexed_search takes a qdrant-shaped payload_filter (equality /
    MatchAny / Range), create_payload_index takes field_type (keyword →
    equality family, float/integer → band-partitioned range family), and
    malformed filters come back as stable error dicts."""
    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("filtsearch_root")))
    ven = McpVeneer(eng, VectorSearchApi(eng))
    ven.vector_collection_management(
        "create_collection", collection_name="fx",
        document_contents=[f"filter doc {i} topic {i % 4}" for i in range(24)],
    )
    # payloads land via set_payload after ingest
    ids = [r.id for r in eng.read("fx").orderBy("content").collect()]
    for i, doc_id in enumerate(ids):
        eng.set_payload("fx", [doc_id], {"price": str(i * 5), "tier": f"t{i % 3}"})
    ven.vector_collection_management("build_search_index", collection_name="fx")

    # field_type routes to the right family
    out = ven.vector_collection_management(
        "create_payload_index", collection_name="fx",
        payload={"price": "1"}, field_type="float",
    )
    assert out["n_rows"] == 24 and "vmin" in out
    assert eng.payload_range_index_status("fx", "price") == "fresh"
    out = ven.vector_collection_management(
        "create_payload_index", collection_name="fx", payload={"tier": "1"},
    )
    assert out["n_values"] == 3
    assert ven.vector_collection_management(
        "create_payload_index", collection_name="fx",
        payload={"tier": "1"}, field_type="geo",
    ) == {"error": "field_type_invalid", "allowed": ["keyword", "float", "integer"]}

    # filtered indexed search over the veneer: range + equality intersect
    out = ven.vector_search(
        "indexed_search", collection_name="fx",
        question="filter doc 7 topic 3", number_results=10,
        payload_filter={"price": {"gte": 20, "lt": 60}, "tier": {"any": ["t0", "t1"]}},
    )
    assert "error" not in out, out
    assert out["results"], out
    by_id = {r.id: i for i, r in zip(range(24), eng.read("fx").orderBy("content").collect())}
    for row in out["results"]:
        i = by_id[row["id"]]
        assert 20 <= i * 5 < 60 and i % 3 in (0, 1)

    # malformed filter -> stable dict, never a traceback
    assert ven.vector_search(
        "indexed_search", collection_name="fx", question="x",
        payload_filter={"price": {"between": [1, 2]}},
    ) == {"error": "payload_range_invalid"}
    assert ven.vector_search(
        "indexed_search", collection_name="fx", question="x",
        payload_filter={},
    ) == {"error": "payload_filter_invalid"}


def test_named_search_refuses_non_finite_vectors_on_both_routes(spark, tmp_path_factory):
    """NaN/Inf query vectors to named_search come back as the stable
    schema-mismatch code on the exact-scan route (no index) and on the
    graph route (fresh index), never a raw AnalysisException; an empty
    vector is the veneer's input-required error."""
    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("mcp_named")))
    veneer = McpVeneer(eng, VectorSearchApi(eng))
    eng.create_collection("nv", vectors_config={"t": {"dimension": 4, "distance": "cosine"}})
    eng.add_documents("nv", ["north", "east", "south"])
    ids = sorted(r.id for r in eng.read("nv").select("id").collect())
    axes = ([1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0])
    eng.put_named_vectors("nv", "t", dict(zip(ids, axes)))

    def search(qv):
        return veneer.vector_search(
            "named_search", collection_name="nv", vector_name="t",
            query_vector=qv, number_results=2,
        )

    nan, inf = float("nan"), float("inf")
    served = {}
    for route, status in (("scan", "absent"), ("graph", "fresh")):
        if route == "graph":
            eng.build_named_vector_index("nv", "t")
        assert eng.named_vector_index_status("nv", "t") == status
        for bad in ([nan, 0.0, 0.0, 0.0], [0.0, inf, 0.0, 0.0], [0.0, 0.0, -inf, 0.0]):
            assert search(bad) == {"error": "collection_vector_schema_mismatch"}
        assert search([]) == {"error": "named_search_input_required"}
        with pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
            eng.named_vector_search("nv", "t", [], k=2)
        served[route] = [r["id"] for r in search([1.0, 0.2, 0.0, 0.0])["results"]]
    assert served["graph"] == served["scan"] == ids[:2]


def test_put_named_vectors_refuses_non_finite_elements(spark, tmp_path_factory):
    """The JSON transports parse NaN and Infinity, so a client can send
    them as named vector elements: put_named_vectors refuses those (and
    elements past the float32 range the table stores) with the stable
    schema-mismatch code and stores nothing."""
    import json

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("mcp_named_nan")))
    veneer = McpVeneer(eng, VectorSearchApi(eng))
    eng.create_collection("nv", vectors_config={"t": {"dimension": 4, "distance": "cosine"}})
    eng.add_documents("nv", ["north", "east"])
    pid = sorted(r.id for r in eng.read("nv").select("id").collect())[0]
    for bad in ("[NaN, 0, 0, 0]", "[0, Infinity, 0, 0]", "[0, 0, -Infinity, 0]",
                "[1e39, 0, 0, 0]"):
        got = veneer.vector_collection_management(
            "put_named_vectors", collection_name="nv", vector_name="t",
            named_vectors={pid: json.loads(bad)},
        )
        assert got == {"error": "collection_vector_schema_mismatch"}
    assert eng.named_vector_search("nv", "t", [1.0, 0.0, 0.0, 0.0], k=2).count() == 0


def _documented_error_codes() -> set[str]:
    """Every stable code the package raises or returns on purpose: the
    literal first argument of each ``EngineError(...)`` and each
    ``{"error": "..."}`` the veneer builds."""
    import re
    from pathlib import Path

    import vector_mcp_spark

    codes: set[str] = set()
    for path in Path(vector_mcp_spark.__file__).parent.rglob("*.py"):
        text = path.read_text()
        codes |= set(re.findall(r'EngineError\(\s*"([a-z][a-z0-9_]*)"', text))
        codes |= set(re.findall(r'"error":\s*"([a-z][a-z0-9_]*)"', text))
    return codes


_NAN, _INF = float("nan"), float("inf")
_ADVERSARIAL_NAMES = ["adv_alias", "nope", "データ", "", None, "x" * 41, 5]
_ADVERSARIAL_KS = [0, -1, 10**12, 2.5, True, "5", _NAN, 1000]


@pytest.fixture(scope="module")
def adversarial(spark, tmp_path_factory) -> CollectionEngine:
    """A collection with every served family built: the graph, postings
    and document lengths, a named vector ``t`` with its index, payload
    ``k`` on every row, and the alias ``adv_alias``."""
    from vector_mcp_spark.functions.embedder import hash_embed

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("mcp_adversarial")))
    eng.create_collection("adv", vectors_config={"t": {"dimension": 4}})
    eng.add_documents(
        "adv",
        [f"spark vector doc {i} topic {i % 3}" for i in range(10)] + ["データ検索 naïve café"],
        [{"k": str(i % 2)} for i in range(11)],
    )
    ids = sorted(r.id for r in eng.read("adv").select("id").collect())
    eng.put_named_vectors("adv", "t", {i: hash_embed(i, 4) for i in ids})
    eng.build_search_index("adv")
    eng.build_named_vector_index("adv", "t")
    eng.create_alias("adv_alias", "adv")
    return eng


def test_every_search_action_answers_adversarial_input_with_a_documented_code(adversarial):
    """Property over every ``SEARCH_ACTIONS`` entry: whatever one argument
    is replaced with — NaN/Inf/empty/mis-sized vectors, empty and unicode
    questions, huge and non-integer k, unicode, unknown and alias names,
    malformed weights and filters — the veneer returns either results or a
    documented error code, never a raw exception (Py4J, ParseException,
    TypeError). Each action also answers its well-formed call."""
    from vector_mcp_spark.mcp import SEARCH_ACTIONS

    eng = adversarial
    ven = McpVeneer(eng, VectorSearchApi(eng))
    documented = _documented_error_codes()

    nan, inf = _NAN, _INF
    names = _ADVERSARIAL_NAMES
    questions = ["", "   ", None, "データ検索 🚀 naïve", "\x00‮ spark", 7, "x" * (1024 * 1024 + 1)]
    ks = _ADVERSARIAL_KS
    valid = {
        "semantic_search": {"question": "spark topic 1"},
        "lexical_search": {"question": "spark topic 1"},
        "search": {"question": "spark topic 1"},
        "rerank_search": {"question": "spark topic 1"},
        "federated_search": {"question": "spark topic 1", "collection_names": ["adv", "adv_alias"]},
        "named_search": {"vector_name": "t", "query_vector": [0.5, 0.1, -0.2, 0.3]},
        "sparse_search": {"query_weights": {"spark": 1.0, "topic": 0.5}},
        "indexed_search": {"question": "spark topic 1", "payload_filter": {"k": "1"}},
    }
    bad = {
        "collection_name": names,
        "question": questions,
        "number_results": ks,
        "metric": ["bogus", 3],
        "semantic_weight": [nan, inf, -1, 2, "a"],
        "rrf_k": [0, 10**12, 2.5, True],
        "collection_names": [[], ["nope"], ["データ"], "adv", [None], ["adv", 3]],
        "vector_name": ["missing", "", "データ", 3],
        "query_vector": [
            [nan] * 4, [0.0, inf, 0.0, 0.0], [], [1.0, 2.0], ["a"] * 4, [1e308] * 4, "abcd",
            [None] * 4,
        ],
        "query_weights": [
            {"spark": nan}, {"spark": inf}, {"": 1.0}, {"spark": "x"}, {"データ": 1.0},
            {"spark": -1.0}, {5: 1.0}, {"spark": 1.0, 5: 1.0}, {"spark": None}, [("spark", 1.0)],
        ],
        "num_candidates": [0, 2.5, nan, 10**12],
        "payload_filter": [{}, "x", [], {"k": nan}, {"k": {"gt": "a"}}, {"k": {"any": []}},
                           {"データ": "x"}, {"k": {"gte": inf}}],
    }
    relevant = {
        "semantic_search": ("collection_name", "question", "number_results", "metric"),
        "lexical_search": ("collection_name", "question", "number_results"),
        "search": ("collection_name", "question", "number_results", "semantic_weight", "rrf_k"),
        "rerank_search": ("collection_name", "question", "number_results"),
        "federated_search": ("collection_names", "question", "number_results"),
        "named_search": ("collection_name", "vector_name", "query_vector", "number_results"),
        "sparse_search": ("collection_name", "query_weights", "number_results"),
        "indexed_search": ("collection_name", "question", "number_results", "num_candidates",
                           "payload_filter"),
    }
    assert set(relevant) == set(valid) == set(SEARCH_ACTIONS)
    answered: dict[str, int] = {}
    for action in SEARCH_ACTIONS:
        base = {"collection_name": "adv", "number_results": 3, **valid[action]}
        out = ven.vector_search(action, **base)
        assert out.get("results"), (action, out)
        for arg in relevant[action]:
            for value in bad[arg]:
                out = ven.vector_search(action, **{**base, arg: value})
                assert isinstance(out, dict), (action, arg, value)
                if "error" in out:
                    assert out["error"] in documented, (action, arg, value, out)
                else:
                    assert isinstance(out["results"], list), (action, arg, value, out)
                    answered[action] = answered.get(action, 0) + 1
    # the alias and the unicode question are answered, not refused
    assert all(answered.get(a) for a in SEARCH_ACTIONS if a != "federated_search"), answered
    # the engine and the API own the k check: every action answers a bad
    # number_results with its documented code
    for action in SEARCH_ACTIONS:
        for k in ks:
            if k != 1000:
                out = ven.vector_search(
                    action, **{"collection_name": "adv", **valid[action], "number_results": k}
                )
                assert out == {"error": "number_results_invalid"}, (action, k, out)


_GRAPH_VEC = [0.5, 0.1, -0.2, 0.3] * 16  # the default 64-dim embedding width
_QUESTION = "spark topic 1"
#: each engine and API search with its well-formed query (vector or text)
ENGINE_SEARCHES = {
    "named_vector_search": (
        lambda e, name, k, vec: e.named_vector_search(name, "t", vec, k=k),
        [0.5, 0.1, -0.2, 0.3],
    ),
    "indexed_sparse_search": (
        lambda e, name, k, vec: e.indexed_sparse_search(name, [("spark", 1.0), ("topic", 0.5)], k=k),
        None,
    ),
    "indexed_graph_search": (
        lambda e, name, k, vec: e.indexed_graph_search(name, vec, k=k),
        _GRAPH_VEC,
    ),
    "indexed_filtered_search": (
        lambda e, name, k, vec: e.indexed_filtered_search(name, vec, {"k": "1"}, k=k),
        _GRAPH_VEC,
    ),
    "VectorSearchApi.semantic_search": (
        lambda e, name, k, q: VectorSearchApi(e).semantic_search(name, [q], number_results=k),
        _QUESTION,
    ),
    "VectorSearchApi.lexical_search": (
        lambda e, name, k, q: VectorSearchApi(e).lexical_search(name, [q], number_results=k),
        _QUESTION,
    ),
    "VectorSearchApi.search": (
        lambda e, name, k, q: VectorSearchApi(e).search(name, q, number_results=k),
        _QUESTION,
    ),
}


@pytest.mark.parametrize("method", sorted(ENGINE_SEARCHES))
def test_engine_search_answers_adversarial_input_with_a_documented_code(adversarial, method):
    """The engine's and the API's own searches validate what a Python
    caller passes, without the veneer in front: a bad ``k`` (zero,
    negative, huge, fractional, boolean, string, NaN), name, query vector
    or question raises an ``EngineError`` with a documented code, never a
    raw Py4J error or a silently truncated answer; well-formed calls
    answer at most ``k`` rows. Every case runs on the driver-resident
    route and on the Spark route (a fresh engine with broadcasting off,
    so no table or serve set fits the driver bound)."""
    search, good = ENGINE_SEARCHES[method]
    documented = _documented_error_codes()
    spark = adversarial.spark
    bound = "spark.sql.autoBroadcastJoinThreshold"

    def cases(engine) -> None:
        def outcome(name, k, query=good):
            try:
                return search(engine, name, k, query).collect()
            except EngineError as e:
                assert e.code in documented, (method, name, k, query, e.code)
                return e.code

        for k in (1, 3, 1000):
            rows = outcome("adv", k)
            assert isinstance(rows, list) and 0 < len(rows) <= k, (method, k, rows)
        assert isinstance(outcome("adv_alias", 3), list)
        for k in _ADVERSARIAL_KS:
            if k != 1000:
                assert outcome("adv", k) == "number_results_invalid", (method, k)
        for name in _ADVERSARIAL_NAMES:
            outcome(name, 3)
        if isinstance(good, str):
            for question in ("", "   ", None, 7, "x" * (1024 * 1024 + 1)):
                assert isinstance(outcome("adv", 3, question), str), (method, question)
            for question in ("データ検索 🚀 naïve", "\x00\u202e spark", "a ! ?"):
                assert isinstance(outcome("adv", 3, question), list), (method, question)
        elif good is not None:
            for vec in ([_NAN] * len(good), [_INF] + good[1:], [], [1.0, 2.0],
                        ["a"] * len(good), [None] * len(good)):
                assert isinstance(outcome("adv", 3, vec), str), (method, vec)

    cases(adversarial)
    prev = spark.conf.get(bound)
    spark.conf.set(bound, "-1")
    try:
        cases(CollectionEngine(spark, str(adversarial.root)))
    finally:
        spark.conf.set(bound, prev)
