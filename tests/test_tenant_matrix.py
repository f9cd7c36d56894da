"""Cross-tenant isolation matrix (VERDICT r9 #7): snapshots were the r9
leak; this sweeps EVERY tenant-visible engine surface under two tenants and
asserts nothing of tenant A is visible or actionable from tenant B — each
name-gated surface refuses with the stable ``collection_not_found`` (never
acts on, and never reveals, A's data), list surfaces enumerate nothing of
A's, and A's snapshots are neither restorable nor deletable from B by id or
by path. Tenancy model: ``vector_api.py:216-223`` prefix scoping."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from vector_mcp_spark.engine import CollectionEngine
from vector_mcp_spark.validation import EngineError

NAME = "mx_private"  # exists for tenant acme only

NAME_GATED_SURFACES = [
    "read",
    "delete_collection",
    "collection_history",
    "read_asof",
    "index_status",
    "build_search_index",
    "repair_search_index",
    "indexed_graph_search",
    "indexed_filtered_search",
    "indexed_sparse_search",
    "named_vector_search",
    "count_documents",
    "get_documents_by_ids",
    "add_documents",
    "update_documents",
    "delete_documents",
    "set_payload",
    "delete_payload",
    "compact_changelog",
    "create_snapshot",
    "needs_embed",
    "create_alias_target",
    "create_payload_index",
    "payload_index_status",
    "count_by_payload",
]


@pytest.fixture(scope="module")
def two_tenants(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("tenant_matrix"))
    acme = CollectionEngine(spark, root, tenant="acme")
    bravo = CollectionEngine(spark, root, tenant="bravo")
    acme.create_collection(NAME, vectors_config={"v": {"dimension": 4}})
    acme.add_documents(NAME, [f"acme secret doc {i}" for i in range(5)])
    acme.build_search_index(NAME)
    acme.create_alias("mx_alias", NAME)
    snap_id = acme.create_snapshot(NAME).rsplit("/", 1)[-1]
    snap_path = str(acme._snapshots_root() / snap_id)
    return acme, bravo, snap_id, snap_path


@pytest.mark.parametrize("surface", NAME_GATED_SURFACES)
def test_cross_tenant_name_gated_surface_refuses(surface, two_tenants, spark):
    """Every engine surface addressed by collection name, called from
    tenant B with tenant A's collection name, refuses with
    collection_not_found — B's namespace simply does not contain it."""
    _acme, bravo, _sid, _path = two_tenants
    now = datetime.now(timezone.utc)
    ops = {
        "read": lambda e: e.read(NAME),
        "delete_collection": lambda e: e.delete_collection(NAME, confirm=True),
        "collection_history": lambda e: e.collection_history(NAME),
        "read_asof": lambda e: e.read_asof(NAME, now),
        "index_status": lambda e: e.index_status(NAME),
        "build_search_index": lambda e: e.build_search_index(NAME),
        "repair_search_index": lambda e: e.repair_search_index(NAME),
        "indexed_graph_search": lambda e: e.indexed_graph_search(NAME, [0.1] * 64),
        "indexed_filtered_search": lambda e: e.indexed_filtered_search(
            NAME, [0.1] * 64, {"k": "v"}
        ),
        "indexed_sparse_search": lambda e: e.indexed_sparse_search(NAME, [("secret", 1.0)]),
        "named_vector_search": lambda e: e.named_vector_search(NAME, "v", [0.1] * 4),
        "count_documents": lambda e: e.count_documents(NAME),
        "get_documents_by_ids": lambda e: e.get_documents_by_ids(NAME, ["x"]),
        "add_documents": lambda e: e.add_documents(NAME, ["intruder doc"]),
        "update_documents": lambda e: e.update_documents(
            NAME,
            spark.createDataFrame(
                [("x", "intruder", None, None)],
                "id string, content string, metadata map<string,string>,"
                " embedding array<float>",
            ),
        ),
        "delete_documents": lambda e: e.delete_documents(NAME, ["x"]),
        "set_payload": lambda e: e.set_payload(NAME, ["x"], {"k": "v"}),
        "delete_payload": lambda e: e.delete_payload(NAME, ["x"], ["k"]),
        "compact_changelog": lambda e: e.compact_changelog(NAME, now),
        "create_snapshot": lambda e: e.create_snapshot(NAME),
        "needs_embed": lambda e: e.needs_embed(NAME),
        "create_alias_target": lambda e: e.create_alias("steal_alias", NAME),
        "create_payload_index": lambda e: e.create_payload_index(NAME, "k"),
        "payload_index_status": lambda e: e.payload_index_status(NAME, "k"),
        "count_by_payload": lambda e: e.count_by_payload(NAME, "k", "v"),
    }
    with pytest.raises(EngineError, match="collection_not_found"):
        ops[surface](bravo)


def test_cross_tenant_visibility_and_snapshot_actions(two_tenants):
    """List surfaces enumerate nothing of tenant A's; A's snapshot is
    neither visible, restorable (by id or by path), nor deletable from B;
    resolving A's alias from B finds nothing."""
    acme, bravo, snap_id, snap_path = two_tenants

    assert NAME in acme.get_collections()
    assert NAME not in bravo.get_collections()
    assert bravo.collection_exists(NAME) is False
    assert acme.list_aliases() and bravo.list_aliases() == []
    assert snap_id in acme.list_snapshots()
    assert snap_id not in bravo.list_snapshots()

    with pytest.raises(EngineError, match="snapshot_not_found"):
        bravo.restore_snapshot_id(snap_id, "stolen")
    with pytest.raises(EngineError, match="snapshot_not_found"):
        bravo.restore_snapshot(snap_path, "stolen")
    with pytest.raises(EngineError, match="snapshot_not_found"):
        bravo.delete_snapshot(snap_id)
    # A's alias resolves only inside A's scope
    with pytest.raises(EngineError, match="collection_not_found"):
        bravo.read("mx_alias")

    # same LOGICAL name in both tenants stays two physical tables — B's
    # reads return only B's rows, and B deleting its copy leaves A intact
    bravo.create_collection(NAME)
    bravo.add_documents(NAME, ["bravo only doc"])
    b_rows = [r.content for r in bravo.read(NAME).collect()]
    assert b_rows == ["bravo only doc"]
    assert all("secret" not in c for c in b_rows)
    bravo.delete_collection(NAME, confirm=True)
    assert acme.count_documents(NAME) == 5
