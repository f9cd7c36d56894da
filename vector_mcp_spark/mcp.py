"""MCP-style action dispatch — the reference's front-door veneer without a
server dependency.

Replicates the observable routing behavior of
``vector_mcp/mcp_server.py:85-245``: two tools
(``vector_collection_management`` with actions create_collection /
add_documents / delete_collection / list_collections, and ``vector_search``
with actions semantic_search / lexical_search / search), an action resolver
with did-you-mean suggestions for unknown actions, argument bounds identical
to the engine's §2.5 validation, and stable snake_case error codes in the
response dict (never a raw traceback).

The stdio transport lives in ``mcp_stdio.py`` (``python -m
vector_mcp_spark.mcp --root ...`` serves these tools over newline-delimited
JSON-RPC, mirroring ``mcp_server.py:321-336``'s ``--transport stdio``);
HTTP/SSE transports and auth middleware remain out of scope.
"""

from __future__ import annotations

import difflib
from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import functions as F

from vector_mcp_spark.api import VectorSearchApi
from vector_mcp_spark.backend_policy import ensure_backend_available
from vector_mcp_spark.engine import CollectionEngine, hit_rows
from vector_mcp_spark.validation import EngineError

# An entitlement resolver maps (namespace, candidate names) -> the subset the
# calling identity may reach, e.g. ("collection", ["a","b"]) -> ["a"].
EntitlementResolver = Callable[[str, list[str]], Iterable[str]]

COLLECTION_ACTIONS = (
    "create_collection",
    "add_documents",
    "delete_collection",
    "list_collections",
    "build_search_index",
    "repair_search_index",
    "index_status",
    "create_payload_index",
    "collection_history",
    "read_asof",
    "compact_changelog",
    "count_documents",
    "set_payload",
    "delete_payload",
    "create_alias",
    "delete_alias",
    "list_aliases",
    "create_snapshot",
    "restore_snapshot",
    "list_snapshots",
    "delete_snapshot",
    "describe_collection",
    "set_distance",
    "put_named_vectors",
)
SEARCH_ACTIONS = (
    "semantic_search", "lexical_search", "search", "rerank_search", "federated_search",
    "named_search", "sparse_search", "indexed_search",
)


def resolve_action(action: str, allowed: tuple[str, ...]) -> str | dict:
    """Exact match → the action; a plural alias resolves to its canonical
    singular ('searches' → 'search', reference
    tests/test_action_discovery.py test_plural_alias_resolves); anything
    else → a stable error dict with close-match suggestions
    (mcp_server.py:116-125,238-245 semantics)."""
    if action in allowed:
        return action
    if action:
        for suffix in ("es", "s"):
            if action.endswith(suffix) and action[: -len(suffix)] in allowed:
                return action[: -len(suffix)]
    return {
        "error": "action_invalid",
        "allowed": list(allowed),
        "did_you_mean": difflib.get_close_matches(action or "", allowed, n=3, cutoff=0.4),
    }


class McpVeneer:
    """Action-string dispatch over CollectionEngine + VectorSearchApi.

    ``entitlements`` is the identity-scoping seam the reference routes
    collection listings through (``mcp_server.py:61-80,180-198``): a resolver
    from (namespace, names) to the subset the calling identity may see. No
    resolver (the unauthenticated/local case) or a resolver failure degrades
    to the FULL set — an entitlement-resolution outage must never break
    listing — while a working resolver strictly filters (it can only narrow;
    names it invents are ignored)."""

    def __init__(
        self,
        engine: CollectionEngine,
        api: VectorSearchApi | None = None,
        entitlements: EntitlementResolver | None = None,
    ):
        self.engine = engine
        self.api = api or VectorSearchApi(engine)
        self.entitlements = entitlements

    def _entitled(self, namespace: str, names: list[str]) -> list[str]:
        """Filter ``names`` to the calling identity's reach, preserving the
        input order; degrade to the full set on no/broken resolver."""
        if self.entitlements is None:
            return list(names)
        try:
            allowed = set(self.entitlements(namespace, list(names)))
        except Exception:
            return list(names)
        return [n for n in names if n in allowed]

    # -- vector_collection_management (mcp_server.py:85-200) ---------------

    def vector_collection_management(
        self,
        action: str,
        collection_name: str | None = None,
        overwrite: bool | None = None,
        document_contents: list[str] | None = None,
        confirm: bool | None = None,
        dimension: int | None = None,
        db_type: str | None = None,
        document_ids: list[str] | None = None,
        payload: dict[str, str] | None = None,
        payload_keys: list[str] | None = None,
        alias_name: str | None = None,
        snapshot_id: str | None = None,
        new_collection_name: str | None = None,
        document_paths: list[str] | None = None,
        include_configured_directory: bool = False,
        before_ts: str | None = None,
        asof_ts: str | None = None,
        field_type: str | None = None,
        distance: str | None = None,
        vectors_config: dict | None = None,
        vector_name: str | None = None,
        named_vectors: dict | None = None,
    ) -> dict[str, Any]:
        resolved = resolve_action(action, COLLECTION_ACTIONS)
        if isinstance(resolved, dict):
            return resolved
        try:
            if db_type is not None:
                # fail-closed allow-list BEFORE any engine work
                # (reference backend_policy.py semantics)
                ensure_backend_available(db_type)
            if resolved == "create_collection":
                kwargs: dict[str, Any] = {}
                if distance is not None:  # per-collection Distance config
                    kwargs["distance"] = distance
                if vectors_config is not None:  # qdrant named-vectors map
                    kwargs["vectors_config"] = vectors_config
                name = self.engine.create_collection(
                    collection_name, dimension=dimension, overwrite=bool(overwrite), **kwargs
                )
                n = 0
                if document_contents:
                    n = self.engine.add_documents(collection_name, document_contents)
                if document_paths or include_configured_directory:
                    n += self.engine.ingest_paths(
                        collection_name,
                        rel_paths=document_paths,
                        include_configured_directory=include_configured_directory,
                    )
                return {"collection_name": name, "documents_added": n}
            if resolved == "add_documents":
                if not document_contents and not document_paths and not include_configured_directory:
                    # mcp_server.py:151-156 — some document input is required
                    return {"error": "document_input_required"}
                n = 0
                if document_contents:
                    n = self.engine.add_documents(collection_name, document_contents)
                if document_paths or include_configured_directory:
                    # reference file-input route (mcp_server.py:94-101):
                    # relative paths beneath the configured document root,
                    # or the whole root — distributed binaryFile ingest
                    n += self.engine.ingest_paths(
                        collection_name,
                        rel_paths=document_paths,
                        include_configured_directory=include_configured_directory,
                    )
                return {"collection_name": collection_name, "documents_added": n}
            if resolved == "delete_collection":
                self.engine.delete_collection(collection_name, confirm=bool(confirm))
                return {"deleted": collection_name}
            if resolved == "build_search_index":
                info = self.engine.build_search_index(collection_name)
                return {"collection_name": collection_name, **info}
            if resolved == "repair_search_index":
                info = self.engine.repair_search_index(collection_name)
                return {"collection_name": collection_name, **info}
            if resolved == "create_payload_index":
                if not payload or len(payload) != 1:
                    # refusing beats silently indexing one of N keys
                    return {
                        "error": "payload_key_invalid",
                        "detail": "pass exactly one key via payload",
                    }
                # field_type mirrors qdrant's field_schema: keyword values
                # get the hex-value equality family, numeric ones the
                # band-partitioned range family
                if field_type in (None, "keyword"):
                    info = self.engine.create_payload_index(
                        collection_name, sorted(payload)[0]
                    )
                elif field_type in ("float", "integer"):
                    info = self.engine.create_payload_range_index(
                        collection_name, sorted(payload)[0]
                    )
                else:
                    return {
                        "error": "field_type_invalid",
                        "allowed": ["keyword", "float", "integer"],
                    }
                return {"collection_name": collection_name, **info}
            if resolved == "index_status":
                return {
                    "collection_name": collection_name,
                    "status": self.engine.index_status(collection_name),
                }
            if resolved == "count_documents":
                if payload and len(payload) == 1:
                    [(k, v)] = sorted(payload.items())
                    # the single-key STRING equality count is what the
                    # payload field index accelerates — count_by_payload
                    # serves from the index while fresh and falls back to
                    # the scan otherwise (identical answers either way).
                    # Non-string values keep the generic scan below: the
                    # index compares strings, while metadata[k] == 1
                    # numeric-casts ('01' matches 1) — routing those would
                    # change answers between the one-key and two-key paths
                    if isinstance(v, str):
                        return {
                            "collection_name": collection_name,
                            "count": self.engine.count_by_payload(
                                collection_name, k, v
                            ),
                        }
                cond = None
                if payload:
                    # equality filter over payload keys, AND-combined — the
                    # qdrant count(count_filter=...) shape
                    conds = [F.col("metadata")[k] == v for k, v in sorted(payload.items())]
                    cond = conds[0]
                    for c in conds[1:]:
                        cond = cond & c
                return {
                    "collection_name": collection_name,
                    "count": self.engine.count_documents(collection_name, where=cond),
                }
            if resolved == "set_payload":
                if not document_ids or not payload:
                    return {"error": "payload_input_required"}
                n = self.engine.set_payload(collection_name, document_ids, payload)
                return {"collection_name": collection_name, "documents_patched": n}
            if resolved == "delete_payload":
                if not document_ids or not payload_keys:
                    return {"error": "payload_input_required"}
                n = self.engine.delete_payload(collection_name, document_ids, payload_keys)
                return {"collection_name": collection_name, "documents_patched": n}
            if resolved == "create_alias":
                # qdrant update_collection_aliases parity: re-pointing an
                # existing alias is the atomic blue-green switch
                if not alias_name or not collection_name:
                    return {"error": "alias_input_required"}
                self.engine.create_alias(alias_name, collection_name)
                return {"alias": alias_name, "collection_name": collection_name}
            if resolved == "delete_alias":
                if not alias_name:
                    return {"error": "alias_input_required"}
                self.engine.delete_alias(alias_name)
                return {"deleted_alias": alias_name}
            if resolved == "list_aliases":
                pairs = self.engine.list_aliases(collection_name)
                allowed = set(
                    self._entitled("collection", sorted({t for _, t in pairs}))
                )
                return {
                    "aliases": [
                        {"alias": a, "collection_name": t}
                        for a, t in pairs
                        if t in allowed
                    ]
                }
            if resolved == "describe_collection":
                return self.engine.describe_collection(collection_name)
            if resolved == "set_distance":
                if not distance:
                    return {"error": "distance_required"}
                self.engine.set_collection_distance(collection_name, distance)
                return {"collection_name": collection_name, "distance": distance}
            if resolved == "put_named_vectors":
                if not vector_name or not isinstance(named_vectors, dict) or not named_vectors:
                    return {"error": "named_vectors_input_required"}
                n = self.engine.put_named_vectors(collection_name, vector_name, named_vectors)
                return {
                    "collection_name": collection_name,
                    "vector_name": vector_name,
                    "vectors_put": n,
                }
            if resolved == "create_snapshot":
                path = self.engine.create_snapshot(collection_name)
                return {
                    "collection_name": collection_name,
                    "snapshot_id": path.rsplit("/", 1)[-1],
                }
            if resolved == "restore_snapshot":
                if not snapshot_id or not new_collection_name:
                    return {"error": "snapshot_input_required"}
                # veneer callers address snapshots by id, never by path —
                # the engine owns the id→path confinement rule
                self.engine.restore_snapshot_id(snapshot_id, new_collection_name)
                return {
                    "collection_name": new_collection_name,
                    "restored_from": snapshot_id,
                }
            if resolved == "list_snapshots":
                return {"snapshots": self.engine.list_snapshots()}
            if resolved == "delete_snapshot":
                if not snapshot_id:
                    return {"error": "snapshot_input_required"}
                self.engine.delete_snapshot(snapshot_id)
                return {"deleted_snapshot": snapshot_id}
            if resolved == "read_asof":
                # time travel over the veneer (VERDICT r12 item 7): the
                # engine's read_asof reachable from every transport, with
                # time_travel_unavailable passing through as the stable
                # error dict (never a traceback). The response is bounded
                # like every wire surface: id-ordered first 100 documents
                # plus the full as-of cardinality.
                if not asof_ts:
                    return {"error": "asof_ts_required"}
                from datetime import datetime as _dt

                try:
                    cut = _dt.fromisoformat(asof_ts)
                except ValueError:
                    return {"error": "asof_ts_invalid"}
                snap = self.engine.read_asof(collection_name, cut)
                docs = [
                    {"id": r.id, "content": r.content,
                     "metadata": dict(r.metadata) if r.metadata else None}
                    for r in snap.orderBy("id").limit(100).collect()
                ]
                return {
                    "collection_name": collection_name,
                    "asof": asof_ts,
                    "n_documents": snap.count(),
                    "documents": docs,
                }
            if resolved == "compact_changelog":
                if not before_ts:
                    return {"error": "before_ts_required"}
                from datetime import datetime as _dt

                try:
                    cut = _dt.fromisoformat(before_ts)
                except ValueError:
                    return {"error": "before_ts_invalid"}
                n = self.engine.compact_changelog(collection_name, cut)
                return {"collection_name": collection_name, "batches_collapsed": n}
            if resolved == "collection_history":
                batches = [
                    {"seq": r.seq, "op": r.op, "n_rows": r.n_rows,
                     "ts": r.ts.isoformat()}
                    for r in self.engine.collection_history(collection_name).collect()
                ]
                return {"collection_name": collection_name, "history": batches}
            # mcp_server.py:180-198 — listings pass through the
            # identity-scoped entitlement filter
            return {"collections": self._entitled("collection", self.engine.get_collections())}
        except EngineError as e:
            return {"error": e.code}

    # -- vector_search (mcp_server.py:202-293) ------------------------------

    def vector_search(
        self,
        action: str,
        collection_name: str | None = None,
        question: str | None = None,
        number_results: int | None = None,
        semantic_weight: float | None = None,
        lexical_weight: float | None = None,
        rrf_k: int | None = None,
        db_type: str | None = None,
        collection_names: list[str] | None = None,
        metric: str | None = None,
        vector_name: str | None = None,
        query_vector: list[float] | None = None,
        query_weights: dict | None = None,
        num_candidates: int | None = None,
        payload_filter: dict | None = None,
    ) -> dict[str, Any]:
        resolved = resolve_action(action, SEARCH_ACTIONS)
        if isinstance(resolved, dict):
            return resolved
        # the engine and the API validate every argument (mcp_server.py:248-257
        # bounds); the veneer's job is the stable error dict, not a traceback
        try:
            if db_type is not None:
                ensure_backend_available(db_type)
            k = number_results if number_results is not None else 5
            if resolved == "semantic_search":
                kwargs: dict[str, Any] = {"number_results": k}
                if metric is not None:  # pgvector <=>/<#>/<-> selection
                    kwargs["metric"] = metric
                df = self.api.semantic_search(collection_name, [question], **kwargs)
                rows = [
                    {"rank": r.rank, "id": r.id, "content": r.content, "score": r.score}
                    for r in hit_rows(df)
                ]
                return {"action": resolved, "collection_name": collection_name, "results": rows}
            elif resolved == "lexical_search":
                df = self.api.lexical_search(collection_name, [question], number_results=k)
            elif resolved == "federated_search":
                names = collection_names or ([collection_name] if collection_name else [])
                df = self.api.federated_search(names, question, number_results=k)
                rows = [
                    {"rank": r.rank, "collection": r.collection,
                     "collection_rank": r.collection_rank, "id": r.id,
                     "content": r.content, "score": r.score} for r in hit_rows(df)
                ]
                return {"action": resolved, "collection_names": names, "results": rows}
            elif resolved == "indexed_search":
                # the persisted-graph serving route with the beam width as a
                # first-class tunable, like mongodb's $vectorSearch numCandidates
                from vector_mcp_spark.sanitize import sanitize_text_py
                from vector_mcp_spark.validation import validate_question

                # num_candidates must be a positive int (<= 0 silently
                # empties the beam, a huge value drives unbounded per-hop
                # window work) — a stable error dict, never a traceback
                if num_candidates is not None and not (
                    isinstance(num_candidates, int)
                    and not isinstance(num_candidates, bool)
                    and 1 <= num_candidates <= 100_000
                ):
                    raise EngineError("num_candidates_invalid")
                cleaned = sanitize_text_py(validate_question(question))
                qv = self.api.embed_query(collection_name, cleaned)
                if payload_filter is not None:
                    # the qdrant filter+vector composition: equality /
                    # MatchAny / Range conditions, each served from its
                    # fresh payload index (engine routes + validates;
                    # malformed filters come back as stable error dicts)
                    df = self.engine.indexed_filtered_search(
                        collection_name, qv, payload_filter, k=k, ef=num_candidates
                    )
                else:
                    df = self.engine.indexed_graph_search(collection_name, qv, k=k, ef=num_candidates)
            elif resolved == "named_search":
                if not vector_name or not query_vector:
                    return {"error": "named_search_input_required"}
                df = self.engine.named_vector_search(
                    collection_name, vector_name, query_vector, k=k
                )
            elif resolved == "sparse_search":
                if not isinstance(query_weights, dict) or not query_weights:
                    return {"error": "sparse_search_input_required"}
                df = self.engine.indexed_sparse_search(
                    collection_name, list(query_weights.items()), k=k
                )
            elif resolved == "rerank_search":
                df = self.api.rerank_search(collection_name, question, number_results=k)
            else:
                kwargs: dict[str, Any] = {}
                if semantic_weight is not None:
                    kwargs["semantic_weight"] = semantic_weight
                if lexical_weight is not None:
                    kwargs["lexical_weight"] = lexical_weight
                if rrf_k is not None:
                    kwargs["rrf_k"] = rrf_k
                df = self.api.search(collection_name, question, number_results=k, **kwargs)
            rows = [{"id": r.id, "content": r.content, "score": r.score} for r in hit_rows(df)]
            return {"action": resolved, "collection_name": collection_name, "results": rows}
        except EngineError as e:
            return {"error": e.code}


if __name__ == "__main__":  # python -m vector_mcp_spark.mcp --root ...
    import sys as _sys

    from vector_mcp_spark.mcp_stdio import main as _stdio_main

    raise SystemExit(_stdio_main(_sys.argv[1:]))
