"""Connector surface: tool-schema compatibility fingerprints.

Mirrors the reference's ``vector_mcp/connectors/tool_schema_fingerprints.json``:
a stable hash of each tool's calling schema so downstream connectors can
detect breaking drift without importing the server. The reference pins
these per release (``algorithm: agent-utilities:mcp-tool-schema-compat:v1``);
here the fingerprint is recomputed from the live veneer signatures and
pinned by a regression test — same contract, no generated file to go stale.
"""

from __future__ import annotations

import hashlib
import inspect
import json
from typing import Any

from vector_mcp_spark.mcp import COLLECTION_ACTIONS, SEARCH_ACTIONS, McpVeneer

FINGERPRINT_ALGORITHM = "vector-mcp-spark:mcp-tool-schema-compat:v1"
SCHEMA_VERSION = "1"

_TOOL_ACTIONS = {
    "vector_collection_management": COLLECTION_ACTIONS,
    "vector_search": SEARCH_ACTIONS,
}


def tool_schema(tool: str) -> dict[str, Any]:
    """Canonical (JSON-stable) calling schema of a veneer tool: parameter
    names, type annotations, defaults, and the allowed action strings."""
    fn = getattr(McpVeneer, tool)
    params = {}
    for name, p in inspect.signature(fn).parameters.items():
        if name == "self":
            continue
        params[name] = {
            "annotation": str(p.annotation),
            "default": "required" if p.default is inspect.Parameter.empty else repr(p.default),
        }
    return {"tool": tool, "actions": list(_TOOL_ACTIONS[tool]), "parameters": params}


def tool_schema_fingerprints() -> dict[str, Any]:
    """Reference ``tool_schema_fingerprints.json`` shape: sha256 of the
    canonical-JSON schema per tool. Key order is sorted and separators are
    fixed so the hash is byte-stable across Python versions."""
    tools = {
        tool: hashlib.sha256(
            json.dumps(tool_schema(tool), sort_keys=True, separators=(",", ":")).encode()
        ).hexdigest()
        for tool in sorted(_TOOL_ACTIONS)
    }
    return {
        "algorithm": FINGERPRINT_ALGORITHM,
        "connector": "vector-mcp-spark",
        "schema_version": SCHEMA_VERSION,
        "tools": tools,
    }
