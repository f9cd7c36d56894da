"""Stdio MCP transport — newline-delimited JSON-RPC 2.0 over stdin/stdout.

The reference serves its tools through FastMCP's stdio transport
(``vector_mcp/mcp_server.py:321-336``, tool registration ``:202-225``).
This module is the Spark-side equivalent: the same three action-routed
tools (``vector_collection_management``, ``vector_search``,
``vector_backend_operations``) served over the MCP wire protocol's stdio
framing — one JSON-RPC message per line — with the dispatch and stable
error codes delegated to :class:`~vector_mcp_spark.agent_card.AgentCardVeneer`.

Run it with ``python -m vector_mcp_spark.mcp --root /path/to/warehouse``.
The loop itself is transport-pure (file-like in/out injected), so tests can
drive it in-process or over a real subprocess pipe.
"""

from __future__ import annotations

import json
from typing import Any, TextIO

MCP_PROTOCOL_VERSION = "2024-11-05"

# JSON-RPC 2.0 error codes
PARSE_ERROR = -32700
INVALID_REQUEST = -32600
METHOD_NOT_FOUND = -32601
INVALID_PARAMS = -32602
INTERNAL_ERROR = -32603


def _error(msg_id: Any, code: int, message: str) -> dict:
    return {"jsonrpc": "2.0", "id": msg_id, "error": {"code": code, "message": message}}


def _result(msg_id: Any, result: dict) -> dict:
    return {"jsonrpc": "2.0", "id": msg_id, "result": result}


def _surface(surface=None):
    """The active tool surface; defaults to the environment's
    (``MCP_TOOL_MODE`` + ``<DOMAIN>TOOL`` toggles — toolmode.py)."""
    if surface is not None:
        return surface
    from vector_mcp_spark.toolmode import ToolSurface

    return ToolSurface.from_env()


def tool_listing(tool_filter=None, surface=None) -> list[dict]:
    """The MCP ``tools/list`` payload: the deployment's active tool surface
    (condensed action-routed / verbose 1:1 / both — ``MCP_TOOL_MODE`` and
    the ``<DOMAIN>TOOL`` toggles, reference README.md:63-89), further
    narrowed by an optional :class:`~vector_mcp_spark.toolgate.ToolFilter`
    (CLI/env statically, headers/query per request — README.md:91-106)."""
    return _surface(surface).listing(tool_filter)


def handle_message(agent, msg: Any, tool_filter=None, surface=None) -> dict | None:
    """One JSON-RPC message → response dict, or None for notifications.

    ``agent`` is anything with ``.dispatch(tool, action, **kwargs)`` and
    ``.card()`` (AgentCardVeneer in production, a stub in tests).
    ``tool_filter`` (a ``toolgate.ToolFilter``) hides filtered tools from
    ``tools/list`` and makes calling one a ``tool_invalid`` tool result.
    ``surface`` (a ``toolmode.ToolSurface``) selects WHICH tools exist —
    condensed, verbose 1:1, or both; None = derive from the environment.

    JSON-RPC 2.0 §4.1: a request without ``id`` is a notification and MUST
    NOT receive a response — side effects (e.g. an id-less ``tools/call``)
    still run, but the return is ``None`` even on error."""
    if not isinstance(msg, dict) or msg.get("jsonrpc") != "2.0" or "method" not in msg:
        msg_id = msg.get("id") if isinstance(msg, dict) else None
        return _error(msg_id, INVALID_REQUEST, "not a JSON-RPC 2.0 request")
    method = msg["method"]
    msg_id = msg.get("id")
    is_notification = "id" not in msg
    try:
        resp = _dispatch_method(agent, method, msg, msg_id, tool_filter, surface)
    except Exception as e:  # dispatch must never leak a traceback onto the wire
        resp = _error(msg_id, INTERNAL_ERROR, f"{type(e).__name__}: {e}")
    return None if is_notification else resp


def _dispatch_method(
    agent, method: str, msg: dict, msg_id: Any, tool_filter=None, surface=None
) -> dict | None:
    if method == "initialize":
        card = agent.card()
        return _result(
            msg_id,
            {
                "protocolVersion": MCP_PROTOCOL_VERSION,
                "capabilities": {"tools": {}, "prompts": {}, "resources": {}},
                "serverInfo": {"name": card["name"], "version": card["version"]},
                "instructions": card["description"],
            },
        )
    if method.startswith("notifications/"):
        return None
    if method == "ping":
        return _result(msg_id, {})
    if method == "tools/list":
        return _result(msg_id, {"tools": tool_listing(tool_filter, surface)})
    if method == "prompts/list":
        from vector_mcp_spark.governance import list_prompts

        return _result(msg_id, {"prompts": list_prompts()})
    if method == "prompts/get":
        from vector_mcp_spark.governance import get_prompt

        params = msg.get("params") or {}
        out = get_prompt(params.get("name"), dict(params.get("arguments") or {}))
        if out is None:
            return _error(msg_id, INVALID_PARAMS, f"unknown prompt: {params.get('name')}")
        return _result(msg_id, out)
    if method == "resources/list":
        from vector_mcp_spark.governance import list_resources

        return _result(msg_id, {"resources": list_resources()})
    if method == "resources/read":
        from vector_mcp_spark.governance import read_resource

        params = msg.get("params") or {}
        out = read_resource(params.get("uri") or "")
        if out is None:
            return _error(msg_id, INVALID_PARAMS, f"unknown resource: {params.get('uri')}")
        return _result(msg_id, out)
    if method == "tools/call":
        params = msg.get("params") or {}
        name = params.get("name")
        arguments = dict(params.get("arguments") or {})
        if not isinstance(name, str):
            return _error(msg_id, INVALID_PARAMS, "tools/call needs a string name")
        surf = _surface(surface)
        spec = surf.get(name)
        # gate on "is a VISIBLE tool of the ACTIVE surface", not "passes
        # the filter": an UNKNOWN name trivially passes a deny-only filter,
        # and letting it fall through to dispatch would return
        # allowed/did-you-mean over the FULL surface — leaking both the
        # filtered tools and the tools the mode/domain toggles removed
        if spec is None or (
            tool_filter is not None
            and not tool_filter.allows(name, spec.get("tags", ()))
        ):
            # a filtered/mode-hidden tool is indistinguishable from an
            # unknown one: same tool_invalid error shape, with
            # allowed/did-you-mean drawn from the VISIBLE surface only
            import difflib

            visible = surf.visible(tool_filter)
            out = {
                "error": "tool_invalid",
                "allowed": visible,
                "did_you_mean": difflib.get_close_matches(name, visible, n=3, cutoff=0.4),
            }
            return _result(
                msg_id,
                {
                    "content": [{"type": "text", "text": json.dumps(out)}],
                    "isError": True,
                },
            )
        if spec["route_action"] is not None:
            # verbose 1:1 tool: the action is implied by the name; a stray
            # explicit action argument is ignored (the schema declares
            # additionalProperties: false — the name IS the action)
            arguments.pop("action", None)
            action = spec["route_action"]
        else:
            action = arguments.pop("action", None) or spec.get("default_action")
            if action is None:
                return _error(
                    msg_id, INVALID_PARAMS, "tools/call needs name and arguments.action"
                )
        # 'principal' is the SERVER-side identity slot (threaded by a
        # transport from real auth into dispatch) — a client asserting it
        # through tool arguments could match principal-scoped allow rules,
        # so it is stripped here, never trusted from the wire
        arguments.pop("principal", None)
        out = agent.dispatch(spec["route_tool"], action, **arguments)
        # MCP tool results carry the payload as text content; the stable
        # snake_case error dicts ride through as isError results — a bad
        # action is a TOOL-level outcome, not a protocol failure
        return _result(
            msg_id,
            {
                "content": [{"type": "text", "text": json.dumps(out, default=str)}],
                "isError": bool(isinstance(out, dict) and "error" in out),
            },
        )
    return _error(msg_id, METHOD_NOT_FOUND, f"unknown method: {method}")


def serve(agent, stdin: TextIO, stdout: TextIO, tool_filter=None, surface=None) -> None:
    """Blocking newline-delimited JSON-RPC loop until EOF on ``stdin``."""
    for line in stdin:
        line = line.strip()
        if not line:
            continue
        try:
            msg = json.loads(line)
        except json.JSONDecodeError:
            resp: dict | None = _error(None, PARSE_ERROR, "invalid JSON")
        else:
            resp = handle_message(agent, msg, tool_filter, surface)
        if resp is not None:
            stdout.write(json.dumps(resp) + "\n")
            stdout.flush()


def main(argv: list[str] | None = None) -> int:
    """``python -m vector_mcp_spark.mcp`` — build the Spark-backed agent and
    serve MCP over stdio, streamable-http, or sse (mcp_server.py:321-336's
    ``--transport`` switch — all three reference transports)."""
    import argparse
    import sys

    parser = argparse.ArgumentParser(prog="vector_mcp_spark.mcp")
    parser.add_argument("--root", required=True, help="collection warehouse root directory")
    parser.add_argument("--tenant", default=None)
    parser.add_argument("--transport", default="stdio", choices=["stdio", "streamable-http", "sse"])
    parser.add_argument("--host", default="127.0.0.1")
    parser.add_argument("--port", type=int, default=8000)
    # dynamic tool selection (reference README.md:97-101): comma-separated
    # enable/disable lists for tools and toolsets (tags); combined with the
    # MCP_{ENABLED,DISABLED}_{TOOLS,TAGS} environment variables
    parser.add_argument("--tools", default=None, help="comma-separated tools to enable")
    parser.add_argument("--toolsets", default=None, help="comma-separated toolsets (tags) to enable")
    parser.add_argument("--disabled-tools", default=None)
    parser.add_argument("--disabled-toolsets", default=None)
    # tool surface (reference README.md:63-89): condensed action-routed
    # (default), verbose 1:1 API-mapped, or both; the flag overrides the
    # MCP_TOOL_MODE env var
    parser.add_argument("--tool-mode", default=None, choices=["condensed", "verbose", "both"])
    args = parser.parse_args(argv)

    import os

    from vector_mcp_spark.agent_card import AgentCardVeneer
    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.mcp import McpVeneer
    from vector_mcp_spark.session import get_spark
    from vector_mcp_spark.toolgate import ToolFilter
    from vector_mcp_spark.toolmode import ENV_TOOL_MODE, ToolSurface

    tool_filter = ToolFilter.static_filter(
        tools=args.tools,
        toolsets=args.toolsets,
        disabled_tools=args.disabled_tools,
        disabled_toolsets=args.disabled_toolsets,
    )
    env = dict(os.environ)
    if args.tool_mode:
        env[ENV_TOOL_MODE] = args.tool_mode
    surface = ToolSurface.from_env(env)  # fail loudly on a typo'd mode NOW
    spark = get_spark("vector-mcp-stdio")
    engine = CollectionEngine(spark, args.root, tenant=args.tenant)
    # the engine owns the embedding model (the endpoint env gate)
    agent = AgentCardVeneer(McpVeneer(engine))
    if args.transport == "streamable-http":
        from vector_mcp_spark.mcp_http import serve_http

        serve_http(agent, host=args.host, port=args.port, tool_filter=tool_filter, surface=surface)
        return 0
    if args.transport == "sse":
        from vector_mcp_spark.mcp_sse import serve_sse

        serve_sse(agent, host=args.host, port=args.port, tool_filter=tool_filter, surface=surface)
        return 0
    print(
        f"vector-mcp-spark MCP serving stdio (root={args.root}, tool mode={surface.mode})",
        file=sys.stderr,
        flush=True,
    )
    serve(agent, sys.stdin, sys.stdout, tool_filter, surface)
    return 0
