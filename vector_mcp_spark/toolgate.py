"""Dynamic tool selection & visibility filtering (reference README.md:91-106).

The reference restricts the exposed MCP tool surface at runtime through four
input channels (delegated to an external utility at ``mcp_server.py:31``):

* CLI flags: ``--tools`` / ``--toolsets`` and ``--disabled-tools`` /
  ``--disabled-toolsets``
* environment: ``MCP_ENABLED_TOOLS`` / ``MCP_DISABLED_TOOLS`` and
  ``MCP_ENABLED_TAGS`` / ``MCP_DISABLED_TAGS``
* per-request HTTP/SSE headers: ``x-mcp-enabled-tools`` /
  ``x-mcp-disabled-tools`` / ``x-mcp-enabled-tags`` / ``x-mcp-disabled-tags``
* per-request query parameters: ``?tools=a,b`` / ``?tags=t1``

This module is the Spark repo's framework-free equivalent. A
:class:`ToolFilter` is a pure value: a tool is visible iff

1. it is not named in ``disabled_tools`` and shares no tag with
   ``disabled_tags`` (deny wins), and
2. when any enable-list is present, it is named in ``enabled_tools`` or
   shares a tag with ``enabled_tags`` (otherwise everything passes).

"Toolsets" are tool tags — each entry in ``agent_card.SKILL_CATALOG``
declares its tags. Filters compose by *narrowing*: a per-request filter can
only hide tools the static (CLI+env) filter exposes, never reveal ones it
hides — so a request header cannot widen a deliberately restricted
deployment.

Filtering is a visibility layer, not authorization — entitlements
(``agent_card.AgentCardVeneer``) still gate each dispatched action.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Mapping
from dataclasses import dataclass, replace

ENV_ENABLED_TOOLS = "MCP_ENABLED_TOOLS"
ENV_DISABLED_TOOLS = "MCP_DISABLED_TOOLS"
ENV_ENABLED_TAGS = "MCP_ENABLED_TAGS"
ENV_DISABLED_TAGS = "MCP_DISABLED_TAGS"

HDR_ENABLED_TOOLS = "x-mcp-enabled-tools"
HDR_DISABLED_TOOLS = "x-mcp-disabled-tools"
HDR_ENABLED_TAGS = "x-mcp-enabled-tags"
HDR_DISABLED_TAGS = "x-mcp-disabled-tags"


def _parse_csv(raw: str | None) -> frozenset[str]:
    if not raw:
        return frozenset()
    return frozenset(part.strip() for part in raw.split(",") if part.strip())


@dataclass(frozen=True)
class ToolFilter:
    """Immutable tool-visibility filter; the default instance is a no-op."""

    enabled_tools: frozenset[str] = frozenset()
    disabled_tools: frozenset[str] = frozenset()
    enabled_tags: frozenset[str] = frozenset()
    disabled_tags: frozenset[str] = frozenset()
    parent: "ToolFilter | None" = None

    def is_noop(self) -> bool:
        return not (
            self.enabled_tools
            or self.disabled_tools
            or self.enabled_tags
            or self.disabled_tags
            or (self.parent is not None and not self.parent.is_noop())
        )

    def allows(self, name: str, tags: Iterable[str] = ()) -> bool:
        if self.parent is not None and not self.parent.allows(name, tags):
            return False  # narrowing only — a child can never re-expose
        tagset = set(tags)
        if name in self.disabled_tools or tagset & self.disabled_tags:
            return False  # deny wins over any enable-list
        if self.enabled_tools or self.enabled_tags:
            return name in self.enabled_tools or bool(tagset & self.enabled_tags)
        return True

    def narrowed(self, child: "ToolFilter | None") -> "ToolFilter":
        """This filter further restricted by ``child`` (request-scoped)."""
        if child is None or child.is_noop():
            return self
        return replace(child, parent=self)

    # -- construction channels ------------------------------------------------

    @classmethod
    def from_env(cls, env: Mapping[str, str] | None = None) -> "ToolFilter":
        env = os.environ if env is None else env
        return cls(
            enabled_tools=_parse_csv(env.get(ENV_ENABLED_TOOLS)),
            disabled_tools=_parse_csv(env.get(ENV_DISABLED_TOOLS)),
            enabled_tags=_parse_csv(env.get(ENV_ENABLED_TAGS)),
            disabled_tags=_parse_csv(env.get(ENV_DISABLED_TAGS)),
        )

    @classmethod
    def from_cli(
        cls,
        tools: str | None = None,
        toolsets: str | None = None,
        disabled_tools: str | None = None,
        disabled_toolsets: str | None = None,
    ) -> "ToolFilter":
        return cls(
            enabled_tools=_parse_csv(tools),
            disabled_tools=_parse_csv(disabled_tools),
            enabled_tags=_parse_csv(toolsets),
            disabled_tags=_parse_csv(disabled_toolsets),
        )

    @classmethod
    def from_request(
        cls,
        headers: Mapping[str, str] | None = None,
        query: Mapping[str, list[str]] | None = None,
    ) -> "ToolFilter":
        """Per-request filter from HTTP headers + parsed query params (the
        ``parse_qs`` shape). Query ``tools``/``tags`` are enable-lists per
        the reference README; headers carry all four directions."""

        def hdr(name: str) -> str | None:
            if not headers:
                return None
            for k, v in headers.items():  # header names are case-insensitive
                if k.lower() == name:
                    return v
            return None

        def qry(name: str) -> str | None:
            if not query:
                return None
            vals = query.get(name) or []
            return ",".join(vals) if vals else None

        def both(a: str | None, b: str | None) -> str | None:
            return ",".join(x for x in (a, b) if x) or None

        return cls(
            enabled_tools=_parse_csv(both(hdr(HDR_ENABLED_TOOLS), qry("tools"))),
            disabled_tools=_parse_csv(hdr(HDR_DISABLED_TOOLS)),
            enabled_tags=_parse_csv(both(hdr(HDR_ENABLED_TAGS), qry("tags"))),
            disabled_tags=_parse_csv(hdr(HDR_DISABLED_TAGS)),
        )

    @classmethod
    def static_filter(
        cls,
        env: Mapping[str, str] | None = None,
        tools: str | None = None,
        toolsets: str | None = None,
        disabled_tools: str | None = None,
        disabled_toolsets: str | None = None,
    ) -> "ToolFilter":
        """The startup filter: CLI flags and environment variables each
        contribute to one static filter (enable-lists union as opt-ins,
        deny-lists union as opt-outs)."""
        cli = cls.from_cli(tools, toolsets, disabled_tools, disabled_toolsets)
        envf = cls.from_env(env)
        return cls(
            enabled_tools=cli.enabled_tools | envf.enabled_tools,
            disabled_tools=cli.disabled_tools | envf.disabled_tools,
            enabled_tags=cli.enabled_tags | envf.enabled_tags,
            disabled_tags=cli.disabled_tags | envf.disabled_tags,
        )


def joined_headers(message) -> dict[str, str]:
    """HTTP message headers → {name: comma-joined values}. Repeated headers
    are legal and semantically equal to the comma-joined list; ``dict()``
    on an ``http.client`` message keeps only one occurrence — silently
    WIDENING a repeated deny-list header. ``_parse_csv`` splits the joined
    form back out."""
    return {k: ", ".join(message.get_all(k) or []) for k in set(message.keys())}
