"""Tokenization with the reference's lexical semantics.

The reference's native backend tokenizes queries with the casefolded regex
``[A-Za-z0-9_]{2,}`` (``vector_mcp/vectordb/epistemic_graph.py:55,324-326``)
and its scan-fallback scores a document as the sum of occurrence counts of
each query term (``epistemic_graph.py:352-375``). These helpers reproduce
that as Column expressions — JVM regexp, no Python UDF — so the same
semantics run distributed inside whole-stage codegen.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# epistemic_graph.py:55 — _WORD = re.compile(r"[A-Za-z0-9_]{2,}")
TOKEN_PATTERN = r"[A-Za-z0-9_]{2,}"
_WORD = re.compile(TOKEN_PATTERN)


def tokenize_py(text: str) -> list[str]:
    """Driver-side tokenizer for query strings (small, not a Spark op)."""
    return [t.casefold() for t in _WORD.findall(text or "")]


def content_tokens_py(text: str) -> list[str]:
    """Driver twin of :func:`tokens`: lowercase the whole text, then
    extract. Not :func:`tokenize_py`, which extracts first and casefolds
    after — the two differ on non-ASCII input (``casefold`` maps the ``ﬁ``
    ligature to ``fi``; ``lower`` keeps it, and the pattern skips it)."""
    return _WORD.findall(text.lower())


def tokens(col: Column | str) -> Column:
    """Array of casefolded tokens of a text column (JVM regexp, no UDF)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_PATTERN), F.lit(0))


def term_count(content: Column | str, term: str) -> Column:
    """Occurrences of ``term`` as a token in ``content`` — the reference's
    scan-fallback ``content.count(term)`` scoring, on token boundaries."""
    return F.size(F.filter(tokens(content), lambda t: t == F.lit(term.casefold())))


def with_bound_tokens(content: Column | str, fn) -> Column:
    """Evaluate ``fn(tk)`` with the token array bound ONCE per row.

    ``fn`` receives the tokenized array as a lambda variable and returns a
    Column over it. Needed whenever an expression references the token
    array more than once (positional walks, guards): a plain projection
    gets CollapseProject-inlined, so every reference re-runs the regexp
    extraction — measured 6× slower for a two-term phrase walk. transform
    over a one-element array pins a single evaluation.
    """
    return F.element_at(F.transform(F.array(tokens(content)), fn), 1)
