"""Content-addressed ids and deterministic hashes.

The reference derives document ids from content:
``id = uuid5(NAMESPACE_OID, sha256(sanitized_content).hexdigest())``
(``vector_mcp/vector_api.py:303-317``) so identical content gets an identical
id — the exact-dedup key (``vector_api.py:363-366``).

Spark-side we keep the semantics (deterministic content-addressed id) with
``sha2(content, 256)`` as the id itself — a pure JVM expression that the
DuckDB oracle reproduces with ``sha256(content)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def content_hash_id(content: Column | str) -> Column:
    """Deterministic content-addressed id (sha256 hex) — JVM-side."""
    col = F.col(content) if isinstance(content, str) else content
    return F.sha2(col, 256)
