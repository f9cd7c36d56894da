"""Core data model: the Document schema and the collection catalog.

Mirrors the reference's fundamental abstractions
(``vector_mcp/vectordb/base.py:12-31``):

- Document: ``id: str, content: str, metadata: map<str,str>,
  embedding: array<float>`` — the four fixed core fields; metadata stays
  schemaless (string map here; a JSON string column would preserve full
  nesting — the reference sanitizer only recurses over str/map/list anyway,
  ``vector_mcp/vector_api.py:287-298``).
- Catalog: mirrors ``vector_mcp_collections(collection_name PK, table_name
  UNIQUE, dimension CHECK(dimension > 0))``
  (``vector_mcp/vectordb/postgres.py:30-35,106-115``).
"""

from __future__ import annotations

from pyspark.sql import types as T

DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), nullable=False),
        T.StructField("content", T.StringType(), nullable=False),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), nullable=True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), nullable=True),
    ]
)
