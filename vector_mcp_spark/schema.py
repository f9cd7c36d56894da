"""Core data model: the Document schema and the collection catalog.

Mirrors the reference's fundamental abstractions
(``vector_mcp/vectordb/base.py:12-31``):

- Document: ``id: str, content: str, metadata: map<str,str>,
  embedding: array<float>`` — the four fixed core fields; metadata stays
  schemaless (string map here; a JSON string column would preserve full
  nesting — the reference sanitizer only recurses over str/map/list anyway,
  ``vector_mcp/vector_api.py:287-298``).
- QueryResults (``base.py:27-31``) flatten to one row per hit:
  ``(query_id, rank, id, content, metadata, score)``.
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

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), nullable=False),
        T.StructField("rank", T.IntegerType(), nullable=False),
        T.StructField("id", T.StringType(), nullable=False),
        T.StructField("content", T.StringType(), nullable=True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), nullable=True),
        T.StructField("score", T.DoubleType(), nullable=True),
    ]
)

CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("collection_name", T.StringType(), nullable=False),
        T.StructField("table_name", T.StringType(), nullable=False),
        T.StructField("dimension", T.IntegerType(), nullable=True),
        T.StructField("created_at", T.TimestampType(), nullable=True),
        # Legacy marker: True only for a collection written by an older
        # engine that stored rows without vectors (current engines embed at
        # insert). CollectionEngine.read upgrades such a collection once and
        # clears it; a catalog predating the column reads as True.
        T.StructField("needs_embed", T.BooleanType(), nullable=False),
        # Per-collection scoring convention ("cosine" | "dot" | "l2");
        # NULL = created before the distance column existed → cosine.
        T.StructField("distance", T.StringType(), nullable=True),
    ]
)
