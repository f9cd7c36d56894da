"""Vector math as native Column expressions (JVM-side, codegen-friendly).

The reference computes cosine similarity either inside an external engine
(pgvector ``<=>``, ``vector_mcp/vectordb/postgres.py:334-344``) or as a
Python row loop (``vector_mcp/vectordb/couchbase.py:339-348``:
``dot/(||q||·||d||)``, distance = 1 − sim). Here it is a higher-order-function
expression — ``zip_with`` + ``aggregate`` — which stays inside whole-stage
codegen; no Python in the hot path, no UDF serialization.

All arithmetic is in DOUBLE with left-to-right summation so results are
bit-comparable with a DuckDB oracle using ``list_dot_product`` on
``DOUBLE[]`` (both are sequential folds over the same float32→float64
widened values).
"""

from __future__ import annotations

import math
import re
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Driver-side build cost (optimization guide §4, "the Python boundary"):
# the unrolled _lit/_fixed builders below construct ~5 Column objects per
# vector element, i.e. ~300 py4j round-trips for one 64-dim cosine — ~1.1 s
# of pure DRIVER time per expression (measured r13), repeated per query and
# per beam hop. When the operand is a plain column reference, the same
# expression tree is instead rendered as ONE SQL string and parsed JVM-side
# by F.expr() in ~4 ms. The parsed tree is IDENTICAL (analyzed plans match
# byte-for-byte modulo expression ids — pinned by tests/test_properties.py),
# so results are bit-equal; the Column-operand fallback keeps the old loop.
# ---------------------------------------------------------------------------

_SIMPLE_REF = re.compile(r"^[A-Za-z_][A-Za-z0-9_.]*$")


def _ref_sql(col: Column | str) -> str | None:
    """SQL text of a simple (possibly qualified) column reference, else None."""
    name = col if isinstance(col, str) else col._jc.toString()  # noqa: SLF001
    return name if _SIMPLE_REF.match(name) else None


def _dlit(x: float) -> str:
    """Round-trip-exact SQL double literal (repr is shortest-exact)."""
    return f"{float(x)!r}D"


def _dot_lit_sql(ref: str, vec: Sequence[float]) -> str:
    return " + ".join(
        f"(CAST({ref}[{i}] AS DOUBLE) * {_dlit(x)})" for i, x in enumerate(vec)
    )


def _sq_norm_sql(ref: str, dim: int) -> str:
    return " + ".join(
        f"(CAST({ref}[{i}] AS DOUBLE) * CAST({ref}[{i}] AS DOUBLE))" for i in range(dim)
    )


def _as_double_array(col: Column | str) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product of two array columns, in double."""
    prods = F.zip_with(_as_double_array(a), _as_double_array(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    arr = _as_double_array(a)
    sq = F.aggregate(F.transform(arr, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    return F.sqrt(sq)


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """similarity = 1 − cosine distance ∈ [−1, 1]; the pg/qdrant/mongo score
    convention the reference returns (``postgres.py:329-343``)."""
    # try_divide: a zero-norm vector yields NULL (dropped by any score
    # predicate) instead of an ANSI DIVIDE_BY_ZERO error — and NULL is
    # exactly what DuckDB returns for x/0, so oracle parity holds
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def query_vector_lit(vec: Sequence[float]) -> Column:
    """A broadcast-safe literal array column for a single query vector."""
    return F.array(*[F.lit(float(x)) for x in vec])


def dot_lit(col: Column | str, vec: Sequence[float]) -> Column:
    """Dot product against a Python-literal vector as an explicit
    element-term sum — stays inside whole-stage codegen (the higher-order
    ``aggregate`` fold is interpreted, measured several × slower in hot
    loops). The Add chain is left-associative, so the summation order is
    identical to the sequential fold (and to DuckDB ``list_dot_product``):
    results are bit-equal.
    """
    ref = _ref_sql(col)
    if ref is not None and len(vec) > 0:
        return F.expr(_dot_lit_sql(ref, vec))
    col = F.col(col) if isinstance(col, str) else col
    acc: Column | None = None
    for i, x in enumerate(vec):
        term = col[i].cast("double") * float(x)
        acc = term if acc is None else acc + term
    if acc is None:
        return F.lit(0.0)
    return acc


def l2_norm_lit(vec: Sequence[float]) -> Column:
    s = 0.0
    for x in vec:
        s += float(x) * float(x)
    return F.lit(math.sqrt(s))


def l2_norm_fixed(col: Column | str, dim: int) -> Column:
    """Codegen'd norm for a known dimension (same fold order as l2_norm)."""
    ref = _ref_sql(col)
    if ref is not None and dim > 0:
        return F.expr(f"SQRT({_sq_norm_sql(ref, dim)})")
    col = F.col(col) if isinstance(col, str) else col
    acc: Column | None = None
    for i in range(dim):
        x = col[i].cast("double")
        term = x * x
        acc = term if acc is None else acc + term
    return F.sqrt(acc) if acc is not None else F.lit(0.0)


def cosine_similarity_lit(col: Column | str, vec: Sequence[float]) -> Column:
    """Codegen'd cosine against a literal query vector; bit-equal to
    ``cosine_similarity`` with the same operands."""
    ref = _ref_sql(col)
    if ref is not None and len(vec) > 0:
        qn = _dlit(math.sqrt(sq_norm_py(vec)))
        return F.expr(
            f"try_divide({_dot_lit_sql(ref, vec)},"
            f" (SQRT({_sq_norm_sql(ref, len(vec))}) * {qn}))"
        )
    return F.try_divide(dot_lit(col, vec), l2_norm_fixed(col, len(vec)) * l2_norm_lit(vec))


def sq_norm_fixed(col: Column | str, dim: int) -> Column:
    """Codegen'd SUM of squares (no sqrt) for a known dimension — the same
    left-associative fold as DuckDB ``list_dot_product(e, e)``, so the two
    are bit-equal on identical float32→float64 widened inputs."""
    ref = _ref_sql(col)
    if ref is not None and dim > 0:
        return F.expr(_sq_norm_sql(ref, dim))
    col = F.col(col) if isinstance(col, str) else col
    acc: Column | None = None
    for i in range(dim):
        x = col[i].cast("double")
        term = x * x
        acc = term if acc is None else acc + term
    return acc if acc is not None else F.lit(0.0)


def sq_norm_py(vec: Sequence[float]) -> float:
    """Sequential-fold sum of squares of a Python vector — inline this
    EXACT float into both the Spark plan and the oracle SQL so the query
    side of an L2 expansion is the same constant in both engines."""
    s = 0.0
    for x in vec:
        s += float(x) * float(x)
    return s


def l2_distance(a: Column | str, b: Column | str) -> Column:
    """Euclidean distance between two array columns via the expansion
    ``sqrt(max(0, ||a||² + ||b||² − 2·a·b))`` — three sequential-fold dot
    products instead of a zip-subtract-square fold, so a DuckDB oracle
    written with ``list_dot_product`` terms reproduces the arithmetic
    bit-for-bit. ``greatest(0, ·)`` guards the tiny negative the expansion
    can produce for near-identical vectors (both engines guard alike).

    This is the pgvector ``<->`` / qdrant ``Distance.EUCLID`` scoring
    convention (``vector_mcp/vectordb/postgres.py:316-348`` serves
    ``<=>``/``<->``/``<#>`` per index opclass; ``qdrant.py:122-127`` pins
    COSINE but the enum carries EUCLID/DOT): LOWER is better.
    """
    aa = F.aggregate(
        F.transform(_as_double_array(a), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    bb = F.aggregate(
        F.transform(_as_double_array(b), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    inner = aa + bb - F.lit(2.0) * dot(a, b)
    # NOT F.greatest(0, inner): greatest IGNORES nulls, so a NULL embedding
    # would score a perfect 0.0 distance instead of NULL (ADVICE r11)
    return F.sqrt(F.when(inner < F.lit(0.0), F.lit(0.0)).otherwise(inner))


def l2_distance_lit(col: Column | str, vec: Sequence[float]) -> Column:
    """Codegen'd Euclidean distance against a literal query vector;
    same expansion (and fold order) as ``l2_distance``."""
    ref = _ref_sql(col)
    if ref is not None and len(vec) > 0:
        inner_sql = (
            f"(({_sq_norm_sql(ref, len(vec))}) + {_dlit(sq_norm_py(vec))})"
            f" - (2.0D * ({_dot_lit_sql(ref, vec)}))"
        )
        return F.expr(
            f"SQRT(CASE WHEN ({inner_sql}) < 0.0D THEN 0.0D ELSE {inner_sql} END)"
        )
    inner = (
        sq_norm_fixed(col, len(vec)) + F.lit(sq_norm_py(vec))
        - F.lit(2.0) * dot_lit(col, vec)
    )
    # same NULL-propagating clamp as l2_distance (greatest swallows NULLs)
    return F.sqrt(F.when(inner < F.lit(0.0), F.lit(0.0)).otherwise(inner))
