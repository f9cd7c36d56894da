"""Boundary validation + stable error codes (SURVEY.md §2.5).

Replicates the reference API's observable validation behavior:

- collection name ``^[A-Za-z][A-Za-z0-9_]{0,39}$`` (``vector_mcp/vector_api.py:39,210-214``)
- question: non-empty str ≤ 1 MiB UTF-8 (``vector_api.py:226-233``)
- number_results: int (not bool) in [1, 1000] (``vector_api.py:235-243``)
- hybrid weights: each finite in [0,1], sum > 0 (``vector_api.py:540-545``)
- rrf_k: int (not bool) in [1, 10000] (``vector_api.py:533,546-547``)
- vectors and sparse query weights: real, finite numbers
- delete confirmation: ``confirm is True`` (``vector_api.py:448-449``)
- ingest bounds: ≤1000 docs, ≤16 MiB/doc, ≤512 MiB total (``vector_api.py:47-49``)
- stable error codes matching ``^[a-z][a-z0-9_]{0,63}$`` that never leak
  values (``vector_api.py:50,268-282``)
"""

from __future__ import annotations

import math
import numbers
import re
from collections.abc import Mapping, Sequence

COLLECTION_NAME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9_]{0,39}$")
ERROR_CODE_RE = re.compile(r"^[a-z][a-z0-9_]{0,63}$")

MAX_QUESTION_BYTES = 1024 * 1024
MAX_RESULTS = 1000
MAX_RRF_K = 10000
MAX_INGEST_DOCS = 1000
MAX_DOC_BYTES = 16 * 1024 * 1024
MAX_TOTAL_BYTES = 512 * 1024 * 1024


class EngineError(ValueError):
    """Error with a stable machine-readable code and no value leakage."""

    def __init__(self, code: str, detail: str | None = None):
        assert ERROR_CODE_RE.match(code), code
        self.code = code
        # free-text operator hint (e.g. a lock path); NEVER part of the
        # stable code — veneers return ``e.code``, tracebacks show both
        self.detail = detail
        super().__init__(code if detail is None else f"{code}: {detail}")


def _is_strict_int(value: object) -> bool:
    return isinstance(value, int) and not isinstance(value, bool)


def validate_collection_name(name: object) -> str:
    if not isinstance(name, str) or not COLLECTION_NAME_RE.match(name):
        raise EngineError("collection_name_invalid")
    return name


def validate_question(question: object) -> str:
    if not isinstance(question, str) or not question.strip():
        raise EngineError("question_invalid")
    if len(question.encode("utf-8")) > MAX_QUESTION_BYTES:
        raise EngineError("question_too_large")
    return question


def validate_number_results(n: object) -> int:
    if not _is_strict_int(n) or not (1 <= n <= MAX_RESULTS):
        raise EngineError("number_results_invalid")
    return n


def default_beam_width(k: int) -> int:
    """The graph beam width a search gets when it names none: mongodb's
    ``numCandidates = max(k*10, 100)`` (``vectordb/mongodb.py:277``), of a
    ``k`` already through :func:`validate_number_results`."""
    return max(k * 10, 100)


def validate_rrf_k(rrf_k: object) -> int:
    if not _is_strict_int(rrf_k) or not (1 <= rrf_k <= MAX_RRF_K):
        raise EngineError("rrf_k_invalid")
    return rrf_k


SEARCH_METRICS = ("cosine", "dot", "l2")


def validate_metric(metric: object) -> str:
    """The three served distance conventions (pgvector <=> <#> <->)."""
    if metric not in SEARCH_METRICS:
        raise EngineError("metric_invalid", detail=f"one of {SEARCH_METRICS}")
    return metric


def validate_weights(weights: Sequence[object]) -> list[float]:
    out: list[float] = []
    for w in weights:
        if isinstance(w, bool) or not isinstance(w, (int, float)):
            raise EngineError("hybrid_weights_invalid")
        w = float(w)
        if not math.isfinite(w) or not (0.0 <= w <= 1.0):
            raise EngineError("hybrid_weights_invalid")
        out.append(w)
    if sum(out) <= 0.0:
        raise EngineError("hybrid_weights_invalid")
    return out


def _real_elements(vec: object) -> list[float] | None:
    """``vec`` as floats, or None unless it is a sequence of real numbers
    (a string, a mapping, None or a bool element is not a vector)."""
    if isinstance(vec, (str, bytes, Mapping)):
        return None
    try:
        items = list(vec)
    except TypeError:
        return None
    if not all(isinstance(x, numbers.Real) and not isinstance(x, bool) for x in items):
        return None
    return [float(x) for x in items]


def validate_query_vector(vec: Sequence[object]) -> list[float]:
    """A query vector that renders as SQL float literals: non-empty, every
    element a finite number (NaN/Inf have no literal form — they would
    surface as a raw parse error instead of a stable code)."""
    out = _real_elements(vec)
    if not out or not all(math.isfinite(x) for x in out):
        raise EngineError(
            "collection_vector_schema_mismatch",
            detail="query vector must be non-empty with finite elements",
        )
    return out


#: largest finite float32: vectors are stored as array<float>, where any
#: larger magnitude becomes ±Inf
_FLOAT32_MAX = 3.4028234663852886e38


def validate_stored_vector(vec: Sequence[object]) -> list[float]:
    """A vector to store: every element finite, also as the float32 the
    table keeps. A NaN row would rank first in every scan (Spark sorts NaN
    above any number under DESC) and keep its graph off the driver."""
    out = _real_elements(vec)
    if out is None or not all(math.isfinite(x) and abs(x) <= _FLOAT32_MAX for x in out):
        raise EngineError(
            "collection_vector_schema_mismatch", detail="vector elements must be finite"
        )
    return out


def validate_sparse_weights(pairs: Sequence[tuple[object, object]]) -> list[tuple[str, float]]:
    """A sparse query's (term, weight) pairs, sorted: each term a non-empty
    string, each weight a finite number (a NaN weight would score NaN and
    rank first)."""
    out = []
    for term, weight in pairs:
        w = _real_elements([weight])
        if not isinstance(term, str) or not term or not w or not math.isfinite(w[0]):
            raise EngineError("sparse_weights_invalid")
        out.append((term, w[0]))
    return sorted(out)


def validate_delete_confirm(confirm: object) -> None:
    if confirm is not True:
        raise EngineError("delete_not_confirmed")


def validate_ingest_bounds(contents: Sequence[str]) -> None:
    if len(contents) > MAX_INGEST_DOCS:
        raise EngineError("ingest_too_many_documents")
    total = 0
    for c in contents:
        nbytes = len(c.encode("utf-8"))
        if nbytes > MAX_DOC_BYTES:
            raise EngineError("ingest_document_too_large")
        total += nbytes
    if total > MAX_TOTAL_BYTES:
        raise EngineError("ingest_total_too_large")
