"""One table version held in driver memory — the rows a small collection's
warm searches are answered from without a Spark job.

Spark does the batch work (ingest, the index build); answering a warm
question over a few thousand rows does not need it. A table version whose
estimated size fits the session's broadcast bound (a broadcast is already a
driver-side collect of that size) is collected once into a
:class:`DriverTable`. The numpy twins next to each Spark operator
(``semantic_topk_local``, ``lexical_tf_topk_local``, ``rrf_fuse_local``)
and the graph's driver descent read it; each replays its operator's folds,
tie-breaks and ``ROUND`` so the answers equal Spark's.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class DriverTable:
    """Rows of one table version: ids, vectors as the doubles Spark's folds
    read, optional content, and the estimated bytes it was admitted at.
    Immutable; the derived arrays are computed once on first use."""

    ids: list
    #: id → row index
    rows: dict
    vecs: np.ndarray
    content: list | None
    nbytes: int

    @cached_property
    def sqnorms(self) -> np.ndarray:
        """Per-row sum of squares, folded in Spark's order."""
        from vector_mcp_spark.operators.graph_ann import _fold_rows

        return _fold_rows(self.vecs * self.vecs)

    @cached_property
    def id_order(self) -> np.ndarray:
        """Each row's position in ascending id order — the tie-break every
        ranking uses (UTF-8 byte order equals code point order)."""
        order = np.empty(len(self.ids), dtype=np.intp)
        order[sorted(range(len(self.ids)), key=self.ids.__getitem__)] = np.arange(len(self.ids))
        return order

    @cached_property
    def postings(self) -> dict:
        """term → (rows, counts) over the content, tokenized as Spark's
        ``tokens()`` column does."""
        from vector_mcp_spark.operators.lexical import local_postings

        return local_postings(self.content or [])


def driver_table_bytes(frame: DataFrame, emb_col: str, content_col: str | None) -> int:
    """The estimated driver size of ``frame`` — rows × 64 + vector values ×
    8 + content bytes, the graph serve set's estimate — from one aggregate
    job."""
    aggs = [F.count(F.lit(1)), F.sum(F.size(emb_col))]
    if content_col is not None:
        aggs.append(F.sum(F.octet_length(content_col)))
    n_rows, n_values, *content = frame.agg(*aggs).first()
    return n_rows * 64 + (n_values or 0) * 8 + sum(c or 0 for c in content)


def collect_driver_table(
    frame: DataFrame, emb_col: str, content_col: str | None, nbytes: int
) -> DriverTable | None:
    """Collect ``frame``'s (id, vector[, content]) rows. ``None`` when a row
    would make an in-process answer diverge from Spark's — a NULL or
    duplicate id, a NULL vector or element, ragged widths, a non-finite
    value or NULL content — so such a version keeps the Spark plans."""
    cols = ["id", emb_col] + ([content_col] if content_col is not None else [])
    got = frame.select(*cols).collect()
    ids = [r[0] for r in got]
    rows = {node: i for i, node in enumerate(ids)}
    if len(rows) != len(ids) or None in rows:
        return None
    if any(r[1] is None or None in r[1] for r in got):
        return None
    if content_col is not None and any(r[2] is None for r in got):
        return None
    widths = {len(r[1]) for r in got}
    if len(widths) > 1:
        return None
    vecs = np.array([r[1] for r in got], dtype=np.float64).reshape(
        len(got), max(widths, default=0)
    )
    if not np.isfinite(vecs).all():
        return None
    content = [r[2] for r in got] if content_col is not None else None
    return DriverTable(ids, rows, vecs, content, int(nbytes))
