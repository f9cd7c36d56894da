"""Spans around the program's public functions, and Spark counters per span.

Used only by the traced run. :class:`Tracer` replaces each target function
with a timing wrapper everywhere the function object is bound: the owning
module or class, and every ``vector_mcp_spark`` module that imported it by
name at import time (``api.semantic_topk``, ``suite_pipeline.load`` and the
like). Functions the program imports at call time are covered by the module
attribute alone.

Each span records its name, start, end, parent span and request id, and the
range of Spark job ids launched while it was open. Jobs are attributed by
job-id range, not job group, so jobs that run on other threads inside the
span (streaming micro-batches) are counted too. Spans live in memory until
:meth:`Tracer.dump` writes them once at the end of the run.

Python-worker code (the hash embedder inside ``embed_documents``'
``mapInPandas``) runs in other processes, so only calls made in this process
are seen.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import threading
import time
from dataclasses import dataclass, field

#: (module, attribute) of every module-level function the traced run wraps,
#: grouped by the layer it reports under
FUNCTIONS = {
    "embedder": [
        ("vector_mcp_spark.functions.embedder", "hash_embed"),
        ("vector_mcp_spark.functions.embedder", "embed_documents"),
    ],
    "operators": [
        ("vector_mcp_spark.operators.graph_ann", "hnsw_build"),
        ("vector_mcp_spark.operators.graph_ann", "hnsw_serve_set"),
        ("vector_mcp_spark.operators.graph_ann", "hnsw_repair"),
        ("vector_mcp_spark.operators.graph_ann", "ann_hnsw_prepared_sql"),
        ("vector_mcp_spark.operators.similarity", "ivf_build"),
        ("vector_mcp_spark.operators.pq", "pq_build"),
        ("vector_mcp_spark.operators.lexical", "build_postings"),
        ("vector_mcp_spark.operators.lexical", "lexical_tf_topk"),
        ("vector_mcp_spark.operators.lexical", "lexical_tf_topk_multi"),
        ("vector_mcp_spark.operators.semantic", "semantic_topk"),
        ("vector_mcp_spark.operators.semantic", "semantic_topk_multi"),
        ("vector_mcp_spark.operators.hybrid", "rrf_fuse"),
    ],
    "suite": [("vector_mcp_spark.suite", "load")],
}
#: (module, class, method) of every method the traced run wraps
METHODS = {
    "mcp": [
        ("vector_mcp_spark.mcp", "McpVeneer", "vector_search"),
        ("vector_mcp_spark.mcp", "McpVeneer", "vector_collection_management"),
    ],
    "api": [
        ("vector_mcp_spark.api", "VectorSearchApi", m)
        for m in ("semantic_search", "lexical_search", "search", "embed_query")
    ],
    "engine": [
        ("vector_mcp_spark.engine", "CollectionEngine", m)
        for m in (
            "read", "index_status", "needs_embed", "indexed_graph_search",
            "add_documents", "build_search_index", "repair_search_index",
        )
    ],
    "read": [("pyspark.sql.readwriter", "DataFrameReader", "parquet")],
    "spark": [("pyspark.sql.classic.dataframe", "DataFrame", "collect")],
}


@dataclass
class Span:
    name: str
    layer: str
    request: int
    parent: int | None
    start: float
    end: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class SparkCounters:
    """Job ids and per-job stage/task/shuffle/input figures from the JVM
    status store, read through py4j. Works with ``spark.ui.enabled=false``."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def totals(self, job_lo: int, job_hi: int) -> dict[str, int]:
        """Sums over jobs ``[job_lo, job_hi)``; waits for the listener bus
        first so finished jobs are in the store."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        out = {"jobs": job_hi - job_lo, "stages": 0, "tasks": 0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "input_rows": 0}
        for job in range(job_lo, job_hi):
            it = store.job(job).stageIds().iterator()
            while it.hasNext():
                stage = store.lastStageAttempt(it.next())
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += int(stage.numTasks())
                out["shuffle_read_bytes"] += int(stage.shuffleReadBytes())
                out["shuffle_write_bytes"] += int(stage.shuffleWriteBytes())
                out["input_rows"] += int(stage.inputRecords())
        return out


class Tracer:
    """Installs timing wrappers and keeps the spans they record."""

    def __init__(self, spark):
        self.counters = SparkCounters(spark)
        self.spans: list[Span] = []
        self.enabled = False
        self.request = 0
        self._stack = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # -- recording ------------------------------------------------------

    def _open(self, name: str, layer: str) -> int:
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        parent = stack[-1] if stack else None
        span = Span(name, layer, self.request, parent, time.perf_counter(),
                    job_lo=self.counters.next_job_id())
        self.spans.append(span)
        sid = len(self.spans) - 1
        if parent is not None:
            self.spans[parent].children.append(sid)
        stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        span = self.spans[sid]
        span.job_hi = self.counters.next_job_id()
        span.end = time.perf_counter()
        self._stack.ids.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Record one span around the block (nothing while disabled)."""
        if not self.enabled:
            yield
            return
        sid = self._open(name, layer)
        try:
            yield
        finally:
            self._close(sid)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper

    # -- installing -----------------------------------------------------

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        """Wrap every target. Module-level functions are replaced in each
        loaded ``vector_mcp_spark`` module that holds the same object."""
        for layer, targets in METHODS.items():
            for mod, cls_name, meth in targets:
                cls = getattr(importlib.import_module(mod), cls_name)
                self._set(cls, meth, self._wrap(getattr(cls, meth), meth, layer))
        for layer, targets in FUNCTIONS.items():
            for mod, attr in targets:
                original = getattr(importlib.import_module(mod), attr)
                wrapped = self._wrap(original, attr, layer)
                for module in list(sys.modules.values()):
                    modname = getattr(module, "__name__", "") or ""
                    if not modname.startswith("vector_mcp_spark"):
                        continue
                    for key, value in list(vars(module).items()):
                        if value is original:
                            self._set(module, key, wrapped)

    def wrap_entry(self, entry) -> None:
        """Wrap one suite entry's builder (``SuiteEntry.spark_fn``)."""
        self._set(entry, "spark_fn", self._wrap(entry.spark_fn, "builder", "suite"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)

    # -- reading --------------------------------------------------------

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it the span's children cover."""
        covered, last = 0.0, span.start
        for child in sorted((self.spans[c] for c in span.children), key=lambda s: s.start):
            lo, hi = max(child.start, last), min(child.end, span.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return span.duration - covered

    def dump(self, path: str) -> None:
        rows = [
            {"id": i, "name": s.name, "layer": s.layer, "request": s.request,
             "parent": s.parent, "start": s.start, "end": s.end,
             "self_s": self.self_time(s), "jobs": s.job_hi - s.job_lo}
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh)
