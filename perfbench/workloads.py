"""The benchmark's workloads. Each is closed loop with one client: it sends
the next operation only after the previous one returned.

``serve``
    Read-only retrieval through ``McpVeneer.vector_search`` over one
    content-only collection. Set-up ingests the seeded corpus through
    ``vector_collection_management`` and builds the search index. Timed
    requests rotate through ``semantic_search``, ``lexical_search``,
    ``search`` (hybrid RRF) and ``indexed_search`` (graph beam), k=10; one
    request in eight asks about words no document contains. The traced run
    also sends, after the timed phase, an ``add_documents`` batch that
    re-sends 10% already-ingested content (the upsert path), repairs the
    index and serves from the repaired index, so every write-path layer is
    measured.

``batch``
    A fixed slice of declared suite entries over seeded tables, each built
    and run through the noop sink, in a seed-permuted order. The untimed
    first pass checks every entry against its DuckDB oracle and warms the
    session; the timed passes follow.

Timed phases run whole rounds (eight requests, two of each tool with one
out-of-vocabulary question, or one pass over the slice) until ``seconds``
have passed, so every kind of operation weighs the same in every run.
Every operation that returns an error dict or raises counts as failed, with
its code. Every response is checked; a wrong answer fails the run.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

import datagen
import oracle

KINDS = ("semantic_search", "lexical_search", "search", "indexed_search")
K = 10
SERVE_DOCS = 64
APPEND_DOCS = 8
#: mean indexed_search recall@10 against the exact top-10 below which the
#: graph index is answering wrongly, not approximately
RECALL_FLOOR = 0.6

BATCH_SCALE = 0.5
#: one or two entries per family; the relational control bypasses both the
#: vector operators and the engine, so it should not move with them
BATCH_SLICE = (
    "semantic_topk", "hybrid_rrf",  # retrieval
    "ann_hnsw_topk",  # graph beam
    "dedup_minhash_lsh",  # dedup
    "lexical_postings_index",  # text analysis
    "streaming_session_windows",  # streaming, micro-batches on other threads
    "tpch_q1_pricing_summary",  # relational control
)


@dataclass
class Result:
    """What a workload measured. ``op_s`` holds (label, seconds) per timed
    operation; in a traced run ``paired`` holds the untraced twin of each
    traced one, ``op_spans`` its span index range, ``op_counters`` its Spark
    totals and ``op_rows`` its result rows."""

    setup_s: float = 0.0
    op_s: list[tuple[str, float]] = field(default_factory=list)
    timed_wall_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: Counter = field(default_factory=Counter)
    mismatches: list[str] = field(default_factory=list)
    notes: dict[str, float] = field(default_factory=dict)
    paired: list[float] = field(default_factory=list)
    op_spans: list[tuple[int, int]] = field(default_factory=list)
    op_counters: list[dict[str, int]] = field(default_factory=list)
    op_rows: list[int] = field(default_factory=list)

    def record_failure(self, code: str) -> None:
        self.failed += 1
        self.errors[code] += 1


def request_stream(seed: int, n: int) -> list[tuple[str, str]]:
    """The first ``n`` (tool action, question) pairs for ``seed``: actions
    rotate in equal shares; in each block of eight requests one question
    is out of vocabulary. Its position moves block to block so each action
    gets it equally often, starting with ``lexical_search``, the one whose
    cost a zero-hit question changes."""
    rng = np.random.default_rng([seed, 1])
    out = []
    for i in range(n):
        oov = i % 8 == (1 + 3 * (i // 8)) % 8
        out.append((KINDS[i % len(KINDS)], datagen.question(rng, oov)))
    return out


def _call(result: Result, fn, *args, **kwargs):
    """One MCP operation with failure accounting; returns the response or
    ``None`` when it failed."""
    result.attempted += 1
    try:
        resp = fn(*args, **kwargs)
    except Exception as exc:  # noqa: BLE001 - every raise is one failed operation
        result.record_failure(type(exc).__name__)
        return None
    if "error" in resp:
        result.record_failure(str(resp["error"]))
        return None
    return resp


def _timed_rounds(result: Result, seconds: float, rounds, run_op, tracer) -> None:
    """Run whole rounds of ops until ``seconds`` of wall have passed (at
    least one round). In a traced run each op runs twice, traced and
    untraced, so the overhead of tracing is measured on the same inputs; the
    order alternates because a repeated op runs faster the second time. The
    traced runs are the ones reported."""
    start = time.perf_counter()
    for n, ops in enumerate(rounds):
        if n and time.perf_counter() - start >= seconds:
            break
        for op in ops:
            if tracer is None:
                result.op_s.append(run_op(op, None))
                continue
            untraced_first = len(result.paired) % 2 == 0
            if untraced_first:
                untraced = run_op(op, None)[1]
            tracer.enabled = True
            tracer.request += 1
            first = len(tracer.spans)
            result.op_s.append(run_op(op, tracer))
            tracer.enabled = False
            if not untraced_first:
                untraced = run_op(op, None)[1]
            result.paired.append(untraced)
            result.op_spans.append((first, len(tracer.spans)))
            root = tracer.spans[first]
            result.op_counters.append(tracer.counters.totals(root.job_lo, root.job_hi))
    result.timed_wall_s = time.perf_counter() - start


def serve(spark, work_dir: str, seed: int, seconds: float, tracer=None, t0=None) -> Result:
    """Set-up time counts from ``t0`` (the session start) when given."""
    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.mcp import McpVeneer

    result = Result()
    t0 = time.perf_counter() if t0 is None else t0
    rng = np.random.default_rng([seed, 0])
    texts = datagen.document_texts(rng, SERVE_DOCS + APPEND_DOCS)
    base, extra = texts[:SERVE_DOCS], texts[SERVE_DOCS:]
    resent = [base[int(i)] for i in rng.choice(SERVE_DOCS, size=SERVE_DOCS // 10, replace=False)]
    mcp = McpVeneer(CollectionEngine(spark, os.path.join(work_dir, "collections")))
    manage = mcp.vector_collection_management
    name = "bench_serve"
    if tracer is not None:
        tracer.enabled = True
    _call(result, manage, "create_collection", collection_name=name)
    t = time.perf_counter()
    resp = _call(result, manage, "add_documents", collection_name=name, document_contents=base)
    result.notes["ingest_docs_per_s"] = len(base) / (time.perf_counter() - t)
    if resp is not None and resp["documents_added"] != len(set(base)):
        result.mismatches.append(f"add_documents acknowledged {resp['documents_added']}")
    t = time.perf_counter()
    _call(result, manage, "build_search_index", collection_name=name)
    result.notes["index_build_s"] = time.perf_counter() - t
    corpus = oracle.Corpus(base)
    recalls: list[float] = []

    def run_op(op, tr):
        action, question = op
        t = time.perf_counter()
        with tr.span("request", "request") if tr is not None else contextlib.nullcontext():
            resp = _call(result, mcp.vector_search, action, collection_name=name,
                         question=question, number_results=K)
        wall = time.perf_counter() - t
        if tr is not None:
            result.op_rows.append(len(resp["results"]) if resp is not None else 0)
        if resp is not None:
            rows = resp["results"]
            if action == "indexed_search":
                recalls.append(oracle.recall_at_k(corpus, question, K, rows))
            else:
                bad = oracle.check_response(corpus, action, question, K, rows)
                if bad:
                    result.mismatches.append(f"{action} {question!r}: {bad}")
        return action, wall

    # warm-up: the first indexed_search builds the graph serve set, which
    # later requests reuse until the index changes
    run_op(("indexed_search", datagen.VOCAB[1]), None)
    if tracer is not None:
        tracer.enabled = False
    result.setup_s = time.perf_counter() - t0
    stream = request_stream(seed, 4_000)
    rounds = (stream[i:i + 8] for i in range(0, len(stream), 8))
    _timed_rounds(result, seconds, rounds, run_op, tracer)
    if tracer is not None:
        # the write path beside the reads: upsert + append, repair, serve
        tracer.enabled, tracer.request = True, 0
        batch_docs = extra + resent
        resp = _call(result, manage, "add_documents", collection_name=name,
                     document_contents=batch_docs)
        if resp is not None and resp["documents_added"] != len(set(batch_docs)):
            result.mismatches.append(f"add_documents acknowledged {resp['documents_added']}")
        t = time.perf_counter()
        resp = _call(result, manage, "repair_search_index", collection_name=name)
        result.notes["index_repair_s"] = time.perf_counter() - t
        if resp is not None and resp.get("repaired") != len(set(extra)):
            result.mismatches.append(f"repair_search_index repaired {resp.get('repaired')}")
        corpus = oracle.Corpus(base + extra)
        run_op(("indexed_search", datagen.VOCAB[2]), None)
        tracer.enabled = False
    if recalls:
        result.notes["indexed_recall_at_10"] = statistics.fmean(recalls)
        if result.notes["indexed_recall_at_10"] < RECALL_FLOOR:
            result.mismatches.append(
                f"indexed_search recall@{K} {result.notes['indexed_recall_at_10']:.3f} "
                f"below {RECALL_FLOOR}"
            )
    _call(result, manage, "delete_collection", collection_name=name, confirm=True)
    return result


def batch(spark, work_dir: str, seed: int, seconds: float, tracer=None, t0=None) -> Result:
    """Set-up time counts from ``t0`` (the session start) when given."""
    from tools.verify_local import duckdb_connection, verify_entry
    from vector_mcp_spark.suite import SUITE

    result = Result()
    t0 = time.perf_counter() if t0 is None else t0
    # the streaming entry caches its re-written events under a directory
    # named after the last component of sf_dir, so the name is per process
    sf_dir = os.path.join(work_dir, f"sf_perfbench_{os.getpid()}")
    datagen.write_tables(sf_dir, seed, BATCH_SCALE)
    order = [str(n) for n in np.random.default_rng([seed, 2]).permutation(BATCH_SLICE)]
    entries = {name: SUITE[name] for name in order}
    if tracer is not None:
        for entry in entries.values():
            tracer.wrap_entry(entry)
    con = duckdb_connection(sf_dir)
    n_rows: dict[str, int] = {}
    try:
        for name in order:
            result.attempted += 1
            t = time.perf_counter()
            try:
                ok, n_rows[name], detail = verify_entry(spark, con, entries[name], sf_dir)
            except Exception as exc:  # noqa: BLE001 - every raise is one failed operation
                result.record_failure(type(exc).__name__)
                continue
            result.notes[f"check.{name}_s"] = time.perf_counter() - t
            if not ok:
                result.mismatches.append(f"{name}: {detail}")
    finally:
        con.close()
    result.setup_s = time.perf_counter() - t0

    def run_op(name, tr):
        result.attempted += 1
        t = time.perf_counter()
        try:
            if tr is None:
                entries[name].spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            else:
                with tr.span(name, "request"):
                    df = entries[name].spark_fn(spark, sf_dir)
                    with tr.span("exec", "suite"):
                        df.write.format("noop").mode("overwrite").save()
                result.op_rows.append(n_rows.get(name, 0))
        except Exception as exc:  # noqa: BLE001 - every raise is one failed operation
            result.record_failure(type(exc).__name__)
        return name, time.perf_counter() - t

    try:
        _timed_rounds(result, seconds, iter(lambda: order, None), run_op, tracer)
    finally:
        # entries cache re-written inputs under the package's ../.tmp/, keyed
        # by the table directory's name
        import vector_mcp_spark

        tmp = os.path.join(os.path.dirname(vector_mcp_spark.__file__), "..", ".tmp")
        for cache in glob.glob(os.path.join(tmp, f"*_{os.path.basename(sf_dir)}")):
            shutil.rmtree(cache, ignore_errors=True)
    walls: dict[str, list[float]] = {}
    for name, s in result.op_s:
        walls.setdefault(name, []).append(s)
    result.notes["suite_wall_s"] = sum(statistics.median(v) for v in walls.values())
    return result
