"""Benchmark of the engine's serve path, write path and a suite slice.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics with no instrumentation; ``--trace 1`` wraps each layer's public
functions (see ``tracing.py``), runs every timed operation once untraced and
once traced, and reports per-layer metrics and the tracing overhead. The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it give every
figure by name with its unit. ``correct`` is false, and the exit code 1,
when an output check failed or an operation failed; the exit code is 2 when
the program cannot be imported.

Inputs come from ``--seed`` only. Everything the run writes (collections,
tables, Spark temporary files, spans) goes under ``.perfbench_tmp/`` and
``.perfbench_out/`` in the checkout; the first is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from tracing import FUNCTIONS, METHODS, Tracer  # noqa: E402 - needs the path above

#: (name, unit, better) of every end-to-end metric, in BENCHMARK.json order
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("p50_geomean_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
)
ENGINE_WRITES = ("add_documents", "build_search_index", "repair_search_index")
ENGINE_READS = tuple(m for _, _, m in METHODS["engine"] if m not in ENGINE_WRITES)
OPERATORS = tuple(f for _, f in FUNCTIONS["operators"])
INDEX_OPERATORS = ("hnsw_build", "hnsw_repair", "ivf_build", "pq_build", "build_postings")
SPARK = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in BENCHMARK.json order.
    Timed-phase figures are per timed operation; ``write.*`` figures are
    totals for the run's write path (set-up, and the traced serve run's
    append and repair after the timed phase)."""
    names = [("mcp.calls", "count"), ("mcp.self_s", "s"), ("api.calls", "count"),
             ("api.build_s", "s"), ("embedder.hash_embed_calls", "count"),
             ("embedder.hash_embed_s", "s"), ("embedder.embed_documents_calls", "count")]
    for m in ENGINE_READS:
        names += [(f"engine.{m}_s", "s"), (f"engine.{m}_calls", "count")]
    for f in OPERATORS:
        names += [(f"operators.{f}_s", "s"), (f"operators.{f}_calls", "count")]
    names.append(("operators.serve_set_hit_ratio", "ratio"))
    for m in ENGINE_WRITES:
        names += [(f"write.{m}_s", "s"), (f"write.{m}_jobs", "count")]
    names += [(f"write.{f}_s", "s") for f in INDEX_OPERATORS]
    names += [("suite.builder_s", "s"), ("suite.builder_jobs", "count"),
              ("suite.exec_s", "s"), ("suite.exec_jobs", "count"),
              ("read.parquet_calls", "count"), ("read.parquet_s", "s"),
              ("read.parquet_jobs", "count")]
    names += [("spark.collect_calls", "count"), ("spark.collect_s", "s")]
    names += [(f"spark.{c}", "bytes" if "bytes" in c else "count") for c in SPARK]
    names += [("spark.input_rows_per_result", "ratio"), ("trace.overhead_s", "s"),
              ("trace.ops", "count")]
    return names


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) at the highest percentile with at least ten
    samples beyond it, or ``None`` with fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None
    rank = n - 10  # 1-based rank of the sample with exactly ten above it
    return 100.0 * rank / n, sorted(values)[rank - 1]


def end_to_end(result) -> dict[str, float]:
    """The bounded metrics. ``p50_geomean_s`` is the geometric mean over
    operation kinds (tools, or suite entries) of each kind's median, so
    every kind weighs the same and every sample counts."""
    medians = [statistics.median(v) for v in _by_label(result).values()]
    return {
        "setup_s": result.setup_s,
        "p50_geomean_s": statistics.geometric_mean(medians),
        "ops_per_s": len(result.op_s) / result.timed_wall_s,
    }


def _by_label(result) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for label, s in result.op_s:
        out.setdefault(label, []).append(s)
    return out


def layer_metrics(tracer, result) -> dict[str, float]:
    spans = tracer.spans
    n = max(1, len(result.op_spans))
    timed = [spans[i] for lo, hi in result.op_spans for i in range(lo, hi)]
    untimed = [s for s in spans if s.request == 0]
    out: dict[str, float] = {name: 0.0 for name, _ in per_layer_names()}

    def top(pool, layer):
        """Spans of ``layer`` not nested in another span of the same layer."""
        return [s for s in pool if s.layer == layer
                and (s.parent is None or spans[s.parent].layer != layer)]

    mcp = top(timed, "mcp")
    out["mcp.calls"] = len(mcp) / n
    out["mcp.self_s"] = sum(tracer.self_time(s) for s in mcp) / n
    api = top(timed, "api")
    out["api.calls"] = len(api) / n
    out["api.build_s"] = sum(s.duration for s in api) / n
    for s in timed:
        if s.layer == "embedder":
            out[f"embedder.{s.name}_calls"] += 1 / n
            if s.name == "hash_embed":
                out["embedder.hash_embed_s"] += s.duration / n
        elif s.layer in ("engine", "operators") and f"{s.layer}.{s.name}_s" in out:
            out[f"{s.layer}.{s.name}_s"] += s.duration / n
            out[f"{s.layer}.{s.name}_calls"] += 1 / n
    graph = [s for s in timed if s.name == "indexed_graph_search"]
    if graph:
        hits = sum(1 for s in graph
                   if not any(spans[c].name == "hnsw_serve_set" for c in _descendants(spans, s)))
        out["operators.serve_set_hit_ratio"] = hits / len(graph)
    for s in untimed:
        if s.layer == "engine" and s.name in ENGINE_WRITES:
            out[f"write.{s.name}_s"] += s.duration
            out[f"write.{s.name}_jobs"] += s.job_hi - s.job_lo
        elif s.layer == "operators" and s.name in INDEX_OPERATORS:
            out[f"write.{s.name}_s"] += s.duration
    for s in timed:
        if s.layer == "suite" and s.name in ("builder", "exec"):
            out[f"suite.{s.name}_s"] += s.duration / n
            out[f"suite.{s.name}_jobs"] += (s.job_hi - s.job_lo) / n
    reads = top(timed, "read")
    out["read.parquet_calls"] = len(reads) / n
    out["read.parquet_s"] = sum(s.duration for s in reads) / n
    out["read.parquet_jobs"] = sum(s.job_hi - s.job_lo for s in reads) / n
    collects = top(timed, "spark")
    out["spark.collect_calls"] = len(collects) / n
    out["spark.collect_s"] = sum(s.duration for s in collects) / n
    for c in SPARK:
        out[f"spark.{c}"] = sum(oc[c] for oc in result.op_counters) / n
    rows = sum(result.op_rows)
    out["spark.input_rows_per_result"] = (
        sum(oc["input_rows"] for oc in result.op_counters) / rows if rows else 0.0
    )
    if result.paired:
        out["trace.overhead_s"] = statistics.fmean(
            traced - untraced for (_, traced), untraced in zip(result.op_s, result.paired))
    out["trace.ops"] = float(len(result.op_spans))
    return out


def _descendants(spans, span):
    todo = list(span.children)
    while todo:
        c = todo.pop()
        yield c
        todo.extend(spans[c].children)


def _environment(work_dir: str) -> None:
    """Spark at local[<cpus>], with every temporary file inside ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("serve", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    try:
        import vector_mcp_spark  # noqa: F401 - the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import workloads

    work_dir = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _environment(work_dir)
    spark = None
    try:
        from vector_mcp_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
        run = getattr(workloads, args.workload)
        result = run(spark, work_dir, args.seed, args.seconds, tracer, t_start)
        if tracer is not None:
            tracer.uninstall()
            metrics = layer_metrics(tracer, result)
            units = dict(per_layer_names())
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        else:
            metrics = end_to_end(result)
            units = {name: unit for name, unit, _ in END_TO_END}
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    report(args, result, metrics, units)
    correct = not result.mismatches and not result.failed
    print(json.dumps({
        "correct": correct,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def report(args, result, metrics, units) -> None:
    """Every figure by name, with its unit, before the JSON line."""
    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    better = {name: b for name, _, b in END_TO_END}
    for name, value in metrics.items():
        print(f"{name:40s} {value:14.6f} {units[name]:6s} {better.get(name, '')}")
    by_label = _by_label(result)
    walls = [s for _, s in result.op_s]
    t = tail(walls)
    print(f"{'op_tail_s':40s} " + (f"{t[1]:14.6f} s      p{t[0]:.0f} of {len(walls)} ops"
                                   if t else f"{'n/a':>14s} s      only {len(walls)} ops"))
    print("op_walls_s " + " ".join(f"{label}={s:.3f}" for label, s in result.op_s))
    for label, values in sorted(by_label.items()):
        print(f"{label + '_p50_s':40s} {statistics.median(values):14.6f} s      n={len(values)}")
    for key, value in sorted(result.notes.items()):
        print(f"{key:40s} {value:14.6f}")
    print(f"{'fail_ratio':40s} {result.failed / max(1, result.attempted):14.6f} ratio  "
          f"{result.failed}/{result.attempted} {dict(result.errors)}")
    for line in result.mismatches[:20]:
        print(f"MISMATCH {line}")


if __name__ == "__main__":
    raise SystemExit(main())
