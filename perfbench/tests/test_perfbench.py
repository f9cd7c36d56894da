"""Self-test of the benchmark at a tiny size (about 50 documents and two
suite entries). Run from the repository root:

    python -m pytest perfbench/tests -q

It starts one local Spark session and takes a few minutes, most of it the
serve set-up's index build.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from vector_mcp_spark.session import get_spark

    session = get_spark("perfbench_selftest")
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


@pytest.fixture(scope="module")
def tiny(spark, tmp_path_factory):
    """Each workload once untraced and once traced at a tiny size."""
    sizes = {"SERVE_DOCS": 48, "APPEND_DOCS": 4,
             "BATCH_SLICE": ("semantic_topk", "tpch_q1_pricing_summary")}
    saved = {k: getattr(workloads, k) for k in sizes}
    for k, v in sizes.items():
        setattr(workloads, k, v)
    out = {}
    try:
        for name in ("serve", "batch"):
            plain = getattr(workloads, name)(spark, str(tmp_path_factory.mktemp(name)), 7, 0.1)
            tracer = Tracer(spark)
            tracer.install()
            try:
                traced = getattr(workloads, name)(
                    spark, str(tmp_path_factory.mktemp(name + "_traced")), 7, 0.1, tracer)
            finally:
                tracer.uninstall()
            out[name] = (plain, traced, tracer)
    finally:
        for k, v in saved.items():
            setattr(workloads, k, v)
    return out


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_every_metric_is_emitted_with_unit_and_direction(tiny):
    declared = _declared()
    assert {w["name"] for w in declared["workloads"]} == set(tiny)
    e2e = {m["name"]: m for m in declared["end_to_end"]}
    layer = {m["name"]: m for m in declared["per_layer"]}
    assert [(n, u, b) for n, u, b in run.END_TO_END] == [
        (m["name"], m["unit"], m["better"]) for m in declared["end_to_end"]]
    assert run.per_layer_names() == [(m["name"], m["unit"]) for m in declared["per_layer"]]
    for plain, traced, tracer in tiny.values():
        assert not plain.mismatches and not traced.mismatches
        assert plain.failed == 0 and traced.failed == 0
        metrics = run.end_to_end(plain)
        assert set(metrics) == set(e2e) and all(v > 0 for v in metrics.values())
        assert set(run.layer_metrics(tracer, traced)) == set(layer)
    assert all(m["better"] in ("lower", "higher")
               for m in declared["per_layer"] + declared["end_to_end"])


def test_spans_nest_and_self_times_are_not_negative(tiny):
    for _, traced, tracer in tiny.values():
        assert tracer.spans
        layers = {s.layer for s in tracer.spans}
        assert "request" in layers and "read" in layers
        for span in tracer.spans:
            assert span.end >= span.start
            assert tracer.self_time(span) >= -1e-9
            if span.parent is not None:
                parent = tracer.spans[span.parent]
                assert parent.start <= span.start and span.end <= parent.end
                assert parent.request == span.request
                assert parent.job_lo <= span.job_lo and span.job_hi <= parent.job_hi
    serve_layers = {s.layer for s in tiny["serve"][2].spans}
    assert {"mcp", "api", "engine", "operators", "embedder"} <= serve_layers
    assert "suite" in {s.layer for s in tiny["batch"][2].spans}


def test_corrupted_responses_fail_the_check():
    corpus = oracle.Corpus(datagen.document_texts(np.random.default_rng(3), 50))
    question, k = "spark join", 10

    def rows(action):
        if action == "semantic_search":
            return [{"rank": r, "id": d, "score": s}
                    for r, (d, s) in enumerate(oracle.semantic_topk(corpus, question, k), 1)]
        if action == "lexical_search":
            return [{"id": d, "score": s} for d, s in oracle.lexical_topk(corpus, question, k)]
        return [{"id": d, "score": s} for d, s in oracle.hybrid_fused(corpus, question, k)[:k]]

    for action in ("semantic_search", "lexical_search", "search"):
        good = rows(action)
        assert oracle.check_response(corpus, action, question, k, good) is None
        assert oracle.check_response(corpus, action, question, k, good[:-1])  # dropped id
        wrong = [dict(r) for r in good]
        scores = dict(zip(corpus.ids, oracle.lexical_scores(corpus, question)))
        wrong[0]["id"] = next(i for i in corpus.ids if i not in {r["id"] for r in good}
                              and scores[i] != good[0]["score"])
        assert oracle.check_response(corpus, action, question, k, wrong)  # foreign id
    swapped = rows("semantic_search")
    swapped[0]["rank"], swapped[-1]["rank"] = swapped[-1]["rank"], swapped[0]["rank"]
    assert oracle.check_response(corpus, "semantic_search", question, k, swapped)
    hybrid = rows("search")
    hybrid[0], hybrid[-1] = hybrid[-1], hybrid[0]
    assert oracle.check_response(corpus, "search", question, k, hybrid)


def test_same_seed_same_inputs(tmp_path):
    assert workloads.request_stream(11, 64) == workloads.request_stream(11, 64)
    assert workloads.request_stream(11, 64) != workloads.request_stream(12, 64)
    stream = workloads.request_stream(11, 64)
    assert sum(1 for a, q in stream if q.split()[0] in datagen.OOV) == 64 // 8
    rng = np.random.default_rng
    assert datagen.document_texts(rng(5), 40) == datagen.document_texts(rng(5), 40)
    datagen.write_tables(str(tmp_path / "a"), 5, 0.05)
    datagen.write_tables(str(tmp_path / "b"), 5, 0.05)
    for name in os.listdir(tmp_path / "a"):
        assert pq.read_table(tmp_path / "a" / name).equals(pq.read_table(tmp_path / "b" / name))
