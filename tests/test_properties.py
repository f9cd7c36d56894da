"""Property-based invariants (hypothesis) for the engine's core math.

Spark jobs are expensive per example, so each property either checks a
driver-side twin (pure Python) against the Column implementation on one
batched DataFrame, or caps examples low. Deadlines are disabled — Spark
first-job latency would trip them spuriously.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from vector_mcp_spark.functions.text import tokenize_py, tokens
from vector_mcp_spark.functions.vector import (
    cosine_similarity,
    cosine_similarity_lit,
    dot,
    dot_lit,
)

SLOW = settings(
    max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)

texts = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF), max_size=80
)
vectors = st.lists(
    st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
    min_size=2,
    max_size=8,
)


@SLOW
@given(st.lists(texts, min_size=1, max_size=8))
def test_tokenizer_column_matches_python(spark, strings):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)], "i int, s string")
    got = {r.i: list(r.t) for r in df.select("i", tokens(F.col("s")).alias("t")).collect()}
    for i, s in enumerate(strings):
        assert got[i] == tokenize_py(s)


@SLOW
@given(st.lists(st.tuples(vectors, vectors), min_size=1, max_size=6))
def test_cosine_column_matches_python(spark, pairs):
    pairs = [(a, b[: len(a)] + [0.0] * max(0, len(a) - len(b))) for a, b in pairs]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i int, a array<float>, b array<float>",
    )
    got = {
        r.i: (r.d, r.c)
        for r in df.select(
            "i",
            dot("a", "b").alias("d"),
            cosine_similarity("a", "b").alias("c"),
        ).collect()
    }
    import numpy as np

    for i, (a, b) in enumerate(pairs):
        a32 = np.array(a, dtype=np.float32).astype(float)
        b32 = np.array(b, dtype=np.float32).astype(float)
        exp_d = float(sum(x * y for x, y in zip(a32, b32)))
        assert got[i][0] == pytest.approx(exp_d, rel=1e-9, abs=1e-9)
        na, nb = math.sqrt(sum(x * x for x in a32)), math.sqrt(sum(y * y for y in b32))
        if na > 0 and nb > 0:
            assert got[i][1] == pytest.approx(exp_d / (na * nb), rel=1e-6, abs=1e-9)


@SLOW
@given(vectors)
def test_dot_lit_bit_equals_hof_dot(spark, vec):
    """The codegen'd literal expansion must be bit-identical to the HOF fold
    (same summation order) — this is what keeps oracle hashes stable no
    matter which form an operator picks."""
    df = spark.createDataFrame([(vec,)], "v array<float>")
    row = df.select(
        dot(F.col("v"), F.array(*[F.lit(float(x)) for x in vec])).alias("hof"),
        dot_lit(F.col("v"), vec).alias("lit"),
        cosine_similarity(F.col("v"), F.array(*[F.lit(float(x)) for x in vec])).alias("chof"),
        cosine_similarity_lit(F.col("v"), vec).alias("clit"),
    ).first()
    assert row.hof == row.lit  # bit-equal, not approx
    if row.chof is not None and not math.isnan(row.chof):
        assert row.chof == row.clit


def _round6(x: float) -> float:
    """Spark's round(): HALF_UP on the shortest decimal repr — DuckDB ROUND
    behaves identically (verified: ROUND(0.3/64, 6) = 0.004688 in both,
    where Python's banker's round gives 0.004687). Python round() is the
    outlier, so the reference twin must not use it."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _rrf_reference(legs, weights, rrf_k, n):
    """Driver-side twin of vector_api.py:556-565 RRF accumulation."""
    scores: dict[str, float] = {}
    for leg, w in zip(legs, weights):
        for rank, doc in enumerate(leg, start=1):
            scores[doc] = scores.get(doc, 0.0) + w / (rrf_k + rank)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:n]


@SLOW
@given(
    st.lists(st.integers(0, 20), min_size=1, max_size=10, unique=True),
    st.lists(st.integers(0, 20), min_size=1, max_size=10, unique=True),
    st.integers(1, 100),
)
def test_rrf_fusion_matches_reference_formula(spark, leg1, leg2, rrf_k):
    from vector_mcp_spark.operators.hybrid import rrf_fuse

    mk = lambda ids: spark.createDataFrame(
        [(str(d), float(100 - i)) for i, d in enumerate(ids)], "id string, score double"
    )
    got = rrf_fuse([(mk(leg1), 0.7), (mk(leg2), 0.3)], n=5, rrf_k=rrf_k, id_col="id").collect()
    exp = _rrf_reference([[str(d) for d in leg1], [str(d) for d in leg2]], [0.7, 0.3], rrf_k, 5)
    assert [(r.id, r.score) for r in got] == [(d, _round6(s)) for d, s in exp]


@SLOW
@given(
    st.lists(st.text(alphabet="ab ", max_size=30), min_size=2, max_size=6),
    st.floats(min_value=0.1, max_value=1.0),
)
def test_jaccard_hashed_equals_plain(spark, docs, threshold):
    """Hashed-long-token Jaccard (the verify hot path) must equal Jaccard on
    the raw tokens for any corpus and threshold."""
    from vector_mcp_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame([(i, s) for i, s in enumerate(docs)], "id int, content string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, threshold, id_col="id").collect()
    }
    toksets = {i: set(tokenize_py(s)) for i, s in enumerate(docs)}
    for a in toksets:
        for b in toksets:
            if a >= b:
                continue
            inter = len(toksets[a] & toksets[b])
            union = len(toksets[a] | toksets[b])
            j = _round6(inter / union) if union else None
            if j is not None and j >= threshold:
                assert got.get((a, b)) == j
            else:
                assert (a, b) not in got


@SLOW
@given(st.lists(texts, min_size=1, max_size=8))
def test_sanitize_column_matches_python_twin(spark, strings):
    """The sanitize Column chain and the driver-side twin must agree on any
    input — query-text sanitization (py) and content sanitization (Column)
    claim identical behavior, and the DuckDB oracle replays the same chain."""
    from vector_mcp_spark.sanitize import sanitize_text_col, sanitize_text_py

    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)], "i int, s string")
    got = {r.i: r.c for r in df.select("i", sanitize_text_col(F.col("s")).alias("c")).collect()}
    for i, s in enumerate(strings):
        assert got[i] == sanitize_text_py(s), repr(s)


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=30)),
        max_size=20,
    )
)
def test_clusters_match_union_find(spark, edges):
    """near_dup_clusters agrees with a reference union-find on arbitrary
    small graphs (nodes = all endpoints plus isolates 0..4)."""
    from vector_mcp_spark.operators.dedup import near_dup_clusters

    edges = [(a, b) for a, b in edges if a != b]
    node_set = sorted({n for e in edges for n in e} | set(range(5)))

    parent = {n: n for n in node_set}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {n: find(n) for n in node_set}

    pairs_df = spark.createDataFrame(edges or [(0, 0)], "id_a long, id_b long")
    if not edges:
        pairs_df = pairs_df.limit(0)
    nodes_df = spark.createDataFrame([(n,) for n in node_set], "id long")
    got = {r.id: r.cluster_id for r in near_dup_clusters(pairs_df, nodes_df).collect()}
    assert got == expect


# -- round-4 training-pipeline operators --------------------------------------


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=10**6), st.integers(min_value=0, max_value=500)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=300),
)
def test_packing_conserves_tokens_and_offsets(spark, docs, budget):
    """Token mass is conserved: within each writer the final doc's start +
    its tokens equals the writer's total token count (no gaps, no overlap)."""
    from vector_mcp_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(docs, "doc_id long, n_tokens int")
    asg = {r.doc_id: r for r in pack_sequences(df, budget, n_writers=3).join(df, "doc_id").collect()}
    per_writer: dict[int, list] = {}
    for doc_id in sorted(asg):
        r = asg[doc_id]
        per_writer.setdefault(r.writer, []).append(r)
    for rows in per_writer.values():
        pos = 0
        for r in rows:
            assert r.seq_id * budget + r.seq_offset == pos
            assert 0 <= r.seq_offset < budget
            pos += r.n_tokens


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=10**6), st.integers(min_value=0, max_value=4)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
def test_kmv_merge_lossless_on_random_partitions(spark, rows):
    """kmv_merge over ANY partitioning equals the direct sketch."""
    from vector_mcp_spark.operators.sketches import kmv_merge, kmv_sketch

    df = spark.createDataFrame([(v, p) for v, p in rows], "v long, part int")
    direct = kmv_sketch(df.withColumn("g", F.lit("all")), ["g"], "v", k=8)
    merged = kmv_merge(
        kmv_sketch(df.withColumn("g", F.lit("all")), ["g", "part"], "v", k=8), ["g"], k=8
    )
    assert direct.first().ks == merged.first().ks


@SLOW
@given(
    st.lists(
        st.lists(st.floats(min_value=-100, max_value=100, allow_nan=False, width=32), min_size=3, max_size=3),
        min_size=1,
        max_size=20,
    )
)
def test_quantize_int8_invariants(spark, vecs):
    """q stays in [-127, 127]; reconstruction error per element ≤ scale/2."""
    from vector_mcp_spark.operators.quantize import quantize_int8

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id int, embedding array<float>"
    )
    for r in quantize_int8(df).collect():
        assert all(-127 <= q <= 127 for q in r.q)
        for x, q in zip(r.embedding, r.q):
            assert abs(x - q * r.scale) <= r.scale / 2 + 1e-9


@given(
    sa=st.sets(st.integers(min_value=0, max_value=10_000), min_size=0, max_size=40),
    sb=st.sets(st.integers(min_value=0, max_value=10_000), min_size=0, max_size=40),
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_kmv_set_estimates_exact_below_k(spark, sa, sb):
    """With |A ∪ B| < k every hash is retained, so the union and
    intersection 'estimates' must equal the true set cardinalities."""
    from vector_mcp_spark.operators.sketches import kmv_set_estimates, kmv_sketch

    k = 128
    rows = [("a", v) for v in sa] + [("b", v) for v in sb]
    if not rows:
        return
    df = spark.createDataFrame(rows, "grp string, v long")
    sk = kmv_sketch(df, ["grp"], "v", k=k)
    got = {r.grp: r.ks for r in sk.collect()}
    pairs = spark.createDataFrame(
        [("a", "b", got.get("a", []), got.get("b", []))],
        "type_a string, type_b string, ks_a array<long>, ks_b array<long>",
    )
    row = kmv_set_estimates(pairs, k=k).collect()[0]
    assert row.est_union == len(sa | sb)
    assert row.est_intersect == len(sa & sb)


@given(
    vals=st.lists(st.integers(min_value=0, max_value=100_000), min_size=1, max_size=300),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_kmv_presalt_sketch_bit_identical(spark, vals):
    """The two-phase (pre-salted) sketch must equal the single-phase sketch
    exactly — the lossless-merge property that lets heavy groups scale."""
    from vector_mcp_spark.operators.sketches import kmv_sketch

    df = spark.createDataFrame([("g", v) for v in vals], "grp string, v long")
    plain = kmv_sketch(df, ["grp"], "v", k=32).collect()[0].ks
    salted = kmv_sketch(df, ["grp"], "v", k=32, presalt=8).collect()[0].ks
    assert salted == plain


def test_cms_never_undercounts_and_bounds_error(spark):
    """The count-min guarantee: est ≥ exact for EVERY key, and the
    overcount is bounded by the collision mass (here: generous 2N/width)."""
    from pyspark.sql import functions as F

    from vector_mcp_spark.operators.sketches import cms_build, cms_estimate
    from vector_mcp_spark.suite import load

    ev = load(spark, "/root/testdata/sf0.001", "events")
    n = ev.count()
    width = 256
    sk = cms_build(ev, "user_id", depth=4, width=width)
    keys = ev.select("user_id").distinct()
    est = cms_estimate(sk, keys, "user_id", depth=4, width=width)
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact"))
    joined = est.join(exact, "user_id").collect()
    assert joined
    for r in joined:
        assert r.est_count >= r.exact
        assert r.est_count - r.exact <= 2 * n / width


def test_kmv_estimate_error_tolerance(spark):
    """Beyond-k regime: KMV's distinct estimate lands within the expected
    ~1/sqrt(k) band on real data (k=64 → assert a generous ±40%)."""
    from pyspark.sql import functions as F

    from vector_mcp_spark.operators.sketches import kmv_distinct
    from vector_mcp_spark.suite import load

    ev = load(spark, "/root/testdata/sf0.01", "events")
    est = {r.event_type: r.est_distinct for r in kmv_distinct(ev, ["event_type"], "user_id", k=64).collect()}
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    for t, e in exact.items():
        assert abs(est[t] - e) / e <= 0.4, (t, est[t], e)


def sign_pack_py(vec) -> tuple[int, int]:
    """Plain-Python reference for ``sign_pack``: (lo, hi) bit halves of the
    first 64 dimensions, where a dimension past ``len(vec)`` reads as 0
    (element_at returns NULL → bit unset) and dimensions beyond 64 are
    ignored."""
    n = len(vec)
    lo = sum(1 << i for i in range(32) if i < n and vec[i] > 0)
    hi = sum(1 << i for i in range(32) if 32 + i < n and vec[32 + i] > 0)
    return lo, hi


@given(
    vec=st.lists(
        st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
        min_size=64, max_size=64,
    )
)
@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@pytest.mark.slow
def test_sign_pack_column_matches_python(spark, vec):
    """The packed sign bits computed by the Column expression equal the
    plain-Python reference for arbitrary vectors (zeros pack as 0-bits on
    both)."""
    from vector_mcp_spark.operators.quantize import sign_pack

    row = spark.createDataFrame([(0, vec)], "vec_id long, embedding array<double>")
    got = sign_pack(row).collect()[0]
    lo, hi = sign_pack_py(vec)
    assert (got.lo, got.hi) == (lo, hi)


@pytest.mark.parametrize("dim", [0, 1, 31, 32, 33, 63, 64, 96])
def test_sign_pack_py_matches_column_for_any_dimension(spark, dim):
    """The column packs any dimension as the reference does: short vectors
    zero-pad (element_at's NULL→0) and dims past 64 are ignored."""
    from vector_mcp_spark.operators.quantize import sign_pack

    vec = [1.0 if i % 3 else -1.0 for i in range(dim)]
    lo, hi = sign_pack_py(vec)  # must not raise
    row = spark.createDataFrame([(0, vec)], "vec_id long, embedding array<double>")
    got = sign_pack(row).collect()[0]
    assert (got.lo, got.hi) == (lo, hi)


@given(
    obs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),          # key
            st.sampled_from(["a", "b", "c"]),               # state
            st.integers(min_value=0, max_value=10_000),     # minute offset
        ),
        min_size=1, max_size=25, unique=True,
    )
)
@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@pytest.mark.slow
def test_scd2_intervals_tile_and_cover(spark, obs):
    """For any observation set: per key, intervals are disjoint, ordered,
    tile exactly (each valid_to = next valid_from), exactly one open
    current interval, and the first interval starts at the key's earliest
    observation."""
    from datetime import datetime, timedelta

    from vector_mcp_spark.operators.cdc import scd2_intervals

    base = datetime(2026, 1, 1)
    rows = [(k, s, base + timedelta(minutes=m)) for k, s, m in obs]
    df = spark.createDataFrame(rows, "k long, s string, ts timestamp")
    out = scd2_intervals(df, "k", "s")
    by_key = {}
    for r in out.collect():
        by_key.setdefault(r.key, []).append(r)
    keys_seen = {k for k, _, _ in obs}
    assert set(by_key) == keys_seen
    for k, ivs in by_key.items():
        ivs.sort(key=lambda r: r.valid_from)
        assert sum(1 for r in ivs if r.is_current) == 1 and ivs[-1].is_current
        assert all(a.valid_to == b.valid_from for a, b in zip(ivs, ivs[1:]))
        first_ts = min(ts for kk, _, ts in rows if kk == k)
        assert ivs[0].valid_from == first_ts
        # consecutive intervals never share a state (runs are maximal)
        assert all(a.state != b.state for a, b in zip(ivs, ivs[1:]))


@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3600),  # second offset
            st.floats(min_value=-100, max_value=100, allow_nan=False),
        ),
        min_size=2, max_size=20,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@pytest.mark.slow
def test_twap_bounded_by_value_range(spark, vals):
    """TWAP of any series lies within [min(value), max(value)] of the
    observations that carry nonzero duration, and the span equals
    max(ts) − min(ts)."""
    from datetime import datetime, timedelta

    from vector_mcp_spark.operators.temporal import time_weighted_average

    base = datetime(2026, 1, 1)
    rows = [(1, base + timedelta(seconds=s), v) for s, v in vals]
    df = spark.createDataFrame(rows, "k long, ts timestamp, value double")
    r = time_weighted_average(df, ["k"]).collect()[0]
    secs = sorted(s for s, _ in vals)
    assert r.span_seconds == float(secs[-1] - secs[0])
    lo, hi = min(v for _, v in vals), max(v for _, v in vals)
    assert lo - 1e-9 <= r.twap <= hi + 1e-9


def test_snapshot_diff_identity_and_symmetry(spark):
    """diff(x, x) is all-unchanged; swapping sides swaps inserted/deleted
    and preserves changed."""
    from vector_mcp_spark.operators.cdc import snapshot_diff

    a = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, "z", 3.0)], "id long, s string, v double"
    )
    b = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 9.0), (4, "w", 4.0)], "id long, s string, v double"
    )
    assert {r.change for r in snapshot_diff(a, a).collect()} == {"unchanged"}
    fwd = {r.id: r.change for r in snapshot_diff(a, b).collect()}
    rev = {r.id: r.change for r in snapshot_diff(b, a).collect()}
    flip = {"inserted": "deleted", "deleted": "inserted"}
    assert rev == {i: flip.get(c, c) for i, c in fwd.items()}


def test_tdigest_quantile_accuracy_and_merge_weight(spark):
    """t-digest contract: (a) digest weights sum to n per group; (b) the
    p50/p90 estimates read off the digest (first centroid whose cumulative
    weight covers p·n) land within the centroid-resolution tolerance of the
    exact quantiles; (c) merging per-group digests preserves total weight
    and global quantile accuracy — the mergeability that makes it a rollup
    sketch."""
    import numpy as np

    from vector_mcp_spark.operators.sketches import tdigest_build, tdigest_merge

    rng = [
        (("a" if i % 2 == 0 else "b"), float(np.sin(i) * 50.0 + i % 97))
        for i in range(4000)
    ]
    df = spark.createDataFrame(rng, "g string, v double")
    per = tdigest_build(df, "v", ["g"], delta=32)
    rows = per.collect()
    by_g = {}
    for r in rows:
        by_g.setdefault(r.g, []).append(r)
    vals = {"a": sorted(v for g, v in rng if g == "a"),
            "b": sorted(v for g, v in rng if g == "b")}
    for g, cents in by_g.items():
        assert sum(r.cnt for r in cents) == len(vals[g])
        assert len(cents) <= 33
        cents = sorted(cents, key=lambda r: r.mean_r)
        for p in (0.5, 0.9):
            cum, est = 0, None
            for r in cents:
                cum += r.cnt
                if cum >= p * len(vals[g]):
                    est = r.mean_r
                    break
            exact = vals[g][int(p * (len(vals[g]) - 1))]
            spread = vals[g][-1] - vals[g][0]
            assert abs(est - exact) <= 0.08 * spread, (g, p, est, exact)

    merged = tdigest_merge(per.select("centroid", "cnt", "mean_r"), delta=32).collect()
    assert sum(r.cnt for r in merged) == 4000
    assert len(merged) <= 33
    allv = sorted(v for _, v in rng)
    cents = sorted(merged, key=lambda r: r.mean_r)
    cum, est = 0, None
    for r in cents:
        cum += r.cnt
        if cum >= 0.5 * 4000:
            est = r.mean_r
            break
    assert abs(est - allv[2000]) <= 0.08 * (allv[-1] - allv[0])


@SLOW
@given(st.lists(st.tuples(vectors, vectors), min_size=1, max_size=6))
def test_l2_distance_column_matches_python(spark, pairs):
    """HOF l2_distance == the pure-Python Euclidean distance (within fp
    tolerance of the expansion form), and the expansion's guard never
    yields NaN — identical vectors give exactly 0 via greatest(0, .)."""
    from vector_mcp_spark.functions.vector import l2_distance

    pairs = [(a, b[: len(a)] + [0.0] * (len(a) - len(b))) for a, b in pairs]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i int, a array<double>, b array<double>",
    )
    got = {r.i: r.d for r in df.select("i", l2_distance("a", "b").alias("d")).collect()}
    for i, (a, b) in enumerate(pairs):
        want = math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))
        scale = max(want, math.sqrt(sum(x * x for x in a)), 1.0)
        assert got[i] == pytest.approx(want, abs=1e-6 * scale)
        assert not math.isnan(got[i])


@SLOW
@given(vectors)
def test_l2_distance_lit_identity_is_zero(spark, vec):
    """d(v, v) == 0.0 exactly under the guarded expansion (the raw
    expansion can go epsilon-negative; greatest(0, .) pins it)."""
    from vector_mcp_spark.functions.vector import l2_distance_lit

    df = spark.createDataFrame([(vec,)], "v array<double>")
    got = df.select(l2_distance_lit("v", vec).alias("d")).first().d
    assert got == 0.0


@SLOW
@given(st.lists(vectors, min_size=3, max_size=8), st.integers(min_value=1, max_value=3))
def test_semantic_topk_l2_matches_brute_force(spark, vecs, k):
    """Operator-level L2 ranking equals the Python brute force for random
    frames, ties broken by id ascending."""
    from vector_mcp_spark.operators.semantic import semantic_topk

    dim = len(vecs[0])
    vecs = [v[:dim] + [0.0] * (dim - len(v)) for v in vecs]
    q = vecs[0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id int, embedding array<float>"
    )
    got = semantic_topk(df, q, k, id_col="id", metric="l2").collect()
    f32 = [[float(__import__("struct").unpack("f", __import__("struct").pack("f", x))[0]) for x in v] for v in vecs]
    want = sorted(
        ((math.sqrt(sum((x - y) ** 2 for x, y in zip(v, q))), i) for i, v in enumerate(f32)),
        key=lambda t: (t[0], t[1]),
    )[:k]
    assert [r.id for r in got] == [i for _, i in want]


# ---------------------------------------------------------------------------
# r13 optimization: the SQL-string fast path of the _lit/_fixed expression
# builders must produce the EXACT tree the py4j loop builders produce —
# analyzed plans equal modulo expression ids, so results are bit-identical.
# ---------------------------------------------------------------------------


def _loop_dot_lit(col, vec):
    acc = None
    for i, x in enumerate(vec):
        t = col[i].cast("double") * float(x)
        acc = t if acc is None else acc + t
    return acc


def _loop_sq(col, dim):
    acc = None
    for i in range(dim):
        x = col[i].cast("double")
        t = x * x
        acc = t if acc is None else acc + t
    return acc


def test_sql_fast_builders_match_loop_trees(spark):
    import re

    from vector_mcp_spark.functions.vector import (
        l2_distance_lit,
        l2_norm_fixed,
        sq_norm_fixed,
        sq_norm_py,
    )

    df = spark.createDataFrame(
        [(1, [0.5, -1.25, 3.0, 1e-05], [2.0, 0.1, -0.0, 7.5])],
        "id long, embedding array<float>, qv array<float>",
    )
    vec = [0.1, -2.5, 1e-05, 3.0]
    c = F.col("embedding")
    inner_old = (
        _loop_sq(c, 4) + F.lit(sq_norm_py(vec)) - F.lit(2.0) * _loop_dot_lit(c, vec)
    )
    pairs = {
        "dot_lit": (_loop_dot_lit(c, vec), dot_lit("embedding", vec)),
        "sq_norm_fixed": (_loop_sq(c, 4), sq_norm_fixed("embedding", 4)),
        "l2_norm_fixed": (F.sqrt(_loop_sq(c, 4)), l2_norm_fixed("embedding", 4)),
        "cosine_lit": (
            F.try_divide(
                _loop_dot_lit(c, vec),
                F.sqrt(_loop_sq(c, 4)) * F.lit(math.sqrt(sq_norm_py(vec))),
            ),
            cosine_similarity_lit("embedding", vec),
        ),
        "l2_distance_lit": (
            F.sqrt(F.when(inner_old < F.lit(0.0), F.lit(0.0)).otherwise(inner_old)),
            l2_distance_lit("embedding", vec),
        ),
    }
    strip = lambda s: re.sub(r"#\d+", "#", s)  # noqa: E731
    for name, (old, new) in pairs.items():
        oa = strip(df.select(old.alias("s"))._jdf.queryExecution().analyzed().toString())
        na = strip(df.select(new.alias("s"))._jdf.queryExecution().analyzed().toString())
        assert oa == na, f"{name}: fast-path tree diverged from the loop tree"


def test_sql_fast_builders_column_input_and_fallback(spark):
    from vector_mcp_spark.functions.vector import _ref_sql

    # plain Column references take the fast path; derived expressions fall back
    assert _ref_sql(F.col("embedding")) == "embedding"
    assert _ref_sql("qv") == "qv"
    assert _ref_sql(F.col("embedding")[0]) is None
    assert _ref_sql(F.lit(1.0)) is None
    # fallback still computes: a derived column operand
    df = spark.createDataFrame([(1, [1.0, 2.0])], "id long, v array<float>")
    got = df.select(
        dot_lit(F.transform("v", lambda x: x * 2), [1.0, 1.0]).alias("s")
    ).first()
    assert got.s == pytest.approx(6.0)
