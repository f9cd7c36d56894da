"""Sequence packing, int8 quantization, and decontamination operators."""

import pytest

from pyspark.sql import functions as F


# -- pack_sequences -----------------------------------------------------------


def test_pack_sequences_matches_concat_then_chunk(spark):
    """Per-writer assignments must equal a driver-side replay of the
    concat-then-chunk semantics."""
    from vector_mcp_spark.operators.packing import pack_sequences

    rows = [(i, 1 + (i * 7) % 90) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id int, n_tokens int")
    got = {
        r.doc_id: (r.writer, r.seq_id, r.seq_offset)
        for r in pack_sequences(df, budget=100, n_writers=4).collect()
    }

    import hashlib

    def writer(doc_id):
        h = int(hashlib.sha256(str(doc_id).encode()).hexdigest()[:15], 16)
        return h % 4

    streams: dict[int, int] = {}
    for doc_id, n_tokens in rows:  # rows are already in doc_id order
        w = writer(doc_id)
        start = streams.get(w, 0)
        assert got[doc_id] == (w, start // 100, start % 100), doc_id
        streams[w] = start + n_tokens


def test_pack_sequences_offsets_are_contiguous(spark):
    """Within a writer, each doc starts exactly where the previous ended."""
    from vector_mcp_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(i, 10 + i % 5) for i in range(50)], "doc_id int, n_tokens int"
    )
    asg = pack_sequences(df, budget=64, n_writers=3).join(df, "doc_id")
    per_writer: dict[int, list] = {}
    for r in asg.orderBy("writer", "doc_id").collect():
        per_writer.setdefault(r.writer, []).append(r)
    for docs in per_writer.values():
        pos = 0
        for r in docs:
            assert r.seq_id * 64 + r.seq_offset == pos
            pos += r.n_tokens


def test_pack_sequences_rejects_bad_params(spark):
    from vector_mcp_spark.operators.packing import pack_sequences

    df = spark.createDataFrame([(1, 5)], "doc_id int, n_tokens int")
    with pytest.raises(ValueError):
        pack_sequences(df, budget=0)
    with pytest.raises(ValueError):
        pack_sequences(df, budget=10, n_writers=0)


# -- int8 quantization --------------------------------------------------------


def test_quantize_int8_bounds_and_extremes(spark):
    from vector_mcp_spark.operators.quantize import quantize_int8

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id int, embedding array<float>",
    )
    rows = {r.vec_id: r for r in quantize_int8(df).collect()}
    # max-|x| element maps to ±127; everything within [-127, 127]
    assert rows[1].q == [64, -127, 32, 0]
    assert rows[1].scale == pytest.approx(1.0 / 127.0)
    # all-zero vector: scale 0, zero q (guarded division)
    assert rows[2].scale == 0.0 and rows[2].q == [0, 0, 0, 0]


def test_quantization_error_is_bounded_by_half_scale(spark):
    """Reconstruction error per element ≤ scale/2 ⇒ MSE ≤ (scale/2)^2."""
    from vector_mcp_spark.operators.quantize import quantization_error

    vals = [(i, [((i * j) % 17 - 8) / 8.0 for j in range(16)]) for i in range(1, 30)]
    df = spark.createDataFrame(vals, "vec_id int, embedding array<float>")
    for r in quantization_error(df).collect():
        assert r.mse <= (r.scale_r / 2.0) ** 2 + 1e-9


def test_dequantize_roundtrip_close(spark):
    from vector_mcp_spark.operators.quantize import dequantize_expr, quantize_int8

    df = spark.createDataFrame(
        [(1, [0.9, -0.3, 0.7071, -0.111])], "vec_id int, embedding array<float>"
    )
    out = (
        quantize_int8(df)
        .select("embedding", dequantize_expr("q", "scale").alias("recon"))
        .first()
    )
    for x, r in zip(out.embedding, out.recon):
        assert abs(x - r) <= 0.9 / 127.0 / 2 + 1e-9


# -- bind_once ----------------------------------------------------------------


def test_bind_once_equals_inline_expression(spark):
    from vector_mcp_spark.functions.expr import bind_once

    df = spark.createDataFrame([("a b c d",)], "text string")
    inline = F.transform(
        F.sequence(F.lit(1), F.size(F.split("text", " "))),
        lambda i: F.element_at(F.split("text", " "), i),
    )
    bound = bind_once(
        F.split("text", " "),
        lambda t: F.transform(
            F.sequence(F.lit(1), F.size(t)), lambda i: F.element_at(t, i)
        ),
    )
    row = df.select(inline.alias("a"), bound.alias("b")).first()
    assert row.a == row.b == ["a", "b", "c", "d"]


# -- decontamination ----------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_contamination_flags_overlapping_docs(spark):
    from vector_mcp_spark.operators.contamination import contamination_report

    bench = _docs(spark, [(100, "alpha beta gamma delta")])
    train = _docs(
        spark,
        [
            (1, "zz alpha beta gamma yy"),  # shares 'alpha beta gamma'
            (2, "one two three four five"),  # disjoint
            (3, "alpha beta gamma delta"),  # fully contained
        ],
    )
    rep = {r.doc_id: r for r in contamination_report(train, bench, n=3).collect()}
    assert set(rep) == {1, 3}  # doc 2 unflagged
    assert rep[1].n_grams == 3 and rep[1].n_shared == 1
    assert rep[3].n_shared == 2 and rep[3].contamination == 1.0


def test_contamination_short_docs_do_not_crash(spark):
    """Docs shorter than n tokens yield an empty gram set (the
    sequence(1,0)-descending guard), never phantom grams."""
    from vector_mcp_spark.operators.contamination import ngram_set

    df = _docs(spark, [(1, "one two"), (2, "")])
    out = {
        r.doc_id: r.g
        for r in df.select("doc_id", ngram_set("text", 3).alias("g")).collect()
    }
    assert out[1] == [] and out[2] == []


def test_decontaminate_drops_only_flagged(spark):
    from vector_mcp_spark.operators.contamination import decontaminate

    bench = _docs(spark, [(100, "alpha beta gamma")])
    train = _docs(
        spark,
        [(1, "alpha beta gamma tail"), (2, "clean text entirely here")],
    )
    kept = [r.doc_id for r in decontaminate(train, bench, n=3).collect()]
    assert kept == [2]


# -- mixture sampling ---------------------------------------------------------


def test_mixture_sample_rates(spark):
    from vector_mcp_spark.operators.packing import mixture_sample

    rows = [(i, "up" if i % 3 == 0 else ("down" if i % 3 == 1 else "drop")) for i in range(900)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = mixture_sample(df, {"up": 2.0, "down": 0.5, "drop": 0.0}).collect()
    by_src: dict[str, list] = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    # rate 2.0 → exactly two copies of every doc, copy ids 0 and 1
    assert len(by_src["up"]) == 600
    assert sorted({r.copy for r in by_src["up"]}) == [0, 1]
    # rate 0.5 → roughly half survive (hash-draw, deterministic)
    n_down = len(by_src["down"])
    assert 90 < n_down < 210 and all(r.copy == 0 for r in by_src["down"])
    # rate 0 → gone entirely
    assert "drop" not in by_src


def test_mixture_sample_is_deterministic(spark):
    from vector_mcp_spark.operators.packing import mixture_sample

    df = spark.createDataFrame(
        [(i, "a") for i in range(200)], "doc_id int, source string"
    )
    a = sorted((r.doc_id, r.copy) for r in mixture_sample(df, {"a": 1.5}).collect())
    b = sorted((r.doc_id, r.copy) for r in mixture_sample(df, {"a": 1.5}).collect())
    assert a == b
    # expectation 1.5 → total between 1.0x and 2.0x, strictly more than 1x
    assert 220 < len(a) < 380


def test_mixture_sample_rejects_negative_rate(spark):
    import pytest as _pytest

    from vector_mcp_spark.operators.packing import mixture_sample

    df = spark.createDataFrame([(1, "a")], "doc_id int, source string")
    with _pytest.raises(ValueError):
        mixture_sample(df, {"a": -0.5})


# -- weighted sampling (A-ES) -------------------------------------------------


def test_weighted_sample_prefers_heavy_weights(spark):
    from vector_mcp_spark.operators.packing import weighted_row_sample

    # 100 heavy (w=50) vs 900 light (w=1): a k=100 sample should be
    # dominated by heavy rows (inclusion prob ∝ weight)
    rows = [(i, 50.0 if i < 100 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id int, w double")
    got = [r.doc_id for r in weighted_row_sample(df, k=100, weight_col="w").collect()]
    n_heavy = sum(1 for d in got if d < 100)
    assert len(got) == 100 and n_heavy > 70


def test_weighted_sample_deterministic_and_skips_nonpositive(spark):
    from vector_mcp_spark.operators.packing import weighted_row_sample

    rows = [(i, float(i % 5)) for i in range(200)]  # weight 0 rows excluded
    df = spark.createDataFrame(rows, "doc_id int, w double")
    a = sorted(r.doc_id for r in weighted_row_sample(df, k=30, weight_col="w").collect())
    b = sorted(r.doc_id for r in weighted_row_sample(df, k=30, weight_col="w").collect())
    assert a == b and all(d % 5 != 0 for d in a)


def test_weighted_sample_rejects_bad_k(spark):
    import pytest as _pytest

    from vector_mcp_spark.operators.packing import weighted_row_sample

    df = spark.createDataFrame([(1, 1.0)], "doc_id int, w double")
    with _pytest.raises(ValueError):
        weighted_row_sample(df, k=0, weight_col="w")


def test_bloom_no_false_negatives_and_mergeable(spark):
    from pyspark.sql import functions as F

    from vector_mcp_spark.operators.bloom import (
        bloom_build,
        bloom_might_contain,
        bloom_words,
    )

    vals = [f"gram_{i}" for i in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], "g string")
    words = bloom_words(bloom_build(df, "g", n_bits=4096))
    probe = spark.createDataFrame(
        [(v,) for v in vals] + [(f"absent_{i}",) for i in range(500)], "g string"
    )
    got = {
        r.g: r.hit
        for r in probe.select(
            "g", bloom_might_contain(F.col("g"), words, n_bits=4096).alias("hit")
        ).collect()
    }
    # a Bloom filter NEVER misses a member
    assert all(got[v] for v in vals)
    # and at this load factor the absent set is mostly rejected
    fp = sum(1 for i in range(500) if got[f"absent_{i}"])
    assert fp < 100

    # mergeable: OR of two half-filters == filter of the union
    half1 = bloom_build(df.where(F.col("g") < "gram_3"), "g", n_bits=4096)
    half2 = bloom_build(df.where(~(F.col("g") < "gram_3")), "g", n_bits=4096)
    merged = (
        half1.unionByName(half2)
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )
    assert bloom_words(merged, n_bits=4096) == words


def test_bloom_words_n_bits_mismatch_raises(spark):
    """Collecting with a smaller n_bits than the build used must fail loudly,
    not silently truncate the filter (ADVICE r4)."""
    import pytest

    from vector_mcp_spark.operators.bloom import bloom_build, bloom_words

    df = spark.createDataFrame([(f"v{i}",) for i in range(64)], "g string")
    built = bloom_build(df, "g", n_bits=4096)
    with pytest.raises(ValueError, match="n_bits"):
        bloom_words(built, n_bits=64)
