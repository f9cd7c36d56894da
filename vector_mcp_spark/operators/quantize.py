"""Per-vector int8 scalar quantization for embedding storage.

At 100 TB an fp32 embedding column is often the single largest column in
the lake; symmetric int8 quantization (scale = max|x| / 127, q = round(x /
scale)) cuts it 4× with bounded recall loss, and keeping the per-vector
``scale`` alongside makes dequantization exact-in-form. The reference
stores raw float vectors only (vector_mcp/vectordb/base.py — pgvector /
qdrant native types); quantization is a scale extension (SURVEY.md §2.4).

Everything is built-in array expressions (transform / aggregate — JVM-side,
no UDF): quantization runs at scan speed and the DuckDB oracle replays it
bit-for-bit (both engines round half-away-from-zero on DOUBLE).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _max_abs(vec: Column) -> Column:
    return F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per vector: (id, scale, q) with q = round(x / scale) ∈ [-127, 127].

    All-zero vectors get scale 0 and an all-zero q (the x/scale division is
    guarded). The scale is kept at full double precision internally; callers
    projecting it into a comparison round it themselves.
    """
    with_scale = df.select(id_col, vec_col).withColumn(
        "scale", _max_abs(F.col(vec_col)) / F.lit(127.0)
    )
    q = F.when(
        F.col("scale") == 0.0,
        F.transform(F.col(vec_col), lambda x: F.lit(0).cast("int")),
    ).otherwise(
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") / F.col("scale"), 0).cast("int"),
        )
    )
    return with_scale.withColumn("q", q).select(id_col, "scale", "q", vec_col)


def dequantize_expr(q_col: Column | str, scale_col: Column | str) -> Column:
    """Array expression reconstructing the float vector: q * scale."""
    q = F.col(q_col) if isinstance(q_col, str) else q_col
    s = F.col(scale_col) if isinstance(scale_col, str) else scale_col
    return F.transform(q, lambda x: x.cast("double") * s)


def quantization_error(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    include_q: bool = False,
) -> DataFrame:
    """Per vector: quantization scale and reconstruction MSE (6 dp), the
    quality dashboard for a quantized embedding column. One projection —
    no shuffle, no UDF. ``include_q`` adds the quantized vector as a
    comma-joined string (comparison-friendly projection of the int8 array)."""
    quant = quantize_int8(df, vec_col=vec_col, id_col=id_col)
    recon = dequantize_expr("q", "scale")
    sq_err = F.zip_with(
        F.col(vec_col), recon, lambda x, r: (x.cast("double") - r) * (x.cast("double") - r)
    )
    mse = F.aggregate(sq_err, F.lit(0.0), lambda acc, e: acc + e) / F.size(F.col(vec_col))
    cols = [
        F.col(id_col),
        F.round(F.col("scale"), 6).alias("scale_r"),
        F.round(mse, 6).alias("mse"),
    ]
    if include_q:
        cols.append(F.array_join("q", ",").alias("q_str"))
    return quant.select(*cols)


# -- 1-bit (sign) quantization + Hamming search -------------------------------
#
# The most aggressive rung of the compression ladder (int8 → PQ → sign):
# keep only the sign bit of every dimension — 64 dims pack into 8 bytes, a
# 32× cut — and shortlist neighbors by Hamming distance, which for
# mean-centered embeddings approximates angular distance (Charikar 2002
# sign-random-projection LSH with the identity projection). Shortlist
# scoring is two XOR+popcount instructions per candidate on the packed
# longs; exact cosine re-ranks only the shortlist.


def _half_bits(vec, lo_bit: int):
    """Sum of disjoint power-of-two literals — equals the bitwise OR, stays
    in whole-stage codegen, and an ANSI CASE-sum replays it exactly.
    try_element_at (NULL past the end, even under ANSI) zero-pads vectors
    shorter than 64 dims instead of erroring."""
    terms = [
        F.when(F.try_element_at(vec, F.lit(lo_bit + i + 1)) > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(32)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def sign_pack(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, lo, hi, vec): sign bits of dims 0–31 / 32–63 packed into two
    longs (two halves avoid the signed-64 top-bit overflow on BOTH engines —
    sums of disjoint 2^i literals stay positive)."""
    vec = F.col(vec_col)
    return df.select(
        id_col,
        _half_bits(vec, 0).alias("lo"),
        _half_bits(vec, 32).alias("hi"),
        vec_col,
    )


def binary_hamming_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    shortlist: int = 100,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Two-stage sign-quantized ANN: Hamming shortlist on the packed bits
    (ties → lower id), exact-cosine re-rank — (query_id, rank, neighbor_id,
    score 6 dp).

    The coarse pass reads 8 bytes/vector instead of 256 and its shuffle
    rows are (query_id, neighbor_id, hamming) — vectors rejoin only for
    the shortlist·|queries| re-rank."""
    from pyspark.sql import Window

    from vector_mcp_spark.functions.vector import dot, l2_norm
    from vector_mcp_spark.operators.partition import spread

    # spread the corpus side: the 64-term sign pack + per-pair hamming map
    # stage must not be pinned to a single-partition scan (guide §2.5)
    c = sign_pack(spread(corpus), vec_col=emb_col, id_col=id_col)
    q = sign_pack(queries, vec_col=emb_col, id_col=id_col).select(
        F.col(id_col).alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
        F.col(emb_col).alias("_qv"),
    )
    ham = F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo"))) + F.bit_count(
        F.col("hi").bitwiseXOR(F.col("qhi"))
    )
    coarse = (
        c.join(F.broadcast(q))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            ham.alias("hamming"),
            F.col(emb_col).alias("_nv"),
            "_qv",
        )
    )
    w_coarse = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    short = coarse.withColumn("_cr", F.row_number().over(w_coarse)).where(
        F.col("_cr") <= shortlist
    )
    sim = dot(F.col("_nv"), F.col("_qv")) / (l2_norm(F.col("_nv")) * l2_norm(F.col("_qv")))
    w_fine = Window.partitionBy("query_id").orderBy(
        F.col("_s").desc(), F.col("neighbor_id").asc()
    )
    return (
        short.withColumn("_s", sim)
        .withColumn("rank", F.row_number().over(w_fine))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int"), "neighbor_id", F.round("_s", 6).alias("score"))
    )
