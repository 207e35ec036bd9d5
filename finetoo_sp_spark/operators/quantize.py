"""Scalar int8 embedding quantization (the ANN memory-side scale path).

At 10^12 documents a float32[64] embedding column is ~256 TB; per-vector
scalar quantization to int8 (FAISS SQ8 shape: q_i = round((x_i - min) /
(max - min) * 255) with the (min, max) pair kept per vector) cuts it 4x
with bounded reconstruction error, which is what makes brute-force
rerank tiers and IVF training sets fit in executor memory at all.

Everything here is integer fixed point end to end — floats are scaled
to 2^20 longs FIRST (exact: float -> double -> floor), then every
quantize/dequantize step is integer multiply/divide — so results are
bit-identical under any partitioning AND reproducible by the DuckDB
oracle (the same discipline as kmeans/dsir/bm25 in this repo).

The plan is fully narrow: per-vector min/max/transform column
expressions, no shuffle, no UDF — quantization composes with any scan
at zero extra passes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FP_SHIFT = 20  # float -> fixed-point scale (2^20 ~ 6 decimal digits)


def _idiv(num: Column, den: Column) -> Column:
    """Integer floor-division for NON-NEGATIVE operands inside lambda
    contexts (where SQL ``div`` isn't reachable): subtract the modulus,
    then the double division is exact (num bounded << 2^53)."""
    return ((num - num % den) / den).cast("long")


def quantize_int8(df: DataFrame) -> DataFrame:
    """Per-vector int8 quantization of (vec_id, embedding) rows with exact
    reconstruction-error stats.

    Returns (id, n_dims, min_fp, max_fp, q_str, max_err_fp):
    ``min_fp``/``max_fp`` are the vector's fixed-point range (the
    dequantization key a consumer stores alongside the codes),
    ``q_str`` the comma-joined int8 codes (serialized — codes are the
    payload, and a string column survives any engine's hashing),
    ``max_err_fp`` the vector's exact worst-dimension reconstruction
    error in fixed-point units (bounded by range/255 + 1 by
    construction — asserted in tests). Constant vectors quantize to
    all-zero codes with zero error.
    """
    scale = 1 << FP_SHIFT
    fp = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * scale).cast("long")
    )
    w = df.select(F.col("vec_id").alias("id"), fp.alias("_fp"))
    w = w.select(
        "id",
        "_fp",
        F.array_min("_fp").alias("min_fp"),
        F.array_max("_fp").alias("max_fp"),
    ).withColumn("_rng", F.col("max_fp") - F.col("min_fp"))
    q = F.when(F.col("_rng") == 0, F.transform("_fp", lambda x: F.lit(0))).otherwise(
        F.transform(
            "_fp", lambda x: _idiv((x - F.col("min_fp")) * 255, F.col("_rng"))
        )
    )
    w = w.withColumn("_q", q)
    dq = F.transform(
        "_q", lambda c: F.col("min_fp") + _idiv(c * F.col("_rng"), F.lit(255))
    )
    err = F.array_max(F.zip_with("_fp", dq, lambda a, b: F.abs(a - b)))
    return w.select(
        "id",
        F.size("_fp").alias("n_dims"),
        "min_fp",
        "max_fp",
        F.concat_ws(",", F.col("_q")).alias("q_str"),
        F.coalesce(err, F.lit(0)).alias("max_err_fp"),
    )
