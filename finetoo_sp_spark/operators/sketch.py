"""Distributed sketches: HyperLogLog / KMV (distinct), count-min
(frequency), HdrHistogram-style buckets (quantiles).

The 100 TB motivation: "how many distinct URLs / users / shingles per
group" is the first question every crawl and dedup job asks, and exact
``count(DISTINCT ...)`` is a full shuffle of the key space. Sketches cut
that to a bounded per-group state that merges associatively — the same
reason Spark ships approx_count_distinct (HLL++) and Iceberg stores
theta sketches in manifests.

Why not just call ``approx_count_distinct``: its register layout and
hash are JVM-internal, so results are not reproducible outside Spark
and the sketch itself is not exportable. Both operators below use the
repo's portable 60-bit sha hash (operators/dedup.sha60 == the oracle's
_H60), making every register and estimate bit-reproducible in DuckDB —
the sketches can be persisted next to the data and merged by ANY engine
(the Iceberg-manifest discipline, not a Spark-private blob).

Scale shapes:
- ``hll_registers``: one partially-aggregated groupBy on
  (group, bucket) — max() combines map-side, shuffle carries at most
  m=2^p longs per group per partition. Merging two corpora's sketches
  is an elementwise max (tested). Insert is idempotent, so no distinct
  pre-pass is needed.
- ``kmv_distinct``: distinct (group, hash) then a per-group k-smallest
  cut. The estimate ((k-1) * 2^60 / h_k) is computed entirely in BIGINT
  (rescaled by 2^20 so (k-1)*2^40 never overflows) — identical integer
  division in both engines, no float anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from finetoo_sp_spark.operators.dedup import sha60

HASH_BITS = 60
CMS_DEPTH = 4  # count-min hash rows
CMS_WIDTH = 256  # count-min cells per row


def hll_registers(df: DataFrame, key_col: str, group_col: str, p: int = 12) -> DataFrame:
    """(group, bucket, register) — sparse HyperLogLog register file per
    group (Flajolet 2007): bucket = low p bits of the 60-bit hash,
    register = max over keys of (#leading zeros of the remaining
    60-p bits) + 1. Buckets no key hashed into are simply absent
    (register 0 by convention) — the sparse representation HLL++
    formalized. rho is computed exactly via the bit length of the
    remaining hash value (length(bin(w))), never floating log2.
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4,16], got {p}")
    m = 1 << p
    rem = HASH_BITS - p
    h = sha60(key_col)
    w = F.shiftrightunsigned(h, p)
    rho = F.when(w == 0, F.lit(rem + 1)).otherwise(F.lit(rem + 1) - F.length(F.bin(w)))
    return (
        df.select(
            F.col(group_col).alias("grp"),
            h.bitwiseAND(F.lit(m - 1)).cast("long").alias("bucket"),
            rho.cast("long").alias("rho"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("register"))
    )


def hll_estimate_py(registers: list[tuple[int, int]], p: int = 12) -> float:
    """Driver-side HLL estimate from collected (bucket, register) pairs
    — the read-out path (floats are fine here: the sketch itself is the
    exact, mergeable artifact; the estimate is a display value).
    ``p`` must be the one the registers were built with.
    Includes the small-range linear-counting correction."""
    import math

    m = 1 << p
    regs = dict(registers)
    s = sum(2.0 ** -regs.get(j, 0) for j in range(m))
    alpha = 0.7213 / (1 + 1.079 / m)
    e = alpha * m * m / s
    zeros = m - len(regs)
    if e <= 2.5 * m and zeros:
        return m * math.log(m / zeros)
    return e


def kmv_distinct(df: DataFrame, key_col: str, group_col: str, k: int = 256) -> DataFrame:
    """(grp, n_kept, kth_hash, est_distinct) — K-minimum-values distinct
    estimate per group (Bar-Yossef 2002): keep the k smallest distinct
    hashes; if fewer than k exist the count is exact, else
    est = (k-1) * 2^60 / h_k, evaluated as
    (k-1) * 2^40 div (h_k >> 20) so every intermediate fits a BIGINT.

    The kept set is the sketch: union-merging two groups' sets and
    re-cutting to k is the distributed combine (tested).
    """
    if not 2 <= k <= (1 << 22):
        raise ValueError(f"k must be in [2, 2^22], got {k}")
    hashes = df.select(F.col(group_col).alias("grp"), sha60(key_col).alias("h")).distinct()
    win = Window.partitionBy("grp").orderBy("h")
    kept = hashes.withColumn("rn", F.row_number().over(win)).filter(F.col("rn") <= k)
    agg = kept.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("kth_hash")
    )
    est = F.when(F.col("n_kept") < k, F.col("n_kept")).otherwise(
        F.expr(f"CAST({k - 1} AS BIGINT) * {1 << 40} div greatest(kth_hash >> 20, 1)")
    )
    return agg.select("grp", "n_kept", "kth_hash", est.cast("long").alias("est_distinct"))


def cms_sketch(df: DataFrame, key_col: str) -> DataFrame:
    """(row, col, cnt) — count-min sketch (Cormode 2005): CMS_DEPTH
    independent hash rows of width CMS_WIDTH; every key increments one
    cell per row. One partially-aggregated groupBy on the
    (CMS_DEPTH*CMS_WIDTH)-cell space — frequency state bounded
    regardless of key cardinality, merged by cell-wise sum. Hash i =
    portable sha-60 over a salted key, so an external engine rebuilds
    the identical sketch.
    """
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"),
                    (
                        sha60(F.concat(F.lit(f"cms{i}:"), F.col(key_col).cast("string")))
                        % CMS_WIDTH
                    ).alias("col"),
                )
                for i in range(CMS_DEPTH)
            ]
        )
    ).alias("cell")
    return (
        df.select(cells)
        .select("cell.row", "cell.col")
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(sketch: DataFrame, probes: DataFrame, key_col: str) -> DataFrame:
    """(key, est_cnt) — point-query the sketch for each probe key:
    min over the CMS_DEPTH cells the key hashes to. est >= true always
    (one-sided error); the sketch is at most CMS_DEPTH*CMS_WIDTH rows and is
    broadcast to the probes — no large shuffle anywhere.
    """
    coords = probes.select(
        F.col(key_col).alias("key"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        (
                            sha60(F.concat(F.lit(f"cms{i}:"), F.col(key_col).cast("string")))
                            % CMS_WIDTH
                        ).alias("col"),
                    )
                    for i in range(CMS_DEPTH)
                ]
            )
        ).alias("cell"),
    ).select("key", "cell.row", "cell.col")
    joined = coords.join(F.broadcast(sketch), ["row", "col"], "left").fillna(0, ["cnt"])
    return joined.groupBy("key").agg(F.min("cnt").alias("est_cnt"))


SUB_BITS = 4  # 16 linear sub-buckets per octave: <= 1/16 relative error


def quantile_sketch(df: DataFrame, val_col: str, group_col: str) -> DataFrame:
    """(grp, bucket, lo, cnt) — HdrHistogram-style quantile sketch over
    positive integer values: octave = bit length, 16 linear sub-buckets
    per octave (bucket = (octave-1)*16 + sub), so every bucket spans at
    most 1/16 of its value — bounded RELATIVE error at any scale, from
    byte-sized to terabyte-sized values, with at most 16*63 cells of
    state per group. Entirely integer (bit length via length(bin(x)),
    never log2); mergeable by per-bucket count sum. ``lo`` is the
    bucket's inclusive lower bound, the deterministic quantile
    read-out value.
    """
    sb = 1 << SUB_BITS
    staged = df.select(
        F.col(group_col).alias("grp"),
        F.greatest(F.col(val_col).cast("long"), F.lit(1)).alias("x"),
    ).select(
        "grp",
        "x",
        # base = 2^(octave-1): the largest power of two <= x
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(length(bin(x)) AS INT) - 1)").alias("base"),
    )
    # sub in [0, 16): linear position inside the octave; lo is recomputed
    # from (base, sub) alone so it is a pure function of the bucket id.
    binned = staged.select(
        "grp",
        F.expr(f"(x - base) * {sb} div base").alias("sub"),
        F.col("base"),
    ).select(
        "grp",
        ((F.length(F.bin("base")).cast("long") - 1) * sb + F.col("sub")).alias("bucket"),
        F.expr(f"base + sub * base div {sb}").alias("lo"),
    )
    return binned.groupBy("grp", "bucket", "lo").agg(F.count(F.lit(1)).alias("cnt"))


def sketch_quantiles(sketch: DataFrame, q_ppm: list[int]) -> DataFrame:
    """(grp, q_ppm, est) — read quantiles out of a quantile_sketch:
    target rank = ceil(q * total) in integer ppm arithmetic, estimate =
    lower bound of the first bucket whose cumulative count reaches the
    target. Window cumsum over the per-group bucket order + a broadcast
    quantile dimension — sketch-sized input, deterministic output.
    """
    from pyspark.sql import Window

    win = Window.partitionBy("grp").orderBy("bucket")
    cum = sketch.select(
        "grp",
        "bucket",
        "lo",
        F.sum("cnt").over(win).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("grp")).alias("total"),
    )
    qdim = F.explode(F.array(*[F.lit(q).cast("long") for q in q_ppm])).alias("q_ppm")
    hit = cum.select("grp", "bucket", "lo", "cum", "total", qdim).filter(
        F.col("cum") * 1_000_000 >= F.col("q_ppm") * F.col("total")
    )
    first = hit.groupBy("grp", "q_ppm").agg(F.min(F.struct("bucket", "lo")).alias("s"))
    return first.select("grp", "q_ppm", F.col("s.lo").alias("est"))
