"""Cardinality sketches: merge laws (the distributed-combine proof),
partition invariance, exact-branch behavior, and estimate accuracy."""

from __future__ import annotations

from pyspark.sql import functions as F

from finetoo_sp_spark.operators.sketch import (
    hll_estimate_py,
    hll_registers,
    kmv_distinct,
)


def _keys(spark, lo, hi, grp="g"):
    return spark.range(lo, hi).select(
        F.lit(grp).alias("grp"), F.concat(F.lit("key-"), F.col("id")).alias("k")
    )


def test_hll_merge_is_elementwise_max(spark):
    """registers(A UNION B) == per-bucket max(registers(A), registers(B))
    — the associative combine that lets 1000 executors sketch shards
    independently and merge driver-side (or in a reduce)."""
    a = _keys(spark, 0, 3000)
    b = _keys(spark, 2000, 6000)  # overlapping
    whole = hll_registers(a.union(b), "k", "grp", p=8)
    ra = hll_registers(a, "k", "grp", p=8)
    rb = hll_registers(b, "k", "grp", p=8)
    merged = (
        ra.union(rb)
        .groupBy("grp", "bucket")
        .agg(F.max("register").alias("register"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))


def test_hll_estimate_accuracy_and_partition_invariance(spark):
    n = 10000
    df = _keys(spark, 0, n)
    regs = hll_registers(df, "k", "grp", p=12).collect()
    est = hll_estimate_py([(r.bucket, r.register) for r in regs], p=12)
    assert abs(est - n) / n < 0.06, est
    regs2 = hll_registers(df.repartition(13), "k", "grp", p=12).collect()
    assert sorted(map(tuple, regs)) == sorted(map(tuple, regs2))


def test_hll_duplicates_are_idempotent(spark):
    once = hll_registers(_keys(spark, 0, 500), "k", "grp", p=8)
    thrice = hll_registers(
        _keys(spark, 0, 500).union(_keys(spark, 0, 500)).union(_keys(spark, 0, 500)),
        "k",
        "grp",
        p=8,
    )
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, thrice.collect()))


def test_kmv_exact_below_k(spark):
    out = kmv_distinct(_keys(spark, 0, 40), "k", "grp", k=64).collect()
    assert len(out) == 1 and out[0].n_kept == 40 and out[0].est_distinct == 40


def test_kmv_estimate_accuracy(spark):
    n = 5000
    out = kmv_distinct(_keys(spark, 0, n), "k", "grp", k=256).collect()[0]
    assert out.n_kept == 256
    assert abs(out.est_distinct - n) / n < 0.25, out.est_distinct


def test_kmv_merge_by_union_and_recut(spark):
    """Union the two kept sets and re-cut to k: equals the sketch of the
    union — the distributed combine for KMV."""
    a = _keys(spark, 0, 3000)
    b = _keys(spark, 2000, 6000)
    k = 128
    whole = kmv_distinct(a.union(b), "k", "grp", k=k).collect()[0]
    # simulate the combine from each side's kept hashes
    from finetoo_sp_spark.operators.dedup import sha60

    kept = lambda df: [  # noqa: E731
        r.h
        for r in df.select(sha60("k").alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
        .collect()
    ]
    union_kept = sorted(set(kept(a)) | set(kept(b)))[:k]
    assert whole.n_kept == k and whole.kth_hash == union_kept[-1]


def test_kmv_groups_are_independent(spark):
    df = _keys(spark, 0, 100, "g1").union(_keys(spark, 0, 30, "g2"))
    rows = {r.grp: r for r in kmv_distinct(df, "k", "grp", k=64).collect()}
    assert rows["g2"].est_distinct == 30 and rows["g1"].n_kept == 64


def test_cms_never_underestimates_and_merges(spark):
    from finetoo_sp_spark.operators.sketch import cms_estimate, cms_sketch

    # zipf-ish: key j appears 200//(j+1) times
    rows = [(f"k{j}",) for j in range(60) for _ in range(200 // (j + 1))]
    df = spark.createDataFrame(rows, "k string")
    sk = cms_sketch(df, "k")
    probes = df.groupBy("k").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = {r.key: r.est_cnt for r in cms_estimate(sk, probes, "k").collect()}
    truth = {r.k: r.true_cnt for r in probes.collect()}
    assert all(est[k] >= truth[k] for k in truth)
    # heavy hitters are near-exact (few collisions at this load factor)
    assert est["k0"] == truth["k0"]
    # merge law: sketch(A) cellwise-+ sketch(B) == sketch(A union B)
    half = len(rows) // 2
    a = spark.createDataFrame(rows[:half], "k string")
    b = spark.createDataFrame(rows[half:], "k string")
    merged = (
        cms_sketch(a, "k")
        .union(cms_sketch(b, "k"))
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, sk.collect()))


def test_quantile_sketch_bounded_relative_error(spark):
    from finetoo_sp_spark.operators.sketch import quantile_sketch, sketch_quantiles

    vals = [(i * i + 7,) for i in range(1, 2001)]  # wide dynamic range
    df = spark.createDataFrame(vals, "v long").withColumn("g", F.lit("g"))
    sk = quantile_sketch(df, "v", "g")
    out = {r.q_ppm: r.est for r in sketch_quantiles(sk, [500000, 900000, 990000]).collect()}
    import math

    xs = sorted(v for (v,) in vals)
    for q_ppm, est in out.items():
        true = xs[math.ceil(q_ppm / 1e6 * len(xs)) - 1]
        # est is the bucket lower bound: within one bucket (1/16) below
        assert est <= true and true <= est + est // 16 + 1, (q_ppm, est, true)


def test_quantile_sketch_merge_is_count_sum(spark):
    from finetoo_sp_spark.operators.sketch import quantile_sketch

    a = spark.range(1, 5000).selectExpr("'g' AS g", "id * 3 AS v")
    b = spark.range(1, 3000).selectExpr("'g' AS g", "id * 17 AS v")
    whole = quantile_sketch(a.union(b), "v", "g")
    merged = (
        quantile_sketch(a, "v", "g")
        .union(quantile_sketch(b, "v", "g"))
        .groupBy("grp", "bucket", "lo")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))
