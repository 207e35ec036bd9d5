"""mix_epoch_weights contract: copy-count law, determinism, group drop."""

from pyspark.sql import functions as F

from finetoo_sp_spark.operators.packing import mix_epoch_weights


def _mk(spark, n, source):
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(source).alias("source")
    )


def test_integer_weight_replicates_exactly(spark):
    df = _mk(spark, 50, "a")
    out = mix_epoch_weights(df, "doc_id", "source", {"a": 3_000_000})
    assert out.count() == 150
    per_doc = out.groupBy("id").count().select("count").distinct().collect()
    assert [r["count"] for r in per_doc] == [3]
    copy_ids = sorted(
        r.copy_id for r in out.filter(F.col("id") == 0).collect()
    )
    assert copy_ids == [0, 1, 2]


def test_fractional_weight_is_hash_exact_and_deterministic(spark):
    df = _mk(spark, 400, "a")
    out1 = mix_epoch_weights(df, "doc_id", "source", {"a": 500_000})
    kept1 = sorted(r.id for r in out1.select("id").collect())
    # same input shuffled into different partitions -> identical survivors
    out2 = mix_epoch_weights(df.repartition(13), "doc_id", "source", {"a": 500_000})
    kept2 = sorted(r.id for r in out2.select("id").collect())
    assert kept1 == kept2
    # expected share 50%; sha gate over 400 ids stays well inside +-15pp
    assert 0.35 * 400 <= len(kept1) <= 0.65 * 400
    # each kept doc appears exactly once at weight 0.5
    assert out1.groupBy("id").count().filter(F.col("count") != 1).count() == 0


def test_mixed_groups_and_unlisted_drop(spark):
    df = _mk(spark, 100, "a").union(_mk(spark, 100, "b")).union(_mk(spark, 100, "zzz"))
    out = mix_epoch_weights(
        df, "doc_id", "source", {"a": 2_000_000, "b": 250_000}
    )
    by_src = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    assert by_src["a"] == 200  # exactly 2 epochs
    assert "zzz" not in by_src  # unlisted group dropped
    assert 0 < by_src["b"] < 100  # downsampled


def test_expected_share_converges(spark):
    # 2.5 epochs over 2000 docs: 2 guaranteed + ~50% third copy
    df = _mk(spark, 2000, "a")
    n = mix_epoch_weights(df, "doc_id", "source", {"a": 2_500_000}).count()
    assert 2000 * 2.4 <= n <= 2000 * 2.6


def test_assign_splits_deterministic_and_salted(spark):
    from finetoo_sp_spark.operators.packing import assign_splits
    from finetoo_sp_spark.operators.textstats import stratified_sample

    df = spark.range(20000).withColumnRenamed("id", "doc_id")
    a = assign_splits(df, "doc_id")
    counts = {r["split"]: r["n"] for r in a.groupBy("split").count().withColumnRenamed("count", "n").collect()}
    # 1%/1% gates land within a loose binomial envelope
    assert 140 < counts["val"] < 260 and 140 < counts["test"] < 260
    assert counts["train"] == 20000 - counts["val"] - counts["test"]

    # pure function of the id: a second evaluation is identical
    b = assign_splits(df, "doc_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # salting decorrelates from the sampling gate: among rows KEPT by a
    # 50% hash sample, test-rate stays ~1% (unsalted it would be 0 or 2%)
    sampled = stratified_sample(a.withColumn("s", F.lit("x")), "s", {"x": 0.5}, "doc_id")
    n_s = sampled.count()
    n_st = sampled.filter(F.col("split") == "test").count()
    assert 0.005 < n_st / n_s < 0.015
