"""Skew defense: hot-host keys vs salted aggregation.

The corpus generator produces a Zipf-ish host distribution (a few hosts
own a large share of pages). A per-host groupBy keys the shuffle on
host — one reducer partition drowns. The salted two-phase aggregate
(groupBy(host, salt) -> groupBy(host)) bounds any single task at
~1/salt of the hot key, at the cost of one extra (tiny) shuffle.
These tests pin the *semantics* (salted result == naive result) and the
*balance* property (max partition share drops by ~the salt factor).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finetoo_sp_spark.datagen import gen_pages


@pytest.fixture(scope="module")
def pages(spark):
    return gen_pages(spark, 4000, partitions=8).select(
        "url", F.regexp_extract("url", r"https?://([^/]+)", 1).alias("host"),
        F.length("html").alias("n_bytes"),
    ).cache()


def salted_host_rollup(pages):
    """Two-phase salted aggregate via the library operator."""
    from finetoo_sp_spark.operators.skew import salted_agg

    return salted_agg(
        pages,
        "host",
        {
            "n_pages": (F.count(F.lit(1)), "sum"),
            "total_bytes": (F.sum("n_bytes"), "sum"),
        },
        salt_on="url",
    )


def test_corpus_is_actually_skewed(pages):
    counts = pages.groupBy("host").count().toPandas()
    share = counts["count"].max() / counts["count"].sum()
    fair = 1.0 / len(counts)
    assert share > 5 * fair  # hottest host owns >5x its fair share


def test_salted_equals_naive(pages):
    naive = {
        r["host"]: (r["n_pages"], r["total_bytes"])
        for r in pages.groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_pages"), F.sum("n_bytes").alias("total_bytes"))
        .collect()
    }
    salted = {
        r["host"]: (r["n_pages"], r["total_bytes"])
        for r in salted_host_rollup(pages).collect()
    }
    assert naive == salted


def test_salt_bounds_partition_share(pages):
    """The first-shuffle key (host, salt) splits the hot host ~N_SALTS ways."""
    from finetoo_sp_spark.operators.skew import N_SALTS

    n_salts = N_SALTS
    salted = pages.withColumn("salt", F.pmod(F.xxhash64("url"), F.lit(n_salts)))
    by_key = salted.groupBy("host", "salt").count().toPandas()
    hot = by_key.groupby("host")["count"].sum().idxmax()
    hot_rows = by_key[by_key["host"] == hot]["count"]
    # no single (host, salt) cell holds more than ~3x the fair 1/16 share
    assert hot_rows.max() <= 3 * hot_rows.sum() / n_salts


def test_skew_report_values_and_advice(spark):
    from finetoo_sp_spark.operators.skew import skew_report

    rows = [("hot",)] * 25 + [("warm",)] * 10 + [("cold",)] * 5
    df = spark.createDataFrame(rows, "k string")
    got = {r["key"]: tuple(r)[1:] for r in skew_report(df, "k", 10).collect()}
    # 40 rows total: shares 625000/250000/125000 ppm exactly
    assert got["hot"] == (25, 625000, 3, True)   # ceil(25/10) = 3 salts
    assert got["warm"] == (10, 250000, 1, False)  # at target, not over
    assert got["cold"] == (5, 125000, 1, False)


def test_skew_report_feeds_salted_agg(pages):
    from finetoo_sp_spark.operators.skew import skew_report

    rep = skew_report(pages.select("host"), "host", 100)
    hot = rep.filter("is_hot").collect()
    assert hot, "generator corpus must have hot hosts at target=100"
    # the advisor's worst key sizes n_salts such that n/salts <= target
    worst = max(hot, key=lambda r: r["n_rows"])
    assert worst["n_rows"] <= worst["salt_buckets"] * 100
