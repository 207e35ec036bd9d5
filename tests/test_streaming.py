"""Streaming ingestion tests: drain-available, byte-identity with the
batch kernel, incremental pickup, idempotent re-run, windowed rates."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from finetoo_sp_spark.datagen import gen_pages
from finetoo_sp_spark.streaming.ingest import crawl_rate_by_host, run_stream_once


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_pages"))
    gen_pages(spark, 200, partitions=4).write.mode("overwrite").parquet(d)
    return d


def test_stream_drains_and_matches_batch(spark, pages_dir, tmp_path):
    out = str(tmp_path / "out")
    run_stream_once(spark, pages_dir, out, n_buckets=8)

    got = spark.read.parquet(out + "/data")
    assert got.count() == 200
    exp = spark.read.parquet(pages_dir).select("url", "expected_text")
    bad = (
        got.select("url", "text")
        .join(exp, "url")
        .filter(F.col("text") != F.col("expected_text"))
        .count()
    )
    assert bad == 0

    man = spark.read.parquet(out + "/_manifests")
    assert man.agg(F.sum("output_count")).collect()[0][0] == 200

    # re-run with no new input: checkpoint skips everything, no dup rows
    run_stream_once(spark, pages_dir, out, n_buckets=8)
    assert spark.read.parquet(out + "/data").count() == 200


def test_stream_picks_up_new_files_only(spark, pages_dir, tmp_path):
    out = str(tmp_path / "out2")
    run_stream_once(spark, pages_dir, out, n_buckets=8)
    # new crawl batch lands (ids disjoint from the first 200)
    gen_pages(spark, 50, partitions=1).withColumn(
        "page_id", F.col("page_id") + 1000
    ).withColumn(
        "url", F.concat(F.lit("https://hostX.example.com/page/"), F.col("page_id"))
    ).write.mode("append").parquet(pages_dir)

    run_stream_once(spark, pages_dir, out, n_buckets=8)
    assert spark.read.parquet(out + "/data").count() == 250


def test_crawl_rate_window(spark, pages_dir):
    stream = (
        spark.readStream.schema(spark.read.parquet(pages_dir).schema)
        .parquet(pages_dir)
    )
    q = (
        crawl_rate_by_host(stream)
        .writeStream.format("memory")
        .queryName("rates")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rates = spark.sql("SELECT * FROM rates").toPandas()
    assert len(rates) > 0
    assert (rates["n_pages"] >= 1).all()
    assert rates["host"].str.startswith("host").all()


def test_stream_curate_gates_and_repairs(spark, tmp_path):
    """stream_curate composes compliance gating + mojibake repair onto a
    live stream: no join, no state store, noai pages never land."""
    from finetoo_sp_spark.operators.normalize import _mojibake
    from finetoo_sp_spark.streaming.ingest import stream_curate, stream_pages

    d = str(tmp_path / "pages")
    pages = gen_pages(spark, 60, partitions=2)
    # every 3rd page opts out via noai; every page's raw text gets one
    # mojibake apostrophe artifact prepended
    noai = '<head><meta name="robots" content="noai"></head>'
    pages = pages.withColumn(
        "html",
        F.when(
            F.col("page_id") % 3 == 0,
            F.concat(F.lit(noai.encode("utf-8").decode()), F.decode("html", "UTF-8")),
        ).otherwise(F.decode("html", "UTF-8")).cast("binary"),
    ).withColumn("text", F.concat(F.lit(_mojibake("’")), F.col("text")))
    pages.write.mode("overwrite").parquet(d)

    curated = stream_curate(stream_pages(spark, d))
    out = str(tmp_path / "out")
    q = (
        curated.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 40                       # 20 noai pages dropped
    assert got.filter(F.col("noai")).count() == 0
    # the mojibake artifact is repaired to an ascii apostrophe
    assert got.filter(F.col("text").startswith("'")).count() == 40
    bad = got.filter(F.col("text").contains(_mojibake("’"))).count()
    assert bad == 0
