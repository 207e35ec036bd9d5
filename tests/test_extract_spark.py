"""End-to-end Spark extraction tests: corpus -> extract -> determinism,
lineage manifests, checkpoint resume."""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from finetoo_sp_spark.datagen import gen_pages
from finetoo_sp_spark.extraction.extract import extract_pages, place_buckets, url_salt
from finetoo_sp_spark.sources.lineage import (
    MANIFEST_DIRNAME,
    read_manifests,
    run_resumable_extraction,
    write_with_manifests,
)

N_PAGES = 300


@pytest.fixture(scope="module")
def pages(spark):
    return gen_pages(spark, N_PAGES, partitions=4).cache()


def test_extract_matches_expected_all_pages(spark, pages):
    """Byte-identical extracted text per url vs the independent oracle."""
    res = extract_pages(pages).select("url", "text")
    exp = pages.select("url", F.col("expected_text").alias("exp"))
    bad = res.join(exp, "url").filter(F.col("text") != F.col("exp")).count()
    assert bad == 0
    assert res.count() == N_PAGES


def test_partitioning_invariance(spark, pages):
    """1 partition vs 7 partitions vs salted repartition -> same bytes."""
    a = extract_pages(pages.coalesce(1)).orderBy("url").select("url", "text").toPandas()
    b = extract_pages(pages.repartition(7)).orderBy("url").select("url", "text").toPandas()
    c = (
        extract_pages(pages, repartition_buckets=5)
        .orderBy("url")
        .select("url", "text")
        .toPandas()
    )
    pd.testing.assert_frame_equal(a, b)
    pd.testing.assert_frame_equal(a, c)


def test_spans_schema_and_fields(spark, pages):
    row = (
        extract_pages(pages, keep_cols=["warc_ts", "lang"])
        .filter(F.size("spans") > 0)
        .select("url", "spans", "title", "h1", "lang_attr", "lang", "warc_ts")
        .first()
    )
    assert row.spans[0].end > row.spans[0].start
    assert row.lang_attr == row.lang  # datagen writes lang into <html lang=...>
    assert row.title
    assert row.h1


def test_salt_distributes_hot_hosts(spark, pages):
    """The skew defense: bucket counts are balanced even though host
    counts are heavily skewed."""
    b = pages.withColumn("bucket", url_salt(16)).groupBy("bucket").count().toPandas()
    assert len(b) == 16
    assert b["count"].max() < 3 * b["count"].min() + 20


def test_lineage_write_and_resume(spark, pages, tmp_path):
    out = str(tmp_path / "out")
    pages_b = pages.withColumn("bucket", url_salt(8))

    # phase 1: simulate a partial run — only buckets 0-3 committed
    part = pages_b.filter(F.col("bucket") < 4)
    from finetoo_sp_spark.extraction.extract import extract_pages as ep

    ext = ep(part, keep_cols=["bucket"])
    write_with_manifests(ext, out)
    man1 = read_manifests(spark, out)
    assert man1.select("bucket").distinct().count() == 4
    assert man1.filter(F.col("status") != "committed").count() == 0

    # phase 2: resume — must process only the missing buckets
    metrics = run_resumable_extraction(pages, out, n_buckets=8)
    assert metrics["buckets_committed_before"] == 4
    assert metrics["rows_out"] == N_PAGES

    # full output equals a one-shot run, byte for byte
    resumed = spark.read.parquet(out + "/data").orderBy("url").select("url", "text").toPandas()
    oneshot = extract_pages(pages).orderBy("url").select("url", "text").toPandas()
    pd.testing.assert_frame_equal(resumed, oneshot)

    # re-running when everything is committed is a no-op
    again = run_resumable_extraction(pages, out, n_buckets=8)
    assert again["rows_in"] == 0

    # manifest checksum equality: recompute matches stored
    stored = {r["bucket"]: r["content_checksum"] for r in man1.collect()}
    recomputed = (
        ep(part, keep_cols=["bucket"])
        .groupBy("bucket")
        .agg(F.bit_xor(F.xxhash64("url", "text")).alias("c"))
        .collect()
    )
    for r in recomputed:
        assert stored[r["bucket"]] == r["c"]


def _manifest_rows(spark, out):
    return sorted(
        tuple(r)
        for r in read_manifests(spark, out)
        .select("bucket", "input_count", "output_count", "content_checksum",
                "output_chars", "status")
        .collect()
    )


def test_fresh_commit_job_count(spark, pages, tmp_path):
    """A fresh commit is one data write plus one manifest aggregation:
    at most 6 Spark jobs, counted through a statusTracker job group."""
    sc = spark.sparkContext
    group = "fresh-commit-job-count"
    sc.setJobGroup(group, "fresh run_resumable_extraction")
    try:
        m = run_resumable_extraction(pages, str(tmp_path / "out"), n_buckets=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert m["rows_out"] == N_PAGES and m["buckets_processed"] == 8
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6


@pytest.mark.parametrize("n", [8, 32, 256])
def test_place_buckets_is_exact(spark, n):
    """Bucket b lands in partition b: the placement keys agree with
    Spark's own hash(), and spark_partition_id() confirms it."""
    from finetoo_sp_spark.extraction.extract import _placement_keys

    keys = _placement_keys(n)
    got = spark.createDataFrame([(k,) for k in keys], "k int").select(
        F.pmod(F.hash("k"), F.lit(n)).alias("p")
    )
    assert [r.p for r in got.collect()] == list(range(n))
    df = spark.range(4 * n).select((F.col("id") % n).cast("int").alias("bucket"))
    bad = (
        place_buckets(df, n)
        .filter(F.spark_partition_id() != F.col("bucket"))
        .count()
    )
    assert bad == 0


def test_resume_reads_spark_written_manifests(spark, pages, tmp_path):
    """Manifests an older version wrote through Spark (partitionBy under
    _manifests) still mark their buckets committed, and the audit reads
    them together with the driver-written ones."""
    import shutil

    out = str(tmp_path / "out")
    part = pages.withColumn("bucket", url_salt(8)).filter(F.col("bucket") < 4)
    write_with_manifests(extract_pages(part, keep_cols=["bucket"]), out)
    old = read_manifests(spark, out).toPandas()
    man_dir = f"{out}/{MANIFEST_DIRNAME}"
    shutil.rmtree(man_dir)
    spark.createDataFrame(old).write.partitionBy("bucket").parquet(man_dir)

    m = run_resumable_extraction(pages, out, n_buckets=8)
    assert m["buckets_committed_before"] == 4
    assert m["buckets_processed"] == 4
    assert m["rows_out"] == N_PAGES
    both = read_manifests(spark, out)
    assert both.select("bucket").distinct().count() == 8
    assert dict(both.dtypes) == {
        "input_count": "bigint", "output_count": "bigint",
        "content_checksum": "bigint", "output_chars": "bigint",
        "status": "string", "bucket": "int",
    }
    assert run_resumable_extraction(pages, out, n_buckets=8)["rows_in"] == 0


def test_commit_options_give_default_manifests(spark, pages, tmp_path):
    """strict_input_counts, pre_partition and verify_content each
    produce exactly the default run's manifest rows."""
    base = str(tmp_path / "default")
    run_resumable_extraction(pages, base, n_buckets=8)
    expect = _manifest_rows(spark, base)
    assert len(expect) == 8

    for opt in ("strict_input_counts", "pre_partition"):
        out = str(tmp_path / opt)
        m = run_resumable_extraction(pages, out, n_buckets=8, **{opt: True})
        assert m["rows_out"] == N_PAGES, opt
        assert _manifest_rows(spark, out) == expect, opt

    out = str(tmp_path / "verify")
    ext = extract_pages(pages.withColumn("bucket", url_salt(8)), keep_cols=["bucket"])
    rows = write_with_manifests(ext, out, n_buckets=8, verify_content=True)
    assert _manifest_rows(spark, out) == expect
    assert sorted(tuple(r.values()) for r in rows) == expect


def test_anchor_extraction_edge_cases(spark):
    """extract_anchors: nested tags stripped, whitespace collapsed,
    relative hrefs resolved, non-http and empty anchors handled."""
    html = (
        '<html><body>'
        '<a href="/a"><b>bold</b> <i>link</i></a>'
        '<a href="https://other.example.com/x">abs\n  target</a>'
        '<a href="mailto:x@y">mail</a>'
        '<a href="/img"><img src="i.png"></a>'
        '</body></html>'
    )
    pages = spark.createDataFrame(
        [("https://host.example.com/p", bytearray(html, "utf8"))], "url string, html binary"
    )
    from finetoo_sp_spark.extraction.graph import extract_anchor_pairs

    rows = sorted(
        (r.target, r.anchor) for r in extract_anchor_pairs(pages).collect()
    )
    assert rows == [
        ("https://host.example.com/a", "bold link"),       # tags stripped, ws collapsed
        ("https://host.example.com/img", ""),              # image-only anchor kept, empty text
        ("https://other.example.com/x", "abs target"),     # absolute kept, newline collapsed
    ]  # mailto: dropped


def test_anchor_summary_matches_pairs(spark):
    """anchor_text_summary aggregates exactly the extracted pairs."""
    from finetoo_sp_spark.extraction.docpages import documents_to_pages
    from finetoo_sp_spark.extraction.graph import anchor_text_summary, extract_anchor_pairs

    docs = spark.createDataFrame(
        [(i, f"word{i} " * 12, "en", f"src{i % 3}") for i in range(12)],
        "doc_id long, text string, lang string, source string",
    )
    pages = documents_to_pages(docs)
    pairs = extract_anchor_pairs(pages).toPandas()
    got = {
        r.target: (r.n_refs, r.n_sources, r.anchors_cs)
        for r in anchor_text_summary(pages).collect()
    }
    g = pairs.groupby("target")
    expect = {
        t: (
            len(sub),
            sub["url"].nunique(),
            "|".join(sorted(set(sub["anchor"]))),
        )
        for t, sub in g
    }
    assert got == expect
    # every page contributes all 8 template anchors
    assert len(pairs) == 12 * 8
