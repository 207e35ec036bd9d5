"""End-to-end Spark extraction tests: corpus -> extract -> determinism,
lineage manifests, checkpoint resume."""

import pandas as pd
import pytest

from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from finetoo_sp_spark.datagen import gen_pages
from finetoo_sp_spark.extraction.extract import extract_pages, place_buckets, url_salt
from finetoo_sp_spark.sources.lineage import (
    MANIFEST_DIRNAME,
    committed_buckets,
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


def test_commit_leaves_session_in_static_overwrite(spark, pages, tmp_path):
    """The commit's dynamic partition overwrite is a per-write option: after
    it, a plain partitioned overwrite still replaces the whole table."""
    run_resumable_extraction(pages, str(tmp_path / "out"), n_buckets=8)
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper() == "STATIC"

    table = str(tmp_path / "table")
    ab = spark.createDataFrame([("a", 1), ("b", 2)], "p string, v int")
    ab.write.mode("overwrite").partitionBy("p").parquet(table)
    ab.filter("p = 'a'").write.mode("overwrite").partitionBy("p").parquet(table)
    assert [r.p for r in spark.read.parquet(table).collect()] == ["a"]


@pytest.mark.parametrize("n", [8, 32, 256])
def test_place_buckets_is_exact(spark, n):
    """Bucket b lands in partition b * P // n, P = min(n, cores): every
    partition holds one contiguous range of whole buckets and none is
    empty. The placement keys agree with Spark's own hash(), and
    spark_partition_id() confirms the placement."""
    from finetoo_sp_spark.extraction.extract import _placement_keys

    p = min(n, spark.sparkContext.defaultParallelism)
    keys = _placement_keys(p)
    got = spark.createDataFrame([(k,) for k in keys], "k int").select(
        F.pmod(F.hash("k"), F.lit(p)).alias("p")
    )
    assert [r.p for r in got.collect()] == list(range(p))
    df = spark.range(4 * n).select((F.col("id") % n).cast("int").alias("bucket"))
    placed = place_buckets(df, n).select("bucket", F.spark_partition_id().alias("pid"))
    assert placed.rdd.getNumPartitions() == p
    bad = placed.filter(F.col("pid") != F.floor(F.col("bucket") * p / n)).count()
    assert bad == 0
    assert placed.select("pid").distinct().count() == p


def test_fresh_commit_writes_one_file_per_bucket_from_core_tasks(spark, pages, tmp_path):
    """With 4 buckets per core, the data write runs one task per core,
    each writing whole buckets: exactly one parquet file per bucket.
    The write stage is the last stage before the manifest pass's
    collect, found through a statusTracker job group."""
    import glob

    sc = spark.sparkContext
    cores = sc.defaultParallelism
    n = 4 * cores
    group = "fresh-commit-write-tasks"
    sc.setJobGroup(group, "fresh run_resumable_extraction")
    try:
        out = str(tmp_path / "out")
        m = run_resumable_extraction(pages, out, n_buckets=n)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert m["rows_out"] == N_PAGES and m["buckets_processed"] == n
    for b in range(n):
        assert len(glob.glob(f"{out}/data/bucket={b}/*.parquet")) == 1, b

    st = sc.statusTracker()
    stages = [
        st.getStageInfo(s)
        for j in st.getJobIdsForGroup(group)
        for s in st.getJobInfo(j).stageIds
    ]
    ran = sorted((s for s in stages if s and s.numCompletedTasks), key=lambda s: s.stageId)
    first_collect = next(i for i, s in enumerate(ran) if s.name.startswith("collect at"))
    assert first_collect > 0
    assert ran[first_collect - 1].numTasks == cores


def test_null_first_html_still_decodes_with_replacement(spark):
    """A partition whose first page is null still decodes the invalid
    UTF-8 of a later page with replacement instead of failing the job."""
    words = " ".join(["word"] * 12)
    df = spark.createDataFrame(
        [("u1", None), ("u2", f"<p>caf\xe9 {words}</p>".encode("latin-1"))],
        "url string, html binary",
    ).coalesce(1)
    got = {r.url: r.text for r in extract_pages(df).collect()}
    assert got == {"u1": "", "u2": f"caf\ufffd {words}"}


def test_null_url_page_is_kept_not_fatal(spark):
    """A page with a null url comes out as a row with a null url from both
    extract_pages and extract_blocks; its valid neighbour is unchanged."""
    from finetoo_sp_spark.extraction.graph import extract_blocks

    html = bytearray(f"<h1>Title</h1><p>{' '.join(['word'] * 12)}</p>", "utf8")
    both = spark.createDataFrame([(None, html), ("u1", html)], "url string, html binary").coalesce(1)
    alone = spark.createDataFrame([("u1", html)], "url string, html binary")
    for extract in (extract_pages, extract_blocks):
        got = extract(both).collect()
        want = extract(alone).collect()
        assert want and [r for r in got if r.url == "u1"] == want
        nulls = [r for r in got if r.url is None]
        assert nulls and [r.asDict() | {"url": "u1"} for r in nulls] == [r.asDict() for r in want]


def test_bucket_repartition_only_in_place_buckets():
    """No repartition under finetoo_sp_spark is keyed on the bucket
    column (or a url_salt bucket id) except inside place_buckets: a
    one-task-per-bucket or double-hash placement must not come back."""
    import ast
    from pathlib import Path

    import finetoo_sp_spark as pkg

    def keyed_on_bucket(n: ast.AST) -> bool:
        if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
            return False
        keys = [*n.args, *(k.value for k in n.keywords)]
        return n.func.attr == "repartition" and any(
            (isinstance(x, ast.Constant) and x.value == "bucket")
            or (isinstance(x, ast.Name) and x.id == "url_salt")
            for k in keys
            for x in ast.walk(k)
        )

    allowed, bad = [], []
    root = Path(pkg.__file__).parent
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        placer = [
            range(f.lineno, f.end_lineno + 1)
            for f in ast.walk(tree)
            if isinstance(f, ast.FunctionDef) and f.name == "place_buckets"
        ]
        for n in filter(keyed_on_bucket, ast.walk(tree)):
            inside = any(n.lineno in r for r in placer)
            (allowed if inside else bad).append(f"{path.relative_to(root)}:{n.lineno}")
    assert len(allowed) == 1, allowed
    assert not bad, bad


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


def test_read_manifests_yields_every_committed_bucket(spark, pages, tmp_path):
    """read_manifests names the bucket dirs under the ``_``-prefixed root,
    which Spark's listing treats as hidden, and returns exactly the
    buckets the driver-side resume check counts, ``bucket`` a column."""
    out = str(tmp_path / "out")
    run_resumable_extraction(pages, out, n_buckets=8)
    committed, n_out = committed_buckets(out)
    man = read_manifests(spark, out)
    got = sorted(r["bucket"] for r in man.select("bucket").distinct().collect())
    assert got == committed == list(range(8))
    assert man.agg(F.sum("output_count")).first()[0] == n_out == N_PAGES
    assert all(f"/{MANIFEST_DIRNAME}/bucket=" in f for f in man.inputFiles())


def test_unreadable_manifest_directory_raises(spark, tmp_path):
    """A _manifests directory Spark cannot read is an error the caller
    sees, not a None that fails later on ``.select``."""
    d = tmp_path / "out" / MANIFEST_DIRNAME / "bucket=0"
    d.mkdir(parents=True)
    (d / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError):
        read_manifests(spark, str(tmp_path / "out"))


def test_anchor_extraction_edge_cases(spark):
    """extract_anchors: nested tags stripped, whitespace collapsed,
    relative and protocol-relative hrefs resolved, non-http and empty
    anchors handled; extract_links resolves the same targets."""
    html = (
        '<html><body>'
        '<a href="/a"><b>bold</b> <i>link</i></a>'
        '<a href="https://other.example.com/x">abs\n  target</a>'
        '<a href="mailto:x@y">mail</a>'
        '<a href="/img"><img src="i.png"></a>'
        '<a href="//cdn.example.net/l.js">cdn</a>'
        '</body></html>'
    )
    pages = spark.createDataFrame(
        [("https://host.example.com/p", bytearray(html, "utf8"))], "url string, html binary"
    )
    from finetoo_sp_spark.extraction.graph import (
        extract_anchor_pairs,
        extract_link_pairs,
    )

    rows = sorted(
        (r.target, r.anchor) for r in extract_anchor_pairs(pages).collect()
    )
    assert rows == [
        ("https://cdn.example.net/l.js", "cdn"),           # protocol-relative: page scheme
        ("https://host.example.com/a", "bold link"),       # tags stripped, ws collapsed
        ("https://host.example.com/img", ""),              # image-only anchor kept, empty text
        ("https://other.example.com/x", "abs target"),     # absolute kept, newline collapsed
    ]  # mailto: dropped
    links = sorted(r.target for r in extract_link_pairs(pages).collect())
    assert links == [t for t, _ in rows]  # extract_links resolves alike


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
