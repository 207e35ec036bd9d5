"""Snapshot-delta semantics: status partition and changed_pages set."""

from pyspark.sql import functions as F

from finetoo_sp_spark.sources.snapshot import changed_pages, snapshot_delta


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, bytearray(h, "utf8")) for u, h in rows], "url string, html binary"
    )


def test_snapshot_delta_statuses(spark):
    old = _pages(spark, [("u1", "same"), ("u2", "before"), ("u3", "gone")])
    new = _pages(spark, [("u1", "same"), ("u2", "after"), ("u4", "fresh")])
    got = {r.url: r.status for r in snapshot_delta(old, new).collect()}
    assert got == {
        "u1": "unchanged",
        "u2": "changed",
        "u3": "removed",
        "u4": "added",
    }


def test_changed_pages_full_rows_and_custom_fingerprint(spark):
    old = _pages(spark, [("u1", "same"), ("u2", "before")])
    new = _pages(spark, [("u1", "same"), ("u2", "after"), ("u4", "fresh")])
    out = changed_pages(old, new).orderBy("url").toPandas()
    assert list(out["url"]) == ["u2", "u4"]
    # full new-snapshot rows come through, helper columns dropped
    assert list(out.columns) == ["url", "html"]
    assert bytes(out["html"][0]) == b"after"


def test_delta_is_payload_free(spark):
    """The full-outer join operates on slim (url, hash) projections:
    html must not appear above the hash projection in the plan."""
    old = _pages(spark, [("u1", "a")])
    new = _pages(spark, [("u1", "b")])
    plan = snapshot_delta(old, new)._jdf.queryExecution().optimizedPlan().toString()
    join_part = plan[: plan.index("Join")] if "Join" in plan else plan
    # the join's output columns are only url/status/hashes
    assert "xxhash64" in plan
    assert "_h_old" in plan and "_h_new" in plan
    # project-before-join: html is consumed inside the leaf projections,
    # not carried through the join output
    head = plan.splitlines()[0]
    assert "html" not in head


def test_incremental_extraction_end_to_end(spark, tmp_path):
    """Extracting snapshot B after A resumably pays ONLY for churn."""
    from finetoo_sp_spark.extraction.docpages import documents_to_pages
    from finetoo_sp_spark.sources.lineage import run_resumable_extraction

    docs = spark.createDataFrame(
        [
            (i, f"alpha beta {i} gamma delta epsilon zeta eta theta iota kappa", "en", f"src{i % 3}")
            for i in range(40)
        ],
        "doc_id long, text string, lang string, source string",
    )
    a = documents_to_pages(docs).select("url", "html")
    kept = docs.filter(F.col("doc_id") % 11 != 3)
    edited = kept.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" rev2"))).otherwise(
            F.col("text")
        ),
    )
    added = (
        docs.filter(F.col("doc_id") % 13 == 1)
        .withColumn("doc_id", F.col("doc_id") + 1000)
        .withColumn("text", F.concat("text", F.lit(" fresh")))
    )
    b = documents_to_pages(edited.unionByName(added)).select("url", "html")

    work = changed_pages(a, b)
    n_churn = work.count()
    assert 0 < n_churn < b.count()  # strictly cheaper than the corpus
    res = run_resumable_extraction(work, str(tmp_path / "d"), n_buckets=8)
    assert res["rows_in"] == n_churn  # only churn work was paid
