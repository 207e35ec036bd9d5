"""Zone-map manifests + partition elimination (sources/zonemap.py)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from finetoo_sp_spark.sources.zonemap import scan_range, write_range_bucketed


def test_zonemap_prunes_and_matches_full_filter(spark, sf_dir, tmp_path):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    out = str(tmp_path / "zm")
    write_range_bucketed(ev, out, "ts", n_buckets=16)

    lo, hi = dt.datetime(2024, 1, 1, 6), dt.datetime(2024, 1, 1, 12)
    df, stats = scan_range(spark, out, "ts", lo, hi)

    # elimination really happened: a quarter-day window must not scan
    # the whole multi-day table
    assert stats["buckets_scanned"] < stats["buckets_total"]
    assert stats["buckets_scanned"] >= 1

    expected = ev.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
    got = {r["event_id"] for r in df.collect()}
    want = {r["event_id"] for r in expected.collect()}
    assert got == want and len(want) > 0

    # empty range: zero buckets scanned, empty frame with the data schema
    df0, stats0 = scan_range(
        spark, out, "ts", dt.datetime(2030, 1, 1), dt.datetime(2030, 1, 2)
    )
    assert stats0["buckets_scanned"] == 0
    assert df0.count() == 0
    assert set(df0.columns) == {"event_id", "ts", "user_id", "event_type", "value"}


def test_zonemap_manifest_is_bucket_sized(spark, sf_dir, tmp_path):
    """The driver-side collect reads the manifest (O(buckets)), never
    the data: manifest rows == bucket count, with true min<=max."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "ts")
    out = str(tmp_path / "zm2")
    write_range_bucketed(ev, out, "ts", n_buckets=8)
    man = spark.read.parquet(f"{out}/_zonemap").collect()
    assert 1 <= len(man) <= 8
    assert all(r["min_key"] <= r["max_key"] and r["n_rows"] > 0 for r in man)
    assert sum(r["n_rows"] for r in man) == ev.count()
    # scan_range reads every manifest row of the ``_``-prefixed dir
    _, stats = scan_range(spark, out, "ts", dt.datetime(1970, 1, 1), dt.datetime(2100, 1, 1))
    assert stats["buckets_total"] == stats["buckets_scanned"] == len(man)


def test_compaction_plan_bins_and_flags(spark):
    from finetoo_sp_spark.sources.compaction import plan_compaction

    # partition p: 3 small files then one jumbo; q: one file only
    files = [
        ("p", 1, 400), ("p", 2, 400), ("p", 3, 400), ("p", 4, 5000),
        ("q", 9, 50),
    ]
    df = spark.createDataFrame(files, "part string, fid int, sz long")
    got = {r["file_id"]: (r["bin"], r["bin_files"], r["needs_compaction"])
           for r in plan_compaction(df, "part", "fid", "sz", 1000).collect()}
    # files 1+2 pack into bin 0 (cum_before 0, 400); file 3 starts bin 0?
    # cum_before(3) = 800 -> bin 0; cum_before(4) = 1200 -> bin 1 alone
    assert got[1] == (0, 3, True)
    assert got[2] == (0, 3, True)
    assert got[3] == (0, 3, True)
    assert got[4] == (1, 1, False)   # jumbo file left untouched
    assert got[9] == (0, 1, False)   # singleton partition: nothing to do


def test_compaction_plan_is_deterministic_under_repartition(spark):
    from finetoo_sp_spark.sources.compaction import plan_compaction

    files = [("p", i, 100 + (i * 37) % 300) for i in range(200)]
    df = spark.createDataFrame(files, "part string, fid int, sz long")
    a = sorted(map(tuple, plan_compaction(df, "part", "fid", "sz", 500).collect()))
    b = sorted(map(tuple, plan_compaction(df.repartition(7), "part", "fid", "sz", 500).collect()))
    assert a == b
