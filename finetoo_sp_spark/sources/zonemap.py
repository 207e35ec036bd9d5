"""Zone-map (min/max) manifests + partition elimination for range scans.

The Iceberg idea (manifest-level column stats driving file pruning;
see also "Global Range Encoding for Efficient Partition Elimination",
EDBT'18 — PAPERS.md) implemented on the same manifest discipline as
sources/lineage.py: data is RANGE-partitioned into buckets on a sort
key, each bucket's manifest row records the key's true min/max, and a
range scan consults the (tiny, driver-side) manifest FIRST to read only
the buckets that can overlap — at a 10^12-row event table a "last 6
hours" query then touches a handful of buckets instead of the corpus.

Parquet row-group stats give similar skipping WITHIN files Spark
already reads; the zone map eliminates whole buckets before the scan is
planned, which is what keeps the file-listing + footer-reading cost
(the real bottleneck of huge tables) proportional to the query's range,
not the table.

Why range partitioning: hash buckets (lineage.py's layout, right for
point-resume and skew-proof writes) spread every key range over ALL
buckets — min/max stats only prune when the layout clusters the key.
``repartitionByRange`` gives Spark's sampled range partitioner; bucket
ids follow the sort order, so manifests are naturally non-overlapping
up to sampling error (overlap is CORRECT, just less prunable — the
scan uses the recorded min/max, never assumes disjointness).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_DIRNAME = "_zonemap"


def write_range_bucketed(
    df: DataFrame, out_dir: str, key_col: str, n_buckets: int = 64
) -> None:
    """Range-partition ``df`` on ``key_col`` into ``n_buckets`` bucket
    dirs and write the zone-map manifest (bucket, min_key, max_key,
    n_rows) computed from the data actually written."""
    spark = df.sparkSession
    ranged = df.repartitionByRange(n_buckets, F.col(key_col)).withColumn(
        "bucket", F.spark_partition_id()
    )
    ranged.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(out_dir, "data")
    )
    written = spark.read.parquet(os.path.join(out_dir, "data"))
    manifest = written.groupBy("bucket").agg(
        F.min(key_col).alias("min_key"),
        F.max(key_col).alias("max_key"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, MANIFEST_DIRNAME)
    )


def scan_range(
    spark: SparkSession, out_dir: str, key_col: str, lo, hi
) -> tuple[DataFrame, dict]:
    """Rows with ``lo <= key < hi``, reading ONLY buckets whose zone-map
    interval overlaps [lo, hi). Returns (df, prune_stats) — the stats
    make the elimination observable (and testable): buckets_total vs
    buckets_scanned. The manifest is bucket-count-sized, so the driver
    collect is O(n_buckets), never O(rows)."""
    # Spark's file listing treats the ``_``-prefixed dir as hidden: name
    # the part files it holds
    path = os.path.join(out_dir, MANIFEST_DIRNAME)
    parts = [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.startswith("part-")]
    rows = spark.read.parquet(*parts).collect()
    keep = [
        r["bucket"] for r in rows if not (r["max_key"] < lo or r["min_key"] >= hi)
    ]
    stats = {"buckets_total": len(rows), "buckets_scanned": len(keep)}
    if not keep:
        empty = (
            spark.read.parquet(os.path.join(out_dir, "data"))
            .filter(F.lit(False))
            .drop("bucket")
        )
        return empty, stats
    paths = [os.path.join(out_dir, "data", f"bucket={b}") for b in sorted(keep)]
    df = spark.read.parquet(*paths).filter(
        (F.col(key_col) >= F.lit(lo)) & (F.col(key_col) < F.lit(hi))
    )
    return df, stats
