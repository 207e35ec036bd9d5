"""Small-file compaction planning (table-maintenance tier).

Training-pipeline extension (no reference analogue): a 10^12-row
corpus written incrementally (churn-only refreshes, appends) accumulates
small files; query latency then dies on open() overhead rather than scan
throughput. This operator PLANS the compaction — the Spark-side analogue
of Iceberg's binpack rewrite strategy: group each partition's files
greedily (in stable file-id order) into target-size bins; every bin with
more than one file is one merge task, files already at/above target land
alone in their bin and are left untouched.

The greedy rule is one cumulative-sum window per partition:
``bin = cum_bytes_before_this_file div target`` — deterministic,
integer-exact, and trivially SQL-expressible, so the whole plan
verifies against a DuckDB twin. Planning cost at scale: the input is
the file MANIFEST (one row per file, never the data), so this runs on
metadata several orders of magnitude smaller than the table; two
window passes, no join, no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def plan_compaction(
    files: DataFrame,
    part_col: str,
    file_col: str,
    bytes_col: str,
    target_bytes: int,
) -> DataFrame:
    """(part, file_id, bytes, bin, bin_files, needs_compaction) — one
    row per input file; ``bin`` is the greedy target-size group within
    the partition, ``needs_compaction`` marks files whose bin holds
    more than one file (i.e. they are part of a merge task)."""
    w = (
        Window.partitionBy("part")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = files.select(
        F.col(part_col).alias("part"),
        F.col(file_col).alias("file_id"),
        F.col(bytes_col).cast("long").alias("bytes"),
    ).withColumn("_cum_before", F.coalesce(F.sum("bytes").over(w), F.lit(0)))
    binned = staged.select(
        "part",
        "file_id",
        "bytes",
        F.expr(f"_cum_before div {int(target_bytes)}").alias("bin"),
    )
    wb = Window.partitionBy("part", "bin")
    return binned.withColumn("bin_files", F.count("*").over(wb)).withColumn(
        "needs_compaction", F.col("bin_files") > 1
    )
