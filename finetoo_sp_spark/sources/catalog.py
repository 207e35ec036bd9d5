"""Table catalog abstraction: Iceberg when available, parquet layout else.

The north rule targets Iceberg tables ("reads an Iceberg table ...
writes extracted rows back to Iceberg"). This sandbox ships no Iceberg
runtime jar (no network for spark.jars.packages), so the engine speaks
through this thin seam:

- `iceberg_available(spark)`: true iff an Iceberg catalog is configured
  on the session (`spark.sql.catalog.<name>` with the Iceberg impl).
- `read_table` / `write_table`: route to `spark.read.table` +
  `df.writeTo(...).append()/overwritePartitions()` when Iceberg is
  configured — giving atomic snapshot commits, hidden partitioning and
  time travel — and to the parquet directory layout otherwise, which
  `sources/lineage.py` makes commit-safe by hand (per-bucket dynamic
  overwrite + manifest-as-commit-marker).

The lineage/resume protocol is identical in both modes: bucket column,
per-bucket manifests, a resume that skips committed buckets. On Iceberg
the manifest table is just another table in the same catalog and each
bucket commit rides an Iceberg snapshot, so a crashed writer leaves no
torn bucket at all.

When Iceberg is absent and SNAPSHOT SEMANTICS are needed (atomic
commits, time travel, rollback, merge-on-read upserts),
``sources/table.py`` supplies the same commit discipline on plain
parquet — see its module docstring; it is the from-scratch stand-in
this seam swaps out on a real cluster.

Production config (cluster with the Iceberg runtime on the classpath)::

    spark.sql.catalog.lake = org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.lake.type = hive   # or hadoop/rest
    spark.sql.extensions = org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession, catalog: str = "lake") -> bool:
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    return impl is not None and "iceberg" in impl.lower()


def read_table(spark: SparkSession, name_or_path: str, catalog: str = "lake") -> DataFrame:
    """Read `catalog.db.table` (Iceberg) or a parquet path (fallback)."""
    if iceberg_available(spark, catalog) and not name_or_path.startswith("/"):
        return spark.read.table(f"{catalog}.{name_or_path}")
    return spark.read.parquet(name_or_path)


def write_table(
    df: DataFrame,
    name_or_path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    catalog: str = "lake",
) -> None:
    """Write to an Iceberg table (atomic snapshot commit) or a parquet
    directory (dynamic partition overwrite for mode='overwrite_partitions')."""
    spark = df.sparkSession
    if iceberg_available(spark, catalog) and not name_or_path.startswith("/"):
        writer = df.writeTo(f"{catalog}.{name_or_path}")
        # DSv2 semantics: partitionedBy is a table-CREATION property; an
        # existing table already defines its partitioning, and passing it
        # with append()/overwritePartitions() is an analysis error.
        if partition_by and mode not in ("append", "overwrite_partitions"):
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "append":
            writer.append()
        elif mode == "overwrite_partitions":
            writer.overwritePartitions()
        else:
            writer.createOrReplace()
        return
    w = df.write
    if partition_by:
        w = w.partitionBy(*partition_by)
    if mode == "overwrite_partitions":
        w = w.option("partitionOverwriteMode", "dynamic")
        w.mode("overwrite").parquet(name_or_path)
    else:
        w.mode("overwrite" if mode == "replace" else mode).parquet(name_or_path)
