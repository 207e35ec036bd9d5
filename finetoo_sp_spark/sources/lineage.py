"""Per-partition lineage manifests + checkpoint resume.

North-rule requirement: "writes extracted rows back with per-partition
lineage manifests and extraction-rate metrics so any failed partition range
can be resumed from checkpoint without recompute."

Design (scale-sane — no driver-side per-row loops):

1. every row gets a deterministic ``bucket = pmod(xxhash64(url), B)``;
2. output is written ``partitionBy("bucket")`` (idempotent per-bucket
   dynamic overwrite — a re-run of a bucket replaces exactly that bucket)
   by P = min(B, cores) tasks of B/P whole buckets each, one file per
   bucket;
3. after the data commit, ONE ``groupBy(bucket)`` over the committed
   slim columns (``row_hash``, ``text_chars``, read back with an explicit
   schema) yields each bucket's output_count, content checksum and chars;
   its <= B rows are collected and the driver writes one manifest file
   per bucket (``_manifests/bucket=N/part-*.parquet``, status='committed')
   with pyarrow, each appearing by atomic rename from a hidden temp name;
4. resume = the manifest files on disk name the committed buckets; only
   the other buckets' rows are re-run.

The checksum is an order-independent 64-bit fold (``bit_xor`` of
``xxhash64(url, text)``) so it is partition-order-proof — the
same determinism discipline the reference needs for block hashes
(reference: src/graph/block_analyzer.cc:22-30 sorted-by-handle hashing).

On a real cluster the output table would be Iceberg
(``df.writeTo(...).append()`` with atomic snapshot commits); in this
sandbox we use the parquet directory layout + per-bucket manifest files,
which gives the same resume semantics (a bucket is committed iff its
manifest file exists).
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from finetoo_sp_spark.extraction.extract import extract_pages, place_buckets, url_salt
from finetoo_sp_spark.operators.dedup import is_sha, sha60

MANIFEST_DIRNAME = "_manifests"
BUCKET_FIELD = StructField("bucket", IntegerType())
# what the manifest pass reads back from the committed data: the stats
# stamped at write time
_STATS_SCHEMA = StructType(
    [BUCKET_FIELD, StructField("row_hash", LongType()), StructField("text_chars", IntegerType())]
)


def _row_hash(hash_mode: str):
    """Per-row 64-bit hash of (url, text) for the checksum fold.

    'sha' mode is DuckDB-reproducible (sha256-derived 60-bit over
    url || \\x01 || text) so the manifest checksum itself can sit under a
    value oracle; production uses xxhash64.
    """
    if is_sha(hash_mode):
        return sha60(F.concat_ws("\x01", "url", "text"))
    return F.xxhash64("url", "text")


def write_manifest_files(out_dir: str, rows: list[dict]) -> None:
    """Write each row as ``out_dir/_manifests/bucket=N/part-*.parquet``.

    Called on the driver only after the data commit. Every column but
    ``bucket`` (which lives in the directory name, as a Spark
    ``partitionBy`` write puts it) is int64, except string ``status`` —
    the types Spark's own manifest writes had, so old and new files read
    back as one table. Each file is written under a ``.``-prefixed name,
    which Spark and pyarrow skip when listing, and renamed into place:
    a reader sees a whole manifest or none."""
    root = os.path.join(out_dir, MANIFEST_DIRNAME)
    for row in rows:
        d = os.path.join(root, f"bucket={row['bucket']}")
        os.makedirs(d, exist_ok=True)
        table = pa.table(
            {
                k: pa.array([v], pa.string() if k == "status" else pa.int64())
                for k, v in row.items()
                if k != "bucket"
            }
        )
        name = f"part-{uuid.uuid4().hex}.parquet"
        pq.write_table(table, os.path.join(d, "." + name))
        os.rename(os.path.join(d, "." + name), os.path.join(d, name))


def committed_buckets(out_dir: str) -> tuple[list[int], int]:
    """(sorted committed bucket ids, summed output_count) of the manifest
    files on disk — files from Spark writes and from
    :func:`write_manifest_files` alike — read on the driver with
    ``pyarrow.dataset``, no Spark job. ``bucket`` comes from the
    directory names."""
    path = os.path.join(out_dir, MANIFEST_DIRNAME)
    if not os.path.isdir(path):
        return [], 0
    man = ds.dataset(path, format="parquet", partitioning="hive")
    if not man.files:
        return [], 0
    t = man.to_table(columns=["bucket", "output_count"])
    return sorted(pc.unique(t["bucket"]).to_pylist()), pc.sum(t["output_count"]).as_py() or 0


def read_manifests(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The manifest table under ``out_dir``, or None when no manifest was
    ever written. A manifest directory Spark cannot read raises.

    Spark's file listing treats the ``_``-prefixed root as hidden, so the
    read names its ``bucket=*`` children, and ``basePath`` keeps
    ``bucket`` a partition column."""
    path = os.path.join(out_dir, MANIFEST_DIRNAME)
    if not os.path.isdir(path):  # cheap driver-side check, no Spark job
        return None
    buckets = [os.path.join(path, d) for d in sorted(os.listdir(path)) if d.startswith("bucket=")]
    return spark.read.option("basePath", path).parquet(*buckets)


def write_with_manifests(
    result: DataFrame,
    out_dir: str,
    input_counts: dict[int, int] | None = None,
    n_buckets: int | None = None,
    hash_mode: str = "xxhash64",
) -> list[dict]:
    """Write a bucketed result + its manifest rows; return those rows.

    ``result`` must carry a ``bucket`` column; ``input_counts`` maps
    bucket -> input_count, counted from the *input* side (counting it
    from ``result`` would re-run the extraction). Without it each
    bucket's input_count is its output_count — extraction is
    row-preserving, one output row per page — and every bucket found
    under ``data`` gets a manifest; with it, exactly its buckets do.

    Scale discipline:
    - ``n_buckets`` set: :func:`place_buckets` right before the write
      gives each of P = min(n, cores) write tasks one contiguous range
      of n/P whole buckets, so every bucket is exactly one file — n
      files, every task busy — instead of tasks x buckets tiny files
      whose commit serializes on the driver, and without paying the
      per-task write and commit set-up n times; this shuffle moves
      *extracted* text (much smaller than raw html) and IS the
      hash(url) anti-skew salt of the north rule.
    - dynamic partition overwrite: re-running a bucket (after a failure)
      replaces exactly that bucket's files, never duplicates.
    - manifests land under ``out_dir/_manifests`` only after the data
      commit succeeds (manifest presence == commit marker per bucket).
      Per-row lineage stats (``row_hash``, ``text_chars``) are stamped
      as output columns BEFORE the write — the Iceberg discipline:
      manifest stats are computed at commit time from the rows being
      committed, then ONE aggregation reads back ONLY those slim
      columns from disk (explicit schema: no inference job; parquet
      column pruning: the text bytes are decompressed once, not twice)
      and its <= n_buckets rows become the manifest files, written from
      the driver (:func:`write_manifest_files`).
    """
    spark = result.sparkSession
    data_path = os.path.join(out_dir, "data")
    result = result.withColumn("row_hash", _row_hash(hash_mode)).withColumn(
        "text_chars", F.length("text")
    )
    if n_buckets:
        result = place_buckets(result, n_buckets)
    result.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("bucket").parquet(data_path)

    written = spark.read.schema(_STATS_SCHEMA).parquet(data_path)
    if input_counts is not None:  # prunes the read to this run's buckets
        written = written.filter(F.col("bucket").isin(list(input_counts)))
    stats = {
        r["bucket"]: r.asDict()
        for r in written.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("output_count"),
            # XOR-fold of row hashes -> order/partition independent, no overflow
            F.bit_xor("row_hash").alias("content_checksum"),
            F.sum("text_chars").alias("output_chars"),
        )
        .collect()
    }
    if input_counts is None:
        input_counts = {b: s["output_count"] for b, s in stats.items()}
    empty = {"output_count": 0, "content_checksum": 0, "output_chars": 0}
    rows = [
        {"bucket": b, "input_count": n_in, **stats.get(b, empty), "status": "committed"}
        for b, n_in in sorted(input_counts.items())
    ]
    write_manifest_files(out_dir, rows)
    return rows


def run_resumable_extraction(
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = 256,
    hash_mode: str = "xxhash64",
    extractor=None,
) -> dict:
    """Extract ``pages`` -> ``out_dir``, skipping buckets already committed.

    Input counts: a fresh run takes its row total from the parquet
    metadata count (no data scan, catches dropped-partition bugs), and the
    kernel is row-preserving (exactly one output row per page), so each
    bucket's output count is its input count. A resumed run counts the
    remaining input per bucket (one url-only scan + tiny shuffle).

    Salting: the ``hash(url)`` bucket id is the shuffle key for the
    pre-write bucket placement (inside write_with_manifests), so
    host-level skew never concentrates in an output partition; the
    shuffle moves extracted text, not raw bytes. ``n_buckets`` should be
    >= 4x total executor cores; it is also the resume granularity.

    Returns a metrics dict (extraction-rate metrics manifest): buckets
    total/committed/processed, rows in/out, phase timings.
    """
    phases: dict[str, float] = {}
    t = time.time()
    pages_b = pages.withColumn("bucket", url_salt(n_buckets, hash_mode=hash_mode))

    done, _ = committed_buckets(out_dir)
    todo = pages_b.filter(~F.col("bucket").isin(done)) if done else pages_b  # resume
    input_counts = None
    if done:
        # resume path is rare + partial: always count the remaining input
        input_counts = {
            r["bucket"]: r["n"]
            for r in todo.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        n_in = sum(input_counts.values())
    else:
        n_in = pages.count()  # parquet metadata count: no data scan
    phases["plan_and_count"] = round(time.time() - t, 2)
    if n_in == 0:
        return {
            "buckets_total": n_buckets,
            "buckets_committed_before": len(done),
            "buckets_processed": 0,
            "rows_in": 0,
            "rows_out": 0,
            "phases": phases,
        }

    t = time.time()
    # extractor is pluggable (same signature as extract_pages): pass
    # extraction.pdf.extract_pages_any for mixed HTML/PDF corpora
    extracted = (extractor or extract_pages)(
        todo, repartition_buckets=None, keep_cols=["bucket"]
    )
    write_with_manifests(extracted, out_dir, input_counts, n_buckets=n_buckets, hash_mode=hash_mode)
    phases["extract_write_manifest"] = round(time.time() - t, 2)

    # the audit re-reads what is on disk, not the rows just returned
    t = time.time()
    committed, rows_out = committed_buckets(out_dir)
    phases["final_audit"] = round(time.time() - t, 2)
    return {
        "buckets_total": n_buckets,
        "buckets_committed_before": len(done),
        "buckets_processed": len(committed) - len(done),
        "rows_in": n_in,
        "rows_out": rows_out,
        "phases": phases,
    }
