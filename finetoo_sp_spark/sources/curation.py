"""Resumable lineage for the dedup/curation capstone.

VERDICT r02 #9: at 10^12 rows a crashed curation job must not be a full
recompute. Resume granularity follows the data-flow shape, which is NOT
the extraction pipeline's embarrassingly-parallel one:

- **pairs phase** (shingle inverted index -> candidate self-join ->
  verified Jaccard pairs) is a GLOBAL join: an output bucket cannot be
  recomputed without re-running the whole join, so its checkpoint is
  all-or-nothing — the pair set is materialized bucketed by
  hash(id_a) under ``<out>/pairs`` and a ``_PHASE_COMPLETE`` marker
  (written only after the data + manifests commit) makes it reusable.
  On resume the join — the expensive part at scale — is skipped
  entirely and pairs stream back from parquet.
- **survivors phase** (quality gate + connected components ->
  materialized surviving corpus) resumes PER BUCKET exactly like
  extraction: survivors are written partitionBy(bucket =
  pmod(xxhash64(id), B)) with per-bucket manifests; a re-run anti-joins
  committed buckets and rewrites only the missing ones (dynamic
  partition overwrite keeps it idempotent). The keep-list itself is
  recomputed on resume — it is id-sized (tiny next to the corpus text
  that per-bucket resume avoids re-shuffling) and a pure function of
  the checkpointed pairs, so the resumed output is byte-identical.

Same manifest/checksum discipline as sources/lineage.py (bit_xor of
row hashes: order- and partition-independent).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from finetoo_sp_spark.extraction.extract import place_buckets
from finetoo_sp_spark.operators.dedup import is_sha, sha60
from finetoo_sp_spark.sources.lineage import (
    BUCKET_FIELD,
    committed_buckets,
    write_manifest_files,
)

PAIRS_MARKER = "_PHASE_COMPLETE"
# Stop-shingle pruning: a shingle in more than MAX_DF docs is boilerplate;
# at corpus scale an unpruned hot shingle makes the inverted-index
# self-join quadratic in its document frequency.
MAX_DF = 100


def _bucket_of(col: str, n_buckets: int, hash_mode: str):
    """Bucket id for resume partitioning. 'sha' mode hashes the id's
    string form so DuckDB reproduces it exactly (the manifest-oracle
    mode, as in sources/lineage.py); production uses xxhash64."""
    if is_sha(hash_mode):
        return F.pmod(sha60(F.col(col).cast("string")), F.lit(n_buckets)).cast("int")
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _checksum_of(key_cols: list[str], hash_mode: str):
    cols = [F.col(c).cast("string") for c in key_cols]
    if is_sha(hash_mode):
        return F.bit_xor(sha60(F.concat_ws("\x01", *cols)))
    return F.bit_xor(F.xxhash64(*key_cols))


def _write_bucketed(
    df: DataFrame,
    out_dir: str,
    key_cols: list[str],
    n_buckets: int,
    exclude_buckets: list[int] | None = None,
    hash_mode: str = "xxhash64",
) -> None:
    """Generic bucketed write + per-bucket manifests (counts + xor-fold
    checksum over ``key_cols``); manifests land only after the data
    commit, so manifest presence == bucket committed.
    ``exclude_buckets``: buckets already committed in a prior run —
    their data is untouched by the dynamic overwrite and their manifest
    rows must not be appended twice."""
    spark = df.sparkSession
    data_path = os.path.join(out_dir, "data")
    place_buckets(df, n_buckets).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("bucket").parquet(data_path)
    # explicit schema: the read-back runs no schema-inference job
    schema = StructType([df.schema[c] for c in key_cols] + [BUCKET_FIELD])
    written = spark.read.schema(schema).parquet(data_path)
    if exclude_buckets:
        written = written.filter(~F.col("bucket").isin(exclude_buckets))
    manifest = written.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("output_count"),
        _checksum_of(key_cols, hash_mode).alias("content_checksum"),
    )
    write_manifest_files(
        out_dir,
        [{**r.asDict(), "status": "committed"} for r in manifest.collect()],
    )


def run_resumable_curation(
    docs: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    hash_mode: str = "xxhash64",
) -> dict:
    """Quality gate + near-dup clustering + survivor materialization of
    ``docs`` (doc_id, text), resumable from the two checkpoints described
    in the module docstring. Returns a metrics dict (phase timings, rows, reuse
    flags) — the curation twin of run_resumable_extraction's manifest.
    """
    from finetoo_sp_spark.operators import textstats as ts
    from finetoo_sp_spark.operators.components import dedup_keep_list
    from finetoo_sp_spark.operators.dedup import ngram_jaccard_pairs

    is_sha(hash_mode)  # an unknown mode raises here, before any job
    spark = docs.sparkSession
    phases: dict[str, float] = {}
    pairs_dir = os.path.join(out_dir, "pairs")
    surv_dir = os.path.join(out_dir, "survivors")
    marker = os.path.join(pairs_dir, PAIRS_MARKER)

    # --- phase 1: candidate pairs (all-or-nothing checkpoint) ----------
    t = time.time()
    pairs_reused = os.path.exists(marker)
    if pairs_reused:
        pairs = spark.read.parquet(os.path.join(pairs_dir, "data")).drop("bucket")
    else:
        fresh = ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5, max_df=MAX_DF
        ).withColumn("bucket", _bucket_of("id_a", n_buckets, hash_mode))
        _write_bucketed(fresh, pairs_dir, ["id_a", "id_b"], n_buckets, hash_mode=hash_mode)
        n_pairs = spark.read.parquet(os.path.join(pairs_dir, "data")).count()
        with open(marker, "w") as f:  # commit marker AFTER data+manifests
            json.dump({"n_pairs": n_pairs, "threshold": 0.5, "n": 3}, f)
        pairs = spark.read.parquet(os.path.join(pairs_dir, "data")).drop("bucket")
    phases["pairs"] = round(time.time() - t, 2)

    # --- phase 2: survivors (per-bucket resumable, like extraction) ----
    t = time.time()
    done_buckets, _ = committed_buckets(surv_dir)
    n_done = len(done_buckets)

    quality = ts.quality_scores(docs, "doc_id", "text").filter(F.col("keep")).select("id")
    keep = dedup_keep_list(pairs, docs.select(F.col("doc_id").alias("id"))).filter(
        F.col("keep")
    )
    survivors = (
        docs.withColumnRenamed("doc_id", "id")
        .join(quality, "id", "left_semi")
        .join(keep.select("id"), "id", "left_semi")
        .withColumn("bucket", _bucket_of("id", n_buckets, hash_mode))
    )
    todo = survivors
    if done_buckets:
        todo = survivors.filter(~F.col("bucket").isin(done_buckets))
    # empty-todo fast path: count the manifest (tiny), not the corpus
    if n_done < n_buckets:
        _write_bucketed(
            todo, surv_dir, ["id"], n_buckets,
            exclude_buckets=done_buckets, hash_mode=hash_mode,
        )
    phases["survivors"] = round(time.time() - t, 2)

    committed, rows_out = committed_buckets(surv_dir)
    return {
        "pairs_reused": pairs_reused,
        "buckets_total": n_buckets,
        "buckets_committed_before": n_done,
        "buckets_processed": len(committed) - n_done,
        "rows_out": rows_out,
        "phases": phases,
    }
