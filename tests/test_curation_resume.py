"""Resumable dedup-curation lineage (sources/curation.py): phase-level
pairs checkpoint + per-bucket survivor resume, mirroring the extraction
pipeline's resume tests."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _survivor_sig(spark, out_dir):
    df = spark.read.parquet(f"{out_dir}/survivors/data")
    return sorted(
        (r["id"], r["bucket"]) for r in df.select("id", "bucket").collect()
    )


def test_curation_fresh_run_and_full_resume(spark, docs, tmp_path):
    from finetoo_sp_spark.sources.curation import run_resumable_curation

    out = str(tmp_path / "cur")
    m1 = run_resumable_curation(docs, out, n_buckets=8)
    assert not m1["pairs_reused"]
    assert m1["rows_out"] > 0
    sig1 = _survivor_sig(spark, out)

    # survivors must equal the one-shot curation_pipeline semantics:
    # quality-pass AND cluster-representative
    from finetoo_sp_spark.operators import textstats as ts
    from finetoo_sp_spark.operators.components import dedup_keep_list
    from finetoo_sp_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5, max_df=100)
    keep = dedup_keep_list(pairs, docs.select(F.col("doc_id").alias("id"))).filter("keep")
    quality = ts.quality_scores(docs, "doc_id", "text").filter("keep").select("id")
    expected = {
        r["id"]
        for r in quality.join(keep.select("id"), "id", "left_semi").collect()
    }
    assert {i for i, _ in sig1} == expected

    # no-op resume: everything committed -> nothing recomputed
    m2 = run_resumable_curation(docs, out, n_buckets=8)
    assert m2["pairs_reused"] and m2["buckets_processed"] == 0
    assert _survivor_sig(spark, out) == sig1


def test_curation_bucket_resume_recomputes_only_missing(spark, docs, tmp_path):
    from finetoo_sp_spark.sources.curation import run_resumable_curation

    out = str(tmp_path / "cur2")
    run_resumable_curation(docs, out, n_buckets=8)
    sig1 = _survivor_sig(spark, out)

    victims = sorted(glob.glob(f"{out}/survivors/_manifests/bucket=*"))[:3]
    assert len(victims) == 3
    for v in victims:
        shutil.rmtree(v)
    m = run_resumable_curation(docs, out, n_buckets=8)
    assert m["pairs_reused"], "pairs phase must be reused on survivor-bucket resume"
    assert m["buckets_processed"] == 3
    assert _survivor_sig(spark, out) == sig1  # byte-identical survivor set


def test_curation_pairs_marker_gone_recomputes_pairs_only(spark, docs, tmp_path):
    from finetoo_sp_spark.sources.curation import PAIRS_MARKER, run_resumable_curation

    out = str(tmp_path / "cur3")
    run_resumable_curation(docs, out, n_buckets=8)
    sig1 = _survivor_sig(spark, out)
    os.remove(f"{out}/pairs/{PAIRS_MARKER}")
    m = run_resumable_curation(docs, out, n_buckets=8)
    assert not m["pairs_reused"]  # pairs recomputed (all-or-nothing phase)
    assert m["buckets_processed"] == 0  # survivors untouched
    assert _survivor_sig(spark, out) == sig1
