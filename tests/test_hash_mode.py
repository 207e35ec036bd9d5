"""``hash_mode`` is 'sha' (the DuckDB-reproducible sha60) or 'xxhash64'.

Any other value must raise ``ValueError`` before a Spark job runs: a
mistyped mode such as 'sha256' used to mean xxhash64 silently, which
takes a run out of the oracle-checkable mode without a word.
"""

from __future__ import annotations

import pytest

from finetoo_sp_spark.extraction.extract import url_salt
from finetoo_sp_spark.operators.packing import pack_token_quota
from finetoo_sp_spark.sources.curation import run_resumable_curation
from finetoo_sp_spark.sources.lineage import run_resumable_extraction

ENTRY_POINTS = {
    "url_salt": lambda spark, out, mode: url_salt(8, hash_mode=mode),
    "run_resumable_extraction": lambda spark, out, mode: run_resumable_extraction(
        spark.createDataFrame([("https://a.example/", b"<p>x</p>")], "url string, html binary"),
        out,
        n_buckets=4,
        hash_mode=mode,
    ),
    "run_resumable_curation": lambda spark, out, mode: run_resumable_curation(
        spark.createDataFrame([(1, "one two three four")], "doc_id long, text string"),
        out,
        n_buckets=4,
        hash_mode=mode,
    ),
    "pack_token_quota": lambda spark, out, mode: pack_token_quota(
        spark.createDataFrame([(1, 10)], "id long, n long"), "id", "n", 100, hash_mode=mode
    ),
}


@pytest.mark.parametrize("entry", sorted(ENTRY_POINTS))
def test_unknown_hash_mode_raises_before_any_job(spark, tmp_path, entry):
    sc = spark.sparkContext
    group = f"unknown-hash-mode-{entry}"
    sc.setJobGroup(group, "hash_mode validation")
    try:
        with pytest.raises(ValueError, match="sha256"):
            ENTRY_POINTS[entry](spark, str(tmp_path / "out"), "sha256")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
