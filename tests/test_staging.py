"""Query builders stage their fixture files under a root this process
owns, and read each table's parquet schema once."""

from __future__ import annotations

import os
import tempfile

from finetoo_sp_spark import contract
from finetoo_sp_spark.contract._core import T, _tmp_out


def test_builds_stage_into_fresh_paths_under_one_root(spark, sf_dir):
    a, b = _tmp_out("x"), _tmp_out("x")
    assert a != b
    assert os.path.dirname(a) == os.path.dirname(b)
    assert os.path.join(tempfile.gettempdir(), "finetoo_q_x") not in (a, b)
    assert not os.path.exists(a) and not os.path.exists(b)

    # a second build of a staged query leaves the first one's files alone
    build = contract.queries()["warc_roundtrip"]
    first, second = build(spark, sf_dir), build(spark, sf_dir)
    rows = sorted(first.collect())
    assert len(rows) == 500
    assert sorted(second.collect()) == rows


def test_table_schema_is_read_once(spark, sf_dir):
    tracker = spark.sparkContext.statusTracker()
    T(spark, sf_dir, "documents")
    jobs = set(tracker.getJobIdsForGroup())
    T(spark, sf_dir, "documents")
    assert set(tracker.getJobIdsForGroup()) <= jobs
