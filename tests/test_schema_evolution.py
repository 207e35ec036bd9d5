"""Schema evolution and the commit point of the snapshot-log versioned
table (sources/table.py — Iceberg column-ID semantics on plain parquet)."""

import pytest
from pyspark.sql import functions as F

from finetoo_sp_spark.sources.table import (
    commit_version,
    evolve_schema,
    read_version,
    rollback,
    upsert_version,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_add_rename_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    commit_version(
        _df(spark, [(1, 10), (2, 20)], "id long, a long"), path, "overwrite"
    )
    evolve_schema(path, rename={"a": "b"}, add=[("c", "string")])
    commit_version(
        _df(spark, [(3, 30, "x")], "id long, b long, c string"), path
    )
    rows = {r["id"]: r for r in read_version(spark, path).collect()}
    # renamed column keeps old data by field id; added column is NULL
    # in pre-evolution files
    assert rows[1]["b"] == 10 and rows[1]["c"] is None
    assert rows[3]["b"] == 30 and rows[3]["c"] == "x"
    # time travel: version 0 still reads under its ORIGINAL schema
    v0 = read_version(spark, path, 0)
    assert v0.columns == ["id", "a"]
    assert {r["a"] for r in v0.collect()} == {10, 20}


def test_commit_schema_mismatch_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    commit_version(_df(spark, [(1, 10)], "id long, a long"), path, "overwrite")
    with pytest.raises(ValueError, match="evolve_schema"):
        commit_version(_df(spark, [(2, "x")], "id long, a string"), path)
    with pytest.raises(ValueError, match="evolve_schema"):
        commit_version(_df(spark, [(2,)], "id long"), path)


def test_evolve_errors(spark, tmp_path):
    path = str(tmp_path / "t")
    commit_version(_df(spark, [(1, 10)], "id long, a long"), path, "overwrite")
    with pytest.raises(ValueError, match="unknown column"):
        evolve_schema(path, rename={"zz": "y"})
    with pytest.raises(ValueError, match="already exists"):
        evolve_schema(path, add=[("a", "long")])
    with pytest.raises(ValueError, match="already exists"):
        evolve_schema(path, rename={"a": "id"})


def test_upsert_after_rename_maps_key_by_field_id(spark, tmp_path):
    path = str(tmp_path / "t")
    commit_version(
        _df(spark, [(1, 10), (2, 20)], "doc long, n long"), path, "overwrite"
    )
    evolve_schema(path, rename={"doc": "doc_id"})
    upsert_version(
        _df(spark, [(2, -1), (9, 90)], "doc_id long, n long"), path, "doc_id"
    )
    rows = {r["doc_id"]: r["n"] for r in read_version(spark, path).collect()}
    assert rows == {1: 10, 2: -1, 9: 90}
    # rename AFTER the upsert too: the delete file still joins via the
    # write-time name mapped through the field id
    evolve_schema(path, rename={"doc_id": "page_id"})
    rows = {r["page_id"]: r["n"] for r in read_version(spark, path).collect()}
    assert rows == {1: 10, 2: -1, 9: 90}


def test_evolution_on_top_of_mor_delegates(spark, tmp_path):
    path = str(tmp_path / "t")
    commit_version(
        _df(spark, [(1, 10), (2, 20)], "id long, n long"), path, "overwrite"
    )
    upsert_version(_df(spark, [(2, -1)], "id long, n long"), path, "id")
    evolve_schema(path, add=[("tag", "string")], rename={"n": "m"})
    rows = {r["id"]: r for r in read_version(spark, path).collect()}
    assert rows[1]["m"] == 10 and rows[2]["m"] == -1
    assert rows[1]["tag"] is None and len(rows) == 2


def test_rollback_restores_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    commit_version(_df(spark, [(1, 10)], "id long, a long"), path, "overwrite")
    evolve_schema(path, rename={"a": "b"})
    rollback(spark, path, 0)
    df = read_version(spark, path)
    assert df.columns == ["id", "a"]  # schema follows the snapshot
    # a commit after the rollback stays schema-tracked under v0's shape
    commit_version(_df(spark, [(2, 20)], "id long, a long"), path)
    assert {r["a"] for r in read_version(spark, path).collect()} == {10, 20}


def test_legacy_tables_stay_legacy(spark, tmp_path):
    """A table whose v0 predates schema tracking must keep reading and
    appending exactly as before (no schema keys, no validation)."""
    import json
    import os

    path = str(tmp_path / "t")
    commit_version(_df(spark, [(1, 10)], "id long, a long"), path, "overwrite")
    # strip the schema keys from the manifest to simulate a pre-feature
    # table on disk
    mf = os.path.join(path, "_versions", "v0.json")
    m = json.load(open(mf))
    for k in ("schema_id", "schemas", "file_schemas"):
        m.pop(k, None)
    os.unlink(mf)
    json.dump(m, open(mf, "w"))
    commit_version(_df(spark, [(2, 20)], "id long, a long"), path)
    assert read_version(spark, path).count() == 2
    with pytest.raises(ValueError, match="predates schema tracking"):
        evolve_schema(path, add=[("x", "long")])


def test_pruned_read_after_rename_keeps_all_rows(spark, tmp_path):
    """Stats recorded under a column's old name must never LOSE rows
    after a rename: pruned reads fall back to a full projected resolve
    when files span schemas."""
    from finetoo_sp_spark.sources.table import read_version_pruned

    path = str(tmp_path / "t")
    commit_version(
        _df(spark, [(i, i * 10) for i in range(8)], "id long, a long"),
        path, "overwrite", stats_cols=["id"],
    )
    evolve_schema(path, rename={"a": "b"})
    commit_version(
        _df(spark, [(100, 1), (101, 2)], "id long, b long"),
        path, stats_cols=["id"],
    )
    df, report = read_version_pruned(spark, path, "id", 2, 101)
    rows = {r["id"] for r in df.collect()}
    assert rows == {2, 3, 4, 5, 6, 7, 100, 101}
    assert report["files_read"] == report["files_total"]  # conservative


def test_publish_cas_two_writers_one_winner(tmp_path):
    """The commit point is a true CAS (os.link, not exists-check +
    replace): of N threads racing the same version number, exactly one
    commits and the rest raise CommitConflict — the winner's manifest
    is never silently overwritten."""
    import json
    import os
    import threading

    from finetoo_sp_spark.sources.table import CommitConflict, _publish

    path = str(tmp_path / "race")
    results = [None] * 8
    barrier = threading.Barrier(8)

    def writer(i):
        barrier.wait()
        try:
            _publish(path, [f"data/w{i}.parquet"], "overwrite", None,
                     extra={"writer": i})
            results[i] = "won"
        except CommitConflict:
            results[i] = "lost"

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert results.count("won") == 1
    assert results.count("lost") == 7
    winner = results.index("won")
    with open(os.path.join(path, "_versions", "v0.json")) as f:
        m = json.load(f)
    assert m["writer"] == winner
    assert m["files"] == [f"data/w{winner}.parquet"]
    # no temp files left behind by winners or losers
    leftovers = [f for f in os.listdir(os.path.join(path, "_versions"))
                 if f.endswith(".tmp")]
    assert leftovers == []
