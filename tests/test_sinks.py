"""JSON/CSV sink tests: sanitization, quoting, round-trip."""

from __future__ import annotations

import csv
import glob
import json

from pyspark.sql import functions as F

from finetoo_sp_spark.operators.sinks import sanitize_ascii, write_csv, write_json


def test_sanitize_ascii(spark):
    df = spark.createDataFrame(
        [("a\nb\tc\x07dé",)], ["s"]
    ).select(sanitize_ascii("s").alias("s"))
    assert df.collect()[0]["s"] == "a b cd"


def test_write_json_sanitized(spark, tmp_path):
    df = spark.createDataFrame([(1, "part\nA\x01"), (2, "ok")], ["part_id", "name"])
    out = str(tmp_path / "j")
    write_json(df, out)
    rows = [json.loads(line) for f in glob.glob(out + "/part-*") for line in open(f)]
    got = {r["part_id"]: r["name"] for r in rows}
    assert got == {1: "part A", 2: "ok"}


def test_write_csv_quoted_header(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 'say "hi", ok', 2.5)], ["id", "name", "qty"]
    )
    out = str(tmp_path / "c")
    write_csv(df.coalesce(1), out)
    f = glob.glob(out + "/part-*.csv")[0]
    raw = open(f).read()
    assert raw.splitlines()[0] == '"id","name","qty"'
    rows = list(csv.DictReader(open(f)))
    assert rows[0]["name"] == 'say "hi", ok'
    assert rows[0]["qty"] == "2.5"


def test_graph_stats(spark):
    """D5: nodes/edges per type, computed not stored."""
    from finetoo_sp_spark.operators.primitives import PropertyGraphFrames
    from finetoo_sp_spark.schema.registry import PropertyMeta, Schema

    s = Schema("t")
    s.add_node_type("n", [PropertyMeta("node_id", "int64", unique=True)])
    g = PropertyGraphFrames(
        schema=s,
        nodes={"n": spark.createDataFrame([(1,), (2,)], ["node_id"])},
        edges=spark.createDataFrame(
            [("E", 1, 2, 1.0)], ["edge_type", "src", "dst", "weight"]
        ),
    )
    got = {(r["kind"], r["entity"]): r["n"] for r in g.stats().collect()}
    assert got[("n", "node")] == 2
    assert got[("E", "edge")] == 1


def test_format_bom_golden(spark):
    """FormatBOM byte-exact golden (reference: query_service.cc:181-206
    fixed-width part/qty table, sorted by quantity desc)."""
    from finetoo_sp_spark.operators.sinks import format_bom_lines

    bom = spark.createDataFrame(
        [("BOLT-M6", 12), ("PANEL-A", 3), ("AXLE", 12)], ["part", "quantity"]
    )
    lines = [
        r["line"]
        for r in format_bom_lines(bom).orderBy("line_no").collect()
    ]
    assert lines == [
        "PART" + " " * 36 + "     QTY",
        "-" * 48,
        "AXLE" + " " * 36 + "      12",
        "BOLT-M6" + " " * 33 + "      12",
        "PANEL-A" + " " * 33 + "       3",
    ]


def test_dim_type_decode(spark):
    from pyspark.sql import functions as F

    from finetoo_sp_spark.operators.sinks import dim_type_decode

    df = spark.range(7).select(dim_type_decode(F.col("id")).alias("t"))
    assert [r["t"] for r in df.collect()] == [
        "LINEAR", "ALIGNED", "ANGULAR", "DIAMETER", "RADIUS", "OTHER", "OTHER",
    ]


def test_format_bom_overwidth_ellipsis(spark):
    """Part names wider than PART_WIDTH (40) are truncated to width-3 +
    '...' (reference over-width rule) instead of being silently rpad-cut."""
    from finetoo_sp_spark.operators.sinks import format_bom_lines

    bom = spark.createDataFrame(
        [("ASSEMBLY-" + "X" * 40, 7), ("SHORT", 1)], ["part", "quantity"]
    )
    lines = {r["line_no"]: r["line"] for r in format_bom_lines(bom).collect()}
    assert lines[2] == "ASSEMBLY-" + "X" * 28 + "..." + "       7"
    assert lines[3] == "SHORT" + " " * 35 + "       1"
    assert all(len(v) == 48 for v in lines.values())
