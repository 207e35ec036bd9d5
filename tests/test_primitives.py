"""Tests for the schema registry, 8 primitives, plan interpreter, graph
builder and divergence analytics — the reference's operator inventory
(SURVEY.md §2) over the web graph built from the synthetic corpus."""

import re

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from finetoo_sp_spark.datagen import gen_pages
from finetoo_sp_spark.extraction.graph import build_web_graph
from finetoo_sp_spark.operators.divergence import (
    bom_report,
    bom_totals,
    divergence_report,
    divergence_totals,
    shared_names,
)
from finetoo_sp_spark.operators.primitives import (
    op_aggregate,
    op_compare,
    op_filter,
    op_group_by,
    op_join,
    op_match,
    op_project,
    op_traverse,
)
from finetoo_sp_spark.plans.interpreter import execute_plan, parse_plan_json
from finetoo_sp_spark.schema.registry import CapabilityError, web_graph_schema

N = 120


@pytest.fixture(scope="module")
def graph(spark):
    pages = gen_pages(spark, N, partitions=3).cache()
    g = build_web_graph(pages)
    g.nodes = {t: df.cache() for t, df in g.nodes.items()}
    g.edges = g.edges.cache()
    return g


# --- schema discovery (reference: schema_analyzer_test.cc) ---------------
def test_schema_discovery():
    s = web_graph_schema()
    assert "url" in s.matchable_properties("page")
    assert "n_words" in s.aggregable_properties("block")
    assert "content_hash" in s.comparable_properties("block")
    assert set(s.traversable_edges("page")) == {"CONTAINS", "LINKS_TO"}
    assert s.validate() == []


def test_capability_gating(graph):
    with pytest.raises(CapabilityError):
        op_match(graph, "block", "tag", "p")  # tag is not unique
    with pytest.raises(CapabilityError):
        op_aggregate(graph, "page", "SUM", "title")  # title not aggregable
    with pytest.raises(CapabilityError):
        op_filter(graph, "page", "nope", "EQUALS", 1)


# --- the 8 primitives ------------------------------------------------------
def test_match_first_hit(graph):
    url = "https://host0.example.com/page/0"
    rows = op_match(graph, "page", "url", url).collect()
    assert len(rows) == 1 and rows[0].url == url


def test_filter_predicates(graph):
    assert op_filter(graph, "block", "n_words", "GT", 9).count() > 0
    assert op_filter(graph, "block", "tag", "EQUALS", "h1").count() == N
    assert (
        op_filter(graph, "page", "url", "STARTS_WITH", "https://host0.").count()
        == op_filter(graph, "page", "url", "REGEX", "^https://host0\\.").count()
    )
    assert op_filter(graph, "block", "is_content", "EQUALS", True).count() > 0


def test_compare_tolerance(graph):
    u1 = "https://host0.example.com/page/0"
    u2 = "https://host1.example.com/page/1"
    r = op_compare(graph, "page", "n_blocks", "url", u1, u2, tolerance=50).collect()[0]
    assert r.within_tolerance
    r2 = op_compare(graph, "page", "content_hash", "url", u1, u2).collect()[0]
    assert not r2.equal


def test_traverse_and_semi_restrict(graph, spark):
    all_contains = op_traverse(graph, "CONTAINS")
    assert all_contains.count() == graph.nodes["block"].count()
    start = spark.createDataFrame(
        [("https://host0.example.com/page/0",)], ["node_id"]
    )
    some = op_traverse(graph, "CONTAINS", start_ids=start)
    assert 0 < some.count() < all_contains.count()
    assert some.first().provenance.startswith("https://host0.example.com/page/0 -> ")


def test_traverse_multihop(graph):
    two = op_traverse(graph, "LINKS_TO", max_depth=2)
    assert two.filter(F.col("depth") == 2).count() > 0


def test_aggregate_all_kinds(graph):
    r = op_aggregate(graph, "block", "COUNT").collect()[0]
    assert r.count_nodes == graph.nodes["block"].count()
    s = op_aggregate(graph, "block", "SUM", "n_words").collect()[0].sum_n_words
    a = op_aggregate(graph, "block", "AVG", "n_words").collect()[0].avg_n_words
    mn = op_aggregate(graph, "block", "MIN", "n_words").collect()[0].min_n_words
    mx = op_aggregate(graph, "block", "MAX", "n_words").collect()[0].max_n_words
    sd = op_aggregate(graph, "block", "STDDEV", "n_words").collect()[0].stddev_n_words
    assert mn <= a <= mx and s > 0 and sd > 0


def test_group_by_sorted_keys(graph):
    rows = op_group_by(graph, "block", "tag").collect()
    keys = [r.tag for r in rows]
    assert keys == sorted(keys)  # reference std::map ascending order (E8)
    assert sum(r.count_nodes for r in rows) == graph.nodes["block"].count()


def test_project_rename(graph):
    df = op_project(graph, "page", ["url", "n_blocks"], {"n_blocks": "blocks"})
    assert df.columns == ["url", "blocks"]


def test_join_via_edges(graph):
    j = op_join(graph, "page", "block", "CONTAINS")
    assert j.count() == graph.nodes["block"].count()
    assert "block_text" in j.columns and "url" in j.columns


# --- plan interpreter -------------------------------------------------------
def test_plan_json_with_fences(graph):
    plan = """```json
    {"operations": [
      {"type": "FILTER", "target_type": "block", "property": "is_content",
       "predicate": "EQUALS", "value": true},
      {"type": "GROUP_BY", "target_type": "block", "property": "tag"}
    ]}
    ```"""
    res = execute_plan(graph, plan)
    rows = {r.tag: r.count_nodes for r in res.df.collect()}
    assert res.steps == ["FILTER(block)", "GROUP_BY(block)"]
    assert rows["h1"] == N  # every page's h1 is content
    assert "li" not in rows  # nav blocks never content


def test_plan_filter_then_aggregate_pipes(graph):
    plan = [
        {"type": "FILTER", "target_type": "block", "property": "tag", "value": "p"},
        {"type": "FILTER", "target_type": "block", "property": "is_content",
         "value": True},
        {"type": "AGGREGATE", "target_type": "block", "aggregation": "AVG",
         "property": "n_words"},
    ]
    avg = execute_plan(graph, plan).df.collect()[0].avg_n_words
    assert avg >= 10  # content paragraphs are >= 12 words by construction


def test_plan_match_traverse(graph):
    plan = [
        {"type": "MATCH", "target_type": "page", "property": "url",
         "value": "https://host8.example.com/page/8"},
        {"type": "TRAVERSE", "edge_type": "LINKS_TO"},
    ]
    targets = {r.dst for r in execute_plan(graph, plan).df.collect()}
    # page 8 links to parents 8//2=4 and 8//3=2
    assert any("/page/4" in t for t in targets)
    assert any("/page/2" in t for t in targets)


# --- divergence / BOM --------------------------------------------------------
def _divergence_rows(spark):
    return spark.createDataFrame(
        [
            ("d1", "blockA", "h1"), ("d2", "blockA", "h1"),  # consistent
            ("d1", "blockA", "h1"),  # duplicated (doc, hash)
            ("d1", "blockB", "h2"), ("d2", "blockB", "h3"),  # divergent
            ("d1", "blockC", "h4"),
            (None, "blockD", "h5"), ("d1", "blockD", "h5"),  # null doc
            ("d2", "blockE", None), ("d1", "blockE", "h6"),  # null hash
            (None, "blockF", None),  # only (null, null)
            ("d3", None, "h7"),  # null name
        ],
        "doc string, name string, hash string",
    )


def test_divergence_report(spark):
    """Counts follow countDistinct's null rules: null docs and hashes are
    not counted, but their rows still land in ``versions``."""
    df = _divergence_rows(spark)
    rep = divergence_report(df, "name", "doc", "hash")
    assert rep.columns == ["name", "n_docs", "n_versions", "is_divergent", "versions"]
    assert {rep.schema[c].dataType for c in ("n_docs", "n_versions")} == {LongType()}
    got = {
        r.name: (r.n_docs, r.n_versions, r.is_divergent, [tuple(v) for v in r.versions])
        for r in rep.collect()
    }
    assert got == {
        "blockA": (2, 1, False, [("d1", "h1"), ("d2", "h1")]),
        "blockB": (2, 2, True, [("d1", "h2"), ("d2", "h3")]),
        "blockC": (1, 1, False, [("d1", "h4")]),
        "blockD": (1, 1, False, [(None, "h5"), ("d1", "h5")]),
        "blockE": (2, 1, False, [("d1", "h6"), ("d2", None)]),
        "blockF": (0, 0, False, [(None, None)]),
        None: (1, 1, False, [("d3", "h7")]),
    }
    tot = divergence_totals(rep).collect()[0]
    assert (tot.total_names, tot.divergent, tot.consistent) == (7, 1, 6)
    shared = {r.name for r in shared_names(df, "name", "doc").collect()}
    assert shared == {"blockA", "blockB", "blockE"}

    empty = divergence_report(df.limit(0), "name", "doc", "hash")
    assert empty.schema == rep.schema
    assert empty.collect() == []


def test_divergence_report_plan_has_no_expand(spark):
    """One aggregate: no row-multiplying Expand (which two distinct
    aggregates over different columns would plan) and one hash shuffle."""
    rep = divergence_report(_divergence_rows(spark), "name", "doc", "hash")
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert len(re.findall(r"Exchange hashpartitioning\(name#", plan)) == 1


def test_bom_report(graph):
    bom = bom_report(graph)
    top = bom.first()
    # page 0 and 1 are linked by the most pages (id//2, id//3 fan-in)
    assert "/page/0" in top.part or "/page/1" in top.part
    assert top.quantity >= 2
    assert list(top.sources) == sorted(top.sources)
    tot = bom_totals(bom).collect()[0]
    assert tot.total_instances == graph.edges.filter(
        F.col("edge_type") == "LINKS_TO"
    ).count()
