"""Label-propagation communities: hand-graph semantics — majority
vote, smallest-label tie-break, symmetrization, determinism across
partitionings. The full-corpus value check is the community_labels
oracle row."""

from __future__ import annotations

from finetoo_sp_spark.operators.communities import (
    label_propagation,
)


def _edges(spark, pairs, partitions=1):
    return spark.createDataFrame(pairs, "src string, dst string").repartition(
        partitions
    )


def _labels(df):
    return {r["id"]: r["community"] for r in df.collect()}


def test_two_triangles_with_bridge(spark):
    # a-b-c triangle and d-e-f triangle joined by one bridge c-d:
    # majority voting keeps each triangle a single community.
    pairs = [
        ("a", "b"), ("b", "c"), ("a", "c"),
        ("d", "e"), ("e", "f"), ("d", "f"),
        ("c", "d"),
    ]
    lab = _labels(label_propagation(_edges(spark, pairs)))
    assert lab["a"] == lab["b"] == lab["c"]
    assert lab["d"] == lab["e"] == lab["f"]
    assert lab["a"] != lab["d"]


def test_star_votes_and_tie_break(spark):
    # star: center x with leaves a, b. Synchronous rounds 2-cycle:
    # odd rounds give the leaves x's label and x the a/b tie's min label
    # a; even rounds give x its own label back (both leaves vote x) and
    # the leaves x's odd-round label a.
    pairs = [("x", "a"), ("x", "b")]
    lab = _labels(label_propagation(_edges(spark, pairs)))
    assert lab == {"x": "x", "a": "a", "b": "a"}


def test_duplicate_and_reverse_edges_collapse(spark):
    # one vote per neighbor: duplicating (x,b) five times and adding the
    # reverse must not outvote a's tie claim at x (counted per row, b
    # would win x's odd rounds and become the leaves' label).
    pairs = [("x", "b")] * 5 + [("b", "x"), ("x", "a")]
    lab = _labels(label_propagation(_edges(spark, pairs)))
    assert lab == {"x": "x", "a": "a", "b": "a"}


def test_partitioning_invariance(spark):
    pairs = [
        ("a", "b"), ("b", "c"), ("a", "c"),
        ("d", "e"), ("e", "f"), ("d", "f"),
        ("c", "d"), ("f", "g"), ("g", "h"),
    ]
    one = _labels(label_propagation(_edges(spark, pairs, 1)))
    many = _labels(label_propagation(_edges(spark, pairs, 7)))
    assert one == many
