"""Label-propagation communities: hand-graph semantics — majority
vote, smallest-label tie-break, symmetrization, determinism across
partitionings. The full-corpus value check is the community_labels
oracle row."""

from __future__ import annotations

import pytest

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
    lab = _labels(label_propagation(_edges(spark, pairs), rounds=4))
    assert lab["a"] == lab["b"] == lab["c"]
    assert lab["d"] == lab["e"] == lab["f"]
    assert lab["a"] != lab["d"]


def test_one_round_votes(spark):
    # star: center x with leaves a, b. After 1 round every leaf sees
    # only {x}; x sees {a, b} — tie, so min label a wins.
    pairs = [("x", "a"), ("x", "b")]
    lab = _labels(label_propagation(_edges(spark, pairs), rounds=1))
    assert lab["a"] == "x" and lab["b"] == "x"
    assert lab["x"] == "a"


def test_duplicate_and_reverse_edges_collapse(spark):
    # one vote per neighbor: duplicating (x,a) five times and adding the
    # reverse must not outvote b's tie claim.
    pairs = [("x", "a")] * 5 + [("a", "x"), ("x", "b")]
    lab = _labels(label_propagation(_edges(spark, pairs), rounds=1))
    assert lab["x"] == "a"  # still a tie broken by min label


def test_partitioning_invariance(spark):
    pairs = [
        ("a", "b"), ("b", "c"), ("a", "c"),
        ("d", "e"), ("e", "f"), ("d", "f"),
        ("c", "d"), ("f", "g"), ("g", "h"),
    ]
    one = _labels(label_propagation(_edges(spark, pairs, 1), rounds=3))
    many = _labels(label_propagation(_edges(spark, pairs, 7), rounds=3))
    assert one == many


def test_rounds_validated(spark):
    with pytest.raises(ValueError, match="rounds"):
        label_propagation(_edges(spark, [("a", "b")]), rounds=0)
