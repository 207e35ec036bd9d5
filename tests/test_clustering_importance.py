"""Tests for k-means clustering, SemDeDup, and DSIR importance weights.

Hand-built embeddings with geometrically obvious clusters, plus the
standing determinism check (same input, different partitioning -> same
output) that backs the fixed-point design claims.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finetoo_sp_spark.operators import clustering as cl
from finetoo_sp_spark.operators import importance as imp
from finetoo_sp_spark.operators.clustering import _tdiv


def _vec(*head, dims=8):
    v = list(head) + [0.0] * (dims - len(head))
    return [float(x) for x in v]


@pytest.fixture(scope="module")
def emb(spark):
    # two tight groups on opposite corners; ids 0,1 seed the centroids
    rows = [
        (0, _vec(1.0, 1.0)),
        (1, _vec(-1.0, -1.0)),
        (2, _vec(0.9, 1.1)),
        (3, _vec(-1.1, -0.9)),
        (4, _vec(1.2, 0.8)),
        (5, _vec(-0.8, -1.2)),
        (6, _vec(0.99, 1.01)),  # near-dup of 0 in direction
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )


def test_tdiv_truncates_toward_zero():
    assert _tdiv(-7, 2) == -3  # Spark div / DuckDB //, NOT Python floor (-4)
    assert _tdiv(7, 2) == 3
    assert _tdiv(-6, 3) == -2


def test_kmeans_separates_obvious_groups(emb):
    out = {r["id"]: r["cluster"] for r in cl.kmeans_assign(emb, "vec_id", "embedding", k=2, iters=2).collect()}
    assert len(out) == 7
    pos = {out[i] for i in (0, 2, 4, 6)}
    neg = {out[i] for i in (1, 3, 5)}
    assert len(pos) == 1 and len(neg) == 1 and pos != neg


def test_kmeans_partition_invariant(emb):
    a = sorted(cl.kmeans_assign(emb, "vec_id", "embedding", k=2, iters=3).collect())
    b = sorted(
        cl.kmeans_assign(emb.repartition(5), "vec_id", "embedding", k=2, iters=3).collect()
    )
    assert a == b


def test_semdedup_drops_within_cluster_near_dup(emb):
    out = cl.semdedup_survivors(
        emb, "vec_id", "embedding", k=2, threshold=0.999, n_bits=2
    )
    ids = {r["id"] for r in out.collect()}
    # 6 is nearly parallel to 0 (cosine ~0.99995) and in the same cluster;
    # every other within-cluster pair is below 0.999 (max ~0.9950):
    # the larger id of the one near-dup pair is dropped, the rest survive
    assert 6 not in ids
    assert {0, 1, 2, 3, 4, 5} <= ids


def test_dsir_prefers_target_like_docs(spark):
    rows = [
        (1, "alpha beta alpha beta alpha beta", "tgt"),
        (2, "alpha beta alpha beta alpha beta", "tgt"),
        (3, "alpha beta alpha beta alpha beta", "raw"),  # target-like raw doc
        (4, "gamma delta gamma delta gamma delta", "raw"),
        (5, "one", "raw"),  # no bigrams
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {
        r["id"]: r
        for r in imp.dsir_scores(
            docs, "doc_id", "text", F.col("source") == "tgt", n_buckets=64
        ).collect()
    }
    assert len(out) == 5
    # target-overlapping doc outscores the disjoint one
    assert out[3]["dsir_score"] > out[4]["dsir_score"]
    # same text => same score regardless of which side it sat on
    assert out[1]["dsir_score"] == out[3]["dsir_score"]
    assert out[5]["n_bigrams"] == 0 and out[5]["dsir_score"] == 0
    assert out[1]["n_bigrams"] == 5  # 6 words -> 5 bigrams


def test_dsir_partition_invariant(spark):
    rows = [(i, f"w{i} w{(i*7) % 5} w{(i*3) % 4} common tail words", "tgt" if i % 3 == 0 else "raw") for i in range(30)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    a = sorted(
        imp.dsir_scores(docs, "doc_id", "text", F.col("source") == "tgt").collect()
    )
    b = sorted(
        imp.dsir_scores(
            docs.repartition(7), "doc_id", "text", F.col("source") == "tgt"
        ).collect()
    )
    assert a == b
