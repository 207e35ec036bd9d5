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
    # four groups on the first four axes; ids 0-3 (the K smallest) seed
    # the centroids, ids 4-7 are near-parallel copies of them, and id 8
    # sits in group 0 but far off its direction (cosine ~0.29 with id 0)
    assert cl.K == 4
    axes = [_vec(*([0.0] * a + [1.0])) for a in range(4)]
    rows = [(i, axes[i]) for i in range(4)]
    rows += [(4 + i, [x + (0.01 if j == 4 else 0.0) for j, x in enumerate(axes[i])]) for i in range(4)]
    rows += [(8, _vec(0.3, 0.0, 0.0, 0.0, 1.0))]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )


def test_tdiv_truncates_toward_zero():
    assert _tdiv(-7, 2) == -3  # Spark div / DuckDB //, NOT Python floor (-4)
    assert _tdiv(7, 2) == 3
    assert _tdiv(-6, 3) == -2


def test_kmeans_separates_obvious_groups(emb):
    out = {r["id"]: r["cluster"] for r in cl.kmeans_assign(emb, "vec_id", "embedding").collect()}
    assert len(out) == 9
    groups = [{0, 4, 8}, {1, 5}, {2, 6}, {3, 7}]
    labels = [{out[i] for i in g} for g in groups]
    assert all(len(lab) == 1 for lab in labels)
    assert len(set().union(*labels)) == 4


def test_kmeans_partition_invariant(emb):
    a = sorted(cl.kmeans_assign(emb, "vec_id", "embedding").collect())
    b = sorted(cl.kmeans_assign(emb.repartition(5), "vec_id", "embedding").collect())
    assert a == b


def test_semdedup_drops_within_cluster_near_dup(emb):
    ids = {r["id"] for r in cl.semdedup_survivors(emb, "vec_id", "embedding").collect()}
    # 4-7 are nearly parallel to 0-3 (cosine ~0.99995) in the same
    # cluster and sign bucket: the larger id of each pair is dropped.
    # 8 shares 0's cluster but its cosine with 0 and 4 is below
    # SEMDEDUP_THRESHOLD, so it survives.
    assert ids == {0, 1, 2, 3, 8}


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
        for r in imp.dsir_scores(docs, "doc_id", "text", F.col("source") == "tgt").collect()
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
