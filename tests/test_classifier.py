"""Hashed linear quality classifier (operators/classifier.py)."""

import pytest

from pyspark.sql import functions as F

from finetoo_sp_spark.operators.classifier import (
    N_BUCKETS,
    WEIGHT_SPAN,
    hashed_linear_scores,
)
from finetoo_sp_spark.operators.importance import _bucket


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "good clean prose"),
        (2, "spam spam spam"),
        (3, "good spam"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_score_is_the_length_normalized_margin(spark, corpus):
    """score_fp = (sum of the hash-derived weights of every unigram and
    bigram instance) * 65536 div n_feats, and keep = score_fp >= 0."""
    feats = {
        1: ["good", "clean", "prose", "good clean", "clean prose"],
        2: ["spam"] * 3 + ["spam spam"] * 2,
        3: ["good", "spam", "good spam"],
    }
    names = sorted({f for fs in feats.values() for f in fs})
    bucket = _bucket(F.col("feat"), N_BUCKETS)
    w = _bucket(F.concat(F.lit("w#"), bucket), 2 * WEIGHT_SPAN + 1) - WEIGHT_SPAN
    weight = {
        r["feat"]: r["w"]
        for r in spark.createDataFrame([(f,) for f in names], "feat string")
        .select("feat", w.alias("w"))
        .collect()
    }
    rows = {r["id"]: r for r in hashed_linear_scores(corpus, "doc_id", "text").collect()}
    for doc, fs in feats.items():
        margin = sum(weight[f] for f in fs)
        score = abs(margin * 65536) // len(fs) * (1 if margin >= 0 else -1)  # div truncates
        assert (rows[doc]["n_feats"], rows[doc]["score_fp"]) == (len(fs), score), doc
        assert rows[doc]["keep"] is (score >= 0)


def test_default_weights_deterministic_and_partition_invariant(spark, corpus):
    a = hashed_linear_scores(corpus, "doc_id", "text").collect()
    b = hashed_linear_scores(corpus.repartition(5), "doc_id", "text").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # every doc scored exactly once
    assert len(a) == 3
