"""Hot-bucket (skew) defense for banded self-joins.

A template-heavy corpus puts many near-identical fingerprints into one
(band, bits) bucket; `_bucket_self_pairs(bucket_cap=...)` salt-splits
such buckets into triangular cells. These tests assert the INVARIANT the
defense promises: the pair set is byte-identical to the uncapped join —
the split redistributes work, it never adds or drops pairs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finetoo_sp_spark.operators import dedup as dd


@pytest.fixture(scope="module")
def template_corpus(spark):
    # 80 near-identical docs (template + tiny suffix variation: all land
    # in the same simhash band buckets) + 20 distinct docs.
    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the template repeats its boilerplate header and footer "
    ) * 2
    rows = [(i, base + f"tail{i % 4}") for i in range(80)]
    rows += [
        (
            i,
            f"totally different document number {i} carrying its own "
            f"vocabulary {i * 7} {i * 13} {i * 29} nothing shared here",
        )
        for i in range(80, 100)
    ]
    return rows


def _pairs_set(df):
    return {tuple(r) for r in df.collect()}


def test_simhash_capped_equals_uncapped(spark, template_corpus):
    docs = spark.createDataFrame(template_corpus, ["doc_id", "text"])
    uncapped = dd.simhash_pairs(docs, "doc_id", "text", bucket_cap=None)
    capped = dd.simhash_pairs(docs, "doc_id", "text", bucket_cap=8)
    a, b = _pairs_set(uncapped), _pairs_set(capped)
    assert a == b
    # the pathological bucket really is hot: the 80 template docs should
    # pair heavily, so the invariant is exercised on a quadratic bucket
    assert len(a) > 500


def test_minhash_capped_equals_uncapped(spark, template_corpus):
    docs = spark.createDataFrame(template_corpus, ["doc_id", "text"])
    uncapped = dd.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5, bucket_cap=None)
    capped = dd.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5, bucket_cap=8)
    assert _pairs_set(uncapped) == _pairs_set(capped)


def test_bucket_self_pairs_direct(spark):
    # direct unit check on the helper: one hot bucket (60 rows), one cold
    # (5 rows); capped output == uncapped output == exact expectation.
    rows = [(i, "hot") for i in range(60)] + [(100 + i, "cold") for i in range(5)]
    df = spark.createDataFrame(rows, ["id", "bits"]).withColumn("band", F.lit(0))
    uncapped = dd._bucket_self_pairs(df, ["band", "bits"], bucket_cap=None)
    capped = dd._bucket_self_pairs(df, ["band", "bits"], bucket_cap=10)
    expect = {(a, b) for a in range(60) for b in range(60) if a < b}
    expect |= {(100 + a, 100 + b) for a in range(5) for b in range(5) if a < b}
    assert _pairs_set(uncapped.select("id_a", "id_b")) == expect
    assert _pairs_set(capped.select("id_a", "id_b")) == expect


def test_bucket_self_pairs_payload(spark):
    rows = [(i, "hot", float(i) * 2.0) for i in range(40)]
    df = spark.createDataFrame(rows, ["id", "bits", "w"]).withColumn("band", F.lit(0))
    capped = dd._bucket_self_pairs(
        df, ["band", "bits"], payload_cols=["w"], bucket_cap=5
    )
    got = {tuple(r) for r in capped.collect()}
    expect = {
        (a, b, a * 2.0, b * 2.0) for a in range(40) for b in range(40) if a < b
    }
    assert got == expect


def test_registered_salted_queries_engage_hot_branch(spark, sf_dir):
    """The contract's dedup_*_salted queries must actually EXECUTE the
    triangular-cell split at the driver's sf: their template-flooded
    corpus puts >bucket_cap rows into the injected copies' band buckets,
    so the green CORRECTNESS rows exercise the 100 TB defense branch."""
    from finetoo_sp_spark.contract import _template_heavy_corpus

    corpus = _template_heavy_corpus(spark, sf_dir)
    # simhash banding (the registered query's exact parameters)
    fps = dd.simhash(corpus, "doc_id", "text", hash_mode="sha")
    nb, width = 4, 15
    banded = fps.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftrightunsigned("simhash", bi * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bits"),
                    )
                    for bi in range(nb)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bits")
    max_bucket = (
        banded.groupBy("band", "bits").count().agg(F.max("count")).collect()[0][0]
    )
    assert max_bucket > 16, f"salting branch would NOT engage (max bucket {max_bucket})"

    sig = dd.minhash_signatures(corpus, "doc_id", "text", hash_mode="sha")
    r = 4
    mh_banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            ",",
                            *[F.element_at("sig", bi * r + j + 1).cast("string") for j in range(r)],
                        ).alias("bucket"),
                    )
                    for bi in range(8)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    mh_max = (
        mh_banded.groupBy("band", "bucket").count().agg(F.max("count")).collect()[0][0]
    )
    assert mh_max > 16, f"minhash salting would NOT engage (max bucket {mh_max})"
