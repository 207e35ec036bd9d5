"""DSIR-style data-selection importance weights.

Training-pipeline extension (no reference analogue): Data Selection with
Importance Resampling (Xie et al. 2023, arXiv:2302.03169) scores each
raw document by how much its hashed n-gram feature distribution looks
like a *target* domain vs the raw corpus, then resamples by that weight.

This implementation keeps the published shape — hashed bigram features,
bucketed bag-of-ngrams distributions for target and raw — but replaces
the log-probability ratio with an integer fixed-point per-bucket ratio
``(target_count + 1) * scale div (raw_count + 1)`` summed over the
document's bigram instances. Rationale: the sum of per-bucket longs is
exact and partition-order independent (a float log-sum is neither), so
the score is byte-stable and a DuckDB oracle reproduces it exactly;
monotonicity in the target/raw ratio — all resampling needs — is
preserved.

Feature hash: bucket = int(md5(bigram)[:15 hex]) % DSIR_BUCKETS. md5 is
identical across Spark (``conv(substr(md5(x),1,15),16,10)``) and DuckDB
(``('0x' || substr(md5(x),1,15))::BIGINT``); 15 hex chars = 60 bits
keeps the cast inside BIGINT range.

Scale story (100 TB): the bucket ratio table has DSIR_BUCKETS rows
regardless of corpus size — it broadcast-joins to the exploded bigram
stream, so the corpus-side plan is explode -> map-side probe -> one
partial-aggregating groupBy(doc). Counting the two distributions is one
groupBy over DSIR_BUCKETS groups each. Nothing is quadratic and nothing
driver-side scales with the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .textstats import _words

DSIR_BUCKETS = 256  # hashed-bigram buckets of the importance ratio table


def _bigrams(words_col):
    """array<string> of space-joined adjacent word pairs (empty when
    fewer than 2 words)."""
    n = F.size(words_col)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(words_col, 1, n - 1),
            F.slice(words_col, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _bucket(col, n_buckets: int):
    return (F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long") % n_buckets).cast(
        "long"
    )


def dsir_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    target_filter,
) -> DataFrame:
    """(id, n_bigrams, dsir_score) — higher score = more target-like.

    ``target_filter``: boolean Column selecting the target-domain sample
    (e.g. ``F.col("source") == "src0"``). Both distributions are
    Laplace-smoothed by +1 so empty buckets stay finite; docs with no
    bigrams score 0.
    """
    staged = docs.select(
        F.col(id_col).alias("id"),
        target_filter.alias("_is_target"),
        _words(text_col).alias("_w"),
    )
    grams = staged.select(
        "id", "_is_target", F.explode(_bigrams(F.col("_w"))).alias("bigram")
    ).withColumn("bucket", _bucket(F.col("bigram"), DSIR_BUCKETS))

    counts = grams.groupBy("bucket").agg(
        F.count("*").alias("cnt_raw"),
        F.sum(F.when(F.col("_is_target"), 1).otherwise(0)).alias("cnt_target"),
    )
    ratios = counts.select(
        "bucket",
        F.expr("((cnt_target + 1) * 65536) div (cnt_raw + 1)").alias("ratio_fp"),
    )

    scored = (
        grams.join(F.broadcast(ratios), "bucket")
        .groupBy("id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("ratio_fp").alias("dsir_score"))
    )
    # left join back so bigram-less docs appear with score 0
    ids = staged.select("id")
    return ids.join(scored, "id", "left").select(
        "id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("dsir_score", F.lit(0)).alias("dsir_score"),
    )
