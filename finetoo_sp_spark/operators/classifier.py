"""fastText-style hashed linear quality classifier (model-based filtering).

Training-pipeline extension (no reference analogue): the model-based
document filter used by CCNet / FineWeb-Edu-style curation — a linear
classifier over hashed bag-of-ngram features that gates each document
on a score threshold. Training the weights is out of scope (that is an
offline job); this operator is the *apply* side: given a weight per
each of N_BUCKETS feature-hash buckets, score every document and emit
a keep/drop flag.

Scoring is integer fixed point end to end, like dsir/importance.py:

    feats      = unigrams ++ adjacent-bigrams of the lowered text
    bucket(f)  = md5-60bit(f) % N_BUCKETS          (portable hash)
    margin     = sum over feature INSTANCES of w[bucket]
    score_fp   = (margin * 2^16) div n_feats      (length-normalized)
    keep       = score_fp >= 0

so the score is an exact, partition-order-independent integer the
DuckDB oracle reproduces bit-for-bit (no sigmoid — monotone in it, and
thresholding commutes through any monotone link).

Weights: a deterministic hash-derived table ``w = md5-60bit('w#' ||
bucket) % (2*span+1) - span`` is synthesized INLINE as a column
expression, so the plan has no join at all — the corpus-side plan is
explode -> map-side weight eval -> one partial-aggregating groupBy(doc).
Nothing scales super-linearly and nothing sits on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .importance import _bigrams, _bucket
from .textstats import _words

N_BUCKETS = 1 << 16  # feature-hash buckets
WEIGHT_SPAN = 1000  # weights lie in [-WEIGHT_SPAN, WEIGHT_SPAN]


def hashed_linear_scores(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_feats, score_fp, keep) — one row per input document, scored
    with the hash-derived weight table of the module docstring;
    score_fp = margin * 2^16 div n_feats, margin in raw weight units."""
    ws = _words(text_col)
    feats = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.concat(ws, _bigrams(ws))).alias("feat"),
    ).select("id", _bucket(F.col("feat"), N_BUCKETS).alias("bucket"))
    w = _bucket(F.concat(F.lit("w#"), F.col("bucket")), 2 * WEIGHT_SPAN + 1) - WEIGHT_SPAN
    scored = feats.select("id", w.alias("w"))

    return (
        scored.groupBy("id")
        .agg(F.count("*").alias("n_feats"), F.sum("w").alias("margin"))
        .select(
            "id",
            "n_feats",
            F.expr("(margin * 65536) div n_feats").alias("score_fp"),
        )
        .withColumn("keep", F.col("score_fp") >= F.lit(0))
    )
