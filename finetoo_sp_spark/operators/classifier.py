"""fastText-style hashed linear quality classifier (model-based filtering).

Training-pipeline extension (no reference analogue): the model-based
document filter used by CCNet / FineWeb-Edu-style curation — a linear
classifier over hashed bag-of-ngram features that gates each document
on a score threshold. Training the weights is out of scope (that is an
offline job); this operator is the *apply* side: given a weight table
over ``n_buckets`` feature-hash buckets, score every document and emit
a keep/drop flag.

Scoring is integer fixed point end to end, like dsir/importance.py:

    feats      = unigrams ++ adjacent-bigrams of the lowered text
    bucket(f)  = md5-60bit(f) % n_buckets          (portable hash)
    margin     = sum over feature INSTANCES of w[bucket]
    score_fp   = (margin * scale) div n_feats      (length-normalized)
    keep       = score_fp >= threshold_fp

so the score is an exact, partition-order-independent integer the
DuckDB oracle reproduces bit-for-bit (no sigmoid — monotone in it, and
thresholding commutes through any monotone link).

Weights: pass a (bucket:long, w:long) DataFrame — it is dimension-sized
(n_buckets rows regardless of corpus size) and broadcast-joins to the
exploded feature stream. When ``weights=None`` a deterministic
hash-derived table ``w = md5-60bit('w#' || bucket) % (2*span+1) - span``
is synthesized INLINE as a column expression: the default path has no
join at all — the corpus-side plan is explode -> map-side weight eval ->
one partial-aggregating groupBy(doc). Either way nothing scales
super-linearly and nothing sits on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .importance import _bigrams, _bucket
from .textstats import _words


def hashed_linear_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame | None = None,
    n_buckets: int = 1 << 16,
    threshold_fp: int = 0,
) -> DataFrame:
    """(id, n_feats, score_fp, keep) — one row per input document.

    ``weights``: optional (bucket, w) table; defaults to the
    deterministic hash-derived table described in the module docstring.
    ``threshold_fp`` is in score_fp units (score_fp = margin * 2^16 /
    n_feats, margin in raw weight units).
    """
    ws = _words(text_col)
    feats = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.concat(ws, _bigrams(ws))).alias("feat"),
    ).select("id", _bucket(F.col("feat"), n_buckets).alias("bucket"))

    if weights is None:
        span = 1000
        w = _bucket(F.concat(F.lit("w#"), F.col("bucket")), 2 * span + 1) - span
        scored = feats.select("id", w.alias("w"))
    else:
        scored = feats.join(F.broadcast(weights), "bucket", "left").select(
            "id", F.coalesce("w", F.lit(0)).alias("w")
        )

    return (
        scored.groupBy("id")
        .agg(F.count("*").alias("n_feats"), F.sum("w").alias("margin"))
        .select(
            "id",
            "n_feats",
            F.expr("(margin * 65536) div n_feats").alias("score_fp"),
        )
        .withColumn("keep", F.col("score_fp") >= F.lit(threshold_fp))
    )
