"""CCNet-style language-model perplexity filtering.

Training-pipeline extension (no reference analogue): CCNet (Wenzek et
al. 2020, arXiv:1911.00359) scores every crawled document by its
perplexity under a small LM trained on a trusted reference corpus
(Wikipedia in the paper), then splits the corpus into head / middle /
tail terciles by that score — head being the most reference-like text.

This implementation keeps the published shape — a reference-trained
bigram model with context-conditioned probabilities, per-document
mean cost, tercile bucketing against thresholds derived from the
reference distribution — but replaces the float log-probability with an
integer fixed-point per-instance cost

    cost_fp(bigram) = ((cnt_ref_ctx + V) * scale) div (cnt_ref_bigram + 1)

i.e. ``scale / p_ref(bigram | ctx)`` under add-one smoothing over
V = 256 hashed buckets, with scale = 2^16. Rationale (same trade as
operators/importance.py): a sum of longs is exact and partition-order independent, so the score is
byte-stable and a DuckDB twin reproduces it bit-for-bit, while
monotonicity per bigram in ``-log p`` — all the tercile split consumes
— is preserved. Feature hash: bucket = int(md5(gram)[:15 hex]) % V,
identical across Spark (``conv(substr(md5(x),1,15),16,10)``) and DuckDB
(``('0x' || substr(md5(x),1,15))::BIGINT``).

Scale story (100 TB): the LM is two broadcast tables of at most V rows
each (bigram-bucket counts and context-bucket counts over the REFERENCE
slice only), so the corpus-side plan is explode -> two map-side probes
-> one partial-aggregating groupBy(doc). The tercile thresholds are a
window over the bounded reference slice only (CCNet's thresholds come
from held-out Wikipedia, not the crawl), collected as two scalars and
broadcast — the 10^12-row corpus is never globally sorted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .importance import _bigrams, _bucket
from .textstats import _words


def ccnet_lm_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    ref_filter,
) -> DataFrame:
    """(id, n_bigrams, lm_cost_fp, cost_per_bigram_fp, ppl_bucket).

    ``ref_filter``: boolean Column selecting the trusted reference slice
    (e.g. ``F.col("source") == "src0"``). ``ppl_bucket`` is 'head' /
    'middle' / 'tail' by reference-derived tercile thresholds on the
    per-bigram mean cost; documents with no bigrams cost 0 (head).
    """
    staged = docs.select(
        F.col(id_col).alias("id"),
        ref_filter.alias("_is_ref"),
        _words(text_col).alias("_w"),
    )
    grams = staged.select(
        "id",
        "_is_ref",
        F.explode(_bigrams(F.col("_w"))).alias("bigram"),
    ).select(
        "id",
        "_is_ref",
        _bucket(F.col("bigram"), 256).alias("bg_bucket"),
        _bucket(F.split(F.col("bigram"), " ")[0], 256).alias("ctx_bucket"),
    )

    ref = grams.filter("_is_ref")
    bg_counts = ref.groupBy("bg_bucket").agg(F.count("*").alias("cnt_bg"))
    ctx_counts = ref.groupBy("ctx_bucket").agg(F.count("*").alias("cnt_ctx"))

    costed = (
        grams.join(F.broadcast(bg_counts), "bg_bucket", "left")
        .join(F.broadcast(ctx_counts), "ctx_bucket", "left")
        .select(
            "id",
            "_is_ref",
            F.expr(
                "((coalesce(cnt_ctx, 0) + 256) * 65536) div (coalesce(cnt_bg, 0) + 1)"
            ).alias("cost_fp"),
        )
    )
    scored = costed.groupBy("id", "_is_ref").agg(
        F.count("*").alias("n_bigrams"), F.sum("cost_fp").alias("lm_cost_fp")
    )
    ids = staged.select("id", "_is_ref")
    per_doc = ids.join(scored.drop("_is_ref"), "id", "left").select(
        "id",
        "_is_ref",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("lm_cost_fp", F.lit(0)).alias("lm_cost_fp"),
        F.expr("coalesce(lm_cost_fp div n_bigrams, 0)").alias("cost_per_bigram_fp"),
    )

    # tercile thresholds over the REFERENCE slice only (bounded), then
    # broadcast as two scalars to the full corpus.
    ref_docs = per_doc.filter("_is_ref").select("id", "cost_per_bigram_fp")
    tiled = ref_docs.withColumn(
        "tile", F.ntile(3).over(Window.orderBy("cost_per_bigram_fp", "id"))
    )
    thresholds = tiled.agg(
        F.max(F.when(F.col("tile") == 1, F.col("cost_per_bigram_fp"))).alias("t1"),
        F.max(F.when(F.col("tile") == 2, F.col("cost_per_bigram_fp"))).alias("t2"),
    )
    return (
        per_doc.crossJoin(F.broadcast(thresholds))
        .select(
            "id",
            "n_bigrams",
            "lm_cost_fp",
            "cost_per_bigram_fp",
            F.when(F.col("cost_per_bigram_fp") <= F.col("t1"), F.lit("head"))
            .when(F.col("cost_per_bigram_fp") <= F.col("t2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("ppl_bucket"),
        )
    )
