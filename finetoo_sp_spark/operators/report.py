"""Per-group corpus quality report — the round-4 composition capstone.

What a 100 TB curation run actually emits per source/shard before
anyone trains on it: document counts, quality-gate keep rates, token
budget, and length quantiles — all from ONE pass over the text (the
Gopher gate stages words/lines once; the quantile sketch reuses the
gate's word counts), two partial aggregations, and a dimension-sized
join. Nothing here re-reads or re-shuffles the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from finetoo_sp_spark.operators.sketch import quantile_sketch, sketch_quantiles
from finetoo_sp_spark.operators.textstats import gopher_rules


def corpus_report(
    df: DataFrame, id_col: str, text_col: str, group_col: str
) -> DataFrame:
    """(grp, n_docs, n_keep, kept_frac_ppm, total_kept_words, p50_words,
    p90_words) — per-group curation dashboard: Gopher-rule keep rate in
    exact integer ppm, the kept token budget, and sketch-read median/p90
    word counts of the kept documents. Entirely integer; the quantile
    columns are the deterministic bucket lower bounds of the mergeable
    HdrHistogram-style sketch (bounded 1/16 relative error).
    """
    g = gopher_rules(df, id_col, text_col, passthrough=[group_col]).withColumnRenamed(
        group_col, "grp"
    )
    counts = g.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum(F.when(F.col("keep"), F.col("n_words")).otherwise(F.lit(0)))
        .cast("long")
        .alias("total_kept_words"),
    )
    counts = counts.withColumn(
        "kept_frac_ppm", F.expr("n_keep * 1000000 div n_docs")
    )
    kept = g.filter("keep").select("grp", "n_words")
    qs = sketch_quantiles(quantile_sketch(kept, "n_words", "grp"), [500000, 900000])
    pivoted = qs.groupBy("grp").agg(
        F.max(F.when(F.col("q_ppm") == 500000, F.col("est"))).alias("p50_words"),
        F.max(F.when(F.col("q_ppm") == 900000, F.col("est"))).alias("p90_words"),
    )
    return counts.join(pivoted, "grp", "left").select(
        "grp",
        "n_docs",
        "n_keep",
        "kept_frac_ppm",
        "total_kept_words",
        "p50_words",
        "p90_words",
    )


def snapshot_drift(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-``source`` corpus drift between two snapshots: doc counts, exact
    char totals, and integer-ppm deltas — the monitoring table a
    recurring crawl publishes next to each new snapshot so volume
    collapses or boilerplate floods surface as numbers, not incidents.

    Exact-integer throughout (counts, char sums, ppm via BIGINT div),
    so the report is byte-stable across partitionings and a relational
    oracle reproduces it. One partial-aggregating groupBy per side over
    the tiny group dimension, then a full-outer join of two
    dimension-sized aggregates — nothing corpus-scaled shuffles twice.
    """
    def agg(df: DataFrame, suffix: str) -> DataFrame:
        return df.groupBy(F.col("source").alias("grp")).agg(
            F.count("*").alias(f"n_{suffix}"),
            F.sum(F.length("text")).alias(f"chars_{suffix}"),
        )

    a, b = agg(old, "old"), agg(new, "new")
    joined = a.join(b, "grp", "full_outer").select(
        F.col("grp").alias("source"),
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
        F.coalesce("chars_old", F.lit(0)).alias("chars_old"),
        F.coalesce("chars_new", F.lit(0)).alias("chars_new"),
    )
    return joined.select(
        "*",
        F.expr(
            "CASE WHEN n_old = 0 THEN NULL"
            " ELSE ((n_new - n_old) * 1000000) div n_old END"
        ).alias("docs_delta_ppm"),
        F.expr(
            "CASE WHEN chars_old = 0 THEN NULL"
            " ELSE ((chars_new - chars_old) * 1000000) div chars_old END"
        ).alias("chars_delta_ppm"),
    )
