"""Cross-document divergence analytics + BOM-style rollups.

Reference surface:
- BlockDivergenceReport (reference: proto/graph.proto:184-207;
  src/graph/block_analyzer.cc:10-20): per block name, the distinct
  content-hash versions across documents; divergent iff >1 version.
- Shared blocks (block_analyzer.cc:45-52 skeleton): names present in >=2
  documents.
- BOM back-join (reference: src/export/bom_exporter.cc:36-80 — an
  O(parts x nodes) nested rescan): per referenced part, instance count +
  the set of source documents. Spark replaces the nested loop with one
  groupBy + hash join (SURVEY.md C5).

All functions are generic over (doc, name, content-hash) shaped frames so
they serve both the web graph (blocks per page) and any relational table
the driver checks against a SQL oracle.

Scale: one hash shuffle per report (groupBy name) ahead of the final
``orderBy`` range sort. The report is one aggregate, the version set;
both distinct counts are read off it. Asking for ``countDistinct(doc)``
and ``countDistinct(hash)`` beside it would make Catalyst plan two
distinct aggregates over different columns as an ``Expand`` that copies
every input row three times, then two more aggregate levels and a second
hash shuffle. collect_set/sort_array keeps output deterministic
regardless of partition order (the E3/E8 determinism discipline).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from finetoo_sp_spark.operators.primitives import PropertyGraphFrames


def divergence_report(
    df: DataFrame, name_col: str, doc_col: str, hash_col: str
) -> DataFrame:
    """Per name: version count, divergence flag, deterministic version list.

    Output: name, n_docs, n_versions, is_divergent,
    versions (sorted array of struct(doc, content_hash)).

    ``versions`` is the one aggregate. ``n_docs`` and ``n_versions`` are
    the distinct non-null docs and hashes in it, so nulls are ignored as
    ``countDistinct`` ignores them, and both stay ``bigint``.
    """

    def n_distinct(field: str) -> Column:
        values = F.transform("versions", lambda v: v[field])
        return F.size(F.array_distinct(F.filter(values, lambda x: x.isNotNull()))).cast("long")

    return (
        df.groupBy(F.col(name_col).alias("name"))
        .agg(
            F.sort_array(
                F.collect_set(
                    F.struct(F.col(doc_col).alias("doc"), F.col(hash_col).alias("content_hash"))
                )
            ).alias("versions"),
        )
        .withColumn("n_docs", n_distinct("doc"))
        .withColumn("n_versions", n_distinct("content_hash"))
        .withColumn("is_divergent", F.col("n_versions") > 1)
        .select("name", "n_docs", "n_versions", "is_divergent", "versions")
        .orderBy("name")
    )


def divergence_totals(report: DataFrame) -> DataFrame:
    """Totals row (reference: proto/graph.proto:199-206): consistent vs
    divergent block-name counts."""
    return report.agg(
        F.count(F.lit(1)).alias("total_names"),
        F.sum(F.when(F.col("is_divergent"), 1).otherwise(0)).alias("divergent"),
        F.sum(F.when(~F.col("is_divergent"), 1).otherwise(0)).alias("consistent"),
    )


def shared_names(df: DataFrame, name_col: str, doc_col: str) -> DataFrame:
    """Names present in >= 2 distinct documents (n-way intersect,
    reference: block_analyzer.cc:45-52)."""
    return (
        df.groupBy(F.col(name_col).alias("name"))
        .agg(F.countDistinct(doc_col).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy("name")
    )


def bom_report(g: PropertyGraphFrames) -> DataFrame:
    """Per referenced target: instance count + sorted source list
    (reference BOM semantics: INSERT count per block name + source
    drawings, bom_exporter.cc:36-89, sorted by quantity desc :83-88).

    One groupBy replaces the reference's nested rescan; sort_array keeps
    the provenance list deterministic.
    """
    refs = g.edges.filter(F.col("edge_type") == "LINKS_TO")
    return (
        refs.groupBy(F.col("dst").alias("part"))
        .agg(
            F.count(F.lit(1)).alias("quantity"),
            F.sort_array(F.collect_set("src")).alias("sources"),
        )
        .orderBy(F.desc("quantity"), F.asc("part"))
    )


def block_comparison(
    blocks_a: DataFrame,
    blocks_b: DataFrame,
    on: list[str] | None = None,
) -> DataFrame:
    """Per-pair block diff records over (text, n_chars, n_words) blocks
    (reference: BlockComparison,
    proto/graph.proto:305-383 — per block: presence, value equality,
    count deltas between two drawings/pages).

    ``on``: join key(s), e.g. ["pair_id", "name"] when comparing many
    page pairs at once (the scale shape: one equi-join keyed on the
    pair, never a per-pair loop). Full outer join so blocks present in
    only one side still emit a record (in_a/in_b flags).
    """
    on = on or ["name"]
    a = blocks_a.select(
        *on,
        F.col("text").alias("text_a"),
        F.col("n_chars").alias("chars_a"),
        F.col("n_words").alias("words_a"),
    )
    b = blocks_b.select(
        *on,
        F.col("text").alias("text_b"),
        F.col("n_chars").alias("chars_b"),
        F.col("n_words").alias("words_b"),
    )
    return a.join(b, on, "full_outer").select(
        *on,
        F.col("text_a").isNotNull().alias("in_a"),
        F.col("text_b").isNotNull().alias("in_b"),
        F.col("text_a").eqNullSafe(F.col("text_b")).alias("is_equal"),
        (F.coalesce("chars_b", F.lit(0)) - F.coalesce("chars_a", F.lit(0))).alias(
            "chars_delta"
        ),
        (F.coalesce("words_b", F.lit(0)) - F.coalesce("words_a", F.lit(0))).alias(
            "words_delta"
        ),
    )


def canonical_choice(
    df: DataFrame, name_col: str, doc_col: str, hash_col: str
) -> DataFrame:
    """Per name: the canonical version (reference: BlockComparison's
    user canonical choice, proto/graph.proto:305-383 — here the
    automated default a user would then override): majority content
    hash, ties broken on the smallest hash so the choice is
    deterministic under any partitioning.

    Output: (name, canonical_hash, n_docs_version, example_doc).
    Scale: one groupBy on (name, hash) + a per-name window over the
    version counts (version cardinality per name is small by
    construction).
    """
    from pyspark.sql.window import Window

    v = df.groupBy(
        F.col(name_col).alias("name"), F.col(hash_col).alias("canonical_hash")
    ).agg(
        F.count(F.lit(1)).alias("n_docs_version"),
        F.min(doc_col).alias("example_doc"),
    )
    w = Window.partitionBy("name").orderBy(
        F.desc("n_docs_version"), F.asc("canonical_hash")
    )
    return (
        v.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("name", "canonical_hash", "n_docs_version", "example_doc")
    )


def bom_totals(bom: DataFrame) -> DataFrame:
    """Reference: total_unique_parts + total_instances
    (bom_exporter.cc:161-168)."""
    return bom.agg(
        F.count(F.lit(1)).alias("total_unique_parts"),
        F.sum("quantity").alias("total_instances"),
    )
