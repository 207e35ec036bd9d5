"""Web property-graph builder: pages DataFrame -> PropertyGraphFrames.

The Spark analogue of the reference's GraphBuilder
(reference: src/graph/graph_builder.cc:19-77 — schema attach, entity/block
node conversion, REFERENCES edge pass, stats):

- page nodes   <- extract_pages() rows, node_id = url, plus a SHA-256
  content hash of the extracted text (reference: source_file_hash,
  proto/graph.proto:163);
- block nodes  <- blocks_arrow() rows, node_id = '<url>#b<block_id>',
  plus a per-block SHA-256 content hash (reference:
  BlockContent.content_hash, proto/graph.proto:172, hashed over
  deterministically-ordered content, block_analyzer.cc:22-30 — our block
  text is already deterministic per url so the hash is too);
- CONTAINS edges: page -> block (structural, like block nesting);
- LINKS_TO edges: page -> page from resolved <a href> targets that exist
  in the corpus (reference: INSERT -> REFERENCES edge join,
  graph_builder.cc:41-61 — an equi-join here, C4 in SURVEY.md).

Scale: node frames stay partitioned by the salted url hash; the LINKS_TO
target-existence join is an equi-join on url that AQE will broadcast when
the page-url dimension fits, else sort-merge.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from finetoo_sp_spark.extraction.extract import extract_pages
from finetoo_sp_spark.extraction.kernel import (
    BLOCKS_ARROW_SCHEMA,
    blocks_arrow,
    decode_html,
    extract_anchors,
    extract_links,
)
from finetoo_sp_spark.operators.primitives import PropertyGraphFrames
from finetoo_sp_spark.schema.registry import web_graph_schema

BLOCKS_SCHEMA = from_arrow_schema(BLOCKS_ARROW_SCHEMA)

LINKS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("target", StringType(), False),
    ]
)


def extract_blocks(pages: DataFrame) -> DataFrame:
    """Block-level extraction as a DataFrame (one row per DOM region):
    ``mapInArrow`` over the kernel's Arrow blocks batch."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows:
                yield blocks_arrow(rb.column("url").to_pandas(), rb.column("html").to_pandas())

    return pages.select("url", "html").mapInArrow(run, schema=BLOCKS_SCHEMA)


def extract_link_pairs(pages: DataFrame) -> DataFrame:
    """(url, target) pairs for every resolvable outbound anchor."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not pdf.empty:
                yield extract_links(pdf["url"], decode_html(pdf["html"]))

    return pages.select("url", "html").mapInPandas(run, schema=LINKS_SCHEMA)


ANCHORS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("target", StringType(), False),
        StructField("anchor", StringType(), False),
    ]
)


def extract_anchor_pairs(pages: DataFrame) -> DataFrame:
    """(url, target, anchor) for every resolvable outbound anchor —
    anchor text stripped of nested tags, whitespace-collapsed."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not pdf.empty:
                yield extract_anchors(pdf["url"], decode_html(pdf["html"]))

    return pages.select("url", "html").mapInPandas(run, schema=ANCHORS_SCHEMA)


def anchor_text_summary(pages: DataFrame) -> DataFrame:
    """Per-target anchor-text aggregation over the whole crawl: how many
    pages link to each target, from how many distinct sources, with
    which (distinct, sorted) anchor phrases.

    This is the corpus-construction view of the link graph — anchor
    text describes the TARGET page better than the target's own
    boilerplate, so per-target anchor profiles feed retrieval corpora
    and anchor-conditioned pretraining sets.

    Scale shape: the extraction is narrow (mapInPandas, no shuffle);
    the rollup is ONE hash aggregation keyed on target with map-side
    partials for all three aggregates. collect_set is safe here because
    the anchor vocabulary per target is bounded (site templates repeat
    a handful of phrases); a popularity-skewed target key (every page
    links to /home) is an agg-key hot spot, not a join blow-up — AQE's
    skewed-partition split or `operators.skew.salted_count` handles it
    without changing this plan's semantics.
    """
    return (
        extract_anchor_pairs(pages)
        .groupBy("target")
        .agg(
            F.count(F.lit(1)).alias("n_refs"),
            F.countDistinct("url").alias("n_sources"),
            F.concat_ws("|", F.array_sort(F.collect_set("anchor"))).alias("anchors_cs"),
        )
    )


def build_web_graph(pages: DataFrame) -> PropertyGraphFrames:
    schema = web_graph_schema()

    page_nodes = (
        extract_pages(pages)
        .withColumn("node_id", F.col("url"))
        .withColumn("content_hash", F.sha2(F.col("text"), 256))
        .drop("spans")
    )

    block_nodes = extract_blocks(pages).select(
        F.concat_ws("#b", "url", "block_id").alias("node_id"),
        F.concat_ws("#b", "url", "block_id").alias("block_key"),
        "url",
        "tag",
        "text",
        "n_words",
        "n_chars",
        "link_density",
        "is_content",
        F.sha2(F.col("text"), 256).alias("content_hash"),
    )

    contains = block_nodes.select(
        F.lit("CONTAINS").alias("edge_type"),
        F.col("url").alias("src"),
        F.col("node_id").alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    urls = pages.select("url").distinct()
    links_to = (
        extract_link_pairs(pages)
        .join(urls.withColumnRenamed("url", "target"), "target", "left_semi")
        .select(
            F.lit("LINKS_TO").alias("edge_type"),
            F.col("url").alias("src"),
            F.col("target").alias("dst"),
            F.lit(1.0).alias("weight"),
        )
    )

    return PropertyGraphFrames(
        schema=schema,
        nodes={"page": page_nodes, "block": block_nodes},
        edges=contains.unionByName(links_to),
    )
