"""Contract queries: block comparison / divergence / BOM rollups.

Split from the round-3 contract.py monolith (VERDICT r03 item 7);
every query keeps its original name, Spark plan, and DuckDB twin.
"""

from __future__ import annotations

from finetoo_sp_spark.contract._core import (
    DataFrame,
    SparkSession,
    F,
    documents_to_pages,
    dd,
    T,
    _q,
    _extracted_blocks_named,
    _blocks_cte,
)


@_q(
    "divergence_parts",
    """
SELECT l_partkey, count(DISTINCT l_suppkey) AS n_versions,
  count(*) AS n_rows,
  count(DISTINCT l_suppkey) > 1 AS is_divergent
FROM lineitem WHERE l_partkey <= 200
GROUP BY l_partkey""",
)
def q_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 divergence rollup re-expressed over the driver tables: a part
    is 'divergent' when multiple suppliers (versions) ship it
    (reference: BlockDivergenceReport, proto/graph.proto:184-207)."""
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_partkey") <= 200)
    return li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").alias("n_versions"),
        F.count(F.lit(1)).alias("n_rows"),
        (F.countDistinct("l_suppkey") > 1).alias("is_divergent"),
    )


# full oracle (was rows-only in round 1): the template's 10-block
# decomposition is recomputed in SQL by _blocks_cte.
@_q(
    "block_divergence",
    f"""
WITH {_blocks_cte()}
SELECT tag || '#' || CAST(block_id AS VARCHAR) AS name,
  count(DISTINCT url) AS n_docs,
  count(DISTINCT sha256(btext)) AS n_versions,
  count(DISTINCT sha256(btext)) > 1 AS is_divergent
FROM blocks GROUP BY 1""",
    audit=[
        ("no row-multiplying Expand", r"!Expand"),
        ("partial ObjectHashAggregate (map-side collect_set)", r"partial_collect_set"),
        ("no sort-based aggregate", r"!SortAggregate"),
        ("hash shuffle on name", r"hashpartitioning\(name#"),
        ("only one hash shuffle", r"!hashpartitioning[\s\S]*hashpartitioning"),
    ],
)
def q_block_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 divergence report over real extracted DOM blocks: per (tag,
    block position), distinct content hashes across pages (reference:
    BlockDivergenceReport, proto/graph.proto:184-207)."""
    from finetoo_sp_spark.operators.divergence import divergence_report

    blocks = _extracted_blocks_named(spark, sf_dir)
    return divergence_report(blocks, "name", "url", "content_hash").drop("versions")


@_q(
    "divergence_totals",
    f"""
WITH {_blocks_cte()},
r AS (
  SELECT tag || '#' || CAST(block_id AS VARCHAR) AS name,
    count(DISTINCT btext) AS v
  FROM blocks GROUP BY 1
)
SELECT count(*) AS total_names,
  CAST(sum(CASE WHEN v > 1 THEN 1 ELSE 0 END) AS BIGINT) AS divergent,
  CAST(sum(CASE WHEN v <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS consistent
FROM r""",
    audit=[
        ("no row-multiplying Expand", r"!Expand"),
        ("partial ObjectHashAggregate (map-side collect_set)", r"partial_collect_set"),
        ("no sort-based aggregate", r"!SortAggregate"),
        ("hash shuffle on name", r"hashpartitioning\(name#"),
        ("only one hash shuffle", r"!hashpartitioning[\s\S]*hashpartitioning"),
    ],
)
def q_divergence_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 totals row (reference: proto/graph.proto:199-206): consistent vs
    divergent block-name counts over the extracted block frames."""
    from finetoo_sp_spark.operators.divergence import divergence_report, divergence_totals

    blocks = _extracted_blocks_named(spark, sf_dir)
    rep = divergence_report(blocks, "name", "url", "content_hash")
    return divergence_totals(rep)


@_q(
    "shared_block_names",
    f"""
WITH {_blocks_cte()}
SELECT tag || '#' || CAST(block_id AS VARCHAR) AS name,
  count(DISTINCT url) AS n_docs
FROM blocks GROUP BY 1 HAVING count(DISTINCT url) >= 2""",
)
def q_shared_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 shared blocks / n-way intersect (reference:
    block_analyzer.cc:45-52): block names present in >= 2 documents."""
    from finetoo_sp_spark.operators.divergence import shared_names

    blocks = _extracted_blocks_named(spark, sf_dir)
    return shared_names(blocks, "name", "url")


@_q(
    "block_comparison",
    f"""
WITH {_blocks_cte("doc_id < 20 OR (doc_id BETWEEN 250 AND 269)")},
a AS (
  SELECT doc_id AS pair_id, tag || '#' || CAST(block_id AS VARCHAR) AS name, btext
  FROM blocks WHERE doc_id < 20
), b AS (
  SELECT doc_id - 250 AS pair_id, tag || '#' || CAST(block_id AS VARCHAR) AS name, btext
  FROM blocks WHERE doc_id >= 250
)
SELECT pair_id, name,
  TRUE AS in_a, TRUE AS in_b,
  (a.btext = b.btext) AS is_equal,
  CAST(length(b.btext) - length(a.btext) AS BIGINT) AS chars_delta,
  CAST(len(regexp_split_to_array(b.btext, ' ')) - len(regexp_split_to_array(a.btext, ' ')) AS BIGINT) AS words_delta
FROM a JOIN b USING (pair_id, name)""",
    audit=[
        ("pair diff is an equi-join", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ],
)
def q_block_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BlockComparison diff records (reference: proto/graph.proto:305-383
    — per pair of drawings, per block: presence, value equality, count
    deltas). 20 page pairs (doc i vs doc i+250) compared in ONE
    equi-join keyed (pair_id, name) — the scale shape; never a per-pair
    loop."""
    from finetoo_sp_spark.extraction.graph import extract_blocks
    from finetoo_sp_spark.operators.divergence import block_comparison

    docs = T(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 20) | F.col("doc_id").between(250, 269)
    )
    blocks = extract_blocks(documents_to_pages(docs)).withColumn(
        "did", F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
    ).withColumn("name", F.concat_ws("#", "tag", "block_id"))
    ba = blocks.filter(F.col("did") < 20).withColumn("pair_id", F.col("did"))
    bb = blocks.filter(F.col("did") >= 250).withColumn("pair_id", F.col("did") - 250)
    return block_comparison(ba, bb, on=["pair_id", "name"])


@_q(
    "block_canonical",
    f"""
WITH {_blocks_cte()},
v AS (
  SELECT tag || '#' || CAST(block_id AS VARCHAR) AS name,
    sha256(btext) AS canonical_hash,
    count(*) AS n_docs_version, min(url) AS example_doc
  FROM blocks GROUP BY 1, 2
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY name ORDER BY n_docs_version DESC, canonical_hash) AS rk
  FROM v
)
SELECT name, canonical_hash, n_docs_version, example_doc FROM r WHERE rk = 1""",
)
def q_block_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-version choice per block name (reference:
    BlockComparison's user canonical choice, proto/graph.proto:305-383 —
    the automated majority default): most frequent content hash, ties on
    smallest hash, with an example document."""
    from finetoo_sp_spark.operators.divergence import canonical_choice

    blocks = _extracted_blocks_named(spark, sf_dir)
    return canonical_choice(blocks, "name", "url", "content_hash")


@_q(
    "bom_text_render",
    """
WITH l AS (
  SELECT CAST(floor(doc_id / 2) AS BIGINT) AS t FROM documents
  UNION ALL SELECT CAST(floor(doc_id / 3) AS BIGINT) FROM documents
), bom AS (
  SELECT 'https://src' || CAST(t % 20 AS VARCHAR) || '.example.com/doc/' || CAST(t AS VARCHAR) AS part,
    count(*) AS quantity
  FROM l GROUP BY t
)
SELECT CAST(0 AS BIGINT) AS line_no, rpad('PART', 40, ' ') || lpad('QTY', 8, ' ') AS line
UNION ALL
SELECT CAST(1 AS BIGINT), repeat('-', 48)
UNION ALL
SELECT CAST(row_number() OVER (ORDER BY quantity DESC, part) + 1 AS BIGINT),
  rpad(part, 40, ' ') || lpad(CAST(quantity AS VARCHAR), 8, ' ')
FROM bom""",
)
def q_bom_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FormatBOM fixed-width text rendering (reference:
    query_service.cc:181-206): header + separator + rpad(part)/lpad(qty)
    rows sorted by quantity desc, byte-deterministic."""
    from finetoo_sp_spark.extraction.graph import build_web_graph
    from finetoo_sp_spark.operators.divergence import bom_report
    from finetoo_sp_spark.operators.sinks import format_bom_lines

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    bom = bom_report(build_web_graph(pages))
    return format_bom_lines(bom)


@_q(
    "dedup_apply_exact",
    """
WITH k AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN k USING (doc_id)""",
)
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized deduplicated corpus (min-id survivors of exact
    groups) — the operator a pipeline actually writes back out."""
    out = dd.apply_exact_dedup(T(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select("doc_id", "source", "n_chars")


@_q(
    "bom_totals_links",
    """
WITH l AS (
  SELECT CAST(floor(doc_id / 2) AS BIGINT) AS t FROM documents
  UNION ALL SELECT CAST(floor(doc_id / 3) AS BIGINT) FROM documents
)
SELECT count(DISTINCT t) AS total_unique_parts,
  count(*) AS total_instances
FROM l""",
)
def q_bom_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 BOM totals (reference: bom_exporter.cc:161-168): unique parts +
    total instances over the link BOM."""
    from finetoo_sp_spark.extraction.graph import build_web_graph
    from finetoo_sp_spark.operators.divergence import bom_report, bom_totals

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    bom = bom_report(build_web_graph(pages))
    return bom_totals(bom)
