"""Contract queries: HTML/PDF extraction, link graph, manifests.

Split from the round-3 contract.py monolith (VERDICT r03 item 7);
every query keeps its original name, Spark plan, and DuckDB twin.
The two WARC-corpus queries stage their archives through
``_core._stage``.
"""

from __future__ import annotations

from finetoo_sp_spark.contract._core import (
    DataFrame,
    SparkSession,
    F,
    documents_to_pages,
    extract_pages,
    ts,
    T,
    _docpages_expected_sql,
    _q,
    _EXTRACT_ORACLE,
    _FILE_ID,
    _stage,
)


@_q(
    "extract_main_text",
    _EXTRACT_ORACLE,
    audit=[
        ("arrow-batched python stage", r"MapInArrow"),
        ("only url/html/doc_id scanned", r"ReadSchema: struct<doc_id:bigint,text:string,lang:string,source:string>"),
    ],
)
def q_extract_main_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    # hash(url) salt repartition before the kernel (the north-rule skew
    # defense); locally it also rescues the single-file scan from a
    # one-core kernel run (cold 3.7 -> 1.5 s at sf0.1)
    out = extract_pages(
        pages, repartition_buckets=spark.sparkContext.defaultParallelism,
        keep_cols=["doc_id"],
    )
    return out.select("url", "text", "title", "h1", "doc_id")


@_q(
    "extract_block_stats",
    # text = h1 || '\n' || body, so content chars = len(h1)+len(body) = len(text)-1;
    # the template has exactly 2 content blocks (h1 + body paragraph).
    _docpages_expected_sql(
        "url, CAST(2 AS BIGINT) AS n_content_blocks, "
        "CAST(length(text) - 1 AS BIGINT) AS content_chars"
    ),
)
def q_extract_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-url block counts; the oracle recomputes content_chars from the
    template's known extraction (text = h1 || nl || body)."""
    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    out = extract_pages(
        pages, repartition_buckets=spark.sparkContext.defaultParallelism
    )
    return out.select("url", "n_content_blocks", "content_chars")


@_q(
    "extract_spans",
    """
WITH pre AS (
  SELECT doc_id, text,
    '<!DOCTYPE html><html lang="' || lang || '"><head><title>document '
      || doc_id || ' from ' || source
      || '</title><meta name="description" content="summary of document '
      || doc_id || ' from ' || source
      || '"><link rel="canonical" href="https://' || source || '.example.com/doc/' || doc_id
      || '"><script>var doc_id = ' || doc_id || ';</script></head><body><header>'
      || '<ul><li><a href="/home">home</a></li><li><a href="/tags/' || source || '">' || source
      || '</a></li><li><a href="https://src' || CAST(CAST(floor(doc_id / 2) AS BIGINT) % 20 AS VARCHAR)
      || '.example.com/doc/' || CAST(CAST(floor(doc_id / 2) AS BIGINT) AS VARCHAR)
      || '">related</a></li><li><a href="https://src' || CAST(CAST(floor(doc_id / 3) AS BIGINT) % 20 AS VARCHAR)
      || '.example.com/doc/' || CAST(CAST(floor(doc_id / 3) AS BIGINT) AS VARCHAR)
      || '">more</a></li><li><a href="/about">about</a></li></ul>'
      || '</header><main><h1>heading for document ' || doc_id || '</h1><p>' AS prefix,
    'https://' || source || '.example.com/doc/' || doc_id AS url,
    'heading for document ' || doc_id AS h1t
  FROM documents
), pos AS (
  SELECT url,
    strpos(prefix, '<h1>') + 3 AS h1s,
    strpos(prefix, '<h1>') + 3 + length(h1t) AS h1e,
    length(prefix) AS ps,
    length(prefix) + length(text) AS pe
  FROM pre
)
SELECT url,
  '[{"start":' || h1s || ',"end":' || h1e || ',"tag":"h1"},{"start":'
    || ps || ',"end":' || pe || ',"tag":"p"}]' AS spans_json
FROM pos""",
)
def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spans output of the north rule under a FULL value oracle: per
    url, the content-block char offsets into the decoded HTML,
    serialized as JSON. The oracle rebuilds the template prefix in SQL
    and derives every offset independently (strpos + raw-text lengths) —
    so the kernel's exact token-offset arithmetic, not just the joined
    text, is value-checked."""
    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    out = extract_pages(
        pages, repartition_buckets=spark.sparkContext.defaultParallelism
    )
    return out.select("url", F.to_json("spans").alias("spans_json"))


@_q(
    "pdf_real_extract",
    """
SELECT 'https://pdf.example.com/' || doc_id AS url,
  'real heading ' || doc_id || chr(10) || 'body block for ' || doc_id AS text,
  CAST(2 AS BIGINT) AS n_blocks,
  CAST(length('real heading ' || doc_id || 'body block for ' || doc_id) AS BIGINT)
    AS content_chars
FROM documents WHERE doc_id < 200""",
    audit=[
        ("magic-byte routing stays JVM-side", r"(?i)startswith"),
    ],
)
def q_pdf_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL (spec-conformant, Flate-compressed) PDF payloads through the
    layout path under a full value oracle: make_real_pdf writes actual
    PDF 1.4 files per doc, the vendored pure-stdlib extractor
    (extraction/pdfmini.py) inflates/parses them inside the Arrow
    kernel, and the oracle recomputes the expected text from the
    fragment formula alone — it never sees a PDF byte."""
    import pandas as pd  # noqa: PLC0415

    from finetoo_sp_spark.extraction.pdf import extract_pages_any

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).select("doc_id")

    def gen(batches):
        from finetoo_sp_spark.extraction.pdfmini import make_real_pdf

        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                payload = make_real_pdf(
                    [
                        (0, 72.0, 700.0, f"real heading {i}"),
                        (0, 72.0, 600.0, f"body block for {i}"),
                    ]
                )
                rows.append((f"https://pdf.example.com/{i}", payload))
            yield pd.DataFrame(rows, columns=["url", "html"])

    pages = docs.mapInPandas(gen, "url string, html binary")
    out = extract_pages_any(pages)
    return out.select("url", "text", "n_blocks", "content_chars")


@_q(
    "web_link_bom",
    """
WITH l AS (
  SELECT doc_id AS src, CAST(floor(doc_id / 2) AS BIGINT) AS t FROM documents
  UNION ALL
  SELECT doc_id, CAST(floor(doc_id / 3) AS BIGINT) FROM documents
)
SELECT 'https://src' || CAST(t % 20 AS VARCHAR) || '.example.com/doc/' || CAST(t AS VARCHAR) AS part,
  count(*) AS quantity,
  count(DISTINCT src) AS n_sources
FROM l GROUP BY t""",
)
def q_web_bom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOM over real extracted LINKS_TO edges (reference: INSERT-count
    BOM, bom_exporter.cc:36-89): per linked page, link count + distinct
    linking pages. The oracle recomputes the expectation from the
    docpages template's parent-link rule."""
    from finetoo_sp_spark.extraction.graph import build_web_graph
    from finetoo_sp_spark.operators.divergence import bom_report

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    g = build_web_graph(pages)
    bom = bom_report(g)
    return bom.select(
        "part", "quantity", F.size("sources").cast("long").alias("n_sources")
    )


@_q(
    "pdf_layout_extract",
    """
WITH exp AS (
  SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
    CASE WHEN doc_id % 5 = 0
      THEN 'heading for document ' || doc_id || chr(10)
        || trim(regexp_replace(text, '\\s+', ' ', 'g'))
      ELSE 'pdf doc ' || doc_id || ' first paragraph for doc ' || doc_id
        || chr(10) || 'second block from ' || source
        || chr(10) || 'appendix for doc ' || doc_id
    END AS text,
    CASE WHEN doc_id % 5 = 0 THEN 10 ELSE 3 END AS nb,
    CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 2 END AS seps
  FROM documents
)
SELECT url, text, CAST(nb AS BIGINT) AS n_blocks,
  CAST(length(text) - seps AS BIGINT) AS content_chars
FROM exp""",
    audit=[
        ("both branches arrow-batched", r"\(\d+\) MapInArrow[\s\S]*\(\d+\) MapInArrow"),
        ("union of routed branches", r"Union"),
    ],
)
def q_pdf_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 PDF layout path + magic-byte routing (extraction/pdf.py): 4/5
    of the corpus becomes FAKEPDF payloads (3 layout blocks: two y-close
    fragments merge, a y-gap splits, a page break splits), 1/5 stays
    HTML; extract_pages_any routes on the %PDF- prefix JVM-side and the
    two branches union into one schema. Oracle recomputes both branches'
    expected text."""
    from finetoo_sp_spark.extraction.pdf import extract_pages_any

    docs = T(spark, sf_dir, "documents")
    html_pages = documents_to_pages(docs.filter(F.col("doc_id") % 5 == 0)).select(
        "url", "html"
    )
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"), F.col("doc_id")
    )
    payload = F.concat(
        F.lit("%PDF-FAKE\nP 0 10 100 pdf doc "),
        F.col("doc_id"),
        F.lit("\nP 0 10 92 first paragraph for doc "),
        F.col("doc_id"),
        F.lit("\nP 0 10 60 second block from "),
        F.col("source"),
        F.lit("\nP 1 10 100 appendix for doc "),
        F.col("doc_id"),
    )
    pdf_pages = docs.filter(F.col("doc_id") % 5 != 0).select(
        url.alias("url"), F.encode(payload, "UTF-8").alias("html")
    )
    out = extract_pages_any(html_pages.unionByName(pdf_pages))
    return out.select("url", "text", "n_blocks", "content_chars")


@_q(
    "edge_build",
    """
WITH l AS (
  SELECT 'https://' || source || '.example.com/doc/' || doc_id AS src,
    CAST(floor(doc_id / 2) AS BIGINT) AS t FROM documents
  UNION ALL
  SELECT 'https://' || source || '.example.com/doc/' || doc_id,
    CAST(floor(doc_id / 3) AS BIGINT) FROM documents
)
SELECT 'LINKS_TO' AS edge_type, src,
  'https://src' || CAST(t % 20 AS VARCHAR) || '.example.com/doc/' || CAST(t AS VARCHAR) AS dst
FROM l""",
)
def q_edge_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 reference-edge build (reference: graph_builder.cc:41-61 INSERT
    -> REFERENCES equi-join): anchor extraction -> resolve -> semi-join
    against corpus urls -> LINKS_TO edges, multiset-compared against the
    template's parent-link rule (duplicate links preserved)."""
    from finetoo_sp_spark.extraction.graph import build_web_graph

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    g = build_web_graph(pages)
    return g.edges.filter(F.col("edge_type") == "LINKS_TO").select(
        "edge_type", "src", "dst"
    )


@_q(
    "anchor_text_agg",
    """
WITH d AS (
  SELECT doc_id, source,
    'https://' || source || '.example.com' AS host,
    'https://' || source || '.example.com/doc/' || doc_id AS url
  FROM documents
),
a AS (
  SELECT url, host || '/home' AS target, 'home' AS anchor FROM d
  UNION ALL SELECT url, host || '/tags/' || source, source FROM d
  UNION ALL SELECT url,
    'https://src' || CAST(CAST(floor(doc_id / 2) AS BIGINT) % 20 AS VARCHAR)
      || '.example.com/doc/' || CAST(CAST(floor(doc_id / 2) AS BIGINT) AS VARCHAR),
    'related' FROM d
  UNION ALL SELECT url,
    'https://src' || CAST(CAST(floor(doc_id / 3) AS BIGINT) % 20 AS VARCHAR)
      || '.example.com/doc/' || CAST(CAST(floor(doc_id / 3) AS BIGINT) AS VARCHAR),
    'more' FROM d
  UNION ALL SELECT url, host || '/about', 'about' FROM d
  UNION ALL SELECT url, host || '/terms', 'terms' FROM d
  UNION ALL SELECT url, host || '/contact', 'contact' FROM d
  UNION ALL SELECT url, host || '/u', 'author ' || doc_id FROM d
)
SELECT target, CAST(count(*) AS BIGINT) AS n_refs,
  CAST(count(DISTINCT url) AS BIGINT) AS n_sources,
  string_agg(DISTINCT anchor, '|' ORDER BY anchor) AS anchors_cs
FROM a GROUP BY target""",
    audit=[
        ("arrow-batched anchor extraction", r"MapInPandas"),
        ("single hash agg on target with partials", r"HashAggregate"),
        ("one shuffle keyed on target", r"hashpartitioning\(target"),
    ],
)
def q_anchor_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text profiles over the whole crawl (anchor text
    describes the TARGET page — the retrieval / anchor-conditioned
    pretraining signal). The oracle re-derives every one of the
    template's 8 anchors per page (nav, tag, parent links, footer,
    author) with its visible text, so this value-checks the anchor-pair
    regex, nested-tag stripping, relative-href resolution AND the
    aggregation in one query."""
    from finetoo_sp_spark.extraction.graph import anchor_text_summary

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    return anchor_text_summary(pages)


@_q(
    "binder_manifest",
    """
WITH p AS (
  SELECT source,
    'https://' || source || '.example.com/doc/' || doc_id AS url,
    sha256('heading for document ' || doc_id || chr(10)
      || trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS h
  FROM documents
)
SELECT source AS binder_id, 'Binder ' || source AS title,
  count(*) AS n_pages,
  sha256(string_agg(h, '' ORDER BY url)) AS binder_sha,
  min(url) AS first_url, max(url) AS last_url
FROM p GROUP BY source""",
    audit=[
        ("single groupBy, in-aggregate ordering", r"sort_array"),
    ],
)
def q_binder_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binder/export direction (reference: BinderConfig,
    proto/graph.proto:360-383): one binder per source, pages ordered by
    url, combined sha256 over the ordered page hashes — byte-stable under
    any partitioning. The oracle recomputes every binder hash via
    string_agg ORDER BY."""
    from finetoo_sp_spark.extraction.binder import BinderConfig, build_binder_manifest

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    extracted = extract_pages(pages).withColumn(
        "source", F.regexp_extract("url", r"https://([^.]+)\.", 1)
    )
    return build_binder_manifest(extracted, BinderConfig(group_col="source"))


@_q(
    "table_extract",
    """
WITH p AS (
  SELECT p_brand AS brand,
    '<tr><td>' || p_partkey || '</td><td>' || p_type || '</td><td>'
      || p_size || '</td></tr>' AS row_str,
    CAST(p_partkey AS VARCHAR) AS c0, p_type AS c1,
    CAST(p_size AS VARCHAR) AS c2
  FROM part
),
r AS (
  SELECT brand, c0, c1, c2,
    CAST(row_number() OVER (PARTITION BY brand ORDER BY row_str) AS INT) AS row_idx
  FROM p
),
hdr AS (SELECT DISTINCT brand FROM p),
cells AS (
  SELECT brand, 0 AS row_idx, 0 AS col_idx, 'partkey' AS cell FROM hdr
  UNION ALL SELECT brand, 0, 1, 'type' FROM hdr
  UNION ALL SELECT brand, 0, 2, 'size' FROM hdr
  UNION ALL SELECT brand, row_idx, 0, c0 FROM r
  UNION ALL SELECT brand, row_idx, 1, c1 FROM r
  UNION ALL SELECT brand, row_idx, 2, c2 FROM r
)
SELECT 'https://catalog.example.com/brand/' || brand AS url,
  0 AS table_idx, row_idx, col_idx, cell
FROM cells""",
    audit=[
        ("nested cell fan-out via Generate (explode)", r"Generate"),
        ("extraction side is join-free", r"!Join"),
    ],
)
def q_table_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end HTML table extraction: synthesize one catalog page per
    p_brand (header row + one <tr> per part, rows sorted for
    determinism), then parse every page back to (url, table_idx,
    row_idx, col_idx, cell) with extraction/tables.py. The oracle
    computes the expected cells RELATIONALLY from part — the HTML
    round-trip must land byte-identical. Extraction itself is shuffle-
    free narrow work; only the test-scaffold page synthesis aggregates."""
    from finetoo_sp_spark.extraction.tables import extract_tables

    p = T(spark, sf_dir, "part")
    row_str = F.concat(
        F.lit("<tr><td>"), F.col("p_partkey"), F.lit("</td><td>"),
        F.col("p_type"), F.lit("</td><td>"), F.col("p_size"), F.lit("</td></tr>"),
    )
    pages = (
        p.select(F.col("p_brand").alias("brand"), row_str.alias("row_str"))
        .groupBy("brand")
        .agg(F.concat_ws("", F.sort_array(F.collect_list("row_str"))).alias("rows_html"))
        .select(
            F.concat(F.lit("https://catalog.example.com/brand/"), F.col("brand")).alias("url"),
            F.concat(
                F.lit("<html><body><p>catalog</p><table>"
                      "<tr><th>partkey</th><th>type</th><th>size</th></tr>"),
                F.col("rows_html"),
                F.lit("</table></body></html>"),
            ).alias("html"),
        )
    )
    out = extract_tables(pages)
    # header row is row_idx 0; the sorted <tr>s are 1..n by construction
    return out.select("url", "table_idx", "row_idx", "col_idx", "cell")


@_q(
    "compliance_flags",
    """
SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
  CASE CAST(doc_id % 4 AS INT)
    WHEN 0 THEN 'noindex, nofollow'
    WHEN 1 THEN 'index, follow'
    WHEN 2 THEN 'noai' ELSE '' END AS robots,
  doc_id % 4 = 0 AS noindex,
  doc_id % 4 = 0 AS nofollow,
  doc_id % 4 = 2 AS noai,
  CASE WHEN doc_id % 2 = 0
    THEN 'https://creativecommons.org/licenses/by/4.0/' ELSE '' END AS license
FROM documents""",
    audit=[
        ("narrow plan: NO shuffle at all", r"!Exchange"),
        ("NO join", r"!Join"),
        ("whole-stage codegen", r"codegen id : "),
    ],
)
def q_compliance_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end opt-out signal extraction: synthesize doc pages where
    doc_id % 4 picks the robots directive (noindex+nofollow / index /
    noai / no meta at all) and doc_id % 2 adds a rel=license link, then
    recover every signal with extraction/compliance.py. Oracle computes
    the expected flags relationally. Narrow plan, no shuffle."""
    from finetoo_sp_spark.extraction.compliance import compliance_flags

    d = T(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 4).cast("int")
    robots_meta = (
        F.when(m == 0, F.lit('<meta name="robots" content="noindex, nofollow">'))
        .when(m == 1, F.lit('<meta name="robots" content="index, follow">'))
        .when(m == 2, F.lit('<meta name="robots" content="noai">'))
        .otherwise(F.lit(""))
    )
    license_link = F.when(
        F.col("doc_id") % 2 == 0,
        F.lit('<link rel="license" href="https://creativecommons.org/licenses/by/4.0/">'),
    ).otherwise(F.lit(""))
    pages = d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"), F.col("doc_id")
        ).alias("url"),
        F.concat(
            F.lit("<html><head>"), robots_meta, license_link,
            F.lit("<title>t</title></head><body><p>body</p></body></html>"),
        ).alias("html"),
    )
    return compliance_flags(pages)


@_q(
    "jsonld_extract",
    """
SELECT 'https://shop.example.com/order/' || o_orderkey AS url,
  0 AS blob_idx,
  o_orderkey AS order_number,
  o_totalprice AS price,
  o_orderstatus AS status
FROM orders""",
    audit=[
        ("blob fan-out via Generate (explode)", r"Generate"),
        ("narrow plan: NO shuffle at all", r"!Exchange"),
        ("NO join", r"!Join"),
    ],
)
def q_jsonld_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end JSON-LD extraction: synthesize one shop page per order
    with an embedded schema.org Order blob (plus a decoy plain <script>),
    lift the blob back out with extraction/jsonld.py and type the fields
    via get_json_object. The oracle computes the expected values
    RELATIONALLY from orders, so the double/long/string fields must
    round-trip the HTML+JSON encoding byte-exactly. Narrow plan — no
    shuffle anywhere."""
    from finetoo_sp_spark.extraction.jsonld import extract_jsonld

    o = T(spark, sf_dir, "orders")
    pages = o.select(
        F.concat(F.lit("https://shop.example.com/order/"), F.col("o_orderkey")).alias("url"),
        F.concat(
            F.lit('<html><head><script>var t = 1;</script>'
                  '<script type="application/ld+json">{"@type":"Order","orderNumber":'),
            F.col("o_orderkey"),
            F.lit(',"price":'),
            F.col("o_totalprice").cast("string"),
            F.lit(',"status":"'),
            F.col("o_orderstatus"),
            F.lit('"}</script></head><body><p>order page</p></body></html>'),
        ).alias("html"),
    )
    out = extract_jsonld(
        pages,
        fields={
            "order_number": "$.orderNumber",
            "price": "$.price",
            "status": "$.status",
        },
    )
    return out.select(
        "url",
        "blob_idx",
        F.col("order_number").cast("long").alias("order_number"),
        F.col("price").cast("double").alias("price"),
        "status",
    )


def _meta_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized page HEADs for the structured-metadata trio: og:
    tags with a name= decoy, alternates with an rss decoy (consumes a
    document-order index but must not emit) and a stylesheet decoy,
    plus one element-style and one meta-style microdata prop."""
    d = T(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><head><meta property="og:title" content="T'), did,
        F.lit('"/><meta name="description" content="decoy"/>'),
        F.lit('<meta property="og:type" content="article"/>'),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit('<meta property="og:image" content="https://img.example/'),
                did, F.lit('.jpg"/>'),
            ),
        ).otherwise(F.lit("")),
        F.lit('<link rel="alternate" hreflang="en" href="https://'),
        F.col("source"), F.lit(".example/en/"), did, F.lit('"/>'),
        F.lit('<link rel="alternate" type="application/rss+xml" href="/feed.xml"/>'),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('<link rel="alternate" hreflang="de" href="https://'),
                F.col("source"), F.lit(".example/de/"), did, F.lit('"/>'),
            ),
        ).otherwise(F.lit("")),
        F.lit('<link rel="stylesheet" href="c.css"/></head><body>'),
        F.lit('<span itemprop="name">N'), did, F.lit("</span>"),
        F.lit('<meta itemprop="price" content="'), did, F.lit('.00"/>'),
        F.lit("</body></html>"),
    )
    return d.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/p/"), did).alias("url"),
        html.alias("html"),
        "doc_id",
    )


@_q(
    "og_meta_extract",
    """
WITH u AS (
  SELECT doc_id, 'https://' || source || '.example/p/' || doc_id AS url
  FROM documents
)
SELECT url, 0 AS idx, 'title' AS og_key, 'T' || doc_id AS og_value FROM u
UNION ALL SELECT url, 1, 'type', 'article' FROM u
UNION ALL SELECT url, 2, 'image', 'https://img.example/' || doc_id || '.jpg'
FROM u WHERE doc_id % 2 = 0""",
)
def q_og_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenGraph extraction: og: meta tags lifted in document order
    (name= decoy excluded), key/value parsed per element — all JVM
    regexp work, narrow plan, no shuffle."""
    from finetoo_sp_spark.extraction.meta import og_meta

    return og_meta(_meta_pages(spark, sf_dir))


@_q(
    "hreflang_edges",
    """
WITH u AS (
  SELECT doc_id, source, 'https://' || source || '.example/p/' || doc_id AS url
  FROM documents
)
SELECT url, 0 AS idx, 'en' AS hreflang,
  'https://' || source || '.example/en/' || doc_id AS href FROM u
UNION ALL SELECT url, 2, 'de', 'https://' || source || '.example/de/' || doc_id
FROM u WHERE doc_id % 3 = 0""",
)
def q_hreflang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language edition graph: rel=alternate hreflang links (the
    multilingual-dedup edge set). The rss alternate consumes a
    document-order index but must not emit a row; the stylesheet link
    never lifts."""
    from finetoo_sp_spark.extraction.meta import link_alternates

    return link_alternates(_meta_pages(spark, sf_dir))


@_q(
    "microdata_extract",
    """
WITH u AS (
  SELECT doc_id, 'https://' || source || '.example/p/' || doc_id AS url
  FROM documents
)
SELECT url, 0 AS idx, 'name' AS prop, 'N' || doc_id AS value FROM u
UNION ALL SELECT url, 1, 'price', doc_id || '.00' FROM u""",
)
def q_microdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema.org microdata: element-style itemprop takes the inner
    text, meta-style takes content= — completing the structured-data
    trio (JSON-LD + microdata + OpenGraph)."""
    from finetoo_sp_spark.extraction.meta import microdata_props

    return microdata_props(_meta_pages(spark, sf_dir))


@_q(
    "charset_decode",
    """
WITH p AS (SELECT i, CAST(i % 7 AS INTEGER) AS c FROM range(0, 140) t(i)),
parts AS (
  SELECT i,
    CASE c WHEN 0 THEN 'utf-8' WHEN 1 THEN 'windows-1252'
           WHEN 2 THEN 'shift_jis' WHEN 3 THEN 'gbk'
           WHEN 4 THEN 'utf-8' WHEN 5 THEN 'utf-16-le'
           ELSE 'windows-1252' END AS charset,
    CASE WHEN c IN (4, 5) THEN 'bom'
         WHEN c = 6 THEN 'default' ELSE 'meta' END AS charset_src,
    CASE c WHEN 0 THEN '<meta charset="utf-8">'
           WHEN 1 THEN '<meta charset="iso-8859-1">'
           WHEN 2 THEN '<meta charset="Shift_JIS">'
           WHEN 3 THEN '<meta charset="gb2312">'
           ELSE '' END AS meta,
    CASE c
      WHEN 0 THEN 'na' || chr(239) || 've ' || chr(8212) || ' ' || chr(252) || 'nicode'
      WHEN 1 THEN 'caf' || chr(233) || ' ' || chr(8220) || 'quoted' || chr(8221)
      WHEN 2 THEN chr(12486) || chr(12473) || chr(12488)
      WHEN 3 THEN chr(20013) || chr(25991) || chr(27979) || chr(35797)
      WHEN 4 THEN 'bom ' || chr(10003)
      WHEN 5 THEN 'wide ' || chr(960)
      ELSE 'plain ' || chr(233) END AS token
  FROM p)
SELECT i AS page_id, charset, charset_src,
  '<html><head>' || meta || '</head><body>page ' || CAST(i AS VARCHAR)
    || ' ' || token || '</body></html>' AS text
FROM parts""",
    audit=[
        ("Arrow-batched sniff+decode kernel", r"MapInPandas"),
        ("NO shuffle (embarrassingly parallel stage)", r"!Exchange"),
    ],
)
def q_charset_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHATWG encoding sniffing over a mixed-encoding binary HTML
    corpus (extraction/charset.py): BOM detection (utf-8 + utf-16-le),
    meta-prescan labels through the alias table (iso-8859-1 declares ->
    windows-1252 decodes, with cp1252-only curly quotes proving the
    distinction; gb2312 -> gbk), and the declaration-free
    windows-1252 fallback. The oracle re-derives every decoded string
    from hand-written codepoints (chr(...)), independent of the
    generator's case table — a generator/kernel bug cannot cancel out."""
    from finetoo_sp_spark.datagen import (
        CHARSET_PAGES_SCHEMA,
        gen_assets,
        gen_charset_pandas,
    )
    from finetoo_sp_spark.extraction.charset import decode_pages

    pages = gen_assets(spark, gen_charset_pandas, 140, schema=CHARSET_PAGES_SCHEMA)
    return decode_pages(pages, passthrough=("page_id",))


@_q(
    "markdown_render",
    """
SELECT
  'https://' || source || '.example.com/doc/' || doc_id AS url,
  '# heading for document ' || doc_id
    || chr(10) || chr(10) || trim(regexp_replace(text, '\\s+', ' ', 'g'))
    || chr(10) || chr(10) || '## details for ' || source
    || chr(10) || chr(10) || '- first detail item has exactly ten plain words total ' || doc_id
    || chr(10) || chr(10) || '- second detail item also has exactly ten plain words here'
    || chr(10) || chr(10) || '> a quoted remark that is long enough to be treated as real content ' || doc_id
    AS markdown,
  CAST(6 AS BIGINT) AS n_content_blocks
FROM documents""",
    audit=[
        ("Arrow-batched tokenize+classify+render kernel", r"MapInPandas"),
        ("NO shuffle (per-page render is embarrassingly parallel)", r"!Exchange"),
    ],
)
def q_markdown_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure-preserving Markdown rendering (extraction/markdown.py)
    over the SAME tokenizer + block classifier as the flagship
    extractor: headings print as #/##, list items as '- ', quotes as
    '> ', and the link-only nav is dropped by the classifier exactly as
    in flat extraction. Oracle recomputes the full Markdown string per
    page from the template rule — byte-identical, like the main-text
    invariant."""
    from finetoo_sp_spark.extraction.docpages import documents_to_rich_pages
    from finetoo_sp_spark.extraction.markdown import extract_markdown

    return extract_markdown(
        documents_to_rich_pages(T(spark, sf_dir, "documents"))
    )


@_q(
    "extract_legacy_encoded",
    """
SELECT
  'https://' || source || '.example.com/doc/' || doc_id AS url,
  'heading for document ' || doc_id || chr(10)
    || trim(regexp_replace(text, '\\s+', ' ', 'g'))
    || ' caf' || chr(233) || ' r' || chr(233) || 'sum' || chr(233)
    || ' na' || chr(239) || 've' AS text,
  'doc ' || doc_id AS title,
  'heading for document ' || doc_id AS h1,
  'windows-1252' AS charset
FROM documents""",
    audit=[
        ("ONE fused Arrow kernel (sniff+decode+extract)", r"MapInArrow"),
        # formatted explain prints each node once in the tree ("MapInArrow (3)")
        # and once in details ("(3) MapInArrow") — count details lines only.
        ("NOT two kernels — sniff is fused, not chained", r"!\(\d+\) MapIn(Pandas|Arrow)[\s\S]*\(\d+\) MapIn(Pandas|Arrow)"),
        ("NO shuffle end-to-end", r"!Exchange"),
    ],
)
def q_extract_legacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition: a corpus SERVED in a legacy encoding
    (ISO-8859-1 bytes + meta declaration) runs the FUSED sniffing
    extractor (extract_pages_sniffed: WHATWG charset sniff -> decode ->
    tokenize -> classify in ONE Arrow kernel), and the extracted main
    text is byte-identical to the oracle INCLUDING the accented tokens
    a utf-8-only decode would have mojibaked. The detected charset is
    an output column of the same kernel — no second pass, no join."""
    from finetoo_sp_spark.extraction.docpages import documents_to_legacy_pages
    from finetoo_sp_spark.extraction.extract import extract_pages_sniffed

    pages = documents_to_legacy_pages(T(spark, sf_dir, "documents"))
    return extract_pages_sniffed(pages).select(
        "url", "text", "title", "h1", "charset"
    )


@_q(
    "nofollow_links",
    """
WITH u AS (
  SELECT doc_id,
    'https://' || source || '.example.com/doc/' || doc_id AS url,
    'https://www.' || source || '.example.com' AS www
  FROM documents
)
SELECT url, a.idx, www || a.path AS href, a.rel,
  a.rel LIKE '%nofollow%' OR a.rel LIKE '%sponsored%' OR a.rel LIKE '%ugc%'
    AS is_nofollow
FROM u, (VALUES
  (0, '/f1', ''),
  (1, '/n1', 'nofollow'),
  (2, '/f2', 'ugc sponsored'),
  (3, '/f3', 'noopener')
) a(idx, path, rel)""",
    audit=[
        ("anchor explode stays JVM-side", r"Generate"),
        ("NO shuffle (per-page lift is embarrassingly parallel)", r"!Exchange"),
    ],
)
def q_nofollow_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-scheme annotations (rel=nofollow / sponsored / ugc) parsed
    from REAL anchor tags in document order — the edge filter the
    authority operators need so paid/user-generated links don't pass
    PageRank. rel can sit before OR after href; 'noopener' must NOT
    flag (word-boundary match, not substring)."""
    from finetoo_sp_spark.extraction.docpages import documents_to_nofollow_pages
    from finetoo_sp_spark.extraction.meta import anchor_rel_links

    pages = documents_to_nofollow_pages(T(spark, sf_dir, "documents"))
    return anchor_rel_links(pages)


@_q(
    "soft404_flags",
    """
SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
  doc_id % 10 IN (0, 5) AS is_soft404,
  CASE WHEN doc_id % 10 = 0 THEN 'title'
       WHEN doc_id % 10 = 5
         AND length('heading for document ' || doc_id)
             + length('sorry this content is no longer available please return to the home page') < 200
         THEN 'body'
       WHEN doc_id % 10 = 5 THEN 'ok'
       ELSE 'ok' END AS reason
FROM documents""",
    audit=[
        ("flags compose onto the extraction kernel output", r"MapInArrow"),
        ("NO shuffle (column-op flags)", r"!Exchange"),
    ],
)
def q_soft404(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-404 detection THROUGH real extraction: every 10th page is
    a full error page (title fires first by precedence), every
    10th-offset-5 hides the phrase in a thin body (body clause fires
    only because content_chars < 200 — a long article merely
    mentioning the phrase stays clean), everything else passes. The
    oracle recomputes flags and the precedence from the corpus rule,
    including the extracted content length arithmetic."""
    from finetoo_sp_spark.extraction.docpages import documents_to_soft404_pages
    from finetoo_sp_spark.extraction.extract import extract_pages
    from finetoo_sp_spark.extraction.soft404 import soft404_flags

    pages = documents_to_soft404_pages(T(spark, sf_dir, "documents"))
    return soft404_flags(extract_pages(pages))


@_q(
    "warc_http_charset",
    """
WITH p AS (SELECT doc_id, source, CAST(doc_id % 4 AS INTEGER) AS c FROM documents),
parts AS (
  SELECT doc_id, source, c,
    CASE c WHEN 0 THEN 'shift_jis' WHEN 1 THEN 'windows-1252'
           WHEN 2 THEN 'shift_jis' ELSE 'utf-8' END AS charset,
    CASE c WHEN 0 THEN 'http' WHEN 1 THEN 'meta'
           WHEN 2 THEN 'meta' ELSE 'bom' END AS charset_src,
    CASE c WHEN 0 THEN '<meta charset="utf-8">'
           WHEN 1 THEN '<meta charset="iso-8859-1">'
           WHEN 2 THEN '<meta charset="Shift_JIS">'
           ELSE '' END AS meta,
    CASE c WHEN 0 THEN chr(12486) || chr(12473) || chr(12488)
           WHEN 1 THEN 'caf' || chr(233)
           WHEN 2 THEN chr(12459) || chr(12490)
           ELSE 'bom ' || chr(10003) END AS token
  FROM p)
SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
  charset, charset_src,
  '<html><head>' || meta || '</head><body>page ' || CAST(doc_id AS VARCHAR)
    || ' ' || token || '</body></html>' AS text
FROM parts""",
    audit=[
        ("WARC parse + sniff are Arrow kernels", r"MapInPandas"),
        ("NO shuffle end-to-end", r"!Exchange"),
    ],
)
def q_warc_http_charset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL WHATWG charset priority chain over a real WARC corpus:
    the transport (HTTP Content-Type charset) layer sits between BOM
    and meta prescan. Class 0 is the deliberate conflict \u2014 HTTP says
    shift_jis, the document's own meta LIES (utf-8), bytes are
    Shift_JIS: transport must win or the page mojibakes. Class 1 has a
    bare Content-Type (falls to meta), class 2 an UNKNOWN transport
    label (falls through, per spec), class 3 a BOM that outranks a
    lying transport header. WARC staged four files by doc_id
    (make_warc_http), read via read_warc_pages_http, decoded through
    decode_pages(http_charset_col=...)."""
    import datetime as _dt

    from finetoo_sp_spark.extraction.charset import decode_pages
    from finetoo_sp_spark.sources.warc import make_warc_http, read_warc_pages_http

    cases = [
        ("text/html; charset=shift_jis", '<meta charset="utf-8">',
         "shift_jis", "page {i} \u30c6\u30b9\u30c8", b""),
        ("text/html", '<meta charset="iso-8859-1">',
         "windows-1252", "page {i} caf\u00e9", b""),
        ("text/html; charset=x-future-enc", '<meta charset="Shift_JIS">',
         "shift_jis", "page {i} \u30ab\u30ca", b""),
        ('text/html; charset="iso-8859-1"', "",
         "utf-8", "page {i} bom \u2713", b"\xef\xbb\xbf"),
    ]

    def encode(pdf) -> bytes:
        recs = []
        for r in pdf.itertuples():
            i = int(r.doc_id)
            ctype, meta, codec, body_t, bom = cases[i % 4]
            body = (
                f"<html><head>{meta}</head><body>"
                + body_t.format(i=i)
                + "</body></html>"
            )
            recs.append(
                (
                    f"https://{r.source}.example.com/doc/{i}",
                    _dt.datetime(2024, 1, 1),
                    bom + body.encode(codec),
                    ctype,
                )
            )
        return make_warc_http(recs)

    docs = T(spark, sf_dir, "documents").selectExpr("doc_id", "source", _FILE_ID)
    pages = read_warc_pages_http(spark, _stage(docs, "warc_http_charset", ".warc", encode))
    return decode_pages(
        pages, passthrough=("url",), http_charset_col="http_charset"
    )


@_q(
    "dxf_entities_by_type",
    """
SELECT doc_id, 'LINE' AS entity_type, CAST(1 + doc_id % 4 AS BIGINT) AS n FROM documents
UNION ALL
SELECT doc_id, 'CIRCLE', CAST(doc_id % 3 AS BIGINT) FROM documents WHERE doc_id % 3 > 0
UNION ALL
SELECT doc_id, 'TEXT', CAST(1 + doc_id % 2 AS BIGINT) FROM documents""",
    audit=[
        ("group-code kernel in one Arrow pass", r"MapInPandas"),
        ("partial agg before the count shuffle", r"partial_count"),
    ],
)
def q_dxf_entities_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's DXF group-code parser (dxf_text_parser.cc:62-156,
    exercised on its three real drawings in pytest) over a synthetic
    corpus with CLOSED-FORM inventory: make_dxf(i) writes 1+i%4 LINEs,
    i%3 CIRCLEs and 1+i%2 TEXTs into ENTITIES (plus blocks the filter
    excludes), the Arrow kernel reparses every file, and the oracle
    recomputes each (doc, type, n) row from the formulas alone."""
    import pandas as pd  # noqa: PLC0415

    from finetoo_sp_spark.extraction.dxf import dxf_records

    # the pruned doc_id scan is one parquet file -> ONE partition, which
    # would serialize the whole Python generate+parse pass on a single
    # core at any scale; spread it across the session's parallelism
    # BEFORE the Arrow kernel (measured 6.7 -> ~1 s warm at sf0.1)
    docs = (
        T(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        from finetoo_sp_spark.extraction.dxf import make_dxf

        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": [make_dxf(int(i)) for i in pdf["doc_id"]],
                }
            )

    assets = docs.mapInPandas(gen, "doc_id long, payload binary")
    rec = dxf_records(assets, id_col="doc_id")
    return (
        rec.filter(F.col("section") == "ENTITIES")
        .groupBy("doc_id", "entity_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "http_robots_gate",
    """
WITH p AS (SELECT doc_id, source, CAST(doc_id % 6 AS INTEGER) AS c FROM documents)
SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
  c IN (0, 2, 3, 5) AS noindex,
  c = 1 AS nofollow,
  c IN (2, 4, 5) AS noai,
  c IN (0, 2, 5) AS src_http,
  c IN (1, 2, 3, 4) AS src_meta
FROM p""",
    audit=[
        ("WARC parse is the Arrow binaryFile kernel", r"MapInPandas"),
    ],
)
def q_http_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots/opt-out compliance across BOTH layers over a real WARC
    corpus: class 0 opts out via the X-Robots-Tag HEADER only (no meta
    at all — the CDN-level form an HTML-only operator misses), class 1
    via meta only, class 2 splits directives ACROSS layers (header
    noindex + meta noai — OR-merge must keep both), class 3 carries a
    meta noindex with an empty header, class 4 a meta noai, class 5
    emits TWO X-Robots-Tag header lines (noindex + noai on separate
    lines — the repeated-header CDN form; RFC 9110 §5.3 makes them one
    comma-joined list, so the parser must accumulate, not overwrite).
    The src_http/src_meta columns attribute each gate for audits."""
    import datetime as _dt

    from finetoo_sp_spark.extraction.compliance import with_http_compliance
    from finetoo_sp_spark.sources.warc import read_warc_pages_http, warc_record

    cases = [
        (["noindex"], ""),
        ([], '<meta name="robots" content="nofollow">'),
        (["NOINDEX"], '<meta name="robots" content="noai">'),
        ([], '<meta name="robots" content="noindex">'),
        ([], '<meta name="robots" content="noimageai">'),
        (["noindex", "noai"], ""),
    ]

    def encode(pdf) -> bytes:
        buf = []
        for r in pdf.itertuples():
            i = int(r.doc_id)
            xr, meta = cases[i % 6]
            url = f"https://{r.source}.example.com/doc/{i}"
            body = f"<html><head>{meta}</head><body>page {i}</body></html>".encode()
            headers = ["Content-Type: text/html", *(f"X-Robots-Tag: {tok}" for tok in xr)]
            buf.append(warc_record("response", url, _dt.datetime(2024, 1, 1), headers, body))
        return b"".join(buf)

    docs = T(spark, sf_dir, "documents").selectExpr("doc_id", "source", _FILE_ID)
    pages = read_warc_pages_http(spark, _stage(docs, "http_robots_gate", ".warc", encode))
    return with_http_compliance(pages).select(
        "url", "noindex", "nofollow", "noai", "src_http", "src_meta"
    )


@_q(
    "pdf_encrypted_extract",
    """
SELECT 'https://pdfenc.example.com/' || doc_id AS url,
  'locked heading ' || doc_id || chr(10) || 'locked body for ' || doc_id AS text,
  CAST(2 AS BIGINT) AS n_blocks,
  CAST(length('locked heading ' || doc_id || 'locked body for ' || doc_id) AS BIGINT)
    AS content_chars
FROM documents WHERE doc_id < 120""",
    audit=[
        ("decrypt+parse is one Arrow pass", r"MapInArrow"),
        ("NO shuffle", r"!Exchange hashpartitioning"),
    ],
)
def q_pdf_encrypted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RC4-ENCRYPTED real PDFs through the layout path under the same
    full value oracle as pdf_real_extract: make_real_pdf fixtures are
    encrypted with the Standard Security Handler (empty user password —
    the owner-restrictions-only shape that dominates encrypted PDFs in
    a web crawl; revision 2/40-bit and 3/128-bit alternate by doc
    parity), the kernel authenticates via Algorithm 3.2/3.5, derives
    per-object RC4 keys and decrypts every stream before the normal
    fragment parse. The oracle recomputes the expected text from the
    fragment formula alone — agreement proves the whole
    key-derivation + RC4 + parse chain."""
    import pandas as pd  # noqa: PLC0415

    from finetoo_sp_spark.extraction.pdf import extract_pages_any

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 120).select("doc_id")

    def gen(batches):
        from finetoo_sp_spark.extraction.pdfcrypt import encrypt_pdf
        from finetoo_sp_spark.extraction.pdfmini import make_real_pdf

        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                payload = encrypt_pdf(
                    make_real_pdf(
                        [
                            (0, 72.0, 700.0, f"locked heading {i}"),
                            (0, 72.0, 600.0, f"locked body for {i}"),
                        ]
                    ),
                    rev=2 if i % 2 else 3,
                )
                rows.append((f"https://pdfenc.example.com/{i}", payload))
            yield pd.DataFrame(rows, columns=["url", "html"])

    pages = docs.mapInPandas(gen, "url string, html binary")
    out = extract_pages_any(pages)
    return out.select("url", "text", "n_blocks", "content_chars")


@_q(
    "pdf_objstm_extract",
    """
SELECT 'https://pdf15.example.com/' || doc_id AS url,
  'H' || chr(10) || 'Z' || chr(10) || 'packed body ' || doc_id AS text,
  CAST(3 AS BIGINT) AS n_blocks,
  CAST(length('HZpacked body ' || doc_id) AS BIGINT) AS content_chars
FROM documents WHERE doc_id < 120""",
    audit=[
        ("expansion+parse is one Arrow pass", r"MapInArrow"),
        ("NO shuffle", r"!Exchange hashpartitioning"),
    ],
)
def q_pdf_objstm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF 1.5 COMPRESSED-OBJECT-STREAM documents through the layout
    path: catalog/page/font dictionaries live inside a Flate ObjStm
    indexed by a cross-reference stream (make_pdf_objstm), and the two
    Type0 fonts map the SAME CID to different glyphs — so the oracle'd
    'H'/'Z' lines are only extractable when the ObjStm expansion
    (extraction/pdfmini.py expand_object_streams) actually surfaces the
    packed font dicts for per-font ToUnicode routing; the merged-table
    fallback would emit one glyph twice and break the hash. The modern
    web-PDF layout, pinned by the same closed-form text oracle as
    pdf_real_extract."""
    import pandas as pd  # noqa: PLC0415

    from finetoo_sp_spark.extraction.pdf import extract_pages_any

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 120).select("doc_id")

    def gen(batches):
        from finetoo_sp_spark.extraction.pdfmini import make_pdf_objstm

        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                rows.append(
                    (
                        f"https://pdf15.example.com/{i}",
                        make_pdf_objstm(f"packed body {i}"),
                    )
                )
            yield pd.DataFrame(rows, columns=["url", "html"])

    pages = docs.mapInPandas(gen, "url string, html binary")
    out = extract_pages_any(pages)
    return out.select("url", "text", "n_blocks", "content_chars")


@_q(
    "meta_refresh_targets",
    """
WITH u AS (
  SELECT doc_id, source,
    'https://' || source || '.example/p/' || doc_id AS url
  FROM documents
)
SELECT url, CAST(0 AS BIGINT) AS delay_s,
  'https://moved.example/' || doc_id AS target
FROM u WHERE doc_id % 4 = 0
UNION ALL
SELECT url, CAST(5 AS BIGINT),
  'https://' || source || '.example/new/' || doc_id
FROM u WHERE doc_id % 4 = 1
UNION ALL
SELECT url, CAST(30 AS BIGINT), CAST(NULL AS VARCHAR)
FROM u WHERE doc_id % 4 = 2""",
    audit=[
        ("NO shuffle", r"!Exchange hashpartitioning"),
        ("NO join (resolution is column math)", r"!Join"),
    ],
)
def q_meta_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Client-side redirect discovery: meta-refresh directives in all
    three real shapes — instant absolute redirect, delayed
    quoted-relative url= (resolved RFC 3986-absolute against the page),
    and a bare self-reload (NULL target) — with a content-type pragma
    decoy that must not lift. Pages without a directive emit nothing.
    These (url, target) rows are the edge set HTTP-level redirect
    resolution misses."""
    from finetoo_sp_spark.extraction.meta import meta_refresh

    d = T(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><head><meta http-equiv="content-type" content="text/html"/>'),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit('<meta http-equiv="refresh" content="0;url=https://moved.example/'),
                did, F.lit('">'),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("<meta http-equiv=refresh content=\"5; URL='/new/"),
                did, F.lit("'\">"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.lit('<meta http-equiv="Refresh" content="30">'),
        )
        .otherwise(F.lit("")),
        F.lit("</head><body>x</body></html>"),
    )
    pages = d.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/p/"), did).alias("url"),
        html.alias("html"),
    )
    return meta_refresh(pages)


@_q(
    "subtitle_cues",
    """
WITH c AS (
  SELECT doc_id, g.j,
    'https://cap.example/' || doc_id AS url,
    doc_id * 137 + g.j * 3000 AS sms
  FROM documents, UNNEST(generate_series(0, CAST(doc_id % 3 AS BIGINT))) AS g(j)
)
SELECT url,
  CAST(CASE WHEN doc_id % 2 = 0 THEN j + 1 ELSE j END AS BIGINT) AS block_pos,
  CAST(sms AS BIGINT) AS start_ms,
  CAST(sms + 1500 + j * 250 AS BIGINT) AS end_ms,
  'cue ' || doc_id || ' ' || j ||
    CASE WHEN j % 2 = 0 THEN chr(10) || 'more ' || j ELSE '' END AS text
FROM c""",
    audit=[
        ("cue blocks explode JVM-side", r"Generate"),
        ("no window function (block_pos from posexplode)", r"!Window"),
        ("NO shuffle", r"!Exchange hashpartitioning"),
    ],
)
def q_subtitle_cues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebVTT/SRT caption parsing — the text half of a video-caption
    corpus: per doc a .vtt (even ids: WEBVTT header block, dot
    milliseconds, cue settings on odd cues) or .srt (odd ids: numeric
    counters, comma milliseconds) body synthesized from the id
    formula, parsed back into typed cue rows by the narrow
    split/posexplode pipeline. block_pos pins document order INCLUDING
    the VTT header offset; the oracle restates every timestamp in
    integer milliseconds and the multi-line text joins."""
    from finetoo_sp_spark.extraction.subtitles import parse_subtitles

    d = T(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def ts(ms, sep):
        return F.concat(
            F.lpad((ms / 3600000).cast("long").cast("string"), 2, "0"),
            F.lit(":"),
            F.lpad(((ms / 60000).cast("long") % 60).cast("string"), 2, "0"),
            F.lit(":"),
            F.lpad(((ms / 1000).cast("long") % 60).cast("string"), 2, "0"),
            F.lit(sep),
            F.lpad((ms % 1000).cast("string"), 3, "0"),
        )

    def cue(j, vtt):
        sms = did * 137 + j * 3000
        ems = sms + 1500 + j * 250
        sep = "." if vtt else ","
        head = (
            F.concat(ts(sms, sep), F.lit(" --> "), ts(ems, sep),
                     F.when(j % 2 == 1, F.lit(" align:start")).otherwise(F.lit("")))
            if vtt
            else F.concat((j + 1).cast("string"), F.lit("\n"),
                          ts(sms, sep), F.lit(" --> "), ts(ems, sep))
        )
        body = F.concat(
            F.lit("cue "), did.cast("string"), F.lit(" "), j.cast("string"),
            F.when(j % 2 == 0,
                   F.concat(F.lit("\nmore "), j.cast("string"))).otherwise(F.lit("")),
        )
        return F.concat(head, F.lit("\n"), body)

    n_cues = (did % 3).cast("int")
    vtt_body = F.concat(
        F.lit("WEBVTT\n\n"),
        F.array_join(
            F.transform(F.sequence(F.lit(0), n_cues), lambda j: cue(j, True)),
            "\n\n",
        ),
    )
    srt_body = F.array_join(
        F.transform(F.sequence(F.lit(0), n_cues), lambda j: cue(j, False)),
        "\n\n",
    )
    pages = d.select(
        F.concat(F.lit("https://cap.example/"), did.cast("string")).alias("url"),
        F.when(did % 2 == 0, vtt_body).otherwise(srt_body).alias("body"),
    )
    return parse_subtitles(pages)


@_q(
    "svg_asset_meta",
    """
SELECT 'https://' || source || '.example/svg/' || doc_id AS url,
  CAST(CASE WHEN doc_id % 3 = 0 THEN 16 + doc_id % 32 END AS BIGINT) AS width,
  CAST(CASE WHEN doc_id % 3 = 0 THEN 12 + doc_id % 24 END AS BIGINT) AS height,
  CAST(CASE WHEN doc_id % 3 <> 0 THEN 100 + doc_id % 50 END AS BIGINT) AS vb_width,
  CAST(CASE WHEN doc_id % 3 <> 0 THEN 80 + doc_id % 40 END AS BIGINT) AS vb_height,
  CAST(length('label ' || doc_id)
    + CASE WHEN doc_id % 2 = 0 THEN length('icon ' || doc_id) ELSE 0 END
  AS BIGINT) AS text_chars
FROM documents""",
    audit=[
        ("NO shuffle", r"!Exchange hashpartitioning"),
        ("NO join", r"!Join"),
    ],
)
def q_svg_asset_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SVG curation metadata — SVG is XML, not a codec gate: px
    width/height attributes (every 3rd doc), viewBox-only geometry
    (including negative-offset boxes and a '50%' width that must parse
    NULL, not 50), and the visible text mass across text/tspan/title.
    Oracle restates every field from the synthesis formula."""
    from finetoo_sp_spark.extraction.assets import svg_meta

    d = T(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    body = F.concat(
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('<svg xmlns="http://www.w3.org/2000/svg" width="'),
                (16 + F.col("doc_id") % 32).cast("string"),
                F.lit('" height="'),
                (12 + F.col("doc_id") % 24).cast("string"),
                F.lit('">'),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit('<svg viewBox="0 0 '),
                (100 + F.col("doc_id") % 50).cast("string"),
                F.lit(" "),
                (80 + F.col("doc_id") % 40).cast("string"),
                F.lit('">'),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('<svg width="50%" viewBox="-10 5 '),
                (100 + F.col("doc_id") % 50).cast("string"),
                F.lit(" "),
                (80 + F.col("doc_id") % 40).cast("string"),
                F.lit('">'),
            )
        ),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("<title>icon "), did, F.lit("</title>")),
        ).otherwise(F.lit("")),
        F.lit('<text x="1" y="2">label '), did, F.lit("</text></svg>"),
    )
    sheets = d.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/svg/"), did).alias("url"),
        body.alias("body"),
    )
    return svg_meta(sheets)


@_q(
    "srcset_assets",
    """
WITH u AS (
  SELECT doc_id, source,
    'https://' || source || '.example/p/' || doc_id AS url
  FROM documents
)
SELECT url, CAST(0 AS BIGINT) AS img_idx, CAST(0 AS BIGINT) AS cand_idx,
  'https://' || source || '.example/img/' || doc_id || '-a.jpg' AS asset_url,
  'x' AS descriptor, CAST(100 AS BIGINT) AS density_centi,
  CAST(NULL AS BIGINT) AS width_px
FROM u
UNION ALL
SELECT url, 0, 1,
  'https://' || source || '.example/img/' || doc_id || '-b.jpg',
  'x', 200, CAST(NULL AS BIGINT) FROM u
UNION ALL
SELECT url, 0, 2,
  'https://' || source || '.example/p/c-' || doc_id || '.jpg',
  'x', 150, CAST(NULL AS BIGINT) FROM u WHERE doc_id % 3 = 0
UNION ALL
SELECT url, 1, 0,
  'https://' || source || '.example/p/a-' || doc_id || '.jpg',
  'w', CAST(NULL AS BIGINT), 480 FROM u WHERE doc_id % 2 = 0
UNION ALL
SELECT url, 1, 1,
  'https://' || source || '.example/p/b-' || doc_id || '.jpg',
  'w', CAST(NULL AS BIGINT), 800 FROM u WHERE doc_id % 2 = 0
UNION ALL
SELECT url, 1, 2,
  'https://' || source || '.example/p/d-' || doc_id || '.jpg',
  '', 100, CAST(NULL AS BIGINT) FROM u WHERE doc_id % 2 = 0 AND doc_id % 5 = 0""",
    audit=[
        ("candidate explode is JVM-side", r"Generate"),
        ("NO shuffle", r"!Exchange hashpartitioning"),
    ],
)
def q_srcset_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Responsive-image asset frontier: every srcset candidate with its
    density/width descriptor — integer centi-density (1.5x -> 150) so
    no float crosses the boundary — and path-relative candidates
    resolved RFC 3986-absolute against the page. The second image (and
    its bare default-density candidate) appears on residue classes so
    absence branches execute. Oracle relational from the synthesis
    parameters."""
    from finetoo_sp_spark.extraction.assets import srcset_candidates

    d = T(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    img1 = F.concat(
        F.lit('<img srcset="/img/'), did, F.lit("-a.jpg 1x, /img/"),
        did, F.lit("-b.jpg 2x"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(", c-"), did, F.lit(".jpg 1.5x")),
        ).otherwise(F.lit("")),
        F.lit('">'),
    )
    img2 = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit('<img srcset="a-'), did, F.lit(".jpg 480w, b-"),
            did, F.lit(".jpg 800w"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(", d-"), did, F.lit(".jpg")),
            ).otherwise(F.lit("")),
            F.lit('">'),
        ),
    ).otherwise(F.lit(""))
    pages = d.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/p/"), did).alias("url"),
        F.concat(F.lit("<html><body>"), img1, img2, F.lit("</body></html>")).alias("html"),
    )
    return srcset_candidates(pages)


@_q(
    "css_asset_refs",
    """
WITH u AS (
  SELECT doc_id, source,
    'https://' || source || '.example/css/main' || doc_id || '.css' AS url
  FROM documents
)
SELECT url, CAST(0 AS BIGINT) AS ref_idx,
  'https://' || source || '.example/fonts/f' || doc_id || '.woff2' AS asset_url,
  'url' AS via
FROM u
UNION ALL
SELECT url, 1,
  'https://' || source || '.example/css/img/bg' || doc_id || '.png', 'url'
FROM u
UNION ALL
SELECT url, 2,
  'https://' || source || '.example/css/theme' || doc_id || '.css', 'import'
FROM u WHERE doc_id % 2 = 0""",
    audit=[
        ("ref explode is JVM-side", r"Generate"),
        ("NO shuffle", r"!Exchange hashpartitioning"),
    ],
)
def q_css_asset_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stylesheet asset discovery — the fetches HTML never mentions:
    url() tokens (bare and quoted, root- and path-relative, resolved
    absolute against the SHEET url) and string @import targets; a
    data: URI sits in every sheet and must be excluded. Oracle
    relational from the synthesis parameters."""
    from finetoo_sp_spark.extraction.assets import css_asset_urls

    d = T(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    body = F.concat(
        F.lit("@font-face{src:url(/fonts/f"), did, F.lit(".woff2)}\n"),
        F.lit(".bg{background:url('img/bg"), did, F.lit(".png')}\n"),
        F.lit(".inline{background:url(data:image/png;base64,AAAA)}\n"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit('@import "theme'), did, F.lit('.css";')),
        ).otherwise(F.lit("")),
    )
    sheets = d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/css/main"),
            did, F.lit(".css"),
        ).alias("url"),
        body.alias("body"),
    )
    return css_asset_urls(sheets)


@_q(
    "link_icon_assets",
    """
WITH u AS (
  SELECT doc_id, source,
    'https://' || source || '.example/p/' || doc_id AS url
  FROM documents
)
SELECT url, CAST(0 AS BIGINT) AS idx,
  'https://' || source || '.example/favicon.ico' AS icon_url,
  CASE WHEN doc_id % 5 = 0 THEN 'shortcut icon' ELSE 'icon' END AS rel,
  CAST(NULL AS BIGINT) AS size_w, CAST(NULL AS BIGINT) AS size_h
FROM u
UNION ALL
SELECT url, 1,
  'https://' || source || '.example/p/icons/i' || doc_id || '.png',
  'icon', 32, 32
FROM u WHERE doc_id % 2 = 0
UNION ALL
SELECT url, CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END,
  'https://' || source || '.example/t' || doc_id || '.png',
  'apple-touch-icon', 180, 180
FROM u WHERE doc_id % 3 = 0""",
    audit=[
        ("link-tag explode is JVM-side", r"Generate"),
        ("one partition-local window for document order", r"Window"),
    ],
)
def q_link_icon_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Favicon/touch-icon fetch frontier (feeds the ICO/PNG decode
    path): rel token matching ('shortcut icon' lifts, 'stylesheet'
    never does), document-order indexing across variants, sizes
    attributes parsed to integers, path-relative hrefs resolved
    against the page. Oracle relational from the synthesis
    parameters."""
    from finetoo_sp_spark.extraction.assets import link_icons

    d = T(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><head><link rel="stylesheet" href="c.css">'),
        F.lit('<link rel="'),
        F.when(F.col("doc_id") % 5 == 0, F.lit("shortcut icon")).otherwise(F.lit("icon")),
        F.lit('" href="/favicon.ico">'),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit('<link rel="icon" href="icons/i'), did,
                F.lit('.png" sizes="32x32">'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('<link rel="apple-touch-icon" sizes="180x180" href="/t'),
                did, F.lit('.png">'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</head><body>x</body></html>"),
    )
    pages = d.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/p/"), did).alias("url"),
        html.alias("html"),
    )
    return link_icons(pages)
