"""Deterministic documents->pages bridge for the driver corpus.

The driver's correctness gate runs over its own parquet tables; the
extraction engine's input is a pages table (input_hint schema). This
module wraps each `documents` row in a fixed HTML template **with pure
column ops** (F.concat — no UDF, no Python), producing a pages DataFrame
whose correct extraction is *computable in plain SQL*:

    expected text  =  'heading for document <doc_id>' || '\n' || trim(text)

because the template contains exactly one <h1> (content) and one body
paragraph (content: every driver document has >= 10 words), plus
boilerplate the classifier must strip: a nav of links, a short teaser
paragraph (< MIN_CONTENT_WORDS), a script region, and a link-only
footer. That turns the driver's DuckDB value-hash comparison into a
byte-identical end-to-end extraction check — the strongest available
form of the BASELINE "byte-identical extracted text per url" invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

URL_PREFIX = "https://"
URL_MID = ".example.com/doc/"


def documents_to_pages(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang, source, ...) -> pages(url, warc_ts,
    html:binary, text, lang) per BASELINE.json input_hint."""
    d = documents
    url = F.concat(F.lit(URL_PREFIX), F.col("source"), F.lit(URL_MID), F.col("doc_id"))
    title = F.concat(F.lit("document "), F.col("doc_id"), F.lit(" from "), F.col("source"))
    h1 = F.concat(F.lit("heading for document "), F.col("doc_id"))
    # intra-corpus parent links (doc_id//2, doc_id//3 — both always exist;
    # source of doc j is src{j % 20} in the driver corpus) give the
    # LINKS_TO graph real fan-in while staying pure boilerplate: the nav
    # is link-only, so the extracted main text is unchanged.
    def _doc_url(target):
        return F.concat(
            F.lit("https://src"),
            (target % 20).cast("string"),
            F.lit(".example.com/doc/"),
            target.cast("string"),
        )

    parent2 = _doc_url(F.floor(F.col("doc_id") / 2).cast("long"))
    parent3 = _doc_url(F.floor(F.col("doc_id") / 3).cast("long"))
    nav = F.concat(
        F.lit('<ul><li><a href="/home">home</a></li><li><a href="/tags/'),
        F.col("source"),
        F.lit('">'),
        F.col("source"),
        F.lit('</a></li><li><a href="'),
        parent2,
        F.lit('">related</a></li><li><a href="'),
        parent3,
        F.lit('">more</a></li><li><a href="/about">about</a></li></ul>'),
    )
    # typed-field sources (schema-rule mapping targets, extraction/fields.py):
    # meta description, canonical link, publish time, author — all placed in
    # boilerplate positions so the extracted main text is unchanged.
    published = F.date_format(
        F.timestamp_seconds(F.lit(1735689600) + F.col("doc_id")), "yyyy-MM-dd'T'HH:mm:ss"
    )
    html = F.concat(
        F.lit('<!DOCTYPE html><html lang="'),
        F.col("lang"),
        F.lit('"><head><title>'),
        title,
        F.lit('</title><meta name="description" content="summary of document '),
        F.col("doc_id"),
        F.lit(' from '),
        F.col("source"),
        F.lit('"><link rel="canonical" href="'),
        url,
        F.lit('"><script>var doc_id = '),
        F.col("doc_id"),
        F.lit(";</script></head><body><header>"),
        nav,
        F.lit("</header><main><h1>"),
        h1,
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><p>short teaser here</p></main><footer>"),
        F.lit('<time datetime="'),
        published,
        F.lit('"></time><p><a href="/terms">terms</a> <a href="/contact">contact</a> '),
        F.lit('<a rel="author" href="/u">author '),
        F.col("doc_id"),
        F.lit("</a></p>"),
        F.lit("</footer></body></html>"),
    )
    warc_ts = F.timestamp_seconds(F.lit(1735689600) + F.col("doc_id") % 31536000)
    return d.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.col("text").alias("text"),
        F.col("lang").alias("lang"),
        F.col("doc_id").alias("doc_id"),
    )


def documents_to_rich_pages(documents: DataFrame) -> DataFrame:
    """documents -> pages whose body exercises every Markdown-rendered
    structure (extraction/markdown.py): h1 + h2 headings, a paragraph,
    two >=MIN_CONTENT_WORDS list items, and a blockquote — plus a
    link-only <nav> the classifier must drop. Pure column ops like
    documents_to_pages, so the correct Markdown is computable in plain
    SQL from (doc_id, source, text)."""
    d = documents
    url = F.concat(F.lit(URL_PREFIX), F.col("source"), F.lit(URL_MID), F.col("doc_id"))
    html = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id"),
        F.lit('</title></head><body><nav><a href="/">home</a> <a href="/tags">archive</a></nav><h1>heading for document '),
        F.col("doc_id"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><h2>details for "),
        F.col("source"),
        F.lit("</h2><ul><li>first detail item has exactly ten plain words total "),
        F.col("doc_id"),
        F.lit("</li><li>second detail item also has exactly ten plain words here</li></ul>"),
        F.lit("<blockquote>a quoted remark that is long enough to be treated as real content "),
        F.col("doc_id"),
        F.lit("</blockquote></body></html>"),
    )
    return d.select(
        url.alias("url"),
        F.encode(html, "UTF-8").alias("html"),
        F.col("doc_id").alias("doc_id"),
    )


def documents_to_legacy_pages(documents: DataFrame) -> DataFrame:
    """documents -> pages served in a LEGACY encoding: the docpages
    content shape, declared '<meta charset="iso-8859-1">' and encoded
    ISO-8859-1 (WHATWG-decodes as windows-1252 — identical for the
    latin-1 range used here), with accented tokens in the main
    paragraph so a utf-8-only decode would visibly mojibake the
    extracted text. Pure column ops (F.encode supports ISO-8859-1);
    driver document text is ASCII, so every byte is encodable."""
    d = documents
    url = F.concat(F.lit(URL_PREFIX), F.col("source"), F.lit(URL_MID), F.col("doc_id"))
    html = F.concat(
        F.lit('<html lang="'),
        F.col("lang"),
        F.lit('"><head><meta charset="iso-8859-1"><title>doc '),
        F.col("doc_id"),
        F.lit('</title></head><body><nav><a href="/">home</a> <a href="/tags/'),
        F.col("source"),
        F.lit('">'),
        F.col("source"),
        F.lit("</a></nav><h1>heading for document "),
        F.col("doc_id"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(" caf\u00e9 r\u00e9sum\u00e9 na\u00efve</p><p>short teaser</p>"),
        F.lit('<footer><a href="/terms">terms</a> <a href="/contact">contact</a></footer>'),
        F.lit("</body></html>"),
    )
    return d.select(
        url.alias("url"),
        F.encode(html, "ISO-8859-1").alias("html"),
        F.col("doc_id").alias("doc_id"),
    )


def documents_to_variant_pages(documents: DataFrame) -> DataFrame:
    """documents -> THREE variant pages per doc (www / m / amp
    subdomains) whose heads declare ``<link rel="canonical">`` to the
    www form — except every 5th doc's amp variant, which omits the
    declaration (its own cluster). The corpus for canonical-cluster
    dedup; pure column ops, correct clusters computable in plain SQL."""
    d = documents
    www = F.concat(
        F.lit("https://www."),
        F.col("source"),
        F.lit(".example.com/doc/"),
        F.col("doc_id"),
    )
    frames = []
    for prefix in ("www", "m", "amp"):
        url = F.concat(
            F.lit(f"https://{prefix}."),
            F.col("source"),
            F.lit(".example.com/doc/"),
            F.col("doc_id"),
        )
        link = F.concat(F.lit('<link rel="canonical" href="'), www, F.lit('">'))
        if prefix == "amp":
            link = F.when(F.col("doc_id") % 5 == 0, F.lit("")).otherwise(link)
        html = F.concat(
            F.lit("<html><head>"),
            link,
            F.lit("</head><body><p>"),
            F.col("text"),
            F.lit("</p></body></html>"),
        )
        frames.append(
            d.select(
                url.alias("url"),
                F.encode(html, "UTF-8").alias("html"),
                F.col("doc_id").alias("doc_id"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def documents_to_nofollow_pages(documents: DataFrame) -> DataFrame:
    """documents -> pages whose body mixes endorsed and non-endorsed
    anchors (rel=nofollow / 'ugc sponsored' / rel on the OTHER side of
    href) — the corpus for link-scheme-aware edge filtering."""
    d = documents
    url = F.concat(F.lit(URL_PREFIX), F.col("source"), F.lit(URL_MID), F.col("doc_id"))
    www = F.concat(F.lit("https://www."), F.col("source"), F.lit(".example.com"))
    html = F.concat(
        F.lit('<html><body><p><a href="'),
        www,
        F.lit('/f1">follow one</a> <a rel="nofollow" href="'),
        www,
        F.lit('/n1">paid link</a> <a href="'),
        www,
        F.lit('/f2" rel="ugc sponsored">user content</a> <a href="'),
        www,
        F.lit('/f3" rel="noopener">safe follow</a></p></body></html>'),
    )
    return d.select(
        url.alias("url"),
        F.encode(html, "UTF-8").alias("html"),
        F.col("doc_id").alias("doc_id"),
    )


def documents_to_soft404_pages(documents: DataFrame) -> DataFrame:
    """documents -> pages where every 10th doc is a full error page
    (title + h1 + short error body), every 10th-offset-5 doc is a
    SOFT error (normal title, short body containing the phrase), and
    the rest are normal articles — the corpus for soft-404 detection
    THROUGH real extraction. Body paragraphs all clear the >=10-word
    content threshold so the classifier keeps them."""
    d = documents
    i = F.col("doc_id")
    url = F.concat(F.lit(URL_PREFIX), F.col("source"), F.lit(URL_MID), F.col("doc_id"))
    title = (
        F.when(i % 10 == 0, F.lit("Page Not Found"))
        .otherwise(F.concat(F.lit("article "), i))
    )
    h1 = (
        F.when(i % 10 == 0, F.concat(F.lit("404 - missing document "), i))
        .otherwise(F.concat(F.lit("heading for document "), i))
    )
    body = (
        F.when(
            i % 10 == 0,
            F.lit("the page you requested does not exist or was removed from this server"),
        )
        .when(
            i % 10 == 5,
            F.lit("sorry this content is no longer available please return to the home page"),
        )
        .otherwise(F.col("text"))
    )
    html = F.concat(
        F.lit("<html><head><title>"),
        title,
        F.lit("</title></head><body><h1>"),
        h1,
        F.lit("</h1><p>"),
        body,
        F.lit("</p></body></html>"),
    )
    return d.select(
        url.alias("url"),
        F.encode(html, "UTF-8").alias("html"),
        F.col("doc_id").alias("doc_id"),
    )
