"""Page-metadata extraction: OpenGraph, hreflang alternates, microdata.

Extraction-tier extension completing the structured-data trio next to
extraction/jsonld.py and extraction/tables.py — the three machine-
readable surfaces a curation pipeline mines from page HEADs:

- **OpenGraph** ``<meta property="og:x" content="y">``: canonical
  title/image/type supervision and social-preview dedup keys;
- **hreflang alternates** ``<link rel="alternate" hreflang="x"
  href="y">``: the cross-language edition graph (feeds multilingual
  dedup — the same article under /en/ /de/ /fr/ is one document);
- **microdata** ``itemprop`` attributes (schema.org's inline encoding,
  the older sibling of JSON-LD).

Shape (same as jsonld.py): one ``regexp_extract_all`` lifts the
matching tags, ``posexplode`` preserves document order, per-element
``regexp_extract`` parses the attributes — all JVM, no Python per row,
no shuffle; narrow plans over the page scan. Attribute order within a
tag is not assumed beyond the common property-then-content serialization
(the synthesized fixtures and real generators emit it); a tag missing
either attribute yields '' fields rather than dropping the row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType


def _html_str(pages: DataFrame):
    c = F.col("html")
    if isinstance(pages.schema["html"].dataType, BinaryType):
        c = c.cast("string")
    return c


def _lift(pages: DataFrame, tag_re: str) -> DataFrame:
    tags = F.expr(f"regexp_extract_all(html_str, '{tag_re}', 0)")
    return (
        pages.select("url", _html_str(pages).alias("html_str"))
        .select("url", F.posexplode(tags).alias("idx", "tag"))
    )


def og_meta(pages: DataFrame) -> DataFrame:
    """(url, idx, og_key, og_value) — one row per og: meta tag in
    document order; og_key excludes the 'og:' prefix."""
    lifted = _lift(
        pages,
        r'(?i)<meta\\s[^>]*property\\s*=\\s*["\\x27]og:[a-z:_]+["\\x27][^>]*>',
    )
    return lifted.select(
        "url",
        "idx",
        F.regexp_extract("tag", r'(?i)property\s*=\s*["\x27]og:([a-z:_]+)["\x27]', 1).alias("og_key"),
        F.regexp_extract("tag", r'(?i)content\s*=\s*["\x27]([^"\x27]*)["\x27]', 1).alias("og_value"),
    )


def link_alternates(pages: DataFrame) -> DataFrame:
    """(url, idx, hreflang, href) — the cross-language edition edges."""
    lifted = _lift(
        pages,
        r'(?i)<link\\s[^>]*rel\\s*=\\s*["\\x27]alternate["\\x27][^>]*>',
    )
    return lifted.select(
        "url",
        "idx",
        F.regexp_extract("tag", r'(?i)hreflang\s*=\s*["\x27]([a-zA-Z-]+)["\x27]', 1).alias("hreflang"),
        F.regexp_extract("tag", r'(?i)href\s*=\s*["\x27]([^"\x27]*)["\x27]', 1).alias("href"),
    ).filter(F.col("hreflang") != "")


def microdata_props(pages: DataFrame) -> DataFrame:
    """(url, idx, prop, value) — schema.org microdata: meta-style
    ``itemprop`` tags take their ``content`` attribute; element-style
    ones (<span itemprop=...>text</span>) take the inner text of the
    same tag."""
    lifted = _lift(
        pages,
        r'(?i)<[a-z0-9]+\\s[^>]*itemprop\\s*=\\s*["\\x27][a-zA-Z]+["\\x27][^>]*>'
        r"([^<]*)",
    )
    content = F.regexp_extract("tag", r'(?i)content\s*=\s*["\x27]([^"\x27]*)["\x27]', 1)
    inner = F.regexp_extract("tag", r">([^<]*)$", 1)
    return lifted.select(
        "url",
        "idx",
        F.regexp_extract("tag", r'(?i)itemprop\s*=\s*["\x27]([a-zA-Z]+)["\x27]', 1).alias("prop"),
        F.when(content != "", content).otherwise(F.trim(inner)).alias("value"),
    )


def anchor_rel_links(pages: DataFrame) -> DataFrame:
    """(url, idx, href, rel, is_nofollow) — one row per anchor open
    tag in document order, with the link-scheme annotations search
    engines defined for PageRank sculpting: rel values nofollow /
    sponsored / ugc mean the page does NOT endorse the target, so
    authority operators (pagerank/hits/trustrank) should drop those
    edges. Same JVM lift shape as og_meta: one regexp_extract_all +
    one explode, per-tag attribute extracts, no UDF."""
    lifted = _lift(
        pages,
        r"(?i)<a\\s[^>]*>",
    )
    rel = F.lower(
        F.regexp_extract("tag", r'(?i)\brel\s*=\s*["\x27]([^"\x27]*)["\x27]', 1)
    )
    return lifted.select(
        "url",
        "idx",
        F.regexp_extract("tag", r'(?i)href\s*=\s*["\x27]([^"\x27]*)["\x27]', 1).alias("href"),
        rel.alias("rel"),
        rel.rlike(r"(^| )(nofollow|sponsored|ugc)( |$)").alias("is_nofollow"),
    ).filter(F.col("href") != "")


def resolved_links(pages: DataFrame) -> DataFrame:
    """(url, href, target) — every <a href> on the page resolved to an
    absolute URL against the page's EFFECTIVE base: the first
    ``<base href>`` when the document declares one (HTML's only
    mechanism for relocating relative references — served-from-CDN and
    mirrored pages depend on it), the page URL otherwise. Resolution is
    RFC 3986 §5 via operators/urlnorm.resolve_refs, so path-relative
    hrefs — the majority of real on-site links, out of scope for the
    kernel's extract_links — become joinable link-graph edges.
    Same JVM lift shape as og_meta: one regexp_extract_all +
    posexplode + the resolver's column expressions; no UDF, no shuffle.
    """
    from finetoo_sp_spark.operators.urlnorm import resolve_refs

    hs = _html_str(pages)
    base_href = F.regexp_extract(
        hs, r"""(?i)<base\s[^>]*href\s*=\s*["']([^"']+)""", 1
    )
    hrefs = F.expr(
        """regexp_extract_all(CAST(html AS STRING),
            '(?i)<a\\\\s[^>]*href\\\\s*=\\\\s*["\\']([^"\\']*)', 1)"""
    )
    rows = pages.select(
        "url",
        F.when(base_href != "", base_href).otherwise(F.col("url")).alias("base"),
        F.explode(hrefs).alias("href"),
    )
    return resolve_refs(rows, "base", "href", "target").select(
        "url", "href", "target"
    )


def meta_refresh(pages: DataFrame) -> DataFrame:
    """(url, delay_s, target) from ``<meta http-equiv="refresh">``
    elements — the CLIENT-SIDE redirect channel (WHATWG HTML
    §pragma-directives) that HTTP-level redirect resolution never sees:
    parked domains, interstitials and soft-moved pages overwhelmingly
    use it, so a crawl that ignores it keeps dead URLs and loses their
    targets. One row per page carrying a refresh directive: delay_s is
    the leading integer, target the (quoted or bare) ``url=`` value
    resolved RFC 3986-absolute against the page URL, or NULL for a
    self-reload directive (delay only). First directive wins, matching
    browser behavior. Same narrow JVM lift shape as og_meta; the
    output's (url, target) rows feed resolve_redirects as extra edges.
    """
    from finetoo_sp_spark.operators.urlnorm import resolve_refs

    hs = _html_str(pages)
    tag = F.regexp_extract(
        hs,
        r"""(?i)<meta\s[^>]*http-equiv\s*=\s*["']?refresh["']?[^>]*>""",
        0,
    )
    # the content value may itself contain the OTHER quote style
    # (content="5; URL='/x'"), so match each quote style to its closer
    content = F.coalesce(
        F.nullif(
            F.regexp_extract(tag, r'(?i)content\s*=\s*"([^"]*)"', 1), F.lit("")
        ),
        F.regexp_extract(tag, r"(?i)content\s*=\s*'([^']*)'", 1),
    )
    delay = F.regexp_extract(content, r"^\s*(\d+)", 1).try_cast("long")
    raw_target = F.nullif(
        F.regexp_extract(
            content, r"""(?i);\s*url\s*=\s*['"]?([^'"\s]+)""", 1
        ),
        F.lit(""),
    )
    rows = pages.select(
        "url",
        delay.alias("delay_s"),
        raw_target.alias("_t"),
    ).filter(F.col("delay_s").isNotNull())
    resolved = resolve_refs(rows, "url", "_t", "target")
    return resolved.select(
        "url",
        "delay_s",
        F.when(F.col("_t").isNotNull(), F.col("target")).alias("target"),
    )
