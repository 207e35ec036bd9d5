"""Compliance-signal extraction: robots meta, AI opt-out, license link.

Extraction-tier extension: before any page enters a training corpus the
pipeline must honor the page's own machine-readable opt-outs —
``<meta name="robots">`` directives (noindex/nofollow), the emerging
``noai``/``noimageai`` opt-out tokens carried in the same meta, and the
``<link rel="license">`` declaration. This operator surfaces all of
them as typed columns so a single filter gates the corpus.

Shape: pure JVM column ops — two anchored ``regexp_extract`` passes
(first robots meta, first license link) + token containment tests on
the lowered directive list. No Python per row, no shuffle: narrow over
the page scan, same scale story as the main-text kernel.

Limits (documented): only the ``name= ... content=`` attribute order is
recognized (the overwhelmingly common form); multiple robots metas
beyond the first are ignored. HTTP-header signals (X-Robots-Tag) are
out of band for the HTML-only operators but merge in via
``with_http_compliance`` when the WARC reader supplies the header
column (sources/warc.read_warc_pages_http).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType

_ROBOTS_RE = (
    r'(?i)<meta[^>]*name\\s*=\\s*["\\x27]robots["\\x27][^>]*'
    r'content\\s*=\\s*["\\x27]([^"\\x27]*)["\\x27]'
)
_LICENSE_RE = (
    r'(?i)<link[^>]*rel\\s*=\\s*["\\x27]license["\\x27][^>]*'
    r'href\\s*=\\s*["\\x27]([^"\\x27]*)["\\x27]'
)


def _has_token(directives, token: str):
    """True when ``token`` appears in the comma/space-separated
    directive list (substring tests would confuse noai/noimageai)."""
    toks = F.split(F.regexp_replace(F.lower(directives), r"[,\s]+", ","), ",")
    return F.array_contains(toks, token)


def with_compliance_cols(pages: DataFrame) -> DataFrame:
    """``pages`` with (robots, noindex, nofollow, noai, license) columns
    APPENDED — plain expressions over the html column, so callers
    compose the flags without a self-join."""
    html = F.col("html")
    if isinstance(pages.schema["html"].dataType, BinaryType):
        html = F.decode(html, "UTF-8")
    robots_sql = _ROBOTS_RE.replace("\\\\", "\\")
    license_sql = _LICENSE_RE.replace("\\\\", "\\")
    d = pages.withColumn("robots", F.regexp_extract(html, robots_sql, 1))
    return (
        d.withColumn("noindex", _has_token("robots", "noindex"))
        .withColumn("nofollow", _has_token("robots", "nofollow"))
        .withColumn(
            "noai", _has_token("robots", "noai") | _has_token("robots", "noimageai")
        )
        .withColumn("license", F.regexp_extract(html, license_sql, 1))
    )


def compliance_flags(pages: DataFrame) -> DataFrame:
    """(url, robots, noindex, nofollow, noai, license) — robots is the
    raw directive string ('' when no robots meta), license the first
    rel=license href ('' when absent), flags are token-exact."""
    return with_compliance_cols(pages).select(
        "url",
        "robots", "noindex", "nofollow", "noai", "license",
    )


def with_http_compliance(pages: DataFrame) -> DataFrame:
    """with_compliance_cols PLUS the transport layer: X-Robots-Tag
    directives in the ``x_robots`` column (Google's documented header
    form of the robots meta — real origins use it for non-HTML responses
    and CDN-level opt-outs) merge with the in-document meta by OR: a page is noindex /
    nofollow / noai when EITHER layer says so. Adds ``src_http`` /
    ``src_meta`` booleans so corpus audits can attribute the gate.
    Token-exact matching on both layers (substring tests would confuse
    noai/noimageai). Still pure JVM column ops, no shuffle."""
    d = with_compliance_cols(pages)
    hdr = F.coalesce(F.col("x_robots"), F.lit(""))
    h_noindex = _has_token(hdr, "noindex")
    h_nofollow = _has_token(hdr, "nofollow")
    h_noai = _has_token(hdr, "noai") | _has_token(hdr, "noimageai")
    return (
        d.withColumn("src_meta", F.col("robots") != "")
        .withColumn("src_http", hdr != F.lit(""))
        .withColumn("noindex", F.col("noindex") | h_noindex)
        .withColumn("nofollow", F.col("nofollow") | h_nofollow)
        .withColumn("noai", F.col("noai") | h_noai)
    )
