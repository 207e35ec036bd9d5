"""sitemaps.org XML parsing: sitemap documents -> typed URL-frontier rows.

The discovery-side complement to robots.txt (sources/robots.py gates
what a crawler MAY fetch; sitemaps enumerate what a host WANTS fetched,
with freshness hints). Parsing is three JVM regexp passes over the XML
string — the same declarative extract/posexplode shape as
extraction/tables.py — so the plan is a fully narrow projection:
no UDF, no shuffle, linear in input bytes.

A real crawl stores fetched sitemap bodies as (host, sitemap_xml) rows;
<sitemapindex> files simply yield more sitemap URLs to fetch and land
back in the same table, so the parser here handles the <urlset> leaf
format plus index detection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tag(block, name: str):
    """Inner text of <name>...</name> within a url block ('' if absent)."""
    return F.regexp_extract(block, rf"(?s)<{name}>\s*(.*?)\s*</{name}>", 1)


def parse_sitemaps(df: DataFrame) -> DataFrame:
    """Parse (host, sitemap_xml) <urlset> bodies into one typed row per
    <url> entry.

    Returns (host, loc, lastmod:date, changefreq, priority_ppm:long):
    lastmod is NULL when absent or unparseable (try-cast semantics),
    priority is exposed as integer parts-per-million (decimal parse,
    never a float round-trip), changefreq '' -> NULL. <sitemapindex>
    bodies yield zero rows.
    """
    blocks = F.expr("regexp_extract_all(sitemap_xml, '(?s)<url>(.*?)</url>', 1)")
    e = df.select("host", F.explode(blocks).alias("_b"))
    return e.select(
        "host",
        _tag(F.col("_b"), "loc").alias("loc"),
        F.try_to_timestamp(
            F.nullif(_tag(F.col("_b"), "lastmod"), F.lit("")),
            F.lit("yyyy-MM-dd"),
        )
        .cast("date")
        .alias("lastmod"),
        F.nullif(_tag(F.col("_b"), "changefreq"), F.lit("")).alias("changefreq"),
        (
            F.nullif(_tag(F.col("_b"), "priority"), F.lit("")).try_cast(
                "decimal(10,6)"
            )
            * 1000000
        )
        .cast("long")
        .alias("priority_ppm"),
    ).filter(F.col("loc") != "")


def media_entries(df: DataFrame) -> DataFrame:
    """Google sitemap media extensions -> one typed row per media item.

    Parses the three extension namespaces a media crawl plans fetches
    from: ``<image:image>`` (image:loc/image:title), ``<video:video>``
    (video:content_loc/video:duration/video:title) and ``<news:news>``
    (news:publication_date/news:title). Returns (host, loc, media_type,
    media_loc, duration_s, title, pub_date); news rows carry a NULL
    media_loc (the page IS the asset) and only news rows carry
    pub_date. URLs without media yield no rows. Same narrow
    regexp-explode shape as :func:`parse_sitemaps` — two Generates,
    no UDF, no shuffle."""
    blocks = F.expr("regexp_extract_all(sitemap_xml, '(?s)<url>(.*?)</url>', 1)")
    base = df.select("host", F.explode(blocks).alias("_u")).select(
        "host", _tag(F.col("_u"), "loc").alias("loc"), "_u"
    )

    def sub(pattern: str):
        return F.explode(
            F.expr(f"regexp_extract_all(_u, '(?s){pattern}', 1)")
        ).alias("_m")

    imgs = base.select("host", "loc", sub("<image:image>(.*?)</image:image>")).select(
        "host",
        "loc",
        F.lit("image").alias("media_type"),
        _tag(F.col("_m"), "image:loc").alias("media_loc"),
        F.lit(None).cast("long").alias("duration_s"),
        F.nullif(_tag(F.col("_m"), "image:title"), F.lit("")).alias("title"),
        F.lit(None).cast("date").alias("pub_date"),
    )
    vids = base.select("host", "loc", sub("<video:video>(.*?)</video:video>")).select(
        "host",
        "loc",
        F.lit("video").alias("media_type"),
        _tag(F.col("_m"), "video:content_loc").alias("media_loc"),
        F.nullif(_tag(F.col("_m"), "video:duration"), F.lit(""))
        .try_cast("long")
        .alias("duration_s"),
        F.nullif(_tag(F.col("_m"), "video:title"), F.lit("")).alias("title"),
        F.lit(None).cast("date").alias("pub_date"),
    )
    news = base.select("host", "loc", sub("<news:news>(.*?)</news:news>")).select(
        "host",
        "loc",
        F.lit("news").alias("media_type"),
        F.lit(None).cast("string").alias("media_loc"),
        F.lit(None).cast("long").alias("duration_s"),
        F.nullif(_tag(F.col("_m"), "news:title"), F.lit("")).alias("title"),
        F.try_to_timestamp(
            F.nullif(_tag(F.col("_m"), "news:publication_date"), F.lit("")),
            F.lit("yyyy-MM-dd"),
        )
        .cast("date")
        .alias("pub_date"),
    )
    return (
        imgs.unionByName(vids)
        .unionByName(news)
        .filter(F.col("media_loc").isNotNull() | (F.col("media_type") == "news"))
    )
