"""RSS 2.0 / Atom feed parsing: feed documents -> typed frontier rows.

The third discovery surface next to robots.txt (gate) and sitemaps
(enumeration): feeds announce NEW urls with timestamps and titles, so a
recurring crawl polls them for freshness instead of re-walking whole
hosts. Same declarative shape as sources/sitemap.py — JVM regexp lift
per entry block, per-element tag extracts, try-parse timestamps — a
fully narrow plan: no UDF, no shuffle, linear in feed bytes.

Both dialects parse through one pass:
- RSS 2.0: ``<item>`` blocks, ``<link>inner</link>``, RFC 822 pubDate;
- Atom: ``<entry>`` blocks, ``<link href="..."/>``, ISO-8601 updated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tag(block, name: str):
    return F.regexp_extract(block, rf"(?s)<{name}[^>]*>\s*(.*?)\s*</{name}>", 1)


def parse_feeds(df: DataFrame) -> DataFrame:
    """Parse (host, feed_xml) RSS/Atom bodies into one row per item/entry.

    Returns (host, kind, link, title, published:timestamp): ``kind`` is
    'rss' or 'atom' per entry origin; ``published`` is NULL when absent
    or unparseable (RFC 822 for RSS pubDate, ISO-8601 for Atom
    updated/published — try-parse semantics, dirty feeds cost fields,
    never the task)."""
    items = F.expr("regexp_extract_all(feed_xml, '(?s)<item>(.*?)</item>', 1)")
    entries = F.expr("regexp_extract_all(feed_xml, '(?s)<entry>(.*?)</entry>', 1)")
    lifted = df.select(
        "host",
        F.explode(
            F.concat(
                F.transform(items, lambda b: F.struct(F.lit("rss").alias("kind"), b.alias("b"))),
                F.transform(entries, lambda b: F.struct(F.lit("atom").alias("kind"), b.alias("b"))),
            )
        ).alias("e"),
    ).select("host", F.col("e.kind").alias("kind"), F.col("e.b").alias("_b"))

    b = F.col("_b")
    link = F.when(F.col("kind") == "rss", _tag(b, "link")).otherwise(
        F.regexp_extract(b, r'(?s)<link[^>]*href\s*=\s*["\x27]([^"\x27]*)["\x27]', 1)
    )
    raw_ts = F.when(F.col("kind") == "rss", _tag(b, "pubDate")).otherwise(
        F.coalesce(
            F.nullif(_tag(b, "published"), F.lit("")),
            F.nullif(_tag(b, "updated"), F.lit("")),
        )
    )
    # Spark 3+'s parser rejects EEE/zzz; RFC 822 dates are parsed by
    # extracting the date core and assuming UTC (the overwhelmingly
    # common 'GMT'/'+0000' feed case — other offsets cost only the
    # timestamp field, not the row).
    rss_core = F.regexp_extract(
        raw_ts, r"(\d{1,2} [A-Z][a-z]{2} \d{4} \d{2}:\d{2}:\d{2})", 1
    )
    published = F.when(
        F.col("kind") == "rss",
        F.try_to_timestamp(F.nullif(rss_core, F.lit("")), F.lit("d MMM yyyy HH:mm:ss")),
    ).otherwise(
        F.try_to_timestamp(
            F.nullif(raw_ts, F.lit("")), F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")
        )
    )
    return lifted.select(
        "host",
        "kind",
        link.alias("link"),
        _tag(b, "title").alias("title"),
        published.alias("published"),
    )
