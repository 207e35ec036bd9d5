"""HLS (M3U8) playlist parsing: manifests -> typed fetch-frontier rows.

The video analogue of sources/sitemap.py: crawled ``.m3u8`` manifests
(RFC 8216) are the index a media pipeline plans segment fetches from.
Two shapes share one container:

- MASTER playlists: ``#EXT-X-STREAM-INF:BANDWIDTH=…,RESOLUTION=WxH``
  attribute lines, each followed by a variant-playlist URI;
- MEDIA playlists: ``#EXTINF:<seconds>,`` lines, each followed by a
  segment URI, plus ``#EXT-X-TARGETDURATION`` / ``#EXT-X-ENDLIST``.

``parse_hls`` emits one row per variant or segment: (url, kind, pos,
item_uri, bandwidth, width, height, duration_ms). ``kind`` is
'variant' or 'segment'; duration parses decimal seconds to integer
milliseconds without a float round-trip (whole and fractional digits
handled as strings). Attribute order inside STREAM-INF is free per the
RFC, so each attribute lifts independently. The URI is the next
non-blank, non-tag line after its tag — recovered by keeping only item
tags and URI lines, then pairing tag lines with following-line
positions, all JVM regexp/split work: no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parse_hls(df: DataFrame) -> DataFrame:
    """(url, body) playlists -> (url, kind, pos, item_uri, bandwidth, width, height,
    duration_ms) per playlist item (module docstring). ``pos`` is the
    item's 0-based order among items of the playlist."""
    # RFC 8216: an item tag applies to the next URI line — the next line
    # that is neither blank nor a tag; other tags (#EXT-X-BYTERANGE,
    # #EXT-X-KEY, ...) and blank lines may sit between. So keep only the
    # item tags and URI lines, in order, before exploding: a tag's URI is
    # then the very next kept line, at ln+1 (a tag followed by another
    # item tag has no URI and drops out of the join below).
    lines = F.filter(
        F.split(F.col("body"), r"\r?\n"),
        lambda s: s.startswith("#EXT-X-STREAM-INF:")
        | s.startswith("#EXTINF:")
        | (~s.startswith("#") & (F.trim(s) != "")),
    )
    e = df.select("url", F.posexplode(lines).alias("ln", "_l"))
    # pair each tag line with the next kept line (the URI): join the
    # projected tag rows to the projected line rows on (url, ln+1).
    tags = e.filter(
        F.col("_l").startswith("#EXT-X-STREAM-INF:")
        | F.col("_l").startswith("#EXTINF:")
    ).select(
        "url",
        F.col("ln").alias("tag_ln"),
        (F.col("ln") + 1).alias("uri_ln"),
        F.col("_l").alias("tag"),
    )
    uris = e.filter(~F.col("_l").startswith("#")).select(
        "url", F.col("ln").alias("uri_ln"), F.col("_l").alias("item_uri")
    )
    joined = tags.join(uris, ["url", "uri_ln"])
    is_variant = F.col("tag").startswith("#EXT-X-STREAM-INF:")
    dur_whole = F.regexp_extract("tag", r"#EXTINF:(\d+)", 1)
    dur_frac = F.regexp_extract("tag", r"#EXTINF:\d+\.(\d+)", 1)
    out = joined.select(
        "url",
        F.when(is_variant, F.lit("variant")).otherwise(F.lit("segment")).alias("kind"),
        F.col("tag_ln").alias("_order"),
        "item_uri",
        F.nullif(F.regexp_extract("tag", r"BANDWIDTH=(\d+)", 1), F.lit(""))
        .cast("long")
        .alias("bandwidth"),
        F.nullif(F.regexp_extract("tag", r"RESOLUTION=(\d+)x\d+", 1), F.lit(""))
        .cast("long")
        .alias("width"),
        F.nullif(F.regexp_extract("tag", r"RESOLUTION=\d+x(\d+)", 1), F.lit(""))
        .cast("long")
        .alias("height"),
        F.when(
            dur_whole != "",
            dur_whole.cast("long") * 1000
            + F.coalesce(
                F.nullif(F.rpad(dur_frac, 3, "0"), F.lit("")).cast("long"),
                F.lit(0),
            ),
        ).alias("duration_ms"),
    )
    # pos: order among the playlist's items. The tag line numbers are
    # strictly increasing per playlist; divide by 2 is NOT safe (tags
    # may be preceded by headers of arbitrary length), so rank with one
    # window on the natural partition key (url) — politeness-style
    # partition-local window, no global sort.
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy("_order")
    return out.select(
        "url",
        "kind",
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
        "item_uri",
        "bandwidth",
        "width",
        "height",
        "duration_ms",
    )
