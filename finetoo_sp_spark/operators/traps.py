"""Crawler-trap URL detection (frontier hygiene).

Crawl-policy extension (no reference analogue): infinite URL spaces —
calendar pages, faceted-search permutations, session-id echoes,
self-similar path loops — waste crawl budget and flood dedup. The
standard defense (Heritrix's path-repetition rule, IRLbot's budget
caps) flags candidate traps from URL SHAPE alone, before any fetch:

- ``deep_path``: more than ``max_depth`` path segments;
- ``repeated_segment``: the same path segment appears ≥3 times
  (self-similar loops like /a/b/a/b/a/b);
- ``calendar``: a /YYYY/MM(/DD) date walk in the path;
- ``query_explosion``: more than ``max_params`` query parameters (the
  faceted-search permutation signature).

All four are narrow JVM column ops (split / size / array_distinct /
one anchored regexp) — no UDF, no shuffle; the verdict is a per-URL
map-side computation at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def flag_trap_urls(urls: DataFrame) -> DataFrame:
    """(.., path_depth, n_params, deep_path, repeated_segment, calendar,
    query_explosion, is_trap) per input row, from its ``url`` column:
    deep_path past 8 segments, query_explosion past 6 parameters."""
    path = F.regexp_extract(F.col("url"), r"^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(F.col("url"), r"\?([^#]*)", 1)
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    n_params = F.when(query == "", F.lit(0)).otherwise(
        F.size(F.split(query, "&"))
    )
    deep = F.size(segs) > 8
    repeated = (F.size(segs) - F.size(F.array_distinct(segs))) >= 2
    calendar = path.rlike(r"/(19|20)\d{2}/(0?[1-9]|1[0-2])(/([0-2]?\d|3[01]))?(/|$)")
    explosion = n_params > 6
    return urls.select(
        "*",
        F.size(segs).cast("int").alias("path_depth"),
        n_params.cast("int").alias("n_params"),
        deep.alias("deep_path"),
        repeated.alias("repeated_segment"),
        calendar.alias("calendar"),
        explosion.alias("query_explosion"),
        (deep | repeated | calendar | explosion).alias("is_trap"),
    )
