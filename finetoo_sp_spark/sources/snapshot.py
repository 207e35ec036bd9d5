"""Crawl-snapshot delta: what changed between two crawls of the web.

At the 10^12-page design point, re-extracting the whole corpus for
every crawl snapshot is the single biggest avoidable cost — crawl churn
is typically a few percent, so the winning pipeline is

    delta = snapshot_delta(prev_pages, next_pages)   # url-level status
    work  = changed_pages(prev_pages, next_pages)    # added+changed only
    run_resumable_extraction(work, ...)              # pay for churn only

Semantics (url is the snapshot key; one row per url per snapshot):

* ``added``     — url present only in the new snapshot;
* ``removed``   — url present only in the old snapshot;
* ``changed``   — present in both, payload fingerprint differs;
* ``unchanged`` — present in both, payload fingerprint equal.

Scale shape: both helpers project each snapshot down to
``(url, xxhash64(payload))`` BEFORE any join, so the shuffle moves ~24
bytes per page, never the html payload. ``changed_pages`` then joins the
old side's slim hash dimension into the new snapshot — one equi-join on
url. With snapshots written through the lineage layout (bucketed by
hash(url), sources/lineage.py) both joins are bucket-local and the
whole delta is shuffle-free; without bucketing it is one co-partitioned
sort-merge exchange per side, still payload-free. No driver-side state,
no collect.

The fingerprint is ``xxhash64`` of the raw payload column — change
*detection* needs speed, not cryptographic strength (a false
"unchanged" needs a 64-bit collision on the SAME url between two
crawls).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _slim(pages: DataFrame, alias: str) -> DataFrame:
    return pages.select("url", F.xxhash64("html").alias(alias))


def snapshot_delta(old_pages: DataFrame, new_pages: DataFrame) -> DataFrame:
    """(url, status) for every url in either snapshot — status in
    {added, removed, changed, unchanged}. One full-outer equi-join over
    the slim (url, hash) projections."""
    o = _slim(old_pages, "_h_old")
    n = _slim(new_pages, "_h_new")
    status = (
        F.when(F.col("_h_old").isNull(), F.lit("added"))
        .when(F.col("_h_new").isNull(), F.lit("removed"))
        .when(F.col("_h_old") == F.col("_h_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return o.join(n, "url", "full_outer").select("url", status.alias("status"))


def changed_pages(old_pages: DataFrame, new_pages: DataFrame) -> DataFrame:
    """The new snapshot restricted to urls that need (re-)extraction:
    added or changed vs the old snapshot. Returns new_pages rows
    unchanged (all columns). The old side joins in as a slim hash
    dimension, so only the fingerprints shuffle — the html payload of
    the new snapshot moves once, into its own extraction."""
    o = _slim(old_pages, "_h_old")
    n = new_pages.withColumn("_h_new", F.xxhash64("html"))
    return (
        n.join(o, "url", "left_outer")
        .filter(F.col("_h_old").isNull() | (F.col("_h_old") != F.col("_h_new")))
        .drop("_h_old", "_h_new")
    )
