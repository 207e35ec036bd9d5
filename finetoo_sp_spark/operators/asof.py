"""As-of join: attach the most recent prior right-side row to each left row.

Spark has no native ASOF JOIN (DuckDB / Flink / kdb do; the reference
has no join beyond equi — SURVEY §2 C-notes — so this is a
training-pipeline extension: "state of X as of event time T" lookups,
e.g. the crawl-policy snapshot in force when a page was fetched).

Scale-safe construction (no range cross product, no per-key loop):
tag both sides, union them, and run ONE window
``last(value, ignorenulls) over (partition by key order by ts, side)``
— a single shuffle on the join key; each partition is scanned once in
time order. Right rows sort before left rows at equal timestamps, so a
right row taking effect exactly at the left row's time IS matched
(inclusive <=, DuckDB ASOF semantics).

Skew note: the shuffle key is the by-key; a pathologically hot key
concentrates one partition — pre-aggregate the right side per (key, ts)
(done here) and salt the left side upstream if a single key dominates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RANGE_BUCKET_SECONDS = 21600  # range_join's time bucket: 6 hours


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    on: str,
    value_col: str,
    tolerance_seconds: int | None = None,
    ts_out_col: str | None = None,
) -> DataFrame:
    """Left as-of join: every left row + ``asof_<value_col>``, the
    ``value_col`` of the most recent right row with ``right.on <=
    left.on`` for the same ``by`` key (null when no prior right row
    exists).

    ``tolerance_seconds``: pandas merge_asof-style staleness bound — a
    match older than the tolerance becomes null (a crawl-policy snapshot
    from last year should not silently apply to today's fetch).
    ``ts_out_col``: also emit the matched right row's timestamp.

    The right side is deduplicated to one row per (by, on) first
    (keeping max(value_col)) so the match is deterministic. One shuffle
    on ``by``; the match state travels as a (ts, value) struct through a
    single ordered window pass.
    """
    from pyspark.sql.window import Window

    out_col = f"asof_{value_col}"
    r = (
        right.groupBy(by, on)
        .agg(F.max(value_col).alias("_v"))
        .select(
            by,
            on,
            F.struct(F.col(on).alias("ts"), F.col("_v").alias("v")).alias("_m"),
            F.lit(0).alias("_side"),
        )
    )
    left_cols = [c for c in left.columns]
    l = left.select(
        *left_cols,
        F.lit(None).cast(r.schema["_m"].dataType).alias("_m"),
        F.lit(1).alias("_side"),
    )
    # align schemas for the union: right rows carry nulls for the other
    # left columns
    for c in left_cols:
        if c not in (by, on):
            r = r.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    unioned = l.unionByName(r.select(*left_cols, "_m", "_side"))

    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = (
        unioned.withColumn("_m", F.last("_m", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    m = F.col("_m")
    if tolerance_seconds is not None:
        fresh = (
            F.unix_timestamp(F.col(on)) - F.unix_timestamp(m["ts"])
        ) <= tolerance_seconds
        m = F.when(m.isNotNull() & fresh, F.col("_m"))
    out_cols = [*left_cols, m["v"].alias(out_col)]
    if ts_out_col:
        out_cols.append(m["ts"].alias(ts_out_col))
    return matched.select(*out_cols)


def range_join(
    left: DataFrame,
    right: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    by: str | None = None,
) -> DataFrame:
    """Point-in-interval range join without a cross product.

    Naive ``l.ts BETWEEN r.start AND r.end`` in Spark plans as a
    nested-loop join — quadratic at scale. The standard fix (what
    Databricks' range-join optimization does under the hood): quantize
    time into ``RANGE_BUCKET_SECONDS`` buckets, explode each right interval
    onto the buckets it covers, equi-join on (by, bucket), then apply
    the exact interval predicate. Each left row matches a right row in
    exactly one bucket (the left point's), so no post-join dedup is
    needed. Interval semantics: half-open [start, end).

    The bucket is ~ the median interval length: larger wastes filter
    work, smaller multiplies the right side's explode factor.
    """
    from pyspark.sql import functions as F

    w = F.lit(RANGE_BUCKET_SECONDS)
    lb = left.withColumn("_bkt", F.floor(F.unix_timestamp(point_col) / w))
    # Dirty interval data (null bounds, end < start) would make
    # F.sequence throw and fail the whole job; such rows can match no
    # point under the half-open [start, end) contract, so drop them.
    right = right.filter(
        F.col(start_col).isNotNull()
        & F.col(end_col).isNotNull()
        & (F.col(end_col) >= F.col(start_col))
    )
    rb = right.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(start_col) / w),
                F.floor(F.unix_timestamp(end_col) / w),
            )
        ),
    )
    keys = ["_bkt"] if by is None else [by, "_bkt"]
    return (
        lb.join(rb, keys)
        .filter(
            (F.col(point_col) >= F.col(start_col)) & (F.col(point_col) < F.col(end_col))
        )
        .drop("_bkt")
    )
