"""Event-time operators: sessionization, time rollups, JSON prop access.

The reference is batch-only (SURVEY.md §G) — these operators extend the
engine with the event-table analytics a training-data pipeline needs
(activity rollups, session segmentation for interaction logs). All are
window/groupBy column ops; the sessionization is the classic
gap-and-island: session starts where the gap from the previous event
exceeds the timeout, session id = running count of starts.

Scale: windows partition by user_id (uniform at web scale after salting
hot users if needed); rollups shuffle on the truncated time bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sessionize(events: DataFrame) -> DataFrame:
    """One row per event with its session id (per-user running index).

    Returns (user_id, ts, event_type, session_id).
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_s = 30 * 60  # a 30-minute gap starts a new session
    prev = F.lag("ts").over(w)
    is_start = F.when(
        prev.isNull()
        | ((F.unix_timestamp(F.col("ts")) - F.unix_timestamp(prev)) > gap_s),
        1,
    ).otherwise(0)
    return events.select(
        "user_id",
        "ts",
        "event_type",
        is_start.alias("is_start"),
    ).withColumn(
        "session_id", F.sum("is_start").over(Window.partitionBy("user_id").orderBy("ts"))
    ).drop("is_start")


def session_stats(events: DataFrame) -> DataFrame:
    """Per-session rollup: (user_id, session_id, n_events, start_ts,
    end_ts, duration_s)."""
    s = sessionize(events)
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias("duration_s"),
    )


def daily_rollup(events: DataFrame) -> DataFrame:
    """(day, event_type, n_events, total_value) — calendar-day rollup."""
    return events.groupBy(
        F.date_trunc("DAY", F.col("ts")).alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def json_prop_rollup(events: DataFrame) -> DataFrame:
    """Extract the JSON property ``k`` from the props column and aggregate
    by event_type: (event_type, n_events, avg_k). get_json_object is
    JVM-side (Jackson) — no Python in the path."""
    kv = F.get_json_object("props", "$.k").cast("bigint")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg(kv), 4).alias("avg_k"),
    )


def keep_latest(df: DataFrame, key_cols: list[str], ts_col: str) -> DataFrame:
    """CDC upsert / MERGE INTO emulation without a table format that has
    MERGE (the pyspark-guide pattern: base ∪ updates → keep the newest
    row per key). One window pass: row_number over (key) ordered by ts
    desc keeps exactly one survivor per key (which of two rows tied on
    ts is unspecified). At scale this is the standard recrawl-handling
    reduction — the shuffle key is the business key, skew follows the
    key distribution (salt upstream for a pathological hot key)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(F.desc(ts_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def scd2_history(
    df: DataFrame, key_cols: list[str], ts_col: str, value_col: str
) -> DataFrame:
    """Slowly-changing-dimension (type 2) history from a change-event
    stream: per key, each observed value gets a half-open validity
    interval [valid_from, valid_to) with valid_to = the next change's
    timestamp (NULL = current). Consecutive duplicate values collapse
    (a re-crawl that observed the same value is not a new version).
    One key-partitioned window pass: lag to detect changes, lead over
    the change rows for the closing timestamp."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(F.asc(ts_col))
    changed = df.withColumn("_prev", F.lag(value_col).over(w)).filter(
        F.col("_prev").isNull() | (F.col(value_col) != F.col("_prev"))
    )
    w2 = Window.partitionBy(*key_cols).orderBy(F.asc(ts_col))
    return changed.select(
        *key_cols,
        F.col(value_col).alias("value"),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
    )
