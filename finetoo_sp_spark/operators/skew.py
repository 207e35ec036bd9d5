"""Skew-defused aggregation: two-phase salted groupBy.

Host-level skew is a data property of web corpora (a few hosts own a
large share of pages — the generator reproduces this). A plain
``groupBy(host)`` shuffles all of a hot host's rows into one reducer
task; the salted two-phase form bounds any task at ~1/N_SALTS of the
hot key for one extra (tiny) shuffle of partial aggregates:

    groupBy(key, salt).agg(partials)  ->  groupBy(key).agg(merge)

Spark's own partial aggregation already handles *map-side* combining;
the explicit salt additionally splits the *reduce-side* hot key, which
partial aggregation cannot (all partials for one key still meet in one
task). This is the north rule's "salting ... to defuse host-level skew"
applied to aggregations; joins get the same effect from AQE skew-join.

Only algebraic aggregates decompose this way (count/sum/min/max, and
avg as sum/count) — the API takes explicit (partial, merge) pairs so
misuse is structurally impossible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_SALTS = 16  # salted_agg: ways a hot key's reduce side splits


def salted_agg(
    df: DataFrame,
    key: str | list[str],
    aggs: dict[str, tuple[Column, str]],
    salt_on: str | Column | None = None,
) -> DataFrame:
    """Two-phase salted aggregation.

    ``aggs``: output column -> (partial aggregate expression, merge fn
    name in {"sum", "min", "max"}). Example::

        salted_agg(pages, "host", {
            "n_pages": (F.count(F.lit(1)), "sum"),
            "total_bytes": (F.sum("n_bytes"), "sum"),
            "first_seen": (F.min("warc_ts"), "min"),
        })

    ``salt_on``: column hashed for the salt (default: the whole row via
    monotonically varying xxhash of all key-independent columns is NOT
    deterministic, so we require an explicit unique-ish column; falls
    back to ``uuid-free`` xxhash64 over all columns of the row).
    """
    keys = [key] if isinstance(key, str) else list(key)
    salt_src = (
        F.col(salt_on) if isinstance(salt_on, str) else salt_on
    ) if salt_on is not None else F.xxhash64(*[F.col(c) for c in df.columns])
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(salt_src), F.lit(N_SALTS)))

    partial = salted.groupBy(*keys, "__salt").agg(
        *[expr.alias(name) for name, (expr, _) in aggs.items()]
    )
    mergers = {"sum": F.sum, "min": F.min, "max": F.max}
    return partial.groupBy(*keys).agg(
        *[mergers[how](name).alias(name) for name, (_, how) in aggs.items()]
    )


def skew_report(
    df: DataFrame,
    key: str,
    target_rows_per_task: int = 100_000,
) -> DataFrame:
    """(key, n_rows, share_ppm, salt_buckets, is_hot) — the cheap
    pre-pass that sizes the defenses above: per-key row counts, corpus
    share in exact ppm (integer fixed point, partition-order-proof),
    and the recommended salt factor ``ceil(n_rows / target)`` for keys
    whose count exceeds ``target_rows_per_task`` (1 otherwise).

    At 10^12 rows this is one partially-aggregated groupBy over the key
    (the same shuffle the real job pays anyway) plus a broadcast of a
    single total row — run it on a sample or yesterday's partition to
    pick ``bucket_cap`` before the expensive job."""
    t = target_rows_per_task
    counts = df.groupBy(F.col(key).alias("key")).agg(F.count("*").alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "key",
        "n_rows",
        F.expr("(n_rows * 1000000) div total").alias("share_ppm"),
        F.expr(f"CASE WHEN n_rows > {t} THEN (n_rows + {t - 1}) div {t} ELSE 1 END").alias(
            "salt_buckets"
        ),
        (F.col("n_rows") > t).alias("is_hot"),
    )
