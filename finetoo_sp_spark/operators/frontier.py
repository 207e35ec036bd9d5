"""Crawl-frontier politeness scheduling.

The frontier is the crawler's work queue: candidate URLs with
priorities. Politeness (one request per host per Crawl-delay seconds —
the contract robots.txt declares and large crawlers like Heritrix and
Nutch enforce via per-host queues) turns it into a scheduling problem:
within each host, URLs fetch serially, delay_s apart, best-priority
first; across hosts, everything runs in parallel. This operator
assigns each URL its in-host rank and scheduled fetch offset, and
optionally flags which URLs fit a crawl-round time budget — the
plan/commit step a recurring crawl runs before dispatching fetchers.

Spark shape: one left equi-join of the frontier against the per-host
delay dimension (crawl_delays output) + ONE window partitioned by host
— the host is the semantically forced partition key, since politeness
IS per-host serialization. Deterministic total order inside a host:
(priority desc, url asc). Scale note: a pathological host with 10^8
frontier URLs would sort inside one partition — cap per-host frontier
size first (operators/packing.host_cap_sources is the companion
operator) exactly as production crawlers bound their per-host queues;
after capping, per-host groups are small and the window is cheap.

Reference analogue: none (the reference is a CAD/document engine);
this is part of the web-corpus acquisition layer built around it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


DEFAULT_DELAY_S = 1  # politeness delay of a host without a delays row


def frontier_schedule(
    frontier: DataFrame,
    delays: DataFrame,
    budget_s: int | None = None,
) -> DataFrame:
    """Schedule a crawl frontier under per-host politeness delays.

    frontier: (url, host, priority) — higher priority fetches first.
    delays: (host, delay_s) — e.g. robots crawl_delays filtered to the
    fetching agent; hosts without a row use DEFAULT_DELAY_S.

    Returns (url, host, priority, rank_in_host, delay_s,
    scheduled_t_s[, within_budget]): rank_in_host is the 1-based fetch
    order inside the host under (priority desc, url asc);
    scheduled_t_s = (rank_in_host - 1) * delay_s is the earliest polite
    start offset in seconds from the round's start. With ``budget_s``,
    within_budget marks URLs whose slot starts strictly before the
    budget — the subset a bounded crawl round dispatches.
    """
    d = delays.select("host", F.col("delay_s").cast("long").alias("delay_s"))
    j = frontier.select("url", "host", "priority").join(d, "host", "left")
    eff = F.coalesce(F.col("delay_s"), F.lit(DEFAULT_DELAY_S)).alias("delay_s")
    w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url"))
    out = j.select(
        "url",
        "host",
        "priority",
        F.row_number().over(w).alias("rank_in_host"),
        eff,
    ).withColumn(
        "scheduled_t_s", (F.col("rank_in_host") - 1) * F.col("delay_s")
    )
    if budget_s is not None:
        out = out.withColumn(
            "within_budget", F.col("scheduled_t_s") < F.lit(int(budget_s))
        )
    return out
