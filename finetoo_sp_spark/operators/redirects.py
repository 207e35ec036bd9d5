"""Redirect-chain resolution over the crawl's 3xx edge set.

A crawl table carries (url -> redirect target) edges; curation needs
every URL resolved to its FINAL landing page (to merge metrics, build
the canonical link graph, and drop infinite redirect loops — a classic
crawler trap). Chains in the wild are short but not bounded (10-30 hop
chains exist; loops are common misconfigurations).

Resolution is **pointer jumping** (the components.py discipline):
round k replaces every pointer with its pointer's pointer, so after K
rounds every chain up to 2^K hops is fully resolved — O(log chain)
self-joins instead of O(chain) sequential lookups, which is what makes
10^12-row resolution feasible (each round is one equi-join on the
redirect-source key + no aggregation at all). Exact hop counts ride
along (hops(u) += hops(cur(u)) on every jump — exact while 2^K covers
the chain). A URL whose pointer still has an outgoing edge after K
rounds sits on (or feeds into) a cycle: flagged ``is_loop`` with NULL
final/hops rather than a garbage mid-cycle position.

The redirect relation is a FUNCTION (one outgoing edge per source:
crawlers record one Location per fetch), so the self-join never fans
out and every round preserves row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ROUNDS = 6  # pointer-jumping rounds: chains up to 2**6 = 64 hops resolve


def resolve_redirects(edges: DataFrame) -> DataFrame:
    """edges(src, dst) — one outgoing edge per src — to
    (url, final_url, hops, is_loop); chains up to 2**MAX_ROUNDS hops
    resolve exactly, longer-or-cyclic ones flag is_loop."""
    e = edges.select("src", "dst").dropDuplicates(["src"])
    r = e.select(
        F.col("src").alias("u"),
        F.col("dst").alias("cur"),
        F.lit(1).cast("long").alias("hops"),
    )
    for _ in range(MAX_ROUNDS):
        nxt = r.select(
            F.col("u").alias("ju"),
            F.col("cur").alias("jcur"),
            F.col("hops").alias("jhops"),
        )
        r = (
            r.join(nxt, r.cur == nxt.ju, "left")
            .select(
                "u",
                F.coalesce("jcur", "cur").alias("cur"),
                (
                    F.col("hops")
                    + F.coalesce("jhops", F.lit(0).cast("long"))
                ).alias("hops"),
            )
            .localCheckpoint(eager=False)
        )
    srcs = e.select(F.col("src").alias("cur"), F.lit(True).alias("has_out"))
    out = r.join(srcs, "cur", "left")
    loop = F.coalesce("has_out", F.lit(False))
    return out.select(
        F.col("u").alias("url"),
        F.when(~loop, F.col("cur")).alias("final_url"),
        F.when(~loop, F.col("hops")).cast("long").alias("hops"),
        loop.alias("is_loop"),
    )
