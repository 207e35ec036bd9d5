"""TrustRank: seed-propagated link trust for spam demotion.

PageRank (operators/pagerank.py) is a popularity prior — link farms can
manufacture it. TrustRank (Gyongyi, Garcia-Molina & Pedersen, VLDB'04)
replaces the uniform teleport with a *trusted seed set*: trust starts
only at hand-vetted hosts and decays along outlinks, so pages reachable
only through spam neighborhoods end with near-zero trust even when
their PageRank is high. Curation pipelines use the (pagerank, trust)
pair to compute spam mass ~ rank not backed by trust.

Same determinism discipline as PageRank/HITS: **64-bit integer fixed
point** (trust 1.0 == SCALE), integer `div`, so partial-sum order can't
perturb results and the iteration is exactly portable to the DuckDB
oracle and across partitionings/cluster sizes.

Semantics (biased PageRank): with damping d = DAMP_NUM/100,

    trust'(v) = (1-d) * seed(v) * SCALE + d * sum_in(trust(u) div deg(u))

where seed(v) is 1 for seed pages, else 0. Dangling mass drops (the
same simplification as pagerank.py — no global renormalizing pass).

Scale shape per iteration: identical to PageRank — one equi-join
trust->edges (shuffle on src) + one partial-aggregated groupBy(dst)
sum. The seed membership is folded into a per-node static base column
ONCE before the loop (left semi against the dimension-sized seed
frame, broadcast), so iterations add NO extra join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000
DAMP_NUM = 85  # damping 0.85 as a percentage — keeps everything integer


def trustrank_fixed_point(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
) -> DataFrame:
    """(id, trust_fp) after ``iterations`` rounds. ``edges`` needs
    (src, dst); ``seeds`` needs an ``id`` column (dimension-sized,
    broadcast). Duplicate edges collapse; seed ids absent from the
    graph contribute nothing (trust flows along real links only)."""
    e = edges.select("src", "dst").distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    base_unit = (100 - DAMP_NUM) * SCALE // 100
    based = nodes.join(
        F.broadcast(seeds.select("id").distinct()).withColumn(
            "base_fp", F.lit(base_unit).cast("long")
        ),
        "id",
        "left",
    ).select("id", F.coalesce("base_fp", F.lit(0)).cast("long").alias("base_fp"))
    ed = e.join(deg, "src")
    # Round 0: pure seed trust (the paper's t_0 = normalized seed vector).
    trust = based.select(
        "id", F.expr(f"(base_fp * 100) div {100 - DAMP_NUM}").alias("trust_fp")
    )
    for _ in range(iterations):
        contrib = ed.join(trust, ed.src == trust.id).select(
            F.col("dst").alias("id"), F.expr("trust_fp div deg").alias("c")
        )
        sums = contrib.groupBy("id").agg(F.sum("c").alias("s"))
        trust = based.join(sums, "id", "left").select(
            "id",
            (
                F.col("base_fp")
                + F.expr(f"({DAMP_NUM} * coalesce(s, 0L)) div 100")
            ).cast("long").alias("trust_fp"),
        )
    return trust
