"""Fixed-point PageRank over the extracted link graph, optionally
seed-biased as TrustRank.

Web-corpus curation uses link-based authority as a quality prior
(OPIC/PageRank-weighted sampling of crawl frontiers; harmonic-centrality
filters in Common Crawl derivatives). This is the classic iterative
Spark computation, with one twist that serves verification:

**All arithmetic is 64-bit integer fixed point** (rank 1.0 == SCALE).
Float PageRank sums contributions in nondeterministic partition order,
so no external engine can reproduce the doubles bit-for-bit; integer
sums are order-independent, which makes the whole iteration exactly
portable to the DuckDB oracle (and across partitionings/cluster sizes —
the same determinism discipline as the extraction content hashes).
Division is integer `div` (never float `/` + floor: a double quotient
can round up across an integer boundary and corrupt the floor).

Semantics (biased PageRank): with damping d = DAMP_NUM/100,

    rank'(v) = (1-d) * seed(v) * SCALE + d * sum_in(rank(u) div deg(u))

where seed(v) is 1 for seed pages, else 0; round 0 is the seed vector
(1-d) * seed(v) * SCALE div (1-d). PageRank seeds every node (round 0
is SCALE everywhere). TrustRank (Gyongyi, Garcia-Molina & Pedersen,
VLDB'04) seeds only hand-vetted hosts: trust decays along outlinks, so
pages reachable only through spam neighborhoods end with near-zero
trust even when their PageRank is high, and the (rank, trust) pair
gives spam mass. Dangling mass is dropped (the standard simplification
— ranks then need no global renormalizing pass, keeping each iteration
one join + one aggregation).

Scale shape per iteration: one equi-join ranks->edges on src (shuffle
on src/id) + one groupBy(dst) partial-aggregated sum — the canonical
iterate-on-Spark plan. Seed membership is folded into a per-node static
base column ONCE before the loop (a left join against the
dimension-sized seed frame, broadcast), so iterations add no extra
join. The loop builds ONE lazy plan over its ROUNDS iterations; a
longer run would cut lineage with localCheckpoint (the pattern
operators/components.py uses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000
DAMP_NUM = 85  # damping 0.85 as a percentage — keeps everything integer
ROUNDS = 5


def pagerank_fixed_point(edges: DataFrame, seeds: DataFrame | None = None) -> DataFrame:
    """(id, rank_fp) after ROUNDS rounds; rank_fp is the SCALE-fixed-point
    rank. ``edges`` needs (src, dst) columns; duplicate edges collapse
    (authority is per linking page, not per anchor occurrence).
    ``seeds`` (an ``id`` column, dimension-sized, broadcast) makes it
    TrustRank; seed ids absent from the graph contribute nothing (trust
    flows along real links only). Without it every node is a seed."""
    e = edges.select("src", "dst").distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    base_fp = F.lit((100 - DAMP_NUM) * SCALE // 100).cast("long").alias("base_fp")
    if seeds is None:
        based = nodes.select("id", base_fp)
    else:
        based = nodes.join(
            F.broadcast(seeds.select("id").distinct()).select("id", base_fp), "id", "left"
        ).select("id", F.coalesce("base_fp", F.lit(0)).cast("long").alias("base_fp"))
    ed = e.join(deg, "src")
    ranks = based.select(
        "id", F.expr(f"(base_fp * 100) div {100 - DAMP_NUM}").alias("rank_fp")
    )
    for _ in range(ROUNDS):
        contrib = ed.join(ranks, ed.src == ranks.id).select(
            F.col("dst").alias("id"), F.expr("rank_fp div deg").alias("c")
        )
        sums = contrib.groupBy("id").agg(F.sum("c").alias("s"))
        ranks = based.join(sums, "id", "left").select(
            "id",
            (
                F.col("base_fp")
                + F.expr(f"({DAMP_NUM} * coalesce(s, 0L)) div 100")
            ).cast("long").alias("rank_fp"),
        )
    return ranks
