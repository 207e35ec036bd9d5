"""Fixed-point PageRank over the extracted link graph.

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

Semantics: damping d = DAMP_NUM/100; rank' = (1-d)*SCALE +
d * sum_in(rank_src div out_deg_src); dangling mass is dropped (the
standard simplification — ranks then need no global renormalizing pass,
keeping each iteration one join + one aggregation).

Scale shape per iteration: one equi-join ranks->edges on src (shuffle
on src/id) + one groupBy(dst) partial-aggregated sum — the canonical
iterate-on-Spark plan. The loop builds ONE lazy plan over its five
iterations; a longer run would cut lineage with localCheckpoint (the
pattern operators/components.py uses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000
DAMP_NUM = 85  # damping 0.85 as a percentage — keeps everything integer


def pagerank_fixed_point(edges: DataFrame) -> DataFrame:
    """(id, rank_fp) after five rounds; rank_fp is the
    SCALE-fixed-point rank. ``edges`` needs (src, dst) columns;
    duplicate edges collapse (authority is per linking page, not per
    anchor occurrence)."""
    e = edges.select("src", "dst").distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    ed = e.join(deg, "src")
    ranks = nodes.select("id", F.lit(SCALE).cast("long").alias("rank_fp"))
    base = (100 - DAMP_NUM) * SCALE // 100
    for _ in range(5):
        contrib = ed.join(ranks, ed.src == ranks.id).select(
            F.col("dst").alias("id"), F.expr("rank_fp div deg").alias("c")
        )
        sums = contrib.groupBy("id").agg(F.sum("c").alias("s"))
        ranks = nodes.join(sums, "id", "left").select(
            "id",
            (
                F.lit(base)
                + F.expr(f"({DAMP_NUM} * coalesce(s, 0L)) div 100")
            ).cast("long").alias("rank_fp"),
        )
    return ranks
