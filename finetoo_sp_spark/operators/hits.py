"""HITS (hubs & authorities) over the extracted link graph.

The second classic link-authority prior beside PageRank
(operators/pagerank.py): Kleinberg's HITS assigns every page a *hub*
score (it links to good authorities) and an *authority* score (good
hubs link to it). Curation pipelines use the authority side like
PageRank — a quality prior for sampling — and the hub side to find
index/portal pages that are navigation rather than content (high hub,
low authority → candidate boilerplate/link-farm pages to down-weight).

**All arithmetic is 64-bit integer fixed point** (score 1.0 == SCALE),
for the same reason as PageRank: float HITS sums contributions in
nondeterministic partition order, so no external engine could reproduce
the doubles bit-for-bit; integer sums are order-independent and the
whole iteration becomes exactly portable to the DuckDB oracle and
across partitionings/cluster sizes.

Per round (the standard power iteration with L-infinity normalization —
max-normalization instead of the textbook L2 because it needs no sqrt,
keeping every value exactly integer-representable):

    auth_raw(v) = sum over edges u->v of hub(u)
    auth(v)     = auth_raw(v) * SCALE div max_v(auth_raw)
    hub_raw(u)  = sum over edges u->v of auth(v)
    hub(u)      = hub_raw(u) * SCALE div max_u(hub_raw)

Scale shape per half-round: one equi-join scores->edges (shuffle on
the join key) + one partial-aggregated groupBy sum — identical to the
PageRank iterate — plus ONE SCALAR per half-round (the global max),
collected to the driver like the k-means centroids
(operators/clustering.py) and the connected-components convergence
scalar (operators/components.py). The raw-sum frame is
localCheckpoint'ed before the scalar action so the normalized frame
reuses the materialized sums instead of recomputing the join lineage.

Overflow headroom: normalized scores are <= SCALE = 1e6, so a raw sum
for a node of indegree d is <= d*1e6 and the normalizing multiply is
<= d*1e12 — safe in int64 up to indegree ~9.2e6, far beyond any real
host-level graph after the DISTINCT edge collapse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000
ROUNDS = 4


def hits_fixed_point(edges: DataFrame) -> DataFrame:
    """(id, hub_fp, auth_fp) after ROUNDS full rounds; scores are
    SCALE-fixed-point with the per-round maximum pinned to exactly
    SCALE. ``edges`` needs (src, dst) columns; duplicate edges collapse
    (endorsement is per linking page, not per anchor occurrence)."""
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hubs = nodes.select("id", F.lit(SCALE).cast("long").alias("score"))
    for _ in range(ROUNDS):
        auths = _half_round(e, nodes, hubs, from_col="src", to_col="dst")
        hubs = _half_round(e, nodes, auths, from_col="dst", to_col="src")
    return nodes.join(
        hubs.select("id", F.col("score").alias("hub_fp")), "id", "left"
    ).join(
        auths.select("id", F.col("score").alias("auth_fp")), "id", "left"
    ).select(
        "id",
        F.coalesce("hub_fp", F.lit(0)).cast("long").alias("hub_fp"),
        F.coalesce("auth_fp", F.lit(0)).cast("long").alias("auth_fp"),
    )


def _half_round(
    e: DataFrame, nodes: DataFrame, scores: DataFrame, from_col: str, to_col: str
) -> DataFrame:
    """Propagate ``scores`` along edges from ``from_col`` to ``to_col``
    and max-normalize: one join + one partial agg + one driver scalar."""
    raw = (
        e.join(scores, e[from_col] == scores.id)
        .groupBy(e[to_col].alias("id"))
        .agg(F.sum("score").alias("s"))
        .localCheckpoint(eager=False)
    )
    m = raw.agg(F.max("s").alias("m")).collect()[0]["m"] or 1
    return nodes.join(raw, "id", "left").select(
        "id",
        F.coalesce(
            F.expr(f"(s * {SCALE}L) div {int(m)}L"), F.lit(0)
        ).cast("long").alias("score"),
    )
