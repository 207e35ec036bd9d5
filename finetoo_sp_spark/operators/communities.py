"""Label-propagation community detection over the link graph.

Complements connected components (operators/components.py): components
answer "which pages are TRANSITIVELY connected at all" (the dedup
closure), while communities answer "which densely linked neighborhood
does a page live in" — the webgraph signal behind link-farm detection,
per-community sampling quotas and domain-cluster curation (Raghavan,
Albert & Kumara 2007, the standard near-linear community algorithm).

Semantics (deterministic, synchronous variant):

- edges are symmetrized and de-self-looped; every endpoint is a node;
- round 0 labels every node with its own id;
- each round, every node simultaneously adopts the label that is MOST
  FREQUENT among its neighbors' previous-round labels, breaking count
  ties by the SMALLEST label. The node's own label gets no vote, so the
  update is a pure function of the previous round — no partition-order
  dependence, which is what makes the unrolled SQL oracle exact (the
  classic asynchronous LPA is update-order dependent and untestable).
- a FIXED number of rounds (ROUNDS = 4) rather than a convergence test:
  synchronous LPA can 2-cycle on bipartite structures, so fixed rounds
  are both the portable and the honest termination rule.

Scale shape per round: one equi-join labels->edges on the label side
(shuffle on v) + one two-level aggregate — groupBy(u, label) count,
then a per-node arg-max via min(struct(-cnt, label)) which partial-
aggregates map-side like any min. No window function, no driver state;
labels are localCheckpointed per round to cut the iterative lineage
(use reliable checkpoints on a real cluster). At 10^12 edges every
stage keys on uniform node ids — the same profile as the PageRank loop
(operators/pagerank.py) that holds the scaling ledger.

Reference parity: the reference engine has no graph clustering; this
extends the webgraph operator family (SURVEY.md hits/trustrank rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROUNDS = 4


def label_propagation(edges: DataFrame) -> DataFrame:
    """(id, community) after ROUNDS synchronous majority votes.

    ``edges`` needs (src, dst) columns; duplicate edges collapse (one
    vote per neighbor, not per anchor occurrence). Labels compare with
    the column's natural ordering (lexicographic for url ids), so the
    tie-break is deterministic for any id type."""
    fwd = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    rev = edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    e = (
        fwd.unionByName(rev)
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    lab = e.select(F.col("u"), F.col("u").alias("lab")).distinct()
    for _ in range(ROUNDS):
        votes = (
            e.join(lab.withColumnsRenamed({"u": "v", "lab": "vlab"}), "v")
            .groupBy("u", "vlab")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # arg-max by (cnt desc, label asc): min over struct(-cnt, label)
        # — partial-aggregable, unlike a row_number window.
        lab = (
            votes.groupBy("u")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("vlab").alias("l"))
                ).alias("m")
            )
            .select("u", F.col("m.l").alias("lab"))
            .localCheckpoint(eager=False)
        )
    return lab.select(F.col("u").alias("id"), F.col("lab").alias("community"))
