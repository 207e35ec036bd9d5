"""Connected components over near-duplicate pair edges.

Pair generators (MinHash-LSH, SimHash, embedding cosine) emit *edges*;
corpus dedup needs *clusters* — every keep/drop decision requires the
transitive closure (a~b, b~c => one cluster {a,b,c}).

Algorithm: min-label propagation with pointer jumping (the HashToMin /
pointer-doubling family — see Kiveris et al., SoCC'14, and the classic
Shiloach-Vishkin scheme):

- every node starts labeled with min(itself, its neighbors);
- each round does (a) one neighbor-propagation join — take the min label
  across neighbors — and (b) one pointer-jump join — relabel through the
  label's own label (label(label(u))), which halves remaining path
  lengths, giving O(log diameter) rounds;
- labels are monotonically non-increasing ints, so the sum of labels is
  a convergence signature: fixpoint iff the sum stops changing.

Each round is two joins + one aggregate; intermediates are
localCheckpointed to cut the iterative lineage (use reliable
checkpoints on a real cluster). No driver-side state beyond the
convergence scalar.

Output: (id, component) with component = min id of the cluster — the
deterministic canonical survivor, matching exact_dedup's min-id rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sym(edges: DataFrame) -> DataFrame:
    """Symmetrize + drop self-loops."""
    fwd = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    rev = edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    return fwd.unionByName(rev).filter(F.col("u") != F.col("v")).distinct()


MAX_ITER = 30


def connected_components(pairs: DataFrame) -> DataFrame:
    """(id, component) for every id appearing in ``pairs`` (id_a, id_b).

    component = min id reachable — deterministic regardless of partition
    order.
    """
    e = _sym(pairs).localCheckpoint()
    # Adapt the loop's shuffle width to the EDGE count, not the corpus:
    # near-dup edge sets are tiny relative to the corpus (dimension-sized
    # at any scale where dedup is working), and each round is 2 joins +
    # 1 agg whose per-task latency dominates at small widths — measured
    # 3.6 s -> 1.9 s on the sf0.1 capstone from 32 -> 8 partitions. The
    # count is free (e is checkpointed); restored in the finally below;
    # no-op when edges are big enough to need the session's full width.
    spark = e.sparkSession
    n_edges = e.count()
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    target = max(4, min(int(prev_sp), n_edges // 50_000 + 4))
    adapted = target < int(prev_sp)
    if adapted:
        spark.conf.set("spark.sql.shuffle.partitions", str(target))
    try:
        return _cc_loop(e)
    finally:
        if adapted:
            spark.conf.set("spark.sql.shuffle.partitions", prev_sp)


def _cc_loop(e: DataFrame) -> DataFrame:
    lab = (
        e.groupBy("u")
        .agg(F.min("v").alias("nmin"))
        .select("u", F.least("u", "nmin").alias("lab"))
        .localCheckpoint()
    )
    prev_sig = None
    for _ in range(MAX_ITER):
        # (a) neighbor propagation: min label among neighbors
        nb = (
            e.join(
                lab.withColumnsRenamed({"u": "v", "lab": "vlab"}), "v"
            )
            .groupBy("u")
            .agg(F.min("vlab").alias("nlab"))
        )
        lab1 = (
            lab.join(nb, "u", "left")
            .select("u", F.least("lab", F.coalesce("nlab", "lab")).alias("lab"))
        )
        # (b) pointer jumping: relabel through the label's own label
        ptr = lab1.select(F.col("u").alias("lab"), F.col("lab").alias("plab"))
        lab = (
            lab1.join(ptr, "lab", "left")
            .select("u", F.least("lab", F.coalesce("plab", "lab")).alias("lab"))
            .localCheckpoint()
        )
        sig = lab.agg(F.sum("lab").alias("s")).collect()[0]["s"]
        if sig == prev_sig:
            break
        prev_sig = sig
    return lab.select(F.col("u").alias("id"), F.col("lab").alias("component"))


def dedup_keep_list(pairs: DataFrame, all_ids: DataFrame) -> DataFrame:
    """(id, keep) over ALL ids: keep = id == min of its near-dup cluster;
    ids with no near-dup edges keep themselves."""
    cc = connected_components(pairs)
    return (
        all_ids.join(cc, "id", "left")
        .select(
            "id",
            (F.coalesce("component", F.col("id")) == F.col("id")).alias("keep"),
        )
    )
