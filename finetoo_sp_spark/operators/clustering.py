"""Embedding clustering + SemDeDup-style semantic dedup.

Reference parity: the reference has no clustering operator — this is a
training-pipeline extension (brief: "the operations a large-scale
training-data pipeline would need"). The design follows SemDeDup
(Abbas et al. 2023, arXiv:2303.09540): k-means the embedding space,
then remove near-duplicates *within* each cluster, so the pair search
never leaves a cluster. Public-knowledge algorithms only (Lloyd's
iteration, sign-LSH bucketing).

Determinism / oracle portability: all arithmetic is integer fixed-point
(coordinates scaled by ``SCALE`` and cast to long), so sums are exact
longs and independent of partition order, and a DuckDB oracle can
reproduce every centroid bit-for-bit. Integer division must truncate
toward zero on both engines (Spark ``div`` and DuckDB ``//`` both do;
Python ``//`` floors, hence ``_tdiv``).

Scale story (100 TB): the per-iteration assignment is a *narrow* map —
the k centroids are collected to the driver (k*dims longs, a scalar by
cluster standards, exactly like Spark MLlib's KMeans does per
iteration) and unrolled into a ``least()`` expression, so no join and
no shuffle. The centroid update is one partial-aggregating groupBy on
(cluster, dim) — k*dims groups regardless of corpus size. SemDeDup's
pair join is keyed on (cluster, sign_bucket): candidate sets shrink
multiplicatively with both k and n_bits, never a cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SCALE = 1 << 20  # fixed-point coordinate scale
K = 4  # k-means clusters
ITERS = 2  # k-means assignment passes, counting the init
SEMDEDUP_THRESHOLD = 0.4  # cosine at or above which a pair is a near-dup


def _tdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero (matches Spark ``div``
    and DuckDB ``//``; Python's ``//`` floors, which differs for
    negative numerators)."""
    q = abs(a) // b
    return -q if a < 0 else q


def _to_fixed(vec_col):
    return F.transform(
        vec_col, lambda x: F.round(x.cast("double") * SCALE).cast("long")
    )


def _sqdist_to(v_col, centroid: list[int]):
    """Exact integer squared L2 distance from a fixed-point vector
    column to a literal centroid."""
    lit_c = F.array(*[F.lit(int(c)) for c in centroid])
    return F.aggregate(
        F.zip_with(v_col, lit_c, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def kmeans_fit(emb: DataFrame, id_col: str, vec_col: str) -> tuple[list[list[int]], DataFrame]:
    """kmeans_assign that ALSO returns the final centroids (fixed-point
    int lists) — the piece IVF coarse quantizers need for probing.
    Same deterministic contract; the assigned frame is the labels
    against the last centroid update."""
    e = emb.select(
        F.col(id_col).alias("id"), _to_fixed(F.col(vec_col)).alias("v")
    )

    # init: K smallest ids (tiny sorted collect — centroid-sized, not data-sized)
    init_rows = e.orderBy("id").limit(K).collect()
    centroids = [list(r["v"]) for r in init_rows]
    dims = len(centroids[0])

    def assign(frame: DataFrame) -> DataFrame:
        keys = [
            (_sqdist_to(F.col("v"), c) * K + F.lit(j)).cast("long")
            for j, c in enumerate(centroids)
        ]
        key = F.least(*keys) if len(keys) > 1 else keys[0]
        return frame.withColumn("cluster", (key % K).cast("int"))

    assigned = assign(e)
    for _ in range(ITERS - 1):
        # centroid update: one shuffle over K*dims groups (size-invariant)
        sums = (
            assigned.select("cluster", F.posexplode("v").alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new_c = [list(c) for c in centroids]  # empty clusters keep old centroid
        per_dim = {(r["cluster"], r["dim"]): (r["s"], r["n"]) for r in sums}
        for (cl, dim), (s, n) in per_dim.items():
            new_c[cl][dim] = _tdiv(int(s), int(n))
        centroids = new_c
        assigned = assign(e)

    return centroids, assigned.select("id", "cluster")


def kmeans_assign(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Lloyd's k-means (K clusters) over an ``array<float>`` column;
    returns ``(id, cluster)`` after ITERS assignment passes.

    Deterministic contract (what the DuckDB oracle reproduces):
    - init: centroids = the vectors of the K smallest ids;
    - assignment: argmin of exact integer squared distance, ties to the
      lowest centroid id (encoded as ``min(dist*K + cid)``);
    - update: per-dimension ``sum div count`` in fixed point.

    ITERS assignment passes means ITERS - 1 centroid updates — the
    returned labels are the assignment against the last update.
    """
    return kmeans_fit(emb, id_col, vec_col)[1]


def semdedup_survivors(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """SemDeDup: k-means the embeddings, find cosine near-duplicates
    (cosine >= SEMDEDUP_THRESHOLD) *within* (cluster, sign-LSH bucket),
    keep the smallest id of each duplicate pair. Returns surviving
    ``(id, cluster)`` rows.

    The pair join key is (cluster, bucket) — at 10^12 rows both K and
    the bucket bits scale up so per-key candidate groups stay bounded;
    the plan is a bucket equi-join + anti-join, no cross join.
    """
    from .similarity import sign_bucket, with_norm

    labels = kmeans_assign(emb, id_col, vec_col)
    nd = (
        with_norm(emb, id_col, vec_col)
        .join(labels, "id")
        .select("id", "unit", "cluster", sign_bucket(F.col("unit")).alias("bucket"))
    )

    a = nd.select(
        F.col("id").alias("id_a"),
        F.col("unit").alias("unit_a"),
        "cluster",
        "bucket",
    )
    b = nd.select(
        F.col("id").alias("id_b"),
        F.col("unit").alias("unit_b"),
        "cluster",
        "bucket",
    )
    cos = F.round(
        F.aggregate(
            F.zip_with("unit_a", "unit_b", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    dropped = (
        a.join(b, ["cluster", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= SEMDEDUP_THRESHOLD)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return labels.join(dropped, "id", "left_anti").select("id", "cluster")
