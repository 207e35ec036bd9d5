"""Product quantization (PQ) codes and IVF-PQ approximate search.

At 10^12 vectors, sign-LSH + per-vector SQ8 (operators/quantize.py) is
a recall/memory floor; the standard next tier is IVF-PQ (Jegou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011): split
each d-dim vector into M subspaces, k-means each subspace into ksub
centroids ("codebooks"), store per vector only the M codebook indices
(M bytes vs 4d), and search by (1) probing the nprobe nearest cells of
an IVF coarse quantizer and (2) ranking candidates by asymmetric
distance (ADC): sum over subspaces of dist(query_sub, codebook[code]),
a table lookup per subspace instead of a d-dim scan.

Determinism discipline (same as clustering.kmeans_assign, which the
coarse quantizer reuses verbatim via kmeans_fit): all arithmetic is
integer fixed point (floats -> round(x * 2^20) longs first), k-means
init = the sub-vectors of the ksub smallest ids, ties to the lowest
centroid id, centroid update = per-dimension ``sum div count`` — so
codes, ADC distances and top-k ranks are bit-identical under any
partitioning AND reproducible by the DuckDB oracle.

Scale shape: codebooks are driver-side literals (M * ksub * d/M ints —
KBs at any corpus size), so code assignment and ADC scoring are NARROW
column expressions over one corpus scan (no join, no shuffle); the
only shuffles are the k-means centroid updates (k*d groups,
size-invariant) and the final per-query top-k window. The corpus
never crosses a crossJoin: queries broadcast. Every entry point reads
a (vec_id, embedding) frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from finetoo_sp_spark.operators.clustering import (
    _sqdist_to,
    _tdiv,
    _to_fixed,
    kmeans_fit,
)

M = 4  # subspaces per vector
KSUB = 4  # centroids per subspace codebook
ITERS = 2  # k-means rounds, counting the init
NLIST = 4  # IVF coarse cells
NPROBE = 2  # IVF cells probed per query
TOP_K = 10  # neighbors returned per query


def pq_train(emb: DataFrame) -> list[list[list[int]]]:
    """Train M per-subspace codebooks of KSUB centroids; returns
    codebooks[mi][j] = the j-th centroid of subspace mi as a fixed-point
    int list (d/M dims).
    One pass per k-means round covers ALL subspaces (the per-dimension
    update groups by (subspace, cluster, dim) in a single aggregate)."""
    e = emb.select(
        F.col("vec_id").alias("id"), _to_fixed(F.col("embedding")).alias("v")
    )
    init_rows = e.orderBy("id").limit(KSUB).collect()
    dims = len(init_rows[0]["v"])
    if dims % M:
        raise ValueError(f"dims {dims} not divisible by M={M}")
    sub = dims // M
    codebooks = [
        [list(r["v"])[mi * sub : (mi + 1) * sub] for r in init_rows]
        for mi in range(M)
    ]

    def code_cols(frame_v="v"):
        cols = []
        for mi in range(M):
            sl = F.slice(frame_v, mi * sub + 1, sub)
            keys = [
                (_sqdist_to(sl, c) * KSUB + F.lit(j)).cast("long")
                for j, c in enumerate(codebooks[mi])
            ]
            key = F.least(*keys) if len(keys) > 1 else keys[0]
            cols.append((key % KSUB).cast("int").alias(f"c{mi}"))
        return cols

    for _ in range(ITERS - 1):
        a = e.select("v", *code_cols())
        ex = (
            a.select(
                F.posexplode("v").alias("dim", "val"),
                *[f"c{mi}" for mi in range(M)],
            )
            .withColumn("mi", (F.col("dim") / sub).cast("int"))
            .withColumn(
                "cl",
                F.element_at(
                    F.array(*[F.col(f"c{mi}") for mi in range(M)]),
                    F.col("mi") + 1,
                ),
            )
        )
        sums = (
            ex.groupBy("mi", "cl", "dim")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()  # M * KSUB * dims rows: codebook-sized, not data-sized
        )
        new_c = [[list(c) for c in cb] for cb in codebooks]
        for r in sums:
            mi, cl, dim = int(r["mi"]), int(r["cl"]), int(r["dim"])
            new_c[mi][cl][dim - mi * sub] = _tdiv(int(r["s"]), int(r["n"]))
        codebooks = new_c
    return codebooks


def pq_assign(emb: DataFrame, codebooks: list[list[list[int]]]) -> DataFrame:
    """(id, c0..c{M-1}) codebook indices per vector — one narrow select
    against the broadcast-literal codebooks, no shuffle."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    sub = len(codebooks[0][0])
    e = emb.select(
        F.col("vec_id").alias("id"), _to_fixed(F.col("embedding")).alias("v")
    )
    cols = []
    for mi in range(m):
        sl = F.slice("v", mi * sub + 1, sub)
        keys = [
            (_sqdist_to(sl, c) * ksub + F.lit(j)).cast("long")
            for j, c in enumerate(codebooks[mi])
        ]
        key = F.least(*keys) if len(keys) > 1 else keys[0]
        cols.append((key % ksub).cast("int").alias(f"c{mi}"))
    return e.select("id", *cols)


def pq_codes(emb: DataFrame) -> DataFrame:
    """Train + assign: (id, code_str, n_subspaces) with the M indices
    comma-joined (codes are the payload; a string survives any engine's
    value hashing, the SQ8 convention in this repo)."""
    a = pq_assign(emb, pq_train(emb))
    return a.select(
        "id",
        F.concat_ws(",", *[F.col(f"c{mi}") for mi in range(M)]).alias("code_str"),
        F.lit(M).cast("long").alias("n_subspaces"),
    )


def _sqdist_lists(a: list[int], b: list[int]) -> int:
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def ann_ivf_pq_topk(emb: DataFrame, query_ids: list[int]) -> DataFrame:
    """IVF-PQ search: (query_id, neighbor_id, adc_dist, rank) — the TOP_K
    nearest candidates per query by asymmetric PQ distance among the
    NPROBE probed IVF cells, self-pairs excluded, ties to the lower id.

    The coarse quantizer is clustering.kmeans_fit (NLIST cells) and the
    probe order is the exact integer distance from the query to each
    final centroid. Per query the M ADC lookup tables (ksub entries
    each) are computed driver-side from the codebooks and spliced in as
    array literals, so candidate scoring is ``element_at(table, code)``
    sums — a pure narrow expression; no vector math touches the corpus
    at query time (the PQ promise)."""
    centroids, assigned = kmeans_fit(emb, "vec_id", "embedding")
    codebooks = pq_train(emb)
    sub = len(codebooks[0][0])
    codes = pq_assign(emb, codebooks)
    base = codes.join(assigned, "id")

    qrows = (
        emb.filter(F.col("vec_id").isin([int(q) for q in query_ids]))
        .select(
            F.col("vec_id").alias("id"), _to_fixed(F.col("embedding")).alias("v")
        )
        .collect()
    )
    per_query = []
    for r in sorted(qrows, key=lambda r: r["id"]):
        qid, qv = int(r["id"]), list(r["v"])
        order = sorted(
            (_sqdist_lists(qv, c) * NLIST + j) for j, c in enumerate(centroids)
        )
        cells = [int(x % NLIST) for x in order[:NPROBE]]
        adc_tables = [
            [
                _sqdist_lists(qv[mi * sub : (mi + 1) * sub], codebooks[mi][j])
                for j in range(KSUB)
            ]
            for mi in range(M)
        ]
        adc = None
        for mi in range(M):
            t = F.array(*[F.lit(int(x)) for x in adc_tables[mi]])
            term = F.element_at(t, F.col(f"c{mi}") + 1)
            adc = term if adc is None else adc + term
        per_query.append(
            base.filter(F.col("cluster").isin(cells) & (F.col("id") != qid))
            .select(
                F.lit(qid).cast("long").alias("query_id"),
                F.col("id").alias("neighbor_id"),
                adc.cast("long").alias("adc_dist"),
            )
        )
    scored = per_query[0]
    for p in per_query[1:]:
        scored = scored.unionByName(p)
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def ivf_pq_recall(emb: DataFrame, query_ids: list[int]) -> DataFrame:
    """Measured recall@k (k = TOP_K) of IVF-PQ against the EXACT
    integer-L2 top-k: (query_id, n_hits, k) where n_hits = |approx
    top-k ∩ exact top-k|.
    Both sides are integer-deterministic, so the oracle reproduces the
    recall number itself, not just the shape."""
    approx = ann_ivf_pq_topk(emb, query_ids).select(
        "query_id", "neighbor_id"
    )

    e = emb.select(
        F.col("vec_id").alias("id"), _to_fixed(F.col("embedding")).alias("v")
    )
    q = (
        e.filter(F.col("id").isin([int(x) for x in query_ids]))
        .select(F.col("id").alias("query_id"), F.col("v").alias("qv"))
    )
    d = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with("v", "qv", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    exact = (
        d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    hits = approx.join(exact, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        q.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.lit(TOP_K).cast("long").alias("k"),
        )
    )
