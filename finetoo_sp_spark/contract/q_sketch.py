"""Contract queries: distributed cardinality sketches (HLL / KMV).

New in round 4 — the approximate-distinct machinery a 100 TB crawl
needs for "distinct URLs per host" questions without a full key-space
shuffle. Both sketches use the portable 60-bit sha hash, so DuckDB
reproduces every register / kept hash / integer estimate exactly.
"""

from __future__ import annotations

from finetoo_sp_spark.contract._core import (
    DataFrame,
    SparkSession,
    F,
    T,
    _q,
)

# Synthesized URL universe with known duplication: doc_id % 700 pages
# per source host. Shared verbatim between both engines.
_URLS_SQL = """
  SELECT source AS grp,
    'https://' || source || '.example.com/page' || (doc_id % 700) AS url
  FROM documents
"""


def _urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.select(
        F.col("source").alias("grp"),
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/page"),
            (F.col("doc_id") % 700).cast("string"),
        ).alias("url"),
    )


@_q(
    "hll_sketch",
    f"""
WITH u AS ({_URLS_SQL}),
h AS (
  SELECT grp, CAST('0x' || substr(sha256(url), 1, 15) AS BIGINT) AS h FROM u
),
r AS (
  SELECT grp, h & 4095 AS bucket,
    CASE WHEN (h >> 12) = 0 THEN 49
         ELSE 49 - length(bin(h >> 12)) END AS rho
  FROM h
)
SELECT grp, CAST(bucket AS BIGINT) AS bucket,
  CAST(max(rho) AS BIGINT) AS register
FROM r GROUP BY grp, bucket""",
    audit=[
        ("one partial aggregation (map-side combine)", r"HashAggregate"),
        ("NO join", r"!Join"),
        ("only doc_id+source read", r"ReadSchema: struct<doc_id:bigint,source:string>"),
    ],
)
def q_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse HyperLogLog register file per source host over a
    synthesized duplicated URL universe: one partially-aggregated
    max() groupBy; every register is bit-reproducible (rho via integer
    bit length, never floating log2). The oracle rebuilds the full
    register file from the same hash in SQL."""
    from finetoo_sp_spark.operators.sketch import hll_registers

    return hll_registers(_urls(spark, sf_dir), "url", "grp", p=12)


@_q(
    "kmv_distinct",
    f"""
WITH u AS ({_URLS_SQL}),
h AS (
  SELECT DISTINCT grp,
    CAST('0x' || substr(sha256(url), 1, 15) AS BIGINT) AS h FROM u
),
rn AS (
  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
  FROM h
)
SELECT grp, CAST(count(*) AS BIGINT) AS n_kept,
  CAST(max(h) AS BIGINT) AS kth_hash,
  CAST(CASE WHEN count(*) < 64 THEN count(*)
       ELSE (CAST(63 AS BIGINT) * CAST(1099511627776 AS BIGINT))
            // greatest(max(h) >> 20, 1) END AS BIGINT) AS est_distinct
FROM rn WHERE rn <= 64 GROUP BY grp""",
    audit=[
        ("per-group k-cut is a window, not a self-join", r"row_number"),
        ("NO join", r"!Join"),
        ("partial aggregation", r"HashAggregate"),
    ],
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-URL estimate per source host, k=64 —
    small enough that the estimator branch (not the exact-count branch)
    is live at the sf0.01 driver gate. Entirely BIGINT: the estimate is
    (k-1)*2^40 div (h_k >> 20) on both engines, identical truncation."""
    from finetoo_sp_spark.operators.sketch import kmv_distinct

    return kmv_distinct(_urls(spark, sf_dir), "url", "grp", k=64)


@_q(
    "cms_heavyhitters",
    """
WITH cells AS (
  SELECT i.i AS row,
    CAST('0x' || substr(sha256('cms' || i.i || ':' || CAST(user_id AS VARCHAR)), 1, 15)
         AS BIGINT) % 256 AS col
  FROM events, range(0, 4) i(i)
),
sk AS (SELECT row, col, count(*) AS cnt FROM cells GROUP BY row, col),
tc AS (SELECT user_id, count(*) AS true_cnt FROM events GROUP BY user_id),
probes AS (SELECT user_id, true_cnt FROM tc ORDER BY true_cnt DESC, user_id LIMIT 10),
pc AS (
  SELECT p.user_id, p.true_cnt, i.i AS row,
    CAST('0x' || substr(sha256('cms' || i.i || ':' || CAST(p.user_id AS VARCHAR)), 1, 15)
         AS BIGINT) % 256 AS col
  FROM probes p, range(0, 4) i(i)
)
SELECT pc.user_id, CAST(max(pc.true_cnt) AS BIGINT) AS true_cnt,
  CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est_cnt
FROM pc LEFT JOIN sk ON sk.row = pc.row AND sk.col = pc.col
GROUP BY pc.user_id""",
    audit=[
        ("the tiny sketch is broadcast to the probes", r"BroadcastHashJoin"),
        ("partial aggregation", r"HashAggregate"),
    ],
)
def q_cms_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch end-to-end: build the 4x256 sketch over all
    event user_ids, point-query the true top-10 heavy hitters, report
    estimate vs truth (est >= true by construction — one-sided error).
    The oracle rebuilds the identical sketch cell-for-cell in SQL."""
    from finetoo_sp_spark.operators.sketch import cms_estimate, cms_sketch

    ev = T(spark, sf_dir, "events")
    sk = cms_sketch(ev, "user_id")
    probes = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), F.col("user_id"))
        .limit(10)
    )
    est = cms_estimate(sk, probes, "user_id")
    return (
        probes.join(est, probes.user_id == est.key)
        .select("user_id", F.col("true_cnt").cast("long"), F.col("est_cnt").cast("long"))
    )


@_q(
    "length_quantiles",
    """
WITH s AS (
  SELECT source AS grp, greatest(n_chars, 1) AS x FROM documents
),
b AS (
  SELECT grp, x, (CAST(1 AS BIGINT) << (length(bin(x)) - 1)) AS base FROM s
),
binned AS (
  SELECT grp,
    (length(bin(base)) - 1) * 16 + ((x - base) * 16 // base) AS bucket,
    base + ((x - base) * 16 // base) * base // 16 AS lo
  FROM b
),
sk AS (SELECT grp, bucket, lo, count(*) AS cnt FROM binned GROUP BY grp, bucket, lo),
cum AS (
  SELECT grp, bucket, lo,
    sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
    sum(cnt) OVER (PARTITION BY grp) AS total
  FROM sk
),
q AS (SELECT unnest([500000, 900000, 990000]) AS q_ppm)
SELECT grp, CAST(q_ppm AS BIGINT) AS q_ppm,
  CAST(arg_min(lo, bucket) AS BIGINT) AS est
FROM cum, q
WHERE cum * 1000000 >= q_ppm * total
GROUP BY grp, q_ppm""",
    audit=[
        ("NO join (sketch + window only)", r"!Join"),
        ("only source+n_chars read", r"ReadSchema: struct<source:string,n_chars:bigint>"),
        ("partial aggregation", r"HashAggregate"),
    ],
)
def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (HdrHistogram shape: octave = bit
    length, 16 linear sub-buckets) over document lengths per source:
    p50/p90/p99 read out as the lower bound of the first bucket whose
    cumulative count reaches ceil(q*total) — entirely integer, bounded
    1/16 relative error at ANY value scale. Oracle rebuilds buckets and
    the read-out in SQL."""
    from finetoo_sp_spark.operators.sketch import quantile_sketch, sketch_quantiles

    d = T(spark, sf_dir, "documents")
    sk = quantile_sketch(d, "n_chars", "source")
    return sketch_quantiles(sk, [500000, 900000, 990000])
