"""Contract queries: training-corpus packing, sharding, budgets, compaction.

Split from the round-3 contract.py monolith (VERDICT r03 item 7);
every query keeps its original name, Spark plan, and DuckDB twin.
"""

from __future__ import annotations

from finetoo_sp_spark.contract._core import (
    DataFrame,
    SparkSession,
    F,
    ts,
    T,
    _WORDS_SQL,
    _q,
    _STOP_LIST_SQL,
)


@_q(
    "split_assign",
    """
SELECT doc_id,
  CASE WHEN h < 10000 THEN 'test'
       WHEN h < 20000 THEN 'val'
       ELSE 'train' END AS split
FROM (
  SELECT doc_id,
    CAST('0x' || substr(sha256('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      % 1000000 AS h
  FROM documents
)""",
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-row train/val/test assignment (1%/1% at the
    defaults): a pure salted-hash function of doc_id, so re-runs,
    resumes and cluster-size changes can never move a document across
    the split boundary. Full per-row value oracle."""
    from finetoo_sp_spark.operators.packing import assign_splits

    docs = T(spark, sf_dir, "documents")
    return assign_splits(docs.select("doc_id"), "doc_id").select("doc_id", "split")


@_q(
    "pack_token_quota",
    """
WITH t AS (
  SELECT doc_id AS id, CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens,
    CAST(CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 16
      AS INTEGER) AS shard
  FROM documents
)
SELECT id, n_tokens, shard,
  CAST(floor(COALESCE(sum(n_tokens) OVER (
      PARTITION BY shard ORDER BY id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0)
    AS BIGINT) AS bin
FROM t""",
)
def q_pack_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (pretraining shard assembly):
    quotient packing — shard by hash(id), bin = floor(exclusive token
    cumsum / 2048) — fully declarative and engine-portable."""
    from finetoo_sp_spark.operators.packing import pack_token_quota

    docs = T(spark, sf_dir, "documents")
    toks = ts.token_counts(docs, "doc_id", "text").select("id", "n_tokens_est")
    return pack_token_quota(
        toks, "id", "n_tokens_est", budget=2048, n_shards=16, hash_mode="sha"
    )


@_q(
    "chunk_windows",
    """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE length(trim(text)) > 0
),
s AS (
  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
    GREATEST(CAST(0 AS BIGINT),
             (CAST(len(toks) AS BIGINT) - 32 + 23) // 24) AS lastc
  FROM d
)
SELECT doc_id AS id, i AS chunk_id,
  i * 24 AS tok_start,
  LEAST(i * 24 + 32, n) AS tok_end,
  LEAST(i * 24 + 32, n) - i * 24 AS n_chunk_tokens,
  array_to_string(toks[i * 24 + 1 : LEAST(i * 24 + 32, n)], ' ') AS chunk_text
FROM s, UNNEST(generate_series(0, lastc)) AS t(i)""",
    audit=[
        ("fan-out via Generate (explode), map-only", r"Generate"),
        ("whole-stage codegen", r"codegen id : "),
        ("NO shuffle anywhere", r"!Exchange"),
    ],
)
def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window document chunking (model-context slicing): every
    document becomes overlapping 32-token windows at stride 24, each
    chunk carrying its token span — the final fan-out step from curated
    corpus to tokenizer input.  Map-only (split/sequence/explode/slice),
    zero shuffles; the chunk count is integer `div` arithmetic so the
    boundary is exact in both engines."""
    from finetoo_sp_spark.operators.packing import chunk_token_windows

    return chunk_token_windows(
        T(spark, sf_dir, "documents"), "doc_id", "text", window=32, stride=24
    )


@_q(
    "mix_epochs",
    """
WITH w AS (
  SELECT doc_id, source,
    CASE WHEN CAST(substr(source, 4) AS BIGINT) < 5 THEN 2500000
         WHEN CAST(substr(source, 4) AS BIGINT) < 10 THEN 1000000
         WHEN CAST(substr(source, 4) AS BIGINT) < 15 THEN 500000
         ELSE 250000 END AS w_ppm,
    CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      % 1000000 AS gate
  FROM documents
),
c AS (
  SELECT doc_id, source,
    w_ppm // 1000000
      + CASE WHEN gate < w_ppm % 1000000 THEN 1 ELSE 0 END AS n_copies
  FROM w
)
SELECT doc_id AS id, source, i AS copy_id
FROM (SELECT * FROM c WHERE n_copies > 0) f,
  UNNEST(generate_series(0, n_copies - 1)) AS t(i)""",
    audit=[
        ("weight table broadcast (corpus never shuffles)", r"BroadcastHashJoin"),
        ("fan-out via Generate (explode)", r"Generate"),
    ],
)
def q_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture re-weighting (epoch upsampling): sources 0-4 get 2.5
    epochs, 5-9 get 1, 10-14 keep half, 15-19 keep a quarter.  Integer
    ppm weights + a sha hash gate on the doc id make the fractional
    copy decision exact, deterministic, and partition-order-proof; the
    weight table broadcasts and the corpus never shuffles."""
    from finetoo_sp_spark.operators.packing import mix_epoch_weights

    weights = {
        f"src{i}": (
            2_500_000 if i < 5 else 1_000_000 if i < 10 else 500_000 if i < 15 else 250_000
        )
        for i in range(20)
    }
    return mix_epoch_weights(T(spark, sf_dir, "documents"), "doc_id", "source", weights)


@_q(
    "training_shard_manifest",
    f"""
WITH w AS (
  SELECT doc_id, source, text, {{_ws}} AS ws,
    length(text) AS n_chars, CAST(len({{_ws}}) AS INTEGER) AS n_words
  FROM documents
),
q AS (
  SELECT doc_id, source, CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_tokens
  FROM w
  WHERE n_words >= 10
    AND round(length(regexp_replace(lower(text), '\\s+', '', 'g')) / greatest(n_words, 1), 4) BETWEEN 2 AND 12
    AND round(len(list_filter(ws, x -> list_contains({{_stop}}, x))) / greatest(n_words, 1), 4) >= 0.01
),
capped AS (
  SELECT doc_id, n_tokens FROM q
  QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 10
),
t AS (
  SELECT doc_id AS id, n_tokens,
    CAST(CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 8
      AS INTEGER) AS shard
  FROM capped
),
p AS (
  SELECT id, n_tokens, shard,
    CAST(floor(COALESCE(sum(n_tokens) OVER (
        PARTITION BY shard ORDER BY id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0)
      AS BIGINT) AS bin
  FROM t
)
SELECT shard, bin, count(*) AS n_docs, sum(n_tokens) AS total_tokens
FROM p GROUP BY shard, bin""".replace("{_ws}", _WORDS_SQL).replace("{_stop}", _STOP_LIST_SQL),
)
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone training-shard assembly, one lazy plan: quality gate ->
    per-domain cap -> token-quota packing -> per-(shard, bin) manifest.
    The user story the engine exists for — deduped/filtered corpus in,
    training sequences out — with every stage's semantics recomputed by
    the oracle."""
    from finetoo_sp_spark.operators.packing import host_cap, pack_token_quota

    docs = T(spark, sf_dir, "documents")
    quality = (
        ts.quality_scores(docs, "doc_id", "text")
        .filter(F.col("keep"))
        .select(
            "id", F.ceil(F.col("n_chars") / 4.0).cast("long").alias("n_tokens")
        )
        .join(docs.select(F.col("doc_id").alias("id"), "source"), "id")
    )
    capped = host_cap(quality, "source", "id", max_per_host=10)
    packed = pack_token_quota(
        capped, "id", "n_tokens", budget=2048, n_shards=8, hash_mode="sha"
    )
    return packed.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
    )


@_q(
    "length_buckets",
    f"""
WITH s AS (
  SELECT doc_id AS id, CAST(len({_WORDS_SQL}) AS BIGINT) AS n_tokens
  FROM documents
),
b AS (
  SELECT n_tokens // 64 AS bucket, count(*) AS n_docs,
    CAST(max(n_tokens) AS BIGINT) AS max_tokens,
    CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
  FROM s GROUP BY 1
)
SELECT bucket, n_docs, max_tokens, sum_tokens,
  ((max_tokens * n_docs - sum_tokens) * 1000000)
    // (max_tokens * n_docs) AS pad_ppm
FROM b""",
    audit=[
        ("partial aggregation before the shuffle", r"HashAggregate"),
        ("NO join", r"!Join"),
    ],
)
def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste analysis for length-bucketed batch shaping over the
    documents corpus (64-token buckets): per-bucket doc count, exact
    integer-ppm pad fraction. Dimension-sized output."""
    from finetoo_sp_spark.operators.packing import length_buckets

    return length_buckets(T(spark, sf_dir, "documents"), "doc_id", "text")


@_q(
    "budget_alloc",
    """
WITH k AS (SELECT source AS key, count(*) AS weight FROM documents GROUP BY 1),
t AS (SELECT CAST(sum(weight) AS BIGINT) AS wt FROM k),
s AS (
  SELECT key, weight,
    (1000 * weight) // wt AS base, (1000 * weight) % wt AS rem
  FROM k, t
),
l AS (SELECT CAST(1000 - sum(base) AS BIGINT) AS leftover FROM s),
r AS (
  SELECT key, weight, base,
    row_number() OVER (ORDER BY rem DESC, key ASC) AS rn
  FROM s
)
SELECT key, weight,
  CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM r, l""",
    audit=[
        ("scalar weight-sum broadcast", r"(BroadcastNestedLoopJoin|BroadcastHashJoin)"),
        ("NO shuffle of the dimension beyond the agg", r"HashAggregate"),
    ],
)
def q_budget_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton largest-remainder apportionment of a 1000-page recrawl
    budget across sources weighted by page count — integer-exact
    (sums to 1000 by construction), deterministic tie-break by key.
    Dimension-sized input; one broadcast scalar + one window rank."""
    from finetoo_sp_spark.operators.budget import allocate_budget

    k = T(spark, sf_dir, "documents").groupBy("source").count()
    return allocate_budget(k, "source", "count", total=1000)


@_q(
    "compaction_plan",
    """
WITH f AS (
  SELECT o_orderpriority AS part, o_orderkey AS file_id,
    CAST(floor(o_totalprice) AS BIGINT) AS bytes
  FROM orders
),
c AS (
  SELECT part, file_id, bytes,
    CAST(coalesce(sum(bytes) OVER (
      PARTITION BY part ORDER BY file_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
  FROM f
),
b AS (SELECT part, file_id, bytes, cb // 1000000 AS bin FROM c)
SELECT part, file_id, bytes, bin,
  count(*) OVER (PARTITION BY part, bin) AS bin_files,
  count(*) OVER (PARTITION BY part, bin) > 1 AS needs_compaction
FROM b""",
    audit=[
        ("window over the manifest, no join", r"!Join"),
        ("window-based binning", r"Window"),
    ],
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-binpack-style compaction planning over a file manifest
    modeled from orders (partition = priority, size = totalprice):
    greedy 1 MB bins via one integer-exact cumulative-sum window, merge
    tasks = bins holding >1 file. Metadata-sized input, two windows,
    no join."""
    from finetoo_sp_spark.sources.compaction import plan_compaction

    files = T(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("part"),
        F.col("o_orderkey").alias("fid"),
        F.col("o_totalprice").alias("sz"),
    )
    return plan_compaction(files, "part", "fid", "sz", target_bytes=1_000_000)


@_q(
    "shard_assign",
    """
WITH h AS (
  SELECT doc_id AS id, s.g AS shard,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#s' || s.g), 1, 15))::BIGINT AS h
  FROM documents, UNNEST(generate_series(0, 8)) AS s(g)
),
r8 AS (
  SELECT id, shard FROM (
    SELECT id, shard,
      row_number() OVER (PARTITION BY id ORDER BY h DESC, shard DESC) AS rn
    FROM h WHERE shard < 8) WHERE rn = 1
),
r9 AS (
  SELECT id, shard FROM (
    SELECT id, shard,
      row_number() OVER (PARTITION BY id ORDER BY h DESC, shard DESC) AS rn
    FROM h) WHERE rn = 1
)
SELECT r8.id, CAST(r8.shard AS INT) AS shard,
  CAST(r9.shard AS INT) AS shard_after,
  r8.shard != r9.shard AS moved
FROM r8 JOIN r9 USING (id)""",
    audit=[
        ("pure column expression: NO shuffle", r"!Exchange"),
        ("no explode needed (unrolled array_max)", r"!Generate"),
        ("NO join", r"!Join"),
    ],
)
def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous shard assignment at k=8 plus the k=9 reshard view:
    pure array_max column expression (no explode, no shuffle, no UDF);
    the moved flag demonstrates the minimal-movement property (~1/9 of
    docs move when a shard is added, vs ~8/9 under hash-mod)."""
    from finetoo_sp_spark.operators.sharding import shard_assign

    return shard_assign(
        T(spark, sf_dir, "documents"), "doc_id", n_shards=8, n_shards_after=9
    )


@_q(
    "skew_report",
    """
WITH c AS (SELECT user_id AS key, count(*) AS n_rows FROM events GROUP BY 1),
t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM c)
SELECT key, n_rows,
  (n_rows * 1000000) // total AS share_ppm,
  CASE WHEN n_rows > 50 THEN (n_rows + 49) // 50 ELSE 1 END AS salt_buckets,
  n_rows > 50 AS is_hot
FROM c, t""",
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew advisor over events.user_id with target=50 rows/task (small
    so the hot branch is exercised at test scale): per-key counts, exact
    integer ppm share, recommended salt factor. One partially-aggregated
    groupBy + a broadcast single-row total."""
    from finetoo_sp_spark.operators.skew import skew_report

    return skew_report(T(spark, sf_dir, "events"), "user_id", target_rows_per_task=50)


@_q(
    "temperature_mix",
    """
WITH n AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
), w AS (
  SELECT source, n_docs,
    CAST(floor(sqrt(n_docs) * 10000) AS BIGINT) AS weight_fp
  FROM n
), q AS (
  SELECT source, n_docs, weight_fp,
    (1000 * weight_fp) // (SELECT CAST(sum(weight_fp) AS BIGINT) FROM w)
      AS quota_docs
  FROM w
), r AS (
  SELECT *, LEAST(1000000, (quota_docs * 1000000) // n_docs) AS rate_ppm
  FROM q
), s AS (
  SELECT d.source, count(*) AS sampled
  FROM documents d JOIN r USING (source)
  WHERE CAST('0x' || substr(sha256('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)
          AS BIGINT) % 1000000 < rate_ppm
  GROUP BY d.source
)
SELECT r.source, r.n_docs, r.weight_fp, CAST(r.quota_docs AS BIGINT) AS quota_docs,
  CAST(r.rate_ppm AS BIGINT) AS rate_ppm,
  COALESCE(s.sampled, 0) AS sampled_docs
FROM r LEFT JOIN s USING (source)""",
    audit=[
        ("source-size partial aggregation", r"HashAggregate"),
        ("rates broadcast back for the sampling pass", r"BroadcastHashJoin"),
    ],
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixing planner (XLM-R alpha-sampling, alpha=1/2):
    per-source weights n^alpha DERIVED from measured sizes — sqrt is
    the one IEEE-correctly-rounded libm call, so the double math is
    bit-identical across engines before snapping to integer fixed
    point; quotas, ppm rates and the realized salted-sha sample are
    all integer arithmetic. Upstream planner for mix_epochs."""
    from finetoo_sp_spark.operators.packing import temperature_mix

    return temperature_mix(T(spark, sf_dir, "documents"), "doc_id", "source")
