"""Corpus shaping for training runs: per-domain caps and token packing.

Two standard final-mile curation steps between "deduped corpus" and
"training shards":

- ``host_cap``: bound any one domain's share of the corpus (the
  C4/RefinedWeb-style anti-domination rule — without it a handful of
  boilerplate-heavy hosts dominate the token budget). One window pass
  per host, deterministic order.
- ``pack_token_quota``: assign documents to fixed-token-budget bins
  (sequence packing for pretraining shards). The exact greedy packer is
  a sequential scan (remainder resets at each bin boundary), which does
  not distribute; this uses the standard quotient relaxation —
  bin = floor(exclusive-cumsum / budget) within each shard — which is a
  pure window expression (one shuffle on the shard key), deterministic,
  engine-portable, and overfills a bin only by the one document that
  straddles the boundary (bounded by max doc tokens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from finetoo_sp_spark.operators.dedup import is_sha, sha60

VAL_PPM = 10_000  # assign_splits: 1% validation
TEST_PPM = 10_000  # assign_splits: 1% test
LENGTH_BUCKET_WIDTH = 64  # length_buckets: tokens per bucket
MIX_BUDGET_DOCS = 1000  # temperature_mix: documents to sample


def host_cap(
    df: DataFrame,
    host_col: str,
    order_col: str,
    max_per_host: int,
) -> DataFrame:
    """Keep at most ``max_per_host`` rows per host, deterministic
    priority = ``order_col`` ascending (pass e.g. a quality rank or the
    crawl id). One window shuffle on the host key; a pathologically hot
    host costs one big partition ONCE and is then truncated — for
    extreme skew, pre-filter with a salted approximate count."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(host_col).orderBy(F.asc(order_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_per_host)
        .drop("_rn")
    )


def _shard_of(id_col: str, n_shards: int, hash_mode: str):
    if is_sha(hash_mode):  # DuckDB-reproducible (oracle mode)
        return F.pmod(sha60(F.col(id_col).cast("string")), F.lit(n_shards)).cast("int")
    return F.pmod(F.xxhash64(id_col), F.lit(n_shards)).cast("int")


def pack_token_quota(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    n_shards: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(id, n_tokens, shard, bin) — quotient packing: docs are sharded
    by hash(id) (uniform), ordered by id within the shard, and assigned
    bin = floor(exclusive_cumsum / budget). Deterministic and fully
    declarative; each (shard, bin) is one training sequence's doc set.
    """
    from pyspark.sql.window import Window

    sharded = df.select(
        F.col(id_col).alias("id"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
        _shard_of(id_col, n_shards, hash_mode).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.asc("id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    excl = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return sharded.select(
        "id", "n_tokens", "shard", F.floor(excl / budget).cast("long").alias("bin")
    )


def chunk_token_windows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into overlapping fixed-size token windows — the
    step between "curated corpus" and "tokenizer input" when documents
    are longer than the model context (every pretraining data pipeline
    ends with some form of this).

    Output: (id, chunk_id, tok_start, tok_end, n_chunk_tokens,
    chunk_text).  Chunk i covers whitespace tokens
    [i*stride, min(i*stride + window, n)); the chunk count is the
    smallest q+1 whose last window reaches the document end, so every
    token lands in at least one chunk, consecutive chunks overlap by
    window - stride tokens, and no empty trailing window is emitted.

    Scale: pure narrow column ops (split / sequence / explode / slice)
    — no shuffle, no Python, no driver state; at 10^12 docs this is a
    map-only stage that scales with the scan and fans out rows by the
    mean chunks-per-doc factor.  The chunk count uses integer `div`
    arithmetic (never floor of a double quotient), and the
    greatest(0, .) guard also bridges the engine divergence on negative
    division (Spark `div` truncates toward zero, DuckDB `//` floors).
    """
    if window <= 0 or stride <= 0:
        raise ValueError("window and stride must be positive")
    if stride > window:
        raise ValueError("stride > window would skip tokens between chunks")
    toks = F.split(F.col(text_col), " ")
    base = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col).alias("id"),
            toks.alias("_toks"),
            F.size(toks).cast("long").alias("_n"),
        )
    )
    last = F.greatest(
        F.lit(0).cast("long"),
        F.expr(f"(_n - {window} + {stride} - 1) div {stride}"),
    )
    chunks = base.select(
        "id",
        "_toks",
        "_n",
        F.explode(F.sequence(F.lit(0).cast("long"), last)).alias("chunk_id"),
    )
    tok_start = F.col("chunk_id") * stride
    tok_end = F.least(tok_start + window, F.col("_n"))
    return chunks.select(
        "id",
        "chunk_id",
        tok_start.alias("tok_start"),
        tok_end.alias("tok_end"),
        (tok_end - tok_start).alias("n_chunk_tokens"),
        F.array_join(
            F.slice("_toks", (tok_start + 1).cast("int"), F.lit(window)), " "
        ).alias("chunk_text"),
    )


def mix_epoch_weights(
    df: DataFrame,
    id_col: str,
    group_col: str,
    weights_ppm: dict,
) -> DataFrame:
    """Deterministic mixture re-weighting: replicate (or drop) documents
    so each group's expected share matches a target epoch weight — the
    Pile/LLaMA-style "N epochs of source X" mixing step between curation
    and shard assembly.

    ``weights_ppm`` maps group value -> weight in integer parts-per-
    million (2_500_000 = 2.5 epochs; 500_000 = keep half).  Each doc
    gets ``w // 1e6`` guaranteed copies plus one more iff
    ``hash_gate(id) < w % 1e6``, so the expected copy count is exactly
    w/1e6, the decision is a pure function of the document id
    (partition-order-proof and resume-safe — no rand()), and weights
    below 1e6 downsample.  Groups absent from the table are dropped
    (the mixture is explicit).  The gate hash is sha60 and all
    arithmetic is integer, so the gate boundary is identical in any
    engine (DuckDB reproduces it).

    Output: one row per copy — (id, group, copy_id) with copy_id in
    [0, n_copies).  Scale: the weight table broadcasts (it is one row
    per source), the gate is a map-side hash, and the fan-out is an
    explode — the corpus itself never shuffles.
    """
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(str(k), int(v)) for k, v in sorted(weights_ppm.items())],
        f"{group_col} string, _w_ppm long",
    )
    gate = sha60(F.col("id").cast("string")) % F.lit(1_000_000)
    n_copies = F.expr("_w_ppm div 1000000") + F.when(
        gate < F.col("_w_ppm") % 1_000_000, F.lit(1)
    ).otherwise(F.lit(0))
    return (
        df.select(F.col(id_col).alias("id"), F.col(group_col))
        .join(F.broadcast(wdf), group_col)
        .withColumn("_n_copies", n_copies.cast("long"))
        .filter(F.col("_n_copies") > 0)
        .select(
            "id",
            group_col,
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("_n_copies") - 1)).alias(
                "copy_id"
            ),
        )
    )


def assign_splits(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic train/val/test assignment as a pure function of the
    row id: split = f(sha("split:" + id)) — identical across runs,
    partitionings and cluster sizes, so a resumed or re-run pipeline can
    never leak a validation document into training. Rates (VAL_PPM,
    TEST_PPM) are integer parts-per-million (exact, engine-portable — no
    float thresholds).

    The hash input is salted so the split gate is INDEPENDENT of the
    sampling gate (textstats.stratified_sample hashes the bare id; an
    unsalted split would correlate test membership with sample
    membership). Narrow, shuffle-free; the sha is computed once per row.
    """
    h = F.pmod(
        sha60(F.concat(F.lit("split:"), F.col(id_col).cast("string"))),
        F.lit(1_000_000),
    )
    split = (
        F.when(h < F.lit(TEST_PPM), F.lit("test"))
        .when(h < F.lit(TEST_PPM + VAL_PPM), F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


def length_buckets(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(bucket, n_docs, max_tokens, sum_tokens, pad_ppm) — padding-waste
    analysis for length-bucketed batch shaping: documents grouped into
    LENGTH_BUCKET_WIDTH-token buckets (bucket = n_tokens div
    LENGTH_BUCKET_WIDTH), and per bucket the exact integer-ppm fraction
    of a padded batch that would be pad tokens (``(max*n - sum) * 1e6
    div (max*n)``). Training
    throughput dies on padding when batches mix lengths; this is the
    measurement that sizes the buckets. Token proxy = whitespace word
    count (the token_counts contract).

    One partial-aggregating groupBy over ~max_len/width buckets —
    dimension-sized output regardless of corpus size."""
    from .textstats import _words

    staged = docs.select(
        F.col(id_col).alias("id"), F.size(_words(text_col)).cast("long").alias("n_tokens")
    )
    return (
        staged.select(F.expr(f"n_tokens div {LENGTH_BUCKET_WIDTH}").alias("bucket"), "n_tokens")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "max_tokens",
            "sum_tokens",
            F.expr(
                "((max_tokens * n_docs - sum_tokens) * 1000000)"
                " div (max_tokens * n_docs)"
            ).alias("pad_ppm"),
        )
    )


def temperature_mix(
    df: DataFrame,
    id_col: str,
    source_col: str,
) -> DataFrame:
    """Temperature-based source mixing planner (the XLM-R / mT5
    alpha-sampling rule): sampling weight w_s = n_s^alpha flattens the
    source distribution so head sources stop drowning the tail
    (alpha=1 keeps natural proportions, alpha->0 approaches uniform).
    This op DERIVES the weights from measured source sizes — the
    upstream planner whose output feeds ``mix_epoch_weights`` — with
    alpha = 1/2 and a budget of MIX_BUDGET_DOCS documents.

    Portability discipline: n^(1/2) is sqrt — the one libm call that
    IEEE 754 requires correctly rounded, hence bit-identical across
    Spark and DuckDB (log/exp-based pow is not).
    The weight snaps to integer fixed point (floor(w * 10000)) before
    any aggregation, so sums stay order-independent; quotas and
    per-source sampling rates are integer `div` arithmetic; the
    realized sample is the usual salted-sha ppm gate (exact,
    partition-order-proof).

    Scale shape: one partial-agg groupBy(source) over the corpus; the
    source table is dimension-sized, so the total and quotas compute
    on ~|sources| rows (window over the tiny frame, not the corpus)
    and broadcast back for the single sampling pass.

    Returns one row per source:
    (source, n_docs, weight_fp, quota_docs, rate_ppm, sampled_docs).
    """
    from pyspark.sql.window import Window

    n = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = F.sqrt(F.col("n_docs").cast("double"))
    sized = n.withColumn("weight_fp", F.floor(w * F.lit(10000)).cast("long"))
    total_w = Window.partitionBy()  # dimension-sized frame: ~|sources| rows
    rates = (
        sized.withColumn("total_fp", F.sum("weight_fp").over(total_w))
        .withColumn(
            "quota_docs",
            F.expr(f"({MIX_BUDGET_DOCS}L * weight_fp) div total_fp"),
        )
        .withColumn(
            "rate_ppm",
            F.least(
                F.lit(1_000_000).cast("long"),
                F.expr("(quota_docs * 1000000L) div n_docs"),
            ),
        )
        .select("source", "n_docs", "weight_fp", "quota_docs", "rate_ppm")
    )
    gate = F.pmod(
        sha60(F.concat(F.lit("mix:"), F.col(id_col).cast("string"))),
        F.lit(1_000_000),
    )
    sampled = (
        df.select(F.col(source_col).alias("source"), gate.alias("gate"))
        .join(F.broadcast(rates.select("source", "rate_ppm")), "source")
        .filter(F.col("gate") < F.col("rate_ppm"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("sampled_docs"))
    )
    return rates.join(sampled, "source", "left").select(
        "source",
        "n_docs",
        "weight_fp",
        "quota_docs",
        "rate_ppm",
        F.coalesce("sampled_docs", F.lit(0)).cast("long").alias("sampled_docs"),
    )
