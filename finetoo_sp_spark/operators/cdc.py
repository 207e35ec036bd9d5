"""Content-defined chunking (CDC) + chunk-level deduplication.

Storage-style CDC (LBFS, Muthitacharoen et al. SOSP'01; FastCDC,
Xia et al. USENIX ATC'16) applied at token granularity for LLM corpus
curation: a chunk boundary falls after token position p whenever the
hash of the W-token window ending at p (W = CDC_WINDOW) satisfies
``hash % CDC_DIVISOR == 0``. Because the predicate depends only on
LOCAL content, an edit (insertion/deletion) perturbs just the chunks
overlapping it while every other chunk keeps its identity — the
property fixed-size chunking lacks and the reason CDC is the standard
tool for finding shared content between near-identical documents
(mirrored pages, template revisions, syndicated articles) at
sub-document granularity, complementing exact sha-dedup (whole doc) and window dedup
(substrdedup.py — flat >=k-token matches).

Deliberate departure from FastCDC: no min/max chunk-size clamping.
Clamping makes boundary p depend on the previous boundary — an
inherently sequential scan — while the pure local predicate evaluates
every position independently: on Spark that is a narrow per-row
array pipeline (split -> window hashes -> filter -> slice), zero
shuffle until chunks group corpus-wide. Expected chunk length is
CDC_DIVISOR tokens (geometric); the W-token window (not a single
token) keeps runs of one repeated token from degenerating into
per-token cuts.

Scale shape (10^12-doc design point): chunk generation is narrow and
O(W * n_tokens) per doc; the only wide ops are one groupBy on the
chunk hash (uniform 60-bit key, no skew) and one groupBy back on the
doc id. hash_mode='sha' keeps the whole pipeline under the DuckDB
value oracle; production uses xxhash64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from finetoo_sp_spark.operators.dedup import _base_hash, _norm_words

CDC_WINDOW = 4  # tokens hashed per boundary test
CDC_DIVISOR = 16  # a boundary where the window hash is 0 mod this


def cdc_chunks(df: DataFrame, hash_mode: str = "xxhash64") -> DataFrame:
    """(id, n_tokens, chunk_idx, start, chunk_tokens, chunk_hash) —
    every content-defined chunk of every non-empty document.

    chunk_idx is 1-based; ``start`` is the 0-based token offset;
    chunk boundaries are the positions p in [CDC_WINDOW, n_tokens)
    where the hash of the CDC_WINDOW-token window ending at p is
    ``0 (mod CDC_DIVISOR)``, plus the end of the document. Docs shorter
    than CDC_WINDOW tokens (or empty) yield one whole-doc chunk / no
    chunk respectively.
    """
    w = (
        df.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(F.col("doc_id").alias("id"), _norm_words("text").alias("_w"))
        .withColumn("n_tokens", F.size("_w"))
    )
    # boundary positions: local window-hash predicate, end position
    # p in [CDC_WINDOW, n_tokens) — evaluated with JVM array lambdas over a
    # materialized token array (bound attribute: see dedup.shingles).
    cand = F.when(
        F.col("n_tokens") - 1 >= CDC_WINDOW,
        F.sequence(F.lit(CDC_WINDOW), F.col("n_tokens") - 1),
    ).otherwise(F.array().cast("array<int>"))
    cuts = F.filter(
        cand,
        lambda p: _base_hash(
            F.concat_ws(" ", F.slice(F.col("_w"), p - CDC_WINDOW + 1, CDC_WINDOW)),
            hash_mode,
        )
        % CDC_DIVISOR
        == 0,
    )
    bounds = F.concat(
        F.array(F.lit(0)), cuts, F.array(F.col("n_tokens"))
    )
    chunked = (
        w.withColumn("_b", bounds)
        .select(
            "id",
            "n_tokens",
            "_w",
            "_b",
            F.explode(
                F.sequence(F.lit(1), F.size("_b") - 1)
            ).alias("chunk_idx"),
        )
        .select(
            "id",
            "n_tokens",
            "chunk_idx",
            F.col("_b")[F.col("chunk_idx") - 1].alias("start"),
            (
                F.col("_b")[F.col("chunk_idx")]
                - F.col("_b")[F.col("chunk_idx") - 1]
            ).alias("chunk_tokens"),
            F.concat_ws(
                " ",
                F.slice(
                    "_w",
                    F.col("_b")[F.col("chunk_idx") - 1] + 1,
                    F.col("_b")[F.col("chunk_idx")]
                    - F.col("_b")[F.col("chunk_idx") - 1],
                ),
            ).alias("_chunk_text"),
        )
        .withColumn("chunk_hash", _base_hash(F.col("_chunk_text"), hash_mode))
        .drop("_chunk_text")
    )
    return chunked


def cdc_dedup_stats(
    df: DataFrame,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Per-doc chunk-dedup statistics: (id, n_tokens, n_chunks,
    n_dup_chunks, dup_tokens) where a chunk is ``dup`` when its hash
    occurs >= 2 times corpus-wide (across or within docs) —
    dup_tokens is the token mass that chunk-level dedup could share.
    Empty docs return a zero row (they are not silently dropped).

    Plan: narrow chunking, a count() window over the uniform
    chunk_hash partition, one groupBy(id), and a left join back to the
    full id set — two uniform-key shuffles total.
    """
    chunks = cdc_chunks(df, hash_mode=hash_mode)
    occ = F.count(F.lit(1)).over(Window.partitionBy("chunk_hash"))
    per_doc = (
        chunks.withColumn("n_occ", occ)
        .groupBy("id")
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("n_occ") >= 2).cast("long")).alias("n_dup_chunks"),
            F.sum(
                F.when(F.col("n_occ") >= 2, F.col("chunk_tokens")).otherwise(
                    F.lit(0)
                )
            ).alias("dup_tokens"),
        )
    )
    ids = df.select(F.col("doc_id").alias("id")).distinct()
    return ids.join(per_doc, "id", "left").select(
        "id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
        F.coalesce("n_dup_chunks", F.lit(0)).alias("n_dup_chunks"),
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
    )
