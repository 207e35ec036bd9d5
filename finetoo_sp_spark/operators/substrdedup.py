"""Exact-substring (duplicated k-token window) deduplication.

Re-expresses the suffix-array exact-substring dedup of Lee et al. 2022
("Deduplicating Training Data Makes Language Models Better",
arXiv:2107.06499) as a Spark-native window-hash pipeline: a length-k
token window duplicated anywhere in the corpus marks its span for
removal everywhere except one canonical occurrence. A distributed
suffix array is the wrong tool on Spark (global sort over every byte);
hashing every k-token window and grouping on the hash finds exactly the
same >=k-token duplicates (a duplicate substring of length >= k tokens
contains >= 1 duplicated k-window, and every duplicated k-window is a
duplicate substring), at the cost of not extending matches below k.

Scale shape (10^12-doc design point):

- window generation is a narrow map (split + transform + explode) —
  ~n_tokens rows per doc, linear, no shuffle;
- the only wide ops are one ``groupBy(window_hash)`` (uniform key — the
  hash) and one hash-keyed self-equi-join back; both partition cleanly
  and AQE handles residual skew from mega-duplicated windows
  (boilerplate), whose groups are COUNT-only (no pair explosion);
- span-union coverage is computed per doc with a lead() window over the
  doc's own duplicated starts (docs are bounded; no global sort);
- removal explodes only *removed* windows into positions (k-times
  amplification on duplicated regions only, not the whole corpus).

hash_mode='sha' uses the DuckDB-reproducible 60-bit sha hash so the
whole pipeline sits under a full value oracle; production uses xxhash64.

Reference analogue: the reference dedups at entity granularity via
sorted-handle block hashes (src/graph/block_analyzer.cc:22-30); the
token-window form is the LLM-training-pipeline generalization the brief
asks for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from finetoo_sp_spark.operators.dedup import _base_hash, _norm_words

WINDOW_K = 8  # tokens per window: the shortest duplicate the pass finds


def _windows(df: DataFrame, hash_mode: str) -> DataFrame:
    """(id, n_tokens, start, wh) — every positional k-token window
    (k = WINDOW_K) of (doc_id, text).

    Docs shorter than k tokens produce NO windows (a shorter-than-k
    window could false-match across docs); they still appear in the
    stats output via the left join in :func:`window_dup_stats`.
    """
    w = df.select(F.col("doc_id").alias("id"), _norm_words("text").alias("_w"))
    # materialize the words array first (lambda over the raw expression
    # would re-run regexp+split per position — see dedup.shingles)
    starts = F.when(
        F.size("_w") >= WINDOW_K, F.sequence(F.lit(0), F.size("_w") - WINDOW_K)
    ).otherwise(F.array().cast("array<int>"))
    return (
        w.select("id", F.size("_w").alias("n_tokens"), F.explode(starts).alias("start"), "_w")
        .select(
            "id",
            "n_tokens",
            "start",
            _base_hash(
                F.concat_ws(" ", F.slice("_w", F.col("start") + 1, WINDOW_K)), hash_mode
            ).alias("wh"),
        )
    )


def _dup_windows(wins: DataFrame) -> DataFrame:
    """Windows whose hash occurs >= 2 times corpus-wide, with the keeper
    flag (row_number 1 by (id, start) within the hash group — the one
    canonical occurrence removal preserves, Lee et al. §3 'except one')."""
    occ = Window.partitionBy("wh").orderBy("id", "start")
    return (
        wins.withColumn("n_occ", F.count(F.lit(1)).over(Window.partitionBy("wh")))
        .filter(F.col("n_occ") >= 2)
        .withColumn("keeper", F.row_number().over(occ) == 1)
    )


def window_dup_stats(df: DataFrame, hash_mode: str = "xxhash64") -> DataFrame:
    """Per-doc duplicated-window statistics.

    Returns (id, n_tokens, n_windows, n_dup_windows, dup_tokens,
    dup_token_ppm): dup_tokens is the exact interval-union size of the
    doc's duplicated [start, start+k) spans (lead() merge over sorted
    starts — overlapping windows are not double-counted), dup_token_ppm
    the integer-exact parts-per-million share of the doc's tokens inside
    a duplicated span. The standard pre-pass for sizing an exact-substring
    removal run (and a quality signal on its own: boilerplate-heavy pages
    score high).
    """
    wins = _windows(df, hash_mode)
    dup = _dup_windows(wins)
    # interval union per doc: each dup start covers min(k, next_start - start)
    nxt = Window.partitionBy("id").orderBy("start")
    cov = (
        dup.select("id", "start")
        .distinct()  # the same start can host only one window, but be safe
        .withColumn(
            "covered",
            F.least(
                F.lit(WINDOW_K),
                F.coalesce(F.lead("start").over(nxt) - F.col("start"), F.lit(WINDOW_K)),
            ),
        )
        .groupBy("id")
        .agg(F.sum("covered").alias("dup_tokens"))
    )
    per_doc = wins.groupBy("id", "n_tokens").agg(F.count(F.lit(1)).alias("n_windows"))
    dup_counts = dup.groupBy("id").agg(F.count(F.lit(1)).alias("n_dup_windows"))
    base = df.select(
        F.col("doc_id").alias("id"), F.size(_norm_words("text")).alias("n_tokens")
    )
    return (
        base.join(per_doc.drop("n_tokens"), "id", "left")
        .join(dup_counts, "id", "left")
        .join(cov, "id", "left")
        .select(
            "id",
            "n_tokens",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            # integer div (not float-divide-and-cast): exact at any
            # magnitude, and the DuckDB twin's `//` agrees bit-for-bit
            F.expr("coalesce(dup_tokens, 0L) * 1000000L div n_tokens").alias(
                "dup_token_ppm"
            ),
        )
    )


def remove_duplicate_windows(df: DataFrame, hash_mode: str = "xxhash64") -> DataFrame:
    """Exact-substring removal: drop every token covered by a duplicated
    k-window occurrence EXCEPT the corpus-wide canonical one (minimum
    (id, start) within the hash group), then reassemble each doc from
    its surviving tokens in order.

    Returns (id, clean_text, n_tokens, n_removed_tokens). Token order is
    preserved; removal operates on the whitespace-normalized token
    stream (the same canonicalization every dedup path uses), so
    clean_text is normalized text minus removed spans.
    """
    wins = _windows(df, hash_mode)
    removed = _dup_windows(wins).filter(~F.col("keeper"))
    # positions covered by any removed window occurrence in this doc
    pos = (
        removed.select(
            "id", F.explode(F.sequence("start", F.col("start") + (WINDOW_K - 1))).alias("pos")
        )
        .distinct()
    )
    toks = df.select(
        F.col("doc_id").alias("id"), F.posexplode(_norm_words("text")).alias("pos", "word")
    )
    kept = toks.join(pos, ["id", "pos"], "left_anti")
    n_tok = df.select(
        F.col("doc_id").alias("id"), F.size(_norm_words("text")).alias("n_tokens")
    )
    clean = (
        kept.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    return (
        n_tok.join(clean, "id", "left")
        .select(
            "id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias("n_removed_tokens"),
        )
    )
