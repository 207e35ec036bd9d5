"""Keyword retrieval: BM25-shaped ranked top-k over the corpus.

Training-pipeline extension (no reference analogue): keyword retrieval
is the lexical complement of the ANN family in similarity.py — targeted
corpus probes ("find the docs that look like this benchmark prompt")
and retrieval-based decontamination both need it.

The scoring function is *rational BM25*: the standard Robertson tf
saturation term exactly, but the idf replaced by the log-free rational
form ``(N - df) / (df + 1)`` and everything evaluated in integer fixed
point. Rationale (same as pagerank/dsir): no libm in oracle'd values —
log differs in the last ulp across engines — and integer sums are
partition-order independent, so the DuckDB oracle reproduces scores
bit-for-bit. The rational idf is strictly monotone in the true
``log((N - df + .5)/(df + .5))``, so per-term orderings agree with
textbook BM25 (summed scores weight rare terms more steeply — a
documented, deterministic variant).

Fixed-point derivation (k1 = 1.2, b = 0.75, scale = 1024):

    tf_term = tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl/avgdl)

multiplying numerator and denominator by 1000*avgdl makes every factor
an integer:

    tf_fp = (2200*tf*avgdl*scale) div (1000*tf*avgdl + 300*avgdl + 900*dl)

with 2200 = 1000*(k1+1), 300 = 1000*k1*(1-b) and 900 = 1000*k1*b.

Scale story (100 TB): query terms and the per-term df table are
dimension-sized — both broadcast. The corpus-side plan is words ->
explode -> *pushdown-filtered to the query terms before any shuffle* ->
one partial agg on (doc, term) -> map-side probe of df/avgdl -> one agg
on doc -> global top-k (TakeOrdered, no full sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .textstats import _words

BM25_TOP_K = 10  # documents returned per query


def bm25_topk(docs: DataFrame, id_col: str, text_col: str, query_terms: list[str]) -> DataFrame:
    """(id, score, rank) — top-BM25_TOP_K docs for ``query_terms`` by
    rational BM25, rank 1..BM25_TOP_K, ties broken by ascending id.
    Docs matching no query term never appear."""
    staged = docs.select(
        F.col(id_col).alias("id"), _words(text_col).alias("_w")
    ).select("id", F.size("_w").alias("dl"), "_w")

    # corpus stats: one tiny agg row, broadcast back (lazy scalar)
    stats = staged.agg(
        F.expr("sum(dl) div count(*)").alias("avgdl"),
        F.count("*").alias("n_docs"),
    )

    tf = (
        staged.select("id", "dl", F.explode("_w").alias("term"))
        .filter(F.col("term").isin(query_terms))
        .groupBy("id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))

    knum, kden1, kden2 = 2200, 300, 900  # see the module docstring
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "id",
            (
                F.expr("((n_docs - df) * 1024) div (df + 1)")
                * F.expr(
                    f"({knum} * tf * avgdl * 1024) div "
                    f"(1000 * tf * avgdl + {kden1} * avgdl + {kden2} * dl)"
                )
            ).alias("term_score"),
        )
        .groupBy("id")
        .agg(F.sum("term_score").alias("score"))
    )
    out = scored.orderBy(F.desc("score"), F.asc("id")).limit(BM25_TOP_K)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("score"), F.asc("id"))
    return out.withColumn("rank", F.row_number().over(w).cast("int"))


def phrase_hits(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    phrase: str,
) -> DataFrame:
    """(id, n_hits, first_pos) — exact-phrase retrieval over the
    canonicalized text (lowercase, whitespace collapsed — the shared
    _words contract): non-overlapping occurrence count via the
    replace-length identity ``(len(t) - len(replace(t, p, ''))) / len(p)``
    and 1-based first character position via instr (0 = no hit). Both
    are single JVM string ops with bit-identical DuckDB twins
    (replace/length/strpos), so the whole operator oracles exactly.
    Docs without a hit are filtered (n_hits >= 1).

    Scale story: narrow scan -> two string ops -> filter; no shuffle,
    no explode — the cheap complement to bm25_topk when the query is a
    quoted phrase rather than a term bag."""
    p = phrase.strip().lower()
    if not p:
        raise ValueError("phrase must be non-empty")
    canon = F.concat_ws(" ", _words(text_col))
    d = docs.select(F.col(id_col).alias("id"), canon.alias("_t"))
    return (
        d.select(
            "id",
            (
                (F.length("_t") - F.length(F.replace(F.col("_t"), F.lit(p))))
                / F.lit(len(p))
            ).cast("long").alias("n_hits"),
            F.instr(F.col("_t"), p).alias("first_pos"),
        )
        .filter(F.col("n_hits") >= 1)
    )
