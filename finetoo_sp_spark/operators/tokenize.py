"""BPE tokenization (apply side): encode text with a fixed merge table.

Completes the token-counting story: ``token_counts`` ships the chars/4
proxy; this operator runs REAL byte-pair-encoding merges (Sennrich 2016
apply phase, the GPT-2 ``bpe()`` loop shape) so token budgets are exact
for the shipped vocabulary.

Scale shape — the vocabulary collapse, same trick as bpe_pair_counts:
the Python merge loop runs ONCE PER DISTINCT WORD (Heaps' law: vocab
grows ~sqrt(corpus)), never per occurrence. The corpus itself only
explodes to (id, word) and joins the broadcast-sized token-count
dimension back on the word key; document token budgets are one partial
aggregation. At 100 TB the kernel cost is bounded by vocabulary size,
not corpus size.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from finetoo_sp_spark.operators.textstats import _words

# The deterministic demonstration merge table bpe_token_counts applies
# (rank order = list order); bpe_learn derives a table from a corpus.
DEFAULT_MERGES: list[tuple[str, str]] = [
    ("a", "b"),
    ("ab", "ab"),
    ("c", "d"),
    ("cd", "e"),
]


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Classic BPE apply: start from characters; repeatedly merge every
    left-to-right occurrence of the lowest-ranked adjacent pair present;
    stop when no adjacent pair is in the table."""
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
        if best_rank is None:
            break
        out: list[str] = []
        i = 0
        while i < len(syms):
            if (
                i < len(syms) - 1
                and ranks.get((syms[i], syms[i + 1])) == best_rank
            ):
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


_VOCAB_TOKENS_SCHEMA = StructType(
    [
        StructField("word", StringType(), False),
        StructField("n_tokens_word", LongType(), False),
    ]
)


def bpe_token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_words, n_tokens) — exact BPE token budget per document
    under DEFAULT_MERGES: explode to words, run the merge loop once per
    DISTINCT word (Arrow-batched mapInPandas over the vocabulary),
    broadcast-join the per-word token counts back, aggregate per
    document."""
    ranks = {pair: i for i, pair in enumerate(DEFAULT_MERGES)}

    occurrences = df.select(
        F.col(id_col).alias("id"),
        F.explode(_words(text_col)).alias("word"),
    ).filter(F.length("word") >= 1)
    vocab = occurrences.select("word").distinct()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "n_tokens_word": [
                        len(encode_word(w, ranks)) for w in pdf["word"]
                    ],
                }
            )

    tok = vocab.mapInPandas(run, schema=_VOCAB_TOKENS_SCHEMA)
    joined = occurrences.join(F.broadcast(tok), "word")
    return joined.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_tokens_word").alias("n_tokens"),
    )


def bpe_learn(vocab: DataFrame, n_merges: int) -> DataFrame:
    """BPE merge-table LEARNING (Sennrich 2016 train phase): run
    ``n_merges`` rounds of find-most-frequent-adjacent-pair -> merge
    over a (word, cnt) vocabulary. Returns the learned table
    (merge_idx, left, right, merged, cnt) — the input ``ranks`` of
    :func:`encode_word` / `bpe_token_counts`.

    Tie-break: (count desc, left asc, right asc) — a total order, so
    the learned table is deterministic on any partitioning.

    Scale shape: the loop runs over the VOCABULARY (Heaps' law), never
    the corpus — build ``vocab`` with one corpus-wide word count first.
    Each round is one partial-aggregating groupBy over the vocab's
    adjacent-pair space plus a single-row collect; the merge itself is
    a JVM ``aggregate`` fold over each word's token array (greedy
    left-to-right, non-overlapping, matching encode_word). The plan is
    localCheckpoint'd per round so lineage stays flat across merges.
    """
    spark = vocab.sparkSession
    toks = vocab.select(
        F.split(F.col("word"), "").alias("toks"),
        F.col("cnt").cast("long").alias("cnt"),
    ).localCheckpoint()

    out_rows = []
    for idx in range(n_merges):
        n = F.size("toks")
        pairs = toks.filter(n >= 2).select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice("toks", 1, n - 1),
                    F.slice("toks", 2, n - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] is None:
            break
        left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        merged = left + right
        out_rows.append((idx, left, right, merged, cnt))
        # greedy non-overlapping left-to-right merge, as one JVM fold:
        # acc = (out, pend); pend==left and t==right -> emit merged.
        fold = F.expr(
            f"""
            aggregate(
              toks,
              struct(cast(array() as array<string>) as out,
                     cast(null as string) as pend),
              (acc, t) -> CASE
                WHEN acc.pend = {_sql_str(left)} AND t = {_sql_str(right)}
                  THEN named_struct('out',
                         array_append(acc.out, {_sql_str(merged)}),
                         'pend', cast(null as string))
                WHEN acc.pend IS NULL
                  THEN named_struct('out', acc.out, 'pend', cast(t as string))
                ELSE named_struct('out', array_append(acc.out, acc.pend),
                                  'pend', cast(t as string)) END,
              acc -> CASE WHEN acc.pend IS NULL THEN acc.out
                          ELSE array_append(acc.out, acc.pend) END
            )"""
        )
        toks = toks.select(fold.alias("toks"), "cnt").localCheckpoint()

    return spark.createDataFrame(
        out_rows, "merge_idx int, left string, right string, merged string, cnt bigint"
    )


def _sql_str(s: str) -> str:
    # Spark SQL string literals process backslash escapes (Hive rules),
    # so both backslash and quote must be escaped for arbitrary tokens.
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
