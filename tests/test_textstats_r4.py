"""Round-4 text-analysis additions: Gopher rules, BPE pair counts,
sentence stats — hand-computed expectations on tiny fixtures."""

import pytest

from finetoo_sp_spark.operators import textstats as ts


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_gopher_rules_keep_and_reject(spark):
    good = " ".join(["the quick brown fox jumps over lazy dogs"] * 8)  # 64 words
    df = _docs(
        spark,
        [
            (1, good),
            (2, "too short"),  # n_words < 50
            (3, " ".join(["#tag"] * 60)),  # symbol_ratio = 1.0 > 0.1
            (4, "\n".join(["- item %d here ok fine yes" % i for i in range(10)])),
            (5, " ".join(["1234567"] * 60)),  # alpha_word_frac = 0
        ],
    )
    out = {r["id"]: r.asDict() for r in ts.gopher_rules(df, "doc_id", "text").collect()}
    assert out[1]["n_words"] == 64
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False
    assert out[3]["symbol_ratio"] == pytest.approx(1.0)
    assert out[3]["keep"] is False
    # doc 4: every line starts with '-' -> bullet_line_frac 1.0 > 0.9
    assert out[4]["bullet_line_frac"] == pytest.approx(1.0)
    assert out[4]["keep"] is False
    assert out[5]["alpha_word_frac"] == 0.0
    assert out[5]["keep"] is False


def test_gopher_mean_word_len_bounds(spark):
    # 60 one-char words -> mean_word_len 1 < 3 -> reject
    df = _docs(spark, [(1, " ".join(["a"] * 60))])
    row = ts.gopher_rules(df, "doc_id", "text").collect()[0]
    assert row["mean_word_len"] == pytest.approx(1.0)
    assert row["keep"] is False


def test_gopher_ellipsis_lines(spark):
    lines = ["truncated teaser goes here..."] * 4 + ["a normal closing line"] * 6
    body = "\n".join(lines) + "\n" + " ".join(["pad word filler text ok"] * 12)
    df = _docs(spark, [(1, body)])
    row = ts.gopher_rules(df, "doc_id", "text").collect()[0]
    assert row["ellipsis_line_frac"] == pytest.approx(4 / 11, abs=1e-4)


def test_bpe_pair_counts_weighted_by_occurrence(spark):
    # 'abab' x3 -> pairs ab,ba,ab per occurrence = ab:6, ba:3; 'cd' x2 -> cd:2
    df = _docs(spark, [(1, "abab abab cd"), (2, "abab cd")])
    out = {r["pair"]: r["cnt"] for r in ts.bpe_pair_counts(df, "text").collect()}
    assert out == {"ab": 6, "ba": 3, "cd": 2}


def test_bpe_pair_counts_deterministic_tiebreak(spark):
    # 34 two-letter words, each one pair seen once: all tie at 1, and the
    # BPE_TOP_K lexicographically smallest pairs win the cut
    words = [a + b for a in "pq" for b in "abcdefghijklmnopq"]
    df = _docs(spark, [(1, " ".join(words))])
    rows = ts.bpe_pair_counts(df, "text").collect()
    assert [(r["pair"], r["cnt"]) for r in rows] == [(w, 1) for w in sorted(words)[: ts.BPE_TOP_K]]


def test_sentence_stats(spark):
    df = _docs(spark, [(1, "One two three. Four five! Six seven eight?"), (2, "no punct at all")])
    out = {r["id"]: r.asDict() for r in ts.sentence_stats(df, "doc_id", "text").collect()}
    assert out[1]["n_sentences"] == 3
    assert out[1]["n_words"] == 8
    assert out[1]["avg_sentence_words"] == pytest.approx(8 / 3, abs=1e-4)
    assert out[2]["n_sentences"] == 1
    assert out[2]["avg_sentence_words"] == pytest.approx(4.0)


def test_sentence_stats_punct_runs_collapse(spark):
    df = _docs(spark, [(1, "Wait... what?! Really.")])
    row = ts.sentence_stats(df, "doc_id", "text").collect()[0]
    assert row["n_sentences"] == 3
