"""Exact-substring (duplicated k-token window) dedup — hand-built cases.

The contract queries (dedup_window_stats / dedup_window_removal) prove
oracle agreement on the planted-template corpus; these tests pin the
semantics on corpora small enough to verify by hand, including the
keeper rule and the short-doc edge.
"""

import pytest
from pyspark.sql import Row

from finetoo_sp_spark.operators.substrdedup import (
    WINDOW_K as K,
    remove_duplicate_windows,
    window_dup_stats,
)


def _run(prefix, n):
    """n distinct tokens prefix0 .. prefix{n-1}, space-joined."""
    return " ".join(f"{prefix}{i}" for i in range(n))


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def test_stats_planted_duplicate(spark):
    # docs 0 and 1 share the K-token run w0..w{K-1}; doc 2 is unique
    shared = _run("w", K)
    df = _docs(
        spark,
        [
            f"a b {shared} c d",
            f"p q r {shared}",
            _run("unique", K + 2),
        ],
    )
    out = {r["id"]: r for r in window_dup_stats(df, hash_mode="sha").collect()}
    # doc 0: K + 4 tokens -> 5 windows, exactly one duplicated (at 2)
    assert out[0]["n_windows"] == 5
    assert out[0]["n_dup_windows"] == 1
    assert out[0]["dup_tokens"] == K
    assert out[0]["dup_token_ppm"] == K * 1_000_000 // (K + 4)
    # doc 1: K + 3 tokens -> 4 windows, one duplicated (at 3)
    assert out[1]["n_dup_windows"] == 1
    assert out[1]["dup_tokens"] == K
    # doc 2: nothing duplicated
    assert out[2]["n_dup_windows"] == 0
    assert out[2]["dup_tokens"] == 0


def test_stats_overlap_union_not_double_counted(spark):
    # a (K + 1)-token run duplicated in full across both docs. Each
    # doc's two windows over it are BOTH duplicated and overlap; union
    # coverage is K + 1 tokens, not 2K.
    shared = _run("a", K + 1)
    df = _docs(spark, [f"x {shared}", f"{shared} y"])
    out = {r["id"]: r for r in window_dup_stats(df, hash_mode="sha").collect()}
    # shared windows: a0..a{K-1} and a1..a{K} (each in both docs)
    assert out[0]["n_dup_windows"] == 2
    assert out[0]["dup_tokens"] == K + 1  # starts 1,2 -> [1, K+2)
    assert out[1]["dup_tokens"] == K + 1  # starts 0,1 -> [0, K+1)


def test_short_doc_has_no_windows(spark):
    df = _docs(spark, ["one two three", "one two three"])  # 3 < k
    out = window_dup_stats(df, hash_mode="sha").collect()
    assert all(r["n_windows"] == 0 and r["dup_tokens"] == 0 for r in out)
    # removal must preserve short docs verbatim (normalized)
    rem = {r["id"]: r for r in remove_duplicate_windows(df, hash_mode="sha").collect()}
    assert rem[0]["clean_text"] == "one two three"
    assert rem[0]["n_removed_tokens"] == 0


def test_removal_keeps_canonical_occurrence(spark):
    # identical docs: keeper = min (doc_id, start) -> doc 0 keeps its
    # text, doc 1 loses every token (all its windows are non-keeper)
    text = _run("t", K + 2)
    df = _docs(spark, [text, text])
    rem = {r["id"]: r for r in remove_duplicate_windows(df, hash_mode="sha").collect()}
    assert rem[0]["clean_text"] == text
    assert rem[0]["n_removed_tokens"] == 0
    assert rem[1]["clean_text"] == ""
    assert rem[1]["n_removed_tokens"] == K + 2


def test_removal_surviving_context(spark):
    # duplicated middle run, unique prefix/suffix survive in order
    shared = _run("w", K)
    df = _docs(spark, [f"pre1 pre2 {shared} post1", shared])
    rem = {r["id"]: r for r in remove_duplicate_windows(df, hash_mode="sha").collect()}
    # doc 0 is the keeper (min doc_id): untouched
    assert rem[0]["clean_text"] == f"pre1 pre2 {shared} post1"
    assert rem[1]["clean_text"] == ""


def test_normalization_matches_dedup_family(spark):
    # mixed case + whitespace runs canonicalize before windowing, so
    # "A  b C ..." and "a b c ..." share windows
    text = _run("w", K)
    messy = "  ".join(t.upper() if i % 2 else t for i, t in enumerate(text.split()))
    df = _docs(spark, [messy, text])
    out = window_dup_stats(df, hash_mode="sha").collect()
    assert all(r["n_dup_windows"] == 1 for r in out)


@pytest.mark.parametrize("hash_mode", ["sha", "xxhash64"])
def test_hash_modes_agree_on_counts(spark, hash_mode):
    shared = _run("a", K + 1)
    df = _docs(spark, [shared, f"z {shared}", _run("q", K)])
    out = {
        r["id"]: r["n_dup_windows"]
        for r in window_dup_stats(df, hash_mode=hash_mode).collect()
    }
    assert out == {0: 2, 1: 2, 2: 0}
