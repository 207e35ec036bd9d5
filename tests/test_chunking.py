"""chunk_token_windows contract: exact chunks, coverage, overlap, edges."""

import pytest
from pyspark.sql import functions as F

from finetoo_sp_spark.operators.packing import chunk_token_windows


def _chunks(spark, rows, window, stride):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_token_windows(df, "doc_id", "text", window=window, stride=stride)
    return sorted(
        ((r.id, r.chunk_id, r.tok_start, r.tok_end, r.chunk_text) for r in out.collect())
    )


def test_exact_chunks_with_overlap(spark):
    text = " ".join(f"w{i}" for i in range(10))
    got = _chunks(spark, [(1, text)], window=4, stride=3)
    assert got == [
        (1, 0, 0, 4, "w0 w1 w2 w3"),
        (1, 1, 3, 7, "w3 w4 w5 w6"),
        (1, 2, 6, 10, "w6 w7 w8 w9"),
    ]


def test_short_doc_single_chunk(spark):
    got = _chunks(spark, [(1, "a b c")], window=8, stride=6)
    assert got == [(1, 0, 0, 3, "a b c")]


def test_exact_boundary_no_empty_trailing_chunk(spark):
    # n == window: exactly one chunk; n == window + stride: exactly two
    ten = " ".join(f"t{i}" for i in range(10))
    assert len(_chunks(spark, [(1, ten)], window=10, stride=7)) == 1
    seventeen = " ".join(f"t{i}" for i in range(17))
    two = _chunks(spark, [(1, seventeen)], window=10, stride=7)
    assert [(c[2], c[3]) for c in two] == [(0, 10), (7, 17)]


def test_empty_and_whitespace_docs_emit_nothing(spark):
    assert _chunks(spark, [(1, ""), (2, "   "), (3, "x")], window=4, stride=3) == [
        (3, 0, 0, 1, "x")
    ]


def test_full_coverage_invariant(spark):
    # every token index of every doc is inside at least one chunk, and
    # consecutive chunks overlap by exactly window - stride (except the
    # clamped final chunk, which may overlap more)
    rows = [(i, " ".join(f"d{i}w{j}" for j in range(n))) for i, n in enumerate([1, 5, 23, 24, 25, 47, 100])]
    window, stride = 24, 16
    by_doc = {}
    for did, cid, start, end, _ in _chunks(spark, rows, window, stride):
        by_doc.setdefault(did, []).append((cid, start, end))
    for i, n in enumerate([1, 5, 23, 24, 25, 47, 100]):
        spans = sorted(by_doc[i])
        covered = set()
        for _, start, end in spans:
            covered.update(range(start, end))
        assert covered == set(range(n)), f"doc {i} (n={n}) not fully covered"
        for (_, s0, e0), (_, s1, _) in zip(spans, spans[1:]):
            assert s1 == s0 + stride
            assert e0 - s1 >= window - stride  # overlap at least window-stride


def test_rejects_bad_geometry(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_token_windows(df, "doc_id", "text", window=0, stride=1)
    with pytest.raises(ValueError):
        chunk_token_windows(df, "doc_id", "text", window=4, stride=5)


def test_no_shuffle_in_plan(spark):
    df = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    plan = chunk_token_windows(df, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_length_buckets_padding_math(spark):
    from finetoo_sp_spark.operators.packing import length_buckets

    rows = [
        (1, "a b c"),              # 3 tokens -> bucket 0
        (2, "a b c d"),            # 4 tokens -> bucket 0
        (3, " ".join(["w"] * 130)), # 130 tokens -> bucket 2 (width 64)
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["bucket"]: (r["n_docs"], r["max_tokens"], r["sum_tokens"], r["pad_ppm"])
           for r in length_buckets(df, "doc_id", "text").collect()}
    # bucket 0: max 4, n 2, sum 7 -> pad = (8-7)/8 = 125000 ppm
    assert got[0] == (2, 4, 7, 125000)
    # bucket 2: single doc -> zero padding
    assert got[2] == (1, 130, 130, 0)
