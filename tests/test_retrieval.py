"""BM25 keyword retrieval (operators/retrieval.py)."""

import pytest

from finetoo_sp_spark.operators.retrieval import BM25_TOP_K, bm25_topk


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        # id, text — 'zebra' is rare (2 docs), 'data' is everywhere
        (1, "data data data data data"),
        (2, "zebra data data"),
        (3, "zebra zebra zebra data"),
        (4, "data filler filler filler filler filler filler filler"),
        (5, "filler filler filler"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_rank_and_membership(corpus):
    out = bm25_topk(corpus, "doc_id", "text", ["zebra", "data"])
    rows = {r["id"]: r for r in out.collect()}
    # doc 5 matches no query term -> absent
    assert set(rows) == {1, 2, 3, 4}
    # ranks are 1..n in score order
    ranked = sorted(rows.values(), key=lambda r: r["rank"])
    assert [r["rank"] for r in ranked] == [1, 2, 3, 4]
    scores = [r["score"] for r in ranked]
    assert scores == sorted(scores, reverse=True)
    # rare-term docs dominate: zebra appears in 2/5 docs, data in 4/5,
    # so docs 2 and 3 (zebra) must outrank the data-only docs 1 and 4
    assert {ranked[0]["id"], ranked[1]["id"]} == {2, 3}
    # more zebra occurrences -> higher score (tf term is monotone)
    assert rows[3]["score"] > rows[2]["score"]
    # longer doc with same tf is penalized (doc 4 longer than doc 1,
    # both match only 'data'; doc 1 has higher tf AND is shorter)
    assert rows[1]["score"] > rows[4]["score"]


def test_k_truncates_and_ties_break_by_id(spark):
    rows = [(i, "same same words") for i in range(1, BM25_TOP_K + 5)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = bm25_topk(df, "doc_id", "text", ["same"]).collect()
    # identical docs -> identical scores -> ties broken ascending id
    assert [(r["id"], r["rank"]) for r in out] == [(i, i) for i in range(1, BM25_TOP_K + 1)]
    assert len({r["score"] for r in out}) == 1


def test_partition_invariance(corpus):
    base = bm25_topk(corpus, "doc_id", "text", ["zebra", "data"])
    shuffled = bm25_topk(corpus.repartition(7), "doc_id", "text", ["zebra", "data"])
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, shuffled.collect())
    )


def test_no_match_returns_empty(corpus):
    assert bm25_topk(corpus, "doc_id", "text", ["absent"]).count() == 0
