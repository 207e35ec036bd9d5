"""Content-defined chunking: boundary determinism, insertion
robustness (the CDC property), coverage invariants, plan shape."""

from pyspark.sql import functions as F

from finetoo_sp_spark.operators.cdc import CDC_DIVISOR, cdc_chunks, cdc_dedup_stats

BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far "
    "away into the deep dark woods tonight while owls watch from tall "
    "trees nearby silently under a pale cold moon that hangs low"
)


def _df(spark, docs):
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_chunks_cover_doc_exactly(spark):
    df = _df(spark, [(0, BASE), (1, "tiny"), (2, "a b c d e f g h i")])
    rows = cdc_chunks(df, hash_mode="sha").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["id"], []).append(r)
    for doc, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        assert chunks[0]["start"] == 0
        pos = 0
        for c in chunks:
            assert c["start"] == pos
            assert c["chunk_tokens"] >= 1
            pos += c["chunk_tokens"]
        assert pos == chunks[0]["n_tokens"]  # exact partition of the doc


def test_identical_docs_identical_chunks(spark):
    df = _df(spark, [(0, BASE), (1, BASE)])
    rows = cdc_chunks(df, hash_mode="sha").collect()
    a = sorted((r["chunk_idx"], r["start"], r["chunk_hash"])
               for r in rows if r["id"] == 0)
    b = sorted((r["chunk_idx"], r["start"], r["chunk_hash"])
               for r in rows if r["id"] == 1)
    assert a == b and len(a) >= 2


def test_insertion_only_perturbs_local_chunks(spark):
    # THE content-defined property: an edit near the front must leave
    # later chunk hashes identical (fixed-size chunking would shift all)
    edited = BASE.replace("jumps", "leaps wildly and unexpectedly")
    df = _df(spark, [(0, BASE), (1, edited)])
    rows = cdc_chunks(df, hash_mode="sha").collect()
    h0 = {r["chunk_hash"] for r in rows if r["id"] == 0}
    h1 = {r["chunk_hash"] for r in rows if r["id"] == 1}
    assert h0 != h1  # the edited region differs...
    assert h0 & h1  # ...but downstream chunks are shared verbatim


def test_short_and_empty_docs(spark):
    df = _df(spark, [(0, "one two three"), (1, ""), (2, "   ")])
    chunks = cdc_chunks(df, hash_mode="sha").collect()
    assert {r["id"] for r in chunks} == {0}  # short doc = 1 whole chunk
    assert chunks[0]["chunk_tokens"] == 3
    stats = {r["id"]: r for r in cdc_dedup_stats(df, hash_mode="sha").collect()}
    assert set(stats) == {0, 1, 2}  # empty docs keep a zero row
    assert stats[1]["n_chunks"] == 0 and stats[2]["n_tokens"] == 0


def test_dedup_counts_exact_copy(spark):
    df = _df(spark, [(0, BASE), (1, BASE), (2, "completely different words here")])
    stats = {r["id"]: r for r in cdc_dedup_stats(df, hash_mode="sha").collect()}
    assert stats[0]["n_dup_chunks"] == stats[0]["n_chunks"]
    assert stats[0]["dup_tokens"] == stats[0]["n_tokens"]
    assert stats[2]["n_dup_chunks"] == 0


def test_partitioning_invariance(spark):
    docs = [(i, f"{BASE} variant {i % 3}") for i in range(12)]
    a = cdc_dedup_stats(_df(spark, docs).repartition(1), hash_mode="sha")
    b = cdc_dedup_stats(_df(spark, docs).repartition(7), hash_mode="sha")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_expected_chunk_length_tracks_divisor(spark):
    # geometric boundaries: mean chunk length ~ CDC_DIVISOR tokens
    words = " ".join(f"w{i * 7919 % 10007}" for i in range(3000))
    df = _df(spark, [(0, words)])
    mean = 3000 / cdc_chunks(df, hash_mode="sha").count()
    assert CDC_DIVISOR / 3 < mean < CDC_DIVISOR * 3


def test_chunking_plan_is_narrow(spark):
    df = _df(spark, [(0, BASE)])
    plan = cdc_chunks(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # zero shuffle before any aggregation
