"""Round-2 operator units: TF-IDF, multi-probe ANN, canonical choice."""

from __future__ import annotations

from pyspark.sql import functions as F

from finetoo_sp_spark.operators import similarity as sim
from finetoo_sp_spark.operators import textstats as ts
from finetoo_sp_spark.operators.divergence import canonical_choice


def test_tfidf_ratio_vs_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry durian"),
        ],
        ["doc_id", "text"],
    )
    out = ts.tfidf_top_terms(docs, "doc_id", "text")
    rows = {(r["id"], r["rk"]): (r["term"], r["tf"], r["df"], r["score"]) for r in out.collect()}
    # doc 1: apple tf=2 df=1 -> 2*(3/1)=6; banana tf=1 df=2 -> 1.5
    assert rows[(1, 1)] == ("apple", 2, 1, 6.0)
    assert rows[(1, 2)] == ("banana", 1, 2, 1.5)
    # doc 3: cherry tf=2 df=2 -> 3.0; durian tf=1 df=1 -> 3.0 -> tie on
    # score breaks alphabetically (cherry first)
    assert rows[(3, 1)][0] == "cherry" and rows[(3, 2)][0] == "durian"
    assert rows[(3, 1)][3] == rows[(3, 2)][3] == 3.0


def test_multiprobe_superset_of_single_table(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    single = sim.ann_lsh_bucketed(emb, q)
    multi = sim.ann_lsh_multiprobe(emb, q, k=emb.count(), n_tables=3)
    s_pairs = {(r["query_id"], r["neighbor_id"]) for r in single.collect()}
    m_pairs = {(r["query_id"], r["neighbor_id"]) for r in multi.collect()}
    # table 0 of the multiprobe IS the single-table bucketing, so with a
    # k that truncates nothing its candidate set is a superset
    assert s_pairs <= m_pairs
    # and the extra tables actually add recall on this corpus
    assert len(m_pairs) >= len(s_pairs)


def test_canonical_choice_majority_and_tiebreak(spark):
    rows = [
        ("b1", "d1", "hA"),
        ("b1", "d2", "hA"),
        ("b1", "d3", "hB"),  # majority hA
        ("b2", "d1", "hZ"),
        ("b2", "d2", "hY"),  # tie -> smallest hash hY
    ]
    df = spark.createDataFrame(rows, ["name", "doc", "h"])
    got = {r["name"]: (r["canonical_hash"], r["n_docs_version"], r["example_doc"])
           for r in canonical_choice(df, "name", "doc", "h").collect()}
    assert got["b1"] == ("hA", 2, "d1")
    assert got["b2"] == ("hY", 1, "d2")


def test_asof_join_hand_case(spark):
    from finetoo_sp_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 10, "b"), (1, 9, "c"), (2, 3, "d")],
        ["k", "t", "tag"],
    )
    right = spark.createDataFrame(
        [(1, 5, 100.0), (1, 9, 200.0), (1, 9, 150.0), (2, 99, 1.0)],
        ["k", "t", "v"],
    )
    out = asof_join(left, right, by="k", on="t", value_col="v")
    got = {r["tag"]: r["asof_v"] for r in out.collect()}
    # inclusive match at equal t; dup right rows deduped to max; no
    # prior right row -> null
    assert got == {"a": 100.0, "b": 200.0, "c": 200.0, "d": None}
    assert out.count() == left.count()


def test_range_join_hand_case(spark):
    from datetime import datetime

    from finetoo_sp_spark.operators.asof import range_join

    ts = lambda h: datetime(2025, 1, 1, h)
    left = spark.createDataFrame(
        [(1, ts(3), "in"), (1, ts(9), "out"), (2, ts(3), "other_user")],
        ["k", "t", "tag"],
    )
    right = spark.createDataFrame(
        [(1, ts(2), ts(8))], ["k", "s", "e"]
    )
    out = range_join(left, right, point_col="t", start_col="s", end_col="e", by="k")
    assert [r["tag"] for r in out.collect()] == ["in"]
    # boundary semantics: start inclusive, end exclusive
    edge = spark.createDataFrame([(1, ts(2), "lo"), (1, ts(8), "hi")], ["k", "t", "tag"])
    got = {r["tag"] for r in range_join(edge, right, "t", "s", "e", by="k").collect()}
    assert got == {"lo"}


def test_asof_join_tolerance_and_ts(spark):
    from datetime import datetime

    from finetoo_sp_spark.operators.asof import asof_join

    t = lambda h: datetime(2025, 1, 1, h)
    left = spark.createDataFrame([(1, t(10), "fresh"), (1, t(20), "stale")], ["k", "t", "tag"])
    right = spark.createDataFrame([(1, t(9), 5.0)], ["k", "t", "v"])
    out = {
        r["tag"]: (r["asof_v"], r["asof_ts"])
        for r in asof_join(
            left, right, by="k", on="t", value_col="v",
            tolerance_seconds=3600 * 2, ts_out_col="asof_ts",
        ).collect()
    }
    assert out["fresh"] == (5.0, t(9))  # 1h old: within tolerance
    assert out["stale"] == (None, None)  # 11h old: nulled


def test_pack_greedy_respects_budget_and_order(spark):
    """Quotient packing: every doc gets a bin, bins are contiguous in id
    order within a shard, and a bin overfills the budget only by the one
    doc that straddles its boundary."""
    from finetoo_sp_spark.operators.packing import pack_token_quota

    rows = [(i, 100 + (i * 37) % 900) for i in range(400)] + [(1000, 5000)]
    df = spark.createDataFrame(rows, ["id", "n_tokens"])
    quota = pack_token_quota(df, "id", "n_tokens", budget=2048, n_shards=4).toPandas()
    assert len(quota) == len(rows)
    for _, grp in quota.groupby("shard"):
        grp = grp.sort_values("id")
        assert grp["bin"].is_monotonic_increasing
        for _, b in grp.groupby("bin"):
            assert b["n_tokens"].iloc[:-1].sum() <= 2048


def test_approx_sketches_within_error_bounds(spark, sf_dir):
    """The at-scale statistics path: HLL++ approx distinct and quantile
    sketches must land within their configured error of the exact
    answers on the driver corpus (sketches can't value-match an external
    engine bit-for-bit, so the contract is an error bound, not a hash)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact_d"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_d"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("approx_p50"),
    ).collect()[0]
    assert abs(row["approx_d"] - row["exact_d"]) / row["exact_d"] < 0.05
    assert abs(row["approx_p50"] - row["exact_p50"]) / row["exact_p50"] < 0.01


def test_template_ngrams_finds_planted_boilerplate(spark):
    from finetoo_sp_spark.operators.textstats import template_ngrams

    # every page on hostA carries the template footer; unique body text
    rows = [
        ("hostA", i, f"unique body words {i} zz{i} follow the template footer here")
        for i in range(12)
    ] + [("hostB", 100 + i, f"different site {i}") for i in range(12)]
    df = spark.createDataFrame(rows, "host string, doc_id int, text string")
    out = template_ngrams(df, "host", "doc_id", "text", ratio_ppm=900_000)
    got = {(r["host"], r["shingle"]): r["share_ppm"] for r in out.collect()}
    # the planted footer bigrams recur on 100% of hostA pages
    assert got[("hostA", "template footer")] == 1_000_000
    assert got[("hostA", "footer here")] == 1_000_000
    # per-page-unique bigrams (carrying the page number) never qualify
    assert not any("zz" in s for (_, s) in got)


def test_template_ngrams_min_pages_gate(spark):
    from finetoo_sp_spark.operators.textstats import template_ngrams

    rows = [("tiny", i, "same exact text") for i in range(5)]
    df = spark.createDataFrame(rows, "host string, doc_id int, text string")
    assert template_ngrams(df, "host", "doc_id", "text").count() == 0


def test_script_profile_census(spark):
    from finetoo_sp_spark.operators.textstats import script_profile

    rows = [
        (1, "abc пр 你好 42!"),
        (2, "only latin words"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["id"]: tuple(r)[1:] for r in script_profile(df, "doc_id", "text").collect()}
    # 'abc пр 你好 42!': 3 latin, 2 cyrillic, 2 han, 2 digit, 1 other (!)
    assert got[1] == (3, 2, 2, 2, 1)
    assert got[2] == (14, 0, 0, 0, 0)
