"""Property-based dedup tests: algebraic invariants over random corpora.

Uses small random word-soup documents; Spark round-trips are expensive,
so examples are few but each asserts strong structural properties:

- Jaccard is symmetric-by-construction (id_a < id_b), bounded [0,1],
  and =1 exactly for identical normalized token streams;
- MinHash-LSH verified pairs are a SUBSET of exact-Jaccard pairs at the
  same threshold (banding can miss, never invent — the verify step
  guarantees precision 1.0);
- SimHash is invariant under whitespace normalization;
- exact_dedup partitions the id space (every id in exactly one group).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from finetoo_sp_spark.operators import dedup as dd

_WORDS = "alpha beta gamma delta epsilon zeta eta theta".split()
_doc = st.lists(st.sampled_from(_WORDS), min_size=4, max_size=12).map(" ".join)
_corpus = st.lists(_doc, min_size=2, max_size=6)

_SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)


@_SET
@given(_corpus)
def test_jaccard_bounds_and_identity(spark, docs):
    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    pairs = dd.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.0).collect()
    texts = {i: " ".join(t.split()) for i, t in enumerate(docs)}
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert 0.0 <= r["jaccard"] <= 1.0
        if texts[r["id_a"]] == texts[r["id_b"]]:
            assert r["jaccard"] == 1.0


@_SET
@given(_corpus)
def test_lsh_subset_of_exact(spark, docs):
    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert exact[k] == v  # verified jaccard identical


@_SET
@given(_doc)
def test_simhash_whitespace_invariant(spark, doc):
    messy = doc.replace(" ", "   ").upper().lower()
    df = spark.createDataFrame([(1, doc), (2, messy)], ["doc_id", "text"])
    fps = {r["id"]: r["simhash"] for r in dd.simhash(df, "doc_id", "text").collect()}
    assert fps[1] == fps[2]


@_SET
@given(_corpus)
def test_exact_dedup_partitions_ids(spark, docs):
    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    groups = dd.exact_dedup(df, "doc_id", "text").collect()
    assert sum(r["n_copies"] for r in groups) == len(docs)
    keeps = [r["keep_id"] for r in groups]
    assert len(keeps) == len(set(keeps))


def _py_shingles(text: str, n: int) -> set:
    import re as _re

    ws = _re.sub(r"\s+", " ", text.lower()).strip().split(" ")
    out = set()
    for i in range(max(len(ws) - n, 0) + 1):
        s = " ".join(ws[i : i + n])
        if s:
            out.add(s)
    return out


def test_contamination_flags_matches_bruteforce(spark):
    from finetoo_sp_spark.operators.dedup import CONTAMINATION_N, contamination_flags

    words = [f"w{i}" for i in range(20)]
    docs = [
        (0, " ".join(words)),  # contains the whole benchmark text
        (1, " ".join(f"x{i}" for i in range(20))),
        (2, " ".join(words[:14] + ["nine", "ten"])),  # shares a prefix run
        (3, " ".join(words[:12] + ["nine", "ten"])),  # run one word too short
    ]
    bench = [(100, " ".join(words[:16]))]
    ddf = spark.createDataFrame(docs, ["doc_id", "text"])
    bdf = spark.createDataFrame(bench, ["bid", "btext"])
    out = {
        r["id"]: (r["n_hits"], r["contaminated"])
        for r in contamination_flags(ddf, bdf, "doc_id", "text", "bid", "btext").collect()
    }
    bsh = set().union(*[_py_shingles(t, CONTAMINATION_N) for _, t in bench])
    for i, t in docs:
        hits = len(_py_shingles(t, CONTAMINATION_N) & bsh)
        assert out[i] == (hits, hits > 0), (i, out[i], hits)
    assert [out[i][1] for i in range(4)] == [True, False, True, False]


def test_containment_pairs_matches_bruteforce(spark):
    from finetoo_sp_spark.operators.textstats import containment_pairs

    full = "w%d " * 40 % tuple(range(40))
    frag = "w%d " * 18 % tuple(range(18))  # prefix fragment
    other = "x%d " * 30 % tuple(range(30))
    df = spark.createDataFrame(
        [(1, full), (2, frag), (3, other)], ["id", "text"]
    )
    out = {
        (r["id_small"], r["id_big"]): r["containment"]
        for r in containment_pairs(df, "id", "text", threshold=0.5).collect()
    }
    # fragment's fingerprints are a subset of the full doc's -> containment 1.0
    assert out.get((2, 1)) == 1.0
    # the full doc is NOT contained in the fragment at threshold 0.5
    assert (1, 2) not in out
    assert all(k[0] != 3 and k[1] != 3 for k in out)


def test_incremental_equals_restricted_selfjoin(spark):
    """minhash_lsh_pairs_between == the combined-corpus self-join
    restricted to cross pairs (same signatures, banding, verify), and it
    never emits old-vs-old pairs."""
    from pyspark.sql import functions as F

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten",
        "red green blue cyan magenta yellow black white grey pink",
    ]
    old = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)] + [(3, texts[0])],  # old dup pair (0,3)
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, texts[0] + " update"), (101, "totally fresh words nothing shared here at all ok")],
        "doc_id long, text string",
    )
    kw = dict(threshold=0.3, hash_mode="sha")
    got = sorted(
        (r.id_new, r.id_old, r.jaccard)
        for r in dd.minhash_lsh_pairs_between(old, new, "doc_id", "text", **kw).collect()
    )
    # parity with the self-join on the union, restricted to cross pairs
    combined = old.unionByName(new)
    ref = sorted(
        (r.id_b, r.id_a, r.jaccard)
        for r in dd.minhash_lsh_pairs(combined, "doc_id", "text", **kw)
        .filter((F.col("id_a") < 100) & (F.col("id_b") >= 100))
        .collect()
    )
    assert got == ref
    # the planted cross near-dup is found against BOTH old copies
    assert {(g[0], g[1]) for g in got} == {(100, 0), (100, 3)}
    # and no old-vs-old pair leaks into the output
    assert all(idn >= 100 > ido for idn, ido, _ in got)


def test_mirror_hosts_detects_planted_mirrors_and_prunes_templates(spark):
    from pyspark.sql import functions as F

    from finetoo_sp_spark.operators.dedup import MAX_HOSTS_PER_SHA, mirror_hosts

    hosts = ["hostA", "hostB", "hostC"] + [f"filler{j}" for j in range(MAX_HOSTS_PER_SHA - 2)]
    mirrors = (
        # hostA and hostB mirror 3 docs; hostC shares nothing
        [("hostA", i, f"shared doc {i}") for i in range(3)]
        + [("hostB", 100 + i, f"shared doc {i}") for i in range(3)]
        + [("hostC", 200, "unique text")]
    )

    def pairs(template_hosts):
        # a blank-page template on each of ``template_hosts``
        rows = mirrors + [(h, 300 + j, "blank") for j, h in enumerate(template_hosts)]
        df = spark.createDataFrame(rows, "host string, doc_id int, text string")
        return mirror_hosts(df, "host", "doc_id", "text", min_shared=1)

    # a sha on MAX_HOSTS_PER_SHA + 1 hosts is pruned: only the 3 mirrored
    # docs pair A-B
    got = {(r["host_a"], r["host_b"]): r["n_shared"] for r in pairs(hosts).collect()}
    assert got == {("hostA", "hostB"): 3}
    # on exactly MAX_HOSTS_PER_SHA hosts the template pairs every two of them
    n = MAX_HOSTS_PER_SHA
    assert pairs(hosts[:n]).count() == n * (n - 1) // 2
