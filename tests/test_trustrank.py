"""Seeded pagerank_fixed_point (TrustRank) vs an independent pure-Python
twin, plus the spam-demotion property the seeds exist for."""

from finetoo_sp_spark.operators.pagerank import (
    DAMP_NUM,
    ROUNDS,
    SCALE,
    pagerank_fixed_point,
)


def _twin(edges, seeds):
    edges = sorted(set(edges))
    nodes = sorted({u for e in edges for u in e})
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    base_unit = (100 - DAMP_NUM) * SCALE // 100
    base = {n: (base_unit if n in seeds else 0) for n in nodes}
    trust = {n: (base[n] * 100) // (100 - DAMP_NUM) for n in nodes}
    for _ in range(ROUNDS):
        s = {}
        for u, v in edges:
            s[v] = s.get(v, 0) + trust[u] // deg[u]
        trust = {n: base[n] + (DAMP_NUM * s.get(n, 0)) // 100 for n in nodes}
    return trust


def _run(spark, edges, seeds=None):
    e = spark.createDataFrame(edges, "src string, dst string")
    s = None if seeds is None else spark.createDataFrame([(x,) for x in seeds], "id string")
    return {r["id"]: r["rank_fp"] for r in pagerank_fixed_point(e, s).collect()}


def test_trustrank_matches_twin(spark):
    edges = [
        ("good", "a"), ("good", "b"), ("a", "b"), ("b", "a"),
        ("spam1", "spam2"), ("spam2", "spam1"), ("spam1", "a"),
        ("good", "a"),  # duplicate edge collapses
    ]
    seeds = {"good"}
    assert _run(spark, edges, seeds) == _twin(edges, seeds)


def test_pagerank_is_trustrank_with_every_node_seeded(spark):
    """Without seeds every node is one: round 0 is SCALE everywhere."""
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    nodes = {u for e in edges for u in e}
    assert (100 - DAMP_NUM) * SCALE // 100 * 100 // (100 - DAMP_NUM) == SCALE
    assert _run(spark, edges) == _run(spark, edges, nodes) == _twin(edges, nodes)


def test_trustrank_demotes_spam_farm(spark):
    # A link farm pumping each other's PageRank gets ~zero trust when
    # no seed path reaches it; the seed neighborhood keeps trust.
    edges = (
        [("seed", f"p{i}") for i in range(3)]
        + [(f"p{i}", f"p{(i + 1) % 3}") for i in range(3)]
        + [(f"farm{i}", f"farm{j}") for i in range(4) for j in range(4) if i != j]
    )
    got = _run(spark, edges, {"seed"})
    assert got == _twin(edges, {"seed"})
    assert all(got[f"farm{i}"] == 0 for i in range(4))
    assert min(got[f"p{i}"] for i in range(3)) > 0
    # Seeds absent from the graph contribute nothing and don't crash.
    assert _run(spark, edges, {"seed", "not-in-graph"}) == got
