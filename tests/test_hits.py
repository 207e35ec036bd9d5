"""HITS fixed-point operator vs an independent pure-Python twin.

The twin implements the same spec (integer fixed point, L-infinity
max-normalization per half-round, duplicate-edge collapse) from the
docstring alone — dict arithmetic, no Spark — so a bug in the Spark
plan can't propagate into the expectation.
"""

from finetoo_sp_spark.operators.hits import ROUNDS, SCALE, hits_fixed_point


def _hits_twin(edges):
    edges = sorted(set(edges))
    nodes = sorted({u for e in edges for u in e})
    hub = {n: SCALE for n in nodes}
    auth = {}

    def half(scores, fwd):
        raw = {}
        for s, d in edges:
            frm, to = (s, d) if fwd else (d, s)
            if frm in scores:
                raw[to] = raw.get(to, 0) + scores[frm]
        m = max(raw.values()) if raw else 1
        return {n: (raw.get(n, 0) * SCALE) // m for n in nodes}

    for _ in range(ROUNDS):
        auth = half(hub, fwd=True)
        hub = half(auth, fwd=False)
    return {n: (hub[n], auth[n]) for n in nodes}


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    rows = hits_fixed_point(df).collect()
    return {r["id"]: (r["hub_fp"], r["auth_fp"]) for r in rows}


def test_hits_matches_twin_on_portal_graph(spark):
    # Portal page h0 links everywhere (pure hub); a0 is linked from
    # everywhere (pure authority); m* are mixed; one duplicate edge.
    edges = [
        ("h0", "a0"), ("h0", "m1"), ("h0", "m2"), ("h0", "a0"),
        ("m1", "a0"), ("m2", "a0"), ("m1", "m2"),
    ]
    got = _run(spark, edges)
    assert got == _hits_twin(edges)
    # Structural sanity: the portal is the max hub, a0 the max authority,
    # and pure-sink a0 has zero hub score.
    assert got["h0"][0] == SCALE
    assert got["a0"][1] == SCALE
    assert got["a0"][0] == 0


def test_hits_matches_twin_on_two_components(spark):
    # Two disconnected clusters plus a self-loop; normalization is
    # GLOBAL max (spec), so the smaller component scales below SCALE.
    edges = [
        ("p1", "q"), ("p2", "q"), ("p3", "q"),
        ("x", "y"), ("y", "x"), ("z", "z"),
    ]
    assert _run(spark, edges) == _hits_twin(edges)
