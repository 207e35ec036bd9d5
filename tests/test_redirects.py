"""Redirect resolution by pointer jumping: hand-built chains/cycles."""

from finetoo_sp_spark.operators.redirects import MAX_ROUNDS, resolve_redirects


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {
        r["url"]: (r["final_url"], r["hops"], r["is_loop"])
        for r in resolve_redirects(df).collect()
    }


def test_chains_cycles_and_feeders(spark):
    # 10-hop chain c0->...->c10, a 3-cycle, and a feeder into the cycle.
    edges = [(f"c{i}", f"c{i + 1}") for i in range(10)]
    edges += [("x", "y"), ("y", "z"), ("z", "x"), ("feeder", "x")]
    got = _run(spark, edges)
    for i in range(10):
        assert got[f"c{i}"] == ("c10", 10 - i, False)
    for n in ("x", "y", "z", "feeder"):
        assert got[n] == (None, None, True)
    assert "c10" not in got  # terminals have no row: they're not sources


def test_exact_power_of_two_boundary(spark):
    # MAX_ROUNDS rounds resolve chains up to 2**MAX_ROUNDS hops; one hop
    # more is (documented) flagged as unresolved/loop at that budget.
    n = 2**MAX_ROUNDS + 1
    edges = [(f"n{i}", f"n{i + 1}") for i in range(n)]
    got = _run(spark, edges)
    assert got["n1"] == (f"n{n}", n - 1, False)  # exactly 2**MAX_ROUNDS hops: resolved
    assert got["n0"] == (None, None, True)  # one hop over budget


def test_self_loop_and_duplicate_edges(spark):
    # A self-redirect is a 1-cycle; duplicate (src, dst) rows collapse
    # (dropDuplicates on src keeps the relation a function).
    edges = [("s", "s"), ("a", "b"), ("a", "b")]
    got = _run(spark, edges)
    assert got["s"] == (None, None, True)
    assert got["a"] == ("b", 1, False)
