"""RRF fusion vs a hand-computed expectation."""

from finetoo_sp_spark.operators.fusion import SCALE, rrf_fuse


def test_rrf_hand_computed(spark):
    # Signal A ranks 1,2,3 by value; signal B is discordant; doc 2 and
    # doc 3 TIE on B, so the id tiebreak decides (2 before 3).
    rows = [(1, 30, 5), (2, 20, 9), (3, 10, 9)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    got = {
        r["id"]: (r["rank_a"], r["rank_b"], r["rrf_fp"])
        for r in rrf_fuse(df, "id", {"a": "a", "b": "b"}).collect()
    }
    exp_ranks = {1: (1, 3), 2: (2, 1), 3: (3, 2)}
    for i, (ra, rb) in exp_ranks.items():
        assert got[i][:2] == (ra, rb)
        assert got[i][2] == SCALE // (60 + ra) + SCALE // (60 + rb)
    # Discordant signals: the fused order differs from each input's.
    order = sorted(got, key=lambda i: -got[i][2])
    assert order[0] == 2  # rank sum 3 beats doc 1's rank sum 4
