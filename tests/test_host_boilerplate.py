"""Per-host line-frequency boilerplate strip: hand-built corpus."""

from finetoo_sp_spark.operators.dedup import host_boilerplate_strip


def _run(spark, rows):
    df = spark.createDataFrame(rows, "id long, host string, text string")
    out = host_boilerplate_strip(df, "id", "host", "text")
    return {r["id"]: (r["text"], r["n_removed"]) for r in out.collect()}


def test_ratio_rule_and_order(spark):
    # Host A: 4 docs, banner on all 4 (100% -> strip), promo on 2 of 4
    # (50% -> strip at the default 50% threshold), bodies unique.
    rows = [
        (i, "a", f"BANNER\nbody {i}" + ("\npromo" if i < 2 else ""))
        for i in range(4)
    ]
    got = _run(spark, rows)
    assert got[0] == ("body 0", 2)
    assert got[1] == ("body 1", 2)
    assert got[2] == ("body 2", 1)
    assert got[3] == ("body 3", 1)


def test_small_hosts_keep_everything(spark):
    # Host B has 2 docs (< min_host_docs=3): even a 100% line survives.
    rows = [(i, "b", f"BANNER\nbody {i}") for i in range(2)]
    got = _run(spark, rows)
    assert got[0] == ("BANNER\nbody 0", 0)
    assert got[1] == ("BANNER\nbody 1", 0)


def test_hosts_are_independent(spark):
    # The same line saturates host A but appears once on host B:
    # stripped from A's pages, kept on B's (global line_dedup would
    # have removed it everywhere).
    rows = [(i, "a", "SHARED\nbody a" + str(i)) for i in range(3)]
    rows += [(10 + i, "b", f"SHARED\nbody b{i}" if i == 0 else f"other\nbody b{i}") for i in range(3)]
    got = _run(spark, rows)
    for i in range(3):
        assert got[i] == (f"body a{i}", 1)
    assert got[10] == ("SHARED\nbody b0", 0)
    # 'other' is on 2 of host B's 3 docs (67% >= 50%) -> stripped there.
    assert got[11] == ("body b1", 1)
    assert got[12] == ("body b2", 1)


def test_duplicate_line_within_one_doc_counts_once(spark):
    # Doc 0 repeats 'x' three times; doc frequency on the host is still
    # 1 of 3 (33% < 50%) -> kept, all three occurrences, in order.
    rows = [(0, "a", "x\nmid\nx\nx"), (1, "a", "b1 one"), (2, "a", "b2 two")]
    got = _run(spark, rows)
    assert got[0] == ("x\nmid\nx\nx", 0)


def test_null_text_docs_pass_through_not_dropped(spark):
    # F.split(NULL) is NULL and posexplode would DROP the row; the
    # operator must keep the doc id and return ('', 0) instead.
    rows = [(i, "a", f"BANNER\nbody {i}") for i in range(3)]
    df = spark.createDataFrame(
        rows + [(99, "a", None)], "id long, host string, text string"
    )
    out = host_boilerplate_strip(df, "id", "host", "text")
    got = {r["id"]: (r["text"], r["n_removed"]) for r in out.collect()}
    assert set(got) == {0, 1, 2, 99}
    assert got[99] == ("", 0)
    for i in range(3):
        assert got[i] == (f"body {i}", 1)
