"""Frontier politeness scheduling: hand-derived slot assignments."""

from finetoo_sp_spark.operators.frontier import frontier_schedule


def test_frontier_schedule_hand_case(spark):
    frontier = spark.createDataFrame(
        [
            # host a: delay 5, priorities force order c(9) -> a(3) -> b(3)
            ("http://a/c", "a", 9),
            ("http://a/a", "a", 3),
            ("http://a/b", "a", 3),
            # host b: no delay row -> DEFAULT_DELAY_S (1)
            ("http://b/x", "b", 1),
            ("http://b/y", "b", 7),
        ],
        ["url", "host", "priority"],
    )
    delays = spark.createDataFrame([("a", 5)], ["host", "delay_s"])
    out = {
        r["url"]: r.asDict()
        for r in frontier_schedule(frontier, delays, budget_s=6).collect()
    }
    # host a: rank by (priority desc, url asc): c, a, b at t = 0, 5, 10
    assert (out["http://a/c"]["rank_in_host"], out["http://a/c"]["scheduled_t_s"]) == (1, 0)
    assert (out["http://a/a"]["rank_in_host"], out["http://a/a"]["scheduled_t_s"]) == (2, 5)
    assert (out["http://a/b"]["rank_in_host"], out["http://a/b"]["scheduled_t_s"]) == (3, 10)
    # host b: default delay 1; y (priority 7) first
    assert (out["http://b/y"]["scheduled_t_s"], out["http://b/y"]["delay_s"]) == (0, 1)
    assert (out["http://b/x"]["scheduled_t_s"], out["http://b/x"]["delay_s"]) == (1, 1)
    # budget 6: a/b at t=10 misses; everything else fits
    assert out["http://a/b"]["within_budget"] is False
    for u in ("http://a/c", "http://a/a", "http://b/x", "http://b/y"):
        assert out[u]["within_budget"] is True


def test_frontier_schedule_no_budget_column(spark):
    frontier = spark.createDataFrame([("u", "h", 1)], ["url", "host", "priority"])
    delays = spark.createDataFrame([], "host string, delay_s long")
    out = frontier_schedule(frontier, delays)
    assert "within_budget" not in out.columns
    row = out.collect()[0]
    assert row["delay_s"] == 1 and row["scheduled_t_s"] == 0
