"""Property-based checks for the round-2 join operators.

asof_join and range_join are verified against brute-force Python
references on randomized small inputs (hypothesis), and the
order-sensitive outputs (binder hash, canonical choice) are checked for
partition-order independence — the E3 determinism discipline.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

BASE = datetime(2025, 1, 1)


def _ts(s: int) -> datetime:
    return BASE + timedelta(seconds=int(s))


@pytest.fixture(scope="module")
def sp(spark):
    return spark


rows_left = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=12
)
rows_right = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 9)),
    min_size=0,
    max_size=12,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=rows_left, right=rows_right)
def test_asof_join_matches_bruteforce(sp, left, right):
    from finetoo_sp_spark.operators.asof import asof_join

    ldf = sp.createDataFrame(
        [(k, _ts(t), i) for i, (k, t) in enumerate(left)], ["k", "t", "rid"]
    )
    rdf = sp.createDataFrame(
        [(k, _ts(t), float(v)) for (k, t, v) in right] or [(99, _ts(0), 0.0)],
        ["k", "t", "v"],
    )
    if not right:
        rdf = rdf.filter(F.col("k") < 0)  # empty right side
    out = {r["rid"]: r["asof_v"] for r in asof_join(ldf, rdf, "k", "t", "v").collect()}

    # brute-force reference: dedup right per (k, t) keeping max v, then
    # most-recent-prior-or-equal per left row
    dedup: dict[tuple[int, int], float] = {}
    for k, t, v in right:
        dedup[(k, t)] = max(dedup.get((k, t), float("-inf")), float(v))
    for i, (k, t) in enumerate(left):
        cands = [(t2, v) for (k2, t2), v in dedup.items() if k2 == k and t2 <= t]
        expect = max(cands)[1] if cands else None
        assert out[i] == expect, (i, k, t, cands)
    assert len(out) == len(left)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    points=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 400)), min_size=1, max_size=10),
    ivals=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 400), st.integers(1, 200)),
        min_size=0,
        max_size=6,
    ),
)
def test_range_join_matches_bruteforce(sp, points, ivals):
    from finetoo_sp_spark.operators.asof import RANGE_BUCKET_SECONDS, range_join

    # time unit: 1/60 of a bucket, so intervals span up to ~7 buckets
    u = RANGE_BUCKET_SECONDS // 60
    ldf = sp.createDataFrame(
        [(k, _ts(t * u), i) for i, (k, t) in enumerate(points)], ["k", "t", "pid"]
    )
    rdf = sp.createDataFrame(
        [(k, _ts(s * u), _ts((s + d) * u), j) for j, (k, s, d) in enumerate(ivals)]
        or [(99, _ts(0), _ts(1), 0)],
        ["k", "s", "e", "iid"],
    )
    if not ivals:
        rdf = rdf.filter(F.col("k") < 0)
    got = {
        (r["pid"], r["iid"])
        for r in range_join(
            ldf, rdf, point_col="t", start_col="s", end_col="e", by="k"
        ).collect()
    }
    expect = {
        (i, j)
        for i, (k, t) in enumerate(points)
        for j, (k2, s, d) in enumerate(ivals)
        if k == k2 and s <= t < s + d
    }
    assert got == expect


def test_binder_and_canonical_partition_order_independent(spark, sf_dir):
    from finetoo_sp_spark.contract import queries

    for name in ("binder_manifest", "block_canonical"):
        fn = queries()[name]
        base = {tuple(r) for r in fn(spark, sf_dir).collect()}
        # different physical layout: same values must come out
        again = {tuple(r) for r in fn(spark, sf_dir).repartition(13).collect()}
        assert base == again and base
