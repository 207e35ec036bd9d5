"""Temperature mixing planner: the alpha = 1/2 flattening property."""

import math

from finetoo_sp_spark.operators.packing import MIX_BUDGET_DOCS, temperature_mix


def _corpus(spark):
    # Head source 10x the tail: a (400 docs), b (100), c (4).
    rows = (
        [(i, "a") for i in range(400)]
        + [(400 + i, "b") for i in range(100)]
        + [(500 + i, "c") for i in range(4)]
    )
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_alpha_half_flattens_head_tail_ratio(spark):
    df = _corpus(spark)
    out = {
        r["source"]: r
        for r in temperature_mix(df, "doc_id", "source").collect()
    }
    # weight_fp = floor(sqrt(n) * 10000), exactly.
    for s, n in (("a", 400), ("b", 100), ("c", 4)):
        assert out[s]["weight_fp"] == math.floor(math.sqrt(n) * 10000)
        assert out[s]["n_docs"] == n
    # Natural head:tail ratio would be 100:1; sqrt makes weights 10:1
    # exactly, quotas 10:1 up to integer flooring.
    assert out["a"]["weight_fp"] == 10 * out["c"]["weight_fp"]
    assert out["a"]["quota_docs"] // out["c"]["quota_docs"] == 10
    # Quotas never exceed budget; sampled counts never exceed n_docs.
    assert sum(r["quota_docs"] for r in out.values()) <= MIX_BUDGET_DOCS
    for r in out.values():
        assert 0 <= r["sampled_docs"] <= r["n_docs"]
        assert r["rate_ppm"] <= 1_000_000
