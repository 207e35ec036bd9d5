"""Product quantization + IVF-PQ (operators/pq.py): invariants a twin
can check without Spark-free reimplementation — code ranges, ADC
monotonicity vs exact distance, recall bounds, and planted-cluster
behavior where PQ should be near-perfect."""

from __future__ import annotations

import numpy as np
import pytest

from finetoo_sp_spark.operators.pq import (
    TOP_K,
    ann_ivf_pq_topk,
    ivf_pq_recall,
    pq_assign,
    pq_codes,
    pq_train,
)


def _planted(spark, n=80, dims=16, k=4, spread=0.01):
    """k tight clusters far apart: ids i belong to cluster i % k; the
    within-cluster jitter is deterministic and tiny vs the separation."""
    rows = []
    for i in range(n):
        c = i % k
        base = np.zeros(dims)
        base[c * (dims // k) : (c + 1) * (dims // k)] = 10.0
        jit = np.array(
            [((i * 31 + d * 17) % 7 - 3) * spread for d in range(dims)]
        )
        rows.append((i, (base + jit).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_codes_shape_and_determinism(spark):
    emb = _planted(spark, n=40)
    got1 = {r["id"]: r["code_str"] for r in pq_codes(emb).collect()}
    got2 = {
        r["id"]: r["code_str"]
        for r in pq_codes(emb.repartition(7)).collect()
    }
    assert got1 == got2  # partitioning-invariant
    assert set(got1) == set(range(40))
    for cs in got1.values():
        parts = cs.split(",")
        assert len(parts) == 4
        assert all(0 <= int(p) < 4 for p in parts)


def test_planted_clusters_recover_per_subspace(spark):
    """Subspace s separates cluster-s members (10s there) from everyone
    else (~0 there): every cluster-s vector shares the subspace-s code
    of its seed, and no other vector gets that code. (Non-members may
    scatter across the near-zero centroids — jitter decides — so full
    codes are NOT expected to match.)"""
    emb = _planted(spark, n=40, k=4)
    cb = pq_train(emb)
    codes = {r["id"]: tuple(r[f"c{i}"] for i in range(4))
             for r in pq_assign(emb, cb).collect()}
    for s in range(4):
        hot = codes[s][s]  # the seed of cluster s, in its hot subspace
        for i in range(40):
            if i % 4 == s:
                assert codes[i][s] == hot, (i, s, codes[i], hot)
            else:
                assert codes[i][s] != hot, (i, s, codes[i], hot)


def test_ivf_pq_topk_on_planted_clusters(spark):
    """Neighbors of a planted query are its own cluster: with TOP_K + 1
    members per cluster, IVF-PQ top-k must be exactly the TOP_K other
    members (ADC distance 0 within the cluster, huge across)."""
    n = 4 * (TOP_K + 1)
    emb = _planted(spark, n=n, k=4)
    got = ann_ivf_pq_topk(emb, [0, 1]).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert sorted(by_q[0]) == [i for i in range(4, n, 4)]
    assert sorted(by_q[1]) == [i for i in range(5, n, 4)]


def test_recall_is_perfect_on_planted_clusters(spark):
    emb = _planted(spark, n=4 * (TOP_K + 1), k=4)
    got = {r["query_id"]: (r["n_hits"], r["k"])
           for r in ivf_pq_recall(emb, [0, 1, 2]).collect()}
    assert got == {q: (TOP_K, TOP_K) for q in (0, 1, 2)}


def test_dims_not_divisible_raises(spark):
    emb = _planted(spark, n=8, dims=18, k=2)
    with pytest.raises(ValueError, match="divisible"):
        pq_train(emb)
