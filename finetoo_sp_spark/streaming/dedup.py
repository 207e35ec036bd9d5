"""Streaming cross-batch exact deduplication with a bounded-memory
Bloom tier.

Training-data ingest wants dedup AS the data arrives, not as a later
batch pass: a page recrawled in micro-batch 40 must be dropped because
its content hash was first seen in micro-batch 3. Structured Streaming's
built-in dropDuplicates needs watermark-bounded state; content-hash
dedup has no event-time bound, so this is a custom stateful operator
(``applyInPandasWithState`` — the same escape hatch as
streaming/stateful.py).

Sharding: state is keyed on ``shard = hash(content_sha) % n_shards`` so
the seen-set distributes evenly across tasks (content hashes are
uniform — no hot shard possible).

Two-tier state, both bounded:

* **exact tier** — while a shard has seen <= ``state_cap`` distinct
  hashes, the state row holds the sorted array of seen hashes and the
  filter is exact (zero false drops, zero false passes).
* **bloom tier** — the first time a shard exceeds ``state_cap`` the
  whole seen-set is folded into a SCALABLE Bloom filter (Almeida et
  al. 2007, "Scalable Bloom Filters"): a list of layers, each with
  ``k_hashes`` deterministic hash functions (disjoint 48-bit slices of
  the sha256 hex digest — no RNG, byte-stable across runs). Inserts go
  to the newest layer; membership is "any layer contains". Layer 0 has
  ``bloom_bits`` bits; each layer accepts inserts until its
  false-positive rate would cross ``fp_budget`` (capacity
  ``-ln(1 - fp_budget^(1/k))/k * m_i`` hashes), then a fresh layer
  ``growth``x larger is appended. Duplicates are still always dropped
  (no layer has false negatives), and the false-DROP rate for novel
  pages stays bounded by ``layers * fp_budget`` no matter how many
  hashes a shard absorbs — at the defaults (m0 = 2^23, k = 5,
  fp_budget = 8e-4, growth = 2) a shard that has absorbed TEN million
  hashes sits at 5 layers / 31 MiB and a worst-case ~0.4% false-drop
  (vs ~1.8% at 1M and unbounded growth for the old fixed filter).
  Memory grows O(log) in distinct hashes; a deployment that can't
  afford tens of MiB per shard should raise ``n_shards`` (state is
  hash-sharded, so layers split evenly) or plug external state.
  Each output row carries its ``tier`` so degraded operation is
  observable downstream, and ``n_seen`` in the state row keeps the
  true distinct count for metrics.

Determinism: each micro-batch is concatenated across Arrow chunks
before deduplicating, so the within-batch survivor for a hash is the
min url over the WHOLE batch (a pure function of the batch multiset,
matching the batch path's min-id rule). Bloom insertion is bitwise OR —
order-independent — so the bloom-tier state is equally a pure function
of the hash set.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [
        StructField("seen", ArrayType(StringType())),
        StructField("blooms", ArrayType(BinaryType())),  # scalable layers, oldest first
        StructField("n_active", LongType()),  # inserts into the newest layer
        StructField("n_seen", LongType()),
    ]
)

OUT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("content_sha", StringType()),
        StructField("shard", IntegerType()),
        StructField("tier", StringType()),
    ]
)

DEFAULT_STATE_CAP = 200_000
DEFAULT_BLOOM_BITS = 1 << 23  # 1 MiB layer 0 in the bloom tier
DEFAULT_K_HASHES = 5
DEFAULT_FP_BUDGET = 8e-4  # per-layer false-positive budget
DEFAULT_GROWTH = 2  # layer-size growth factor

# hex char -> nibble value lookup (ascii-indexed), for the vectorized
# digest slicer; invalid chars map to 0 (digests are always valid hex)
_HEX_LUT = np.zeros(128, dtype=np.int64)
for _c in b"0123456789":
    _HEX_LUT[_c] = _c - ord("0")
for _c in b"abcdef":
    _HEX_LUT[_c] = _c - ord("a") + 10
for _c in b"ABCDEF":
    _HEX_LUT[_c] = _c - ord("A") + 10
_POW16 = (16 ** np.arange(11, -1, -1, dtype=np.int64))  # 12-nibble weights


def _bloom_slices(shas, k: int) -> np.ndarray:
    """(n, k) raw 48-bit values per sha256 hex digest: disjoint
    12-hex-char slices, k<=5 uses 60 of the 64 chars. Fully vectorized
    (one LUT gather + k small matmuls — this runs per micro-batch in
    the streaming hot path); no RNG, byte-stable across runs."""
    n = len(shas)
    if n == 0:
        return np.zeros((0, k), dtype=np.int64)
    b = np.frombuffer("".join(shas).encode("ascii"), dtype=np.uint8).reshape(n, 64)
    nib = _HEX_LUT[b & 0x7F]
    out = np.empty((n, k), dtype=np.int64)
    for i in range(k):
        out[:, i] = nib[:, i * 12 : (i + 1) * 12] @ _POW16
    return out


def _bloom_indexes(shas, bloom_bits: int, k: int) -> np.ndarray:
    """k deterministic bit positions per digest (slices mod m)."""
    return _bloom_slices(shas, k) % bloom_bits


def _bloom_add(bloom: np.ndarray, shas, bloom_bits: int, k: int) -> None:
    if not len(shas):
        return
    idx = _bloom_indexes(shas, bloom_bits, k).ravel()
    np.bitwise_or.at(bloom, idx >> 3, (1 << (idx & 7)).astype(np.uint8))


def _bloom_contains(bloom: np.ndarray, shas, bloom_bits: int, k: int) -> np.ndarray:
    if not len(shas):
        return np.zeros(0, dtype=bool)
    idx = _bloom_indexes(shas, bloom_bits, k)
    bits = (bloom[idx >> 3] >> (idx & 7)) & 1
    return bits.all(axis=1)


def _layer_capacity(m_bits: int, k: int, fp_budget: float) -> int:
    """Inserts a layer of m_bits accepts before its false-positive rate
    (1 - exp(-k*n/m))^k crosses fp_budget."""
    fill = -np.log(1.0 - fp_budget ** (1.0 / k)) / k
    return max(1, int(m_bits * fill))


def _layers_contain(blooms: list[np.ndarray], shas, k: int) -> np.ndarray:
    """Membership across all layers (any layer claims it); the raw
    48-bit slices are computed once and reduced mod each layer size."""
    if not len(shas):
        return np.zeros(0, dtype=bool)
    raw = _bloom_slices(shas, k)
    hit = np.zeros(len(shas), dtype=bool)
    for bloom in blooms:
        idx = raw % (len(bloom) * 8)
        hit |= (((bloom[idx >> 3] >> (idx & 7)) & 1).all(axis=1))
    return hit


def _make_dedup_group(
    state_cap: int = DEFAULT_STATE_CAP,
    bloom_bits: int = DEFAULT_BLOOM_BITS,
    k_hashes: int = DEFAULT_K_HASHES,
    fp_budget: float = DEFAULT_FP_BUDGET,
    growth: int = DEFAULT_GROWTH,
):
    def _dedup_group(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            seen_list, bloom_list, n_active, n_seen = state.get
            seen = set(seen_list) if seen_list else set()
            blooms = [
                np.frombuffer(b, dtype=np.uint8).copy() for b in (bloom_list or [])
            ]
            n_active = int(n_active or 0)
            n_seen = int(n_seen or 0)
        else:
            seen, blooms, n_active, n_seen = set(), [], 0, 0

        def active_cap() -> int:
            return _layer_capacity(len(blooms[-1]) * 8, k_hashes, fp_budget)

        # one frame per micro-batch: the min-url survivor rule must see
        # the whole batch, not one Arrow chunk at a time
        chunks = [p for p in pdfs if not p.empty]
        if chunks:
            batch = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            batch = batch.sort_values(
                ["content_sha", "url"], kind="mergesort"
            ).drop_duplicates("content_sha")

            if not blooms:
                fresh = batch[~batch["content_sha"].isin(seen)]
                if len(fresh):
                    seen.update(fresh["content_sha"])
                    n_seen += len(fresh)
                    yield fresh[["url", "content_sha", "shard"]].assign(tier="exact")
                if len(seen) > state_cap:
                    # tier migration: fold the exact set into layer 0,
                    # drop the array — memory is O(log n_seen) from here
                    blooms = [np.zeros(bloom_bits // 8, dtype=np.uint8)]
                    m0 = len(blooms[0]) * 8
                    _bloom_add(blooms[0], sorted(seen), m0, k_hashes)
                    n_active = len(seen)
                    seen = set()
            else:
                novel = ~_layers_contain(blooms, batch["content_sha"].tolist(), k_hashes)
                fresh = batch[novel]
                if len(fresh):
                    m_act = len(blooms[-1]) * 8
                    _bloom_add(blooms[-1], fresh["content_sha"].tolist(), m_act, k_hashes)
                    n_active += len(fresh)
                    n_seen += len(fresh)
                    yield fresh[["url", "content_sha", "shard"]].assign(tier="bloom")
            # scalable growth: the active layer is at its fp-budget
            # capacity (at most one micro-batch of overshoot) — freeze
            # it and open a fresh, `growth`x larger layer
            if blooms and n_active >= active_cap():
                blooms.append(np.zeros(len(blooms[-1]) * growth, dtype=np.uint8))
                n_active = 0

        state.update(
            (
                sorted(seen),  # sorted: byte-stable state rows
                [b.tobytes() for b in blooms],
                n_active,
                n_seen,
            )
        )

    return _dedup_group


def stream_exact_dedup(
    pages_stream: DataFrame,
    n_shards: int = 64,
) -> DataFrame:
    """First-seen filter over a pages stream: emits (url, content_sha,
    shard, tier) for pages whose content hash has not appeared in ANY
    earlier micro-batch (nor earlier in this one). ``tier`` is 'exact'
    while the shard's state is below ``DEFAULT_STATE_CAP`` distinct hashes
    and 'bloom' after it migrates to the scalable Bloom layers (see module
    docstring for the layers*fp_budget false-drop bound)."""
    keyed = pages_stream.select(
        "url", F.sha2(F.col("text"), 256).alias("content_sha")
    ).withColumn("shard", F.pmod(F.xxhash64("content_sha"), F.lit(n_shards)).cast("int"))
    return keyed.groupBy("shard").applyInPandasWithState(
        _make_dedup_group(),
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
