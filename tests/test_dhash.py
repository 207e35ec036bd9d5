"""Image perceptual hash (dHash): planted near-dup recall, brightness
invariance, banding-vs-bruteforce equivalence, undecodable skip."""

from __future__ import annotations

import numpy as np
import pytest

from finetoo_sp_spark.codecs.png import encode_png
from finetoo_sp_spark.datagen import gen_assets, gen_dhash_pandas
from finetoo_sp_spark.multimodal import dhash_pairs, image_dhash


@pytest.fixture(scope="module")
def hashes(spark):
    df = image_dhash(gen_assets(spark, gen_dhash_pandas, 80)).cache()
    df.count()
    return df


def test_planted_neardups_found(spark, hashes):
    """Every (i, i+40) brightness-shift pair must be recovered by the
    banded pair join at max_hamming=10."""
    got = {(r.id_a, r.id_b) for r in dhash_pairs(hashes, max_hamming=10).collect()}
    planted = {(i, i + 40) for i in range(40)}
    assert planted <= got
    vals = {r.asset_id: r.dhash for r in hashes.collect()}
    for a, b in got:
        d = bin((vals[a] ^ vals[b]) & (2**64 - 1)).count("1")
        assert d <= 10, (a, b, d)


def test_banding_equals_bruteforce(hashes):
    """The pigeonhole-banded join returns EXACTLY the brute-force
    all-pairs Hamming result (completeness, not just precision)."""
    vals = {r.asset_id: r.dhash for r in hashes.collect()}
    import itertools

    brute = {
        (a, b)
        for a, b in itertools.combinations(sorted(vals), 2)
        if bin((vals[a] ^ vals[b]) & (2**64 - 1)).count("1") <= 10
    }
    got = {(r.id_a, r.id_b) for r in dhash_pairs(hashes, max_hamming=10).collect()}
    assert got == brute


def test_brightness_shift_invariance(spark):
    """A constant luma offset with no mod-256 wraps leaves the dHash
    exactly unchanged — the property that makes dHash a near-dup key."""
    r = np.arange(12)[:, None, None]
    c = np.arange(16)[None, :, None]
    base = (40 + 3 * r * r + 2 * c * c + r * c) % 120  # all values < 120
    img_a = np.repeat(base, 3, axis=2).astype(np.uint8)
    img_b = (img_a + 60).astype(np.uint8)  # +60 keeps max < 180: no wrap
    df = spark.createDataFrame(
        [(0, bytearray(encode_png(img_a))), (1, bytearray(encode_png(img_b)))],
        "asset_id long, payload binary",
    )
    a, b = [r.dhash for r in image_dhash(df).orderBy("asset_id").collect()]
    assert a == b


def test_undecodable_payload_skipped(spark):
    df = spark.createDataFrame(
        [(0, bytearray(b"not an image at all"))], "asset_id long, payload binary"
    )
    assert image_dhash(df).count() == 0
