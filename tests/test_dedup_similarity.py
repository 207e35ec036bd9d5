"""Tests for dedup / similarity / textstats / windows / multimodal ops.

Small hand-built frames with hand-computable expectations, plus
determinism checks (same input, different partitioning -> same output).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finetoo_sp_spark.operators import dedup as dd
from finetoo_sp_spark.operators import similarity as sim
from finetoo_sp_spark.operators import textstats as ts
from finetoo_sp_spark.operators import windows as ev


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the sleepy dog"),  # near dup of 1
        (4, "completely different content about spark engines and shuffles"),
        (5, "spark engines and shuffles are completely different content about"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    out = {r["keep_id"]: r["n_copies"] for r in dd.exact_dedup(docs, "doc_id", "text").collect()}
    assert out[1] == 2  # docs 1,2 collapse; survivor = min id
    assert out[3] == 1 and out[4] == 1 and out[5] == 1
    assert 2 not in out


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "only two")], ["doc_id", "text"])
    sh = dd.shingles(df, "doc_id", "text", n=3).collect()
    assert [r["shingle"] for r in sh] == ["only two"]  # clamped slice


def test_ngram_jaccard_exact_pair(docs):
    pairs = dd.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(1, 2)] == 1.0  # identical docs
    assert (1, 3) in got  # near dup: shares most shingles
    assert all(j <= 1.0 for j in got.values())


def test_ngram_jaccard_leaves_nothing_cached(spark, docs):
    """The operator pins no cache: once its result is collected, the
    session's cache manager holds nothing (a pinned .cache() would stay
    until session end and re-warn on every later call)."""
    spark.catalog.clearCache()
    dd.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_minhash_contains_exact_dups(docs):
    pairs = dd.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # identical signature -> every band collides


def test_minhash_jaccard_matches_exact(docs):
    """Verified jaccard values must equal the exact-pair computation."""
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.1).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.1).collect()
    }
    for k, v in lsh.items():
        assert exact[k] == v


def test_simhash_deterministic_and_dup_sensitive(docs):
    fp1 = {r["id"]: r["simhash"] for r in dd.simhash(docs, "doc_id", "text").collect()}
    fp2 = {
        r["id"]: r["simhash"]
        for r in dd.simhash(docs.repartition(5), "doc_id", "text").collect()
    }
    assert fp1 == fp2  # partition-order independence
    assert fp1[1] == fp1[2]  # identical docs -> identical fingerprint
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             dd.simhash_pairs(docs, "doc_id", "text").collect()}
    assert pairs.get((1, 2)) == 0


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),     # opposite
        (4, [0.7, 0.7, 0.0, 0.0]),      # 45 degrees
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )


def test_embedding_near_dup(emb):
    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in
             dd.embedding_near_dup_pairs(emb).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 2) not in pairs and (0, 3) not in pairs


def test_brute_force_topk(emb):
    out = sim.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=3)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in rows] == [1, 4, 2]  # by cosine desc
    assert rows[0]["cosine"] > 0.99


def test_ann_lsh_same_bucket_only(emb):
    out = sim.ann_lsh_bucketed(emb, emb.filter(F.col("vec_id") == 0))
    got = [r["neighbor_id"] for r in out.collect()]
    # vec 3 ([-1,0,0,0]) hashes to a different sign bucket than vec 0
    assert 3 not in got
    assert 1 in got


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "alpha beta  gamma")], ["doc_id", "text"])
    r = ts.token_counts(df, "doc_id", "text").collect()[0]
    assert r["n_words"] == 3
    assert r["n_chars"] == 17
    assert r["n_tokens_est"] == 5  # ceil(17/4)


def test_quality_scores_keep_thresholds(spark):
    good = "the quick brown fox jumps over the lazy dog again and again today"
    short = "too short"
    df = spark.createDataFrame([(1, good), (2, short)], ["doc_id", "text"])
    out = {r["id"]: r for r in ts.quality_scores(df, "doc_id", "text").collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False  # < 10 words


def test_lang_id_votes(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is big"),
            (2, "der hund ist nicht ein katze und das haus"),
            (3, "xyzzy plugh"),
        ],
        ["doc_id", "text"],
    )
    out = {r["id"]: r["pred_lang"] for r in ts.lang_id(df, "doc_id", "text").collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "und"


def test_winnowing_fingerprints_deterministic(spark, docs):
    a = set(map(tuple, ts.winnowing_fingerprints(docs, "doc_id", "text").collect()))
    b = set(map(tuple, ts.winnowing_fingerprints(docs.repartition(7), "doc_id", "text").collect()))
    assert a == b and len(a) > 0


def test_sessionize_gap(spark):
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, "view"),
        (1, t0 + dt.timedelta(minutes=10), "click"),   # same session
        (1, t0 + dt.timedelta(minutes=50), "view"),    # 40min gap -> new session
        (2, t0, "view"),
    ]
    events = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = ev.session_stats(events)
    got = {(r["user_id"], r["session_id"]): r["n_events"] for r in out.collect()}
    assert got[(1, 1)] == 2 and got[(1, 2)] == 1 and got[(2, 1)] == 1


def test_multimodal_decode_stub_raises():
    """Non-PNG formats (and truncated magics) still hit the documented
    codec-absent seam; full PNGs now decode (test_decode_image_dispatch)."""
    from finetoo_sp_spark.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")  # 4 bytes only — not the 8-byte magic


def test_multiprobe_recall_at_neardup_operating_point(spark):
    """Multi-probe ANN adequacy where it matters: planted near-duplicate
    clusters (cosine >= ~0.95). Theory: P(8-bit sign-bucket hit) ~ 0.43
    per table at theta<=18 deg, ~0.81 for 3 tables — measured recall of
    the planted neighbors must clear 0.75. (On near-random vectors
    recall is ~0.05 by the same formula — see ann_recall_curve; this
    test pins the high-cosine regime.)"""
    import math
    import random

    from finetoo_sp_spark.operators import similarity as sim

    rng = random.Random(7)
    d = 64
    rows = []
    # 40 clusters of 3: a base vector + two small perturbations
    for c in range(40):
        base = [rng.gauss(0, 1) for _ in range(d)]
        n = math.sqrt(sum(x * x for x in base))
        base = [x / n for x in base]
        for m in range(3):
            vec = [x + rng.gauss(0, 0.03) for x in base] if m else list(base)
            rows.append((c * 3 + m, [float(x) for x in vec]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter("vec_id % 3 = 0")  # the 40 cluster bases

    truth = sim.brute_force_topk(emb, queries, k=2).filter("cosine >= 0.9")
    t = truth.select("query_id", "neighbor_id").cache()
    n_truth = t.count()
    assert n_truth >= 60  # ~2 planted neighbors per query survive

    ann = sim.ann_lsh_multiprobe(emb, queries, k=2, n_tables=3).select(
        "query_id", "neighbor_id"
    )
    hits = t.join(ann, ["query_id", "neighbor_id"]).count()
    recall = hits / n_truth
    assert recall >= 0.75, f"near-dup recall {recall:.3f} below design point"


def test_png_codec_roundtrip_all_filters():
    """encode->decode is the identity for every channel count and every
    scanline filter type (the de-filter paths are the decoder's risk)."""
    import numpy as np

    from finetoo_sp_spark.codecs.png import decode_png, encode_png

    rng = np.random.default_rng(42)
    for ch in (1, 2, 3, 4):
        for ft in range(5):
            a = rng.integers(0, 256, (13, 17, ch), dtype=np.uint8)
            assert (decode_png(encode_png(a, filter_type=ft)) == a).all(), (ch, ft)


def test_png_codec_roundtrip_mixed_filters():
    """Per-row mixed filters (what adaptive encoders emit) exercise the
    decoder's run-grouping: Sub rows batch-decoded upfront, Up runs as
    column cumsums, Average/Paeth runs through the diagonal wavefront —
    each run must pick up the decoded row above it regardless of how that
    row was filtered."""
    import numpy as np

    from finetoo_sp_spark.codecs.png import decode_png, encode_png

    rng = np.random.default_rng(7)
    patterns = [
        [0, 1, 2, 3, 4] * 4,                # every-row alternation (runs of 1)
        [4] * 7 + [1] * 6 + [3] * 7,        # long homogeneous runs
        list(rng.integers(0, 5, 20)),       # random per-row choice
    ]
    for ch in (1, 3, 4):
        a = rng.integers(0, 256, (20, 11, ch), dtype=np.uint8)
        for pat in patterns:
            assert (decode_png(encode_png(a, filter_type=pat)) == a).all(), (ch, pat)


def test_png_codec_rejects_corruption():
    import numpy as np
    import pytest as _pytest

    from finetoo_sp_spark.codecs.png import decode_png, encode_png

    good = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    bad = bytearray(good)
    bad[40] ^= 0xFF  # flip a byte inside a chunk -> CRC mismatch
    with _pytest.raises(ValueError):
        decode_png(bytes(bad))
    with _pytest.raises(ValueError):
        decode_png(b"JFIF not a png")


def test_decode_image_dispatch():
    """PNG payloads decode for real; non-PNG still raises (codec absent)."""
    import numpy as np
    import pytest as _pytest

    from finetoo_sp_spark.codecs.png import encode_png
    from finetoo_sp_spark.multimodal import decode_image

    img = (np.arange(4 * 5 * 3) % 256).astype(np.uint8).reshape(4, 5, 3)
    assert (decode_image(encode_png(img, filter_type=4)) == img).all()
    # JPEG / GIF / BMP magics now route to real decoders: malformed data
    # is a ValueError; formats with no decoder stay NotImplementedError
    with _pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg-ish")
    with _pytest.raises(ValueError):
        decode_image(b"GIF87a" + b"\x00" * 16)
    with _pytest.raises(ValueError):
        decode_image(b"BM bitmap not supported")
    with _pytest.raises(NotImplementedError):
        decode_image(b"no known image magic at all")


def test_png_codec_property_roundtrip():
    """Hypothesis: encode->decode is the identity for arbitrary small
    uint8 images across all channel counts and scanline filters."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from finetoo_sp_spark.codecs.png import decode_png, encode_png

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 9),
        w=st.integers(1, 9),
        ch=st.sampled_from([1, 2, 3, 4]),
        ft=st.integers(0, 4),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(h, w, ch, ft, seed):
        rng = np.random.default_rng(seed)
        a = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
        assert (decode_png(encode_png(a, filter_type=ft)) == a).all()

    check()


def test_resize_images_exact(spark):
    """Nearest-neighbor resize: identity resize matches image_stats
    exactly; down- and up-scale sums match a numpy re-derivation of the
    same integer floor rule."""
    import numpy as np

    from finetoo_sp_spark.datagen import gen_assets, gen_image_pandas
    from finetoo_sp_spark.multimodal import image_stats, resize_images

    assets = gen_assets(spark, gen_image_pandas, 12)

    # identity: every source image is at least 12x16, so resizing to the
    # per-image native size is only possible per-row -- instead check a
    # fixed 12x16 crop-free case via the formula
    for out_h, out_w in ((6, 10), (30, 40)):  # downscale and upscale
        got = {
            r.asset_id: (r.width, r.height, r.sum_r, r.sum_g, r.sum_b)
            for r in resize_images(assets, out_h=out_h, out_w=out_w).collect()
        }
        for i in range(12):
            h, w = 12 + i % 5, 16 + i % 8
            rows = (np.arange(out_h, dtype=np.int64) * h) // out_h
            cols = (np.arange(out_w, dtype=np.int64) * w) // out_w
            rr, cc = np.meshgrid(rows, cols, indexing="ij")
            base = i + 3 * rr + 5 * cc
            exp = tuple(int(((base + off) % 256).sum()) for off in (0, 11, 22))
            assert got[i] == (out_w, out_h) + exp, f"asset {i} at {out_h}x{out_w}"


def test_resize_rejects_bad_dims(spark):
    import pytest as _pytest

    from finetoo_sp_spark.datagen import gen_assets, gen_image_pandas
    from finetoo_sp_spark.multimodal import resize_images

    with _pytest.raises(ValueError):
        resize_images(gen_assets(spark, gen_image_pandas, 1), out_h=0, out_w=4)


def test_edit_verify_pairs_confirms_planted_neardups(spark):
    from finetoo_sp_spark.operators.dedup import edit_verify_pairs
    from pyspark.sql import functions as F

    base = "the quick brown fox jumps over the lazy dog " * 5
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base[:-4] + "cat "),          # tiny edit -> near-dup
            (3, "completely different text about spark shuffles"),
        ],
        "doc_id int, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a int, id_b int")
    got = {
        (r["id_a"], r["id_b"]): (r["lev"], r["is_dup"])
        for r in edit_verify_pairs(
            docs, pairs, "doc_id", "text"
        ).collect()
    }
    assert got[(1, 2)][0] == 3 and got[(1, 2)][1] is True
    assert got[(1, 3)][1] is False
    # ratio denominator is the LONGER side: swap order, same verdict
    rev = spark.createDataFrame([(2, 1)], "id_a int, id_b int")
    out = edit_verify_pairs(docs, rev, "doc_id", "text").collect()[0]
    assert out["lev"] == 3 and out["is_dup"] is True
