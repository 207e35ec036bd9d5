"""TIFF codec: round-trips, PackBits, palette / WhiteIsZero decode-only
paths (hand-assembled files), gates, kernel dispatch."""

import struct

import numpy as np
import pytest

from finetoo_sp_spark.codecs.tiff import (
    TiffError,
    _packbits,
    _unpackbits,
    decode_tiff,
    encode_tiff,
)


@pytest.mark.parametrize("be,pb,rps", [
    (False, False, 0), (True, False, 1), (False, True, 5), (True, True, 8),
])
def test_roundtrip_rgb(be, pb, rps):
    rng = np.random.default_rng(rps + pb)
    img = rng.integers(0, 256, size=(19, 23, 3)).astype(np.uint8)
    enc = encode_tiff(img, big_endian=be, packbits=pb, rows_per_strip=rps)
    assert np.array_equal(decode_tiff(enc), img)


def test_roundtrip_gray_expands_to_rgb():
    img = (np.arange(15 * 9) % 251).reshape(15, 9).astype(np.uint8)
    dec = decode_tiff(encode_tiff(img, packbits=True, rows_per_strip=4))
    assert np.array_equal(dec, np.repeat(img[:, :, None], 3, axis=2))


def test_packbits_runs_and_literals():
    for data in (b"", b"\x07" * 300, bytes(range(200)), b"aabbccdd" * 40,
                 b"x" * 2 + bytes(range(129)) + b"y" * 200):
        assert _unpackbits(_packbits(data), len(data)) == data


def test_packbits_malformed_raises():
    with pytest.raises(TiffError):
        _unpackbits(b"\x05ab", 6)  # literal run truncated
    with pytest.raises(TiffError):
        _unpackbits(b"\xfe", 3)  # repeat without its byte


def _hand_tiff(photo, pixel_bytes, w, h, extra_tags=()):
    """Minimal LE single-strip TIFF assembled by hand (paths the
    encoder twin never emits: palette, WhiteIsZero)."""
    strip_off = 8
    ifd_off = strip_off + len(pixel_bytes)
    entries = [
        (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 8), (259, 3, 1, 1),
        (262, 3, 1, photo), (273, 4, 1, strip_off), (277, 3, 1, 1),
        (278, 4, 1, h), (279, 4, 1, len(pixel_bytes)),
    ]
    overflow = bytearray()
    ov_entries = []
    for tag, typ, count, val in extra_tags:
        packed = struct.pack("<" + "H" * count, *val)
        ov_entries.append((tag, typ, count, None, len(overflow)))
        overflow += packed
    ifd_len = 2 + 12 * (len(entries) + len(ov_entries)) + 4
    out = bytearray(b"II*\x00") + struct.pack("<I", ifd_off)
    out += pixel_bytes
    out += struct.pack("<H", len(entries) + len(ov_entries))
    all_entries = sorted(
        [(t, ty, c, v, None) for t, ty, c, v in entries]
        + [(t, ty, c, None, off) for t, ty, c, _, off in ov_entries]
    )
    for t, ty, c, v, ov in all_entries:
        out += struct.pack("<HHI", t, ty, c)
        if v is not None:
            out += struct.pack("<I", v)
        else:
            out += struct.pack("<I", ifd_off + ifd_len + ov)
    out += struct.pack("<I", 0)
    out += overflow
    return bytes(out)


def test_palette_decode():
    idx = np.array([[0, 1], [2, 1]], dtype=np.uint8)
    cmap = [0] * 768
    # 16-bit channel entries; decoder takes the high byte
    for k, rgb in enumerate([(255, 0, 0), (0, 128, 64), (10, 20, 30)]):
        cmap[k] = rgb[0] << 8
        cmap[256 + k] = rgb[1] << 8
        cmap[512 + k] = rgb[2] << 8
    b = _hand_tiff(3, idx.tobytes(), 2, 2,
                   extra_tags=[(320, 3, 768, cmap)])
    dec = decode_tiff(b)
    assert tuple(dec[0, 0]) == (255, 0, 0)
    assert tuple(dec[0, 1]) == (0, 128, 64)
    assert tuple(dec[1, 0]) == (10, 20, 30)


def test_white_is_zero_decode():
    gray = np.array([[0, 100], [255, 1]], dtype=np.uint8)
    b = _hand_tiff(0, gray.tobytes(), 2, 2)
    dec = decode_tiff(b)
    assert np.array_equal(dec[:, :, 0], 255 - gray)
    assert np.array_equal(dec[:, :, 0], dec[:, :, 2])


def test_gates():
    img = np.zeros((6, 6, 3), dtype=np.uint8)
    enc = encode_tiff(img)
    with pytest.raises(TiffError):
        decode_tiff(enc[:30])
    with pytest.raises(TiffError):
        decode_tiff(b"ZZ" + enc[2:])
    jpg = bytearray(enc)
    # flip Compression (tag 259) to 6 = old-style JPEG -> must raise
    pos = jpg.find(struct.pack("<HHI", 259, 3, 1))
    jpg[pos + 8] = 6
    with pytest.raises(TiffError):
        decode_tiff(bytes(jpg))


def test_lzw_roundtrip_width_changes_and_predictor():
    """TIFF-LZW: early-change width bumps (9->10->11 bits on a
    low-entropy image), Predictor 2 horizontal differencing, strips,
    both byte orders, gray + RGB."""
    rng = np.random.default_rng(11)
    big = rng.integers(0, 4, size=(40, 60)).astype(np.uint8)  # deep table
    exp = np.repeat(big[:, :, None], 3, axis=2)
    for kw in (dict(lzw=True), dict(lzw=True, predictor=2),
               dict(lzw=True, big_endian=True, rows_per_strip=7),
               dict(lzw=True, predictor=2, rows_per_strip=3)):
        assert np.array_equal(decode_tiff(encode_tiff(big, **kw)), exp)
    rgb = rng.integers(0, 256, size=(9, 13, 3)).astype(np.uint8)
    assert np.array_equal(
        decode_tiff(encode_tiff(rgb, lzw=True, predictor=2)), rgb)


def test_lzw_truncated_strip_raises():
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    enc = encode_tiff(img, lzw=True)
    with pytest.raises(TiffError):
        decode_tiff(enc[:40])  # strip bytes cut mid-stream


def test_image_stats_dispatches_tiff(spark):
    from finetoo_sp_spark.multimodal import image_stats

    img = (np.arange(8 * 8) % 256).reshape(8, 8).astype(np.uint8)
    df = spark.createDataFrame(
        [(0, "image", bytearray(encode_tiff(img, packbits=True))),
         (1, "image", bytearray(b"II*\x00 truncated"))],
        "asset_id long, modality string, payload binary",
    )
    rows = image_stats(df).collect()
    assert [r["asset_id"] for r in rows] == [0]
    assert rows[0]["sum_r"] == int(img.astype(int).sum())


def test_corpus_matches_formula(spark):
    from finetoo_sp_spark.datagen import gen_assets, gen_tiff_pandas
    from finetoo_sp_spark.multimodal import image_stats

    rows = image_stats(gen_assets(spark, gen_tiff_pandas, 16)).collect()
    assert len(rows) == 16
    for r in rows:
        i = r["asset_id"]
        bw, bh = 2 + i % 3, 2 + i % 2
        total = sum(
            64 * (128 + 2 * (((i + 7 * br + 13 * bc) % 50) - 25))
            for br in range(bh) for bc in range(bw)
        )
        assert (r["width"], r["height"]) == (8 * bw, 8 * bh)
        assert r["sum_r"] == r["sum_g"] == r["sum_b"] == total


def test_deflate_roundtrip_and_bad_stream():
    import zlib as _zlib

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, size=(11, 17, 3)).astype(np.uint8)
    for kw in (dict(deflate=True),
               dict(deflate=True, predictor=2, rows_per_strip=4),
               dict(deflate=True, big_endian=True)):
        assert np.array_equal(decode_tiff(encode_tiff(img, **kw)), img)
    enc = bytearray(encode_tiff(img, deflate=True))
    # corrupt the zlib stream body -> clean TiffError, not zlib.error
    enc[20] ^= 0xFF
    with pytest.raises(TiffError):
        decode_tiff(bytes(enc))
    assert _zlib  # imported for clarity of what the corruption targets
