"""EXIF codec: both byte orders, GPS micro-degree resolution, in-place
scrub guarantees (length, survivors, byte-level coordinate absence,
post-scrub decodability), passthrough and corruption handling. The
Spark-side value checks are the image_exif_meta / image_gps_redact
oracle rows."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from finetoo_sp_spark.codecs.exif import (
    ExifError,
    insert_exif,
    make_exif_app1,
    parse_exif_jpeg,
    strip_gps_jpeg,
)
from finetoo_sp_spark.codecs.jpeg import decode_jpeg, encode_jpeg_baseline

_BASE = encode_jpeg_baseline(np.full((16, 16, 3), 120, np.uint8))
_GPS = ("N", (37, 1, 46, 1, 3050, 100), "W", (122, 1, 25, 1, 990, 100))


def _fixture(bo="<", gps=_GPS):
    app1 = make_exif_app1(
        6, "MakerX", "Cam 3", "2026:03:04 05:06:07", "2026:03:01 00:00:00",
        gps=gps, byte_order=bo,
    )
    return insert_exif(_BASE, app1)


@pytest.mark.parametrize("bo", ["<", ">"])
def test_parse_both_byte_orders(bo):
    m = parse_exif_jpeg(_fixture(bo))
    assert m["orientation"] == 6
    assert m["make"] == "MakerX" and m["model"] == "Cam 3"
    assert m["datetime_original"] == "2026:03:01 00:00:00"
    # 37 deg 46 min 30.50 sec N; 122 deg 25 min 9.90 sec W
    assert m["gps_lat_micro"] == 37 * 10**6 + 46 * 10**6 // 60 + 3050 * 10**6 // 360000
    assert m["gps_lon_micro"] == -(122 * 10**6 + 25 * 10**6 // 60 + 990 * 10**6 // 360000)


@pytest.mark.parametrize("bo", ["<", ">"])
def test_scrub_removes_gps_keeps_everything_else(bo):
    j = _fixture(bo)
    s = strip_gps_jpeg(j)
    assert len(s) == len(j)  # in-place: streaming-safe
    m = parse_exif_jpeg(s)
    assert not m["has_gps"] and m["gps_lat_micro"] is None
    assert m["orientation"] == 6 and m["make"] == "MakerX"
    # the rationals are gone at the BYTE level, not just unreferenced
    sb = "<" if bo == "<" else ">"
    assert struct.pack(sb + "IIIIII", *_GPS[1]) not in s
    assert struct.pack(sb + "IIIIII", *_GPS[3]) not in s
    # pixels still decode
    assert decode_jpeg(s).shape == (16, 16, 3)


def test_no_exif_and_no_gps_passthrough():
    assert strip_gps_jpeg(_BASE) == _BASE
    nogps = _fixture(gps=None)
    assert strip_gps_jpeg(nogps) == nogps
    m = parse_exif_jpeg(_BASE)
    assert m["make"] == "" and m["orientation"] is None and not m["has_gps"]


def test_scrub_idempotent():
    s1 = strip_gps_jpeg(_fixture())
    assert strip_gps_jpeg(s1) == s1


def test_corrupt_entry_table_raises_not_overreads():
    j = bytearray(_fixture("<"))
    i = bytes(j).find(b"II\x2a\x00")
    # IFD0 entry count at tiff+8 (uint16 LE): blow it up
    struct.pack_into("<H", j, i + 8, 0x7FFF)
    with pytest.raises(ExifError, match="overruns"):
        parse_exif_jpeg(bytes(j))


def _gps_ifd(j: bytes, tiff: int) -> int:
    """Absolute offset of the GPS IFD in a little-endian fixture."""
    ifd0 = tiff + struct.unpack_from("<I", j, tiff + 4)[0]
    for k in range(struct.unpack_from("<H", j, ifd0)[0]):
        e = ifd0 + 2 + 12 * k
        if struct.unpack_from("<H", j, e)[0] == 0x8825:
            return tiff + struct.unpack_from("<I", j, e + 8)[0]
    raise AssertionError("fixture has no GPS IFD")


@pytest.mark.parametrize("corrupt", ["value_offset", "entry_count"])
def test_scrub_rejects_gps_regions_past_segment(corrupt):
    # a scrub that zeroed past the APP1 segment would append bytes and
    # break the same-length invariant; a count past it used to surface
    # as struct.error. Both must be a documented ExifError.
    j = bytearray(_fixture("<"))
    tiff = bytes(j).find(b"II\x2a\x00")
    seg_len = struct.unpack_from(">H", j, tiff - 8)[0] - 8  # minus length + "Exif\0\0"
    gps = _gps_ifd(bytes(j), tiff)
    if corrupt == "value_offset":
        for k in range(struct.unpack_from("<H", j, gps)[0]):
            e = gps + 2 + 12 * k
            if struct.unpack_from("<HH", j, e) == (2, 5):  # GPSLatitude RATIONAL[3]
                struct.pack_into("<I", j, e + 8, seg_len + 16)
    else:
        struct.pack_into("<H", j, gps, 0x7FFF)
    with pytest.raises(ExifError, match="GPS"):
        strip_gps_jpeg(bytes(j))


def test_zero_denominator_rejected():
    bad = ("N", (37, 0, 46, 1, 3050, 100), "E", (122, 1, 25, 1, 990, 100))
    with pytest.raises(ExifError, match="denominator"):
        parse_exif_jpeg(_fixture(gps=bad))


@pytest.mark.parametrize("o", list(range(1, 9)))
def test_apply_orientation_mappings(o):
    from finetoo_sp_spark.codecs.exif import apply_orientation

    src = np.arange(12).reshape(3, 4)[:, :, None]
    H, W = 3, 4
    maps = {
        1: lambda r, c: (r, c), 2: lambda r, c: (r, W - 1 - c),
        3: lambda r, c: (H - 1 - r, W - 1 - c), 4: lambda r, c: (H - 1 - r, c),
        5: lambda r, c: (c, r), 6: lambda r, c: (H - 1 - c, r),
        7: lambda r, c: (H - 1 - c, W - 1 - r), 8: lambda r, c: (c, W - 1 - r),
    }
    out = apply_orientation(src, o)
    for r in range(out.shape[0]):
        for c in range(out.shape[1]):
            assert out[r, c, 0] == src[maps[o](r, c)][0], (o, r, c)


def test_apply_orientation_bad_value():
    from finetoo_sp_spark.codecs.exif import apply_orientation

    with pytest.raises(ExifError, match="orientation"):
        apply_orientation(np.zeros((2, 2, 3), np.uint8), 9)
