"""EXIF metadata for JPEG assets: parse + GPS privacy scrub.

The image-side counterpart of operators/pii.py: crawled photos carry
EXIF (orientation, camera, timestamps) that curation filters on — and
GPS coordinates that a responsible training-data pipeline must REDACT
before publication. Implements the EXIF/TIFF structure (JEITA CP-3451,
ISO 12234-2): an APP1 ``Exif\\0\\0`` segment wrapping a TIFF byte
stream — 8-byte header, IFD0 with camera tags plus pointer tags to the
Exif sub-IFD (0x8769) and GPS IFD (0x8825), value types BYTE/ASCII/
SHORT/LONG/RATIONAL.

GPS coordinates resolve to signed integer MICRO-DEGREES with floor
division (deg*1e6 + (min*1e6)//60 + (sec_num*1e6)//(3600*sec_den),
negated for S/W refs) — integer-exact, so a SQL oracle recomputes them
from the synthesis formula.

``strip_gps_jpeg`` scrubs IN PLACE: the GPSInfo pointer tag id is
rewritten to an unknown-tag id and the whole GPS IFD region (entries +
out-of-line value blocks) is zeroed. No offset in the remaining TIFF
stream moves, so every other tag survives byte-identically — the
streaming-safe redaction shape (same length in, same length out) a
10^12-asset rewrite pipeline wants.
"""

from __future__ import annotations

import struct

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}
_TAG_ORIENTATION = 0x0112
_TAG_MAKE = 0x010F
_TAG_MODEL = 0x0110
_TAG_DATETIME = 0x0132
_TAG_EXIF_IFD = 0x8769
_TAG_GPS_IFD = 0x8825
_TAG_DT_ORIGINAL = 0x9003
_GPS_LAT_REF, _GPS_LAT = 0x0001, 0x0002
_GPS_LON_REF, _GPS_LON = 0x0003, 0x0004
_SCRUBBED_TAG = 0xEEEE  # unknown tag id: readers skip it


class ExifError(ValueError):
    pass


def _find_app1(b: bytes) -> tuple[int, int] | None:
    """(tiff_start, tiff_end) of the Exif APP1 payload, walking JPEG
    segment framing from SOI (None when no Exif APP1 exists)."""
    if len(b) < 4 or b[0:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            return None
        marker = b[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", b, pos + 2)
        if marker == 0xE1 and b[pos + 4 : pos + 10] == b"Exif\x00\x00":
            return pos + 10, pos + 2 + seglen
        if marker == 0xDA:  # entropy-coded data follows; EXIF sits before
            return None
        pos += 2 + seglen
    return None


def _read_entries(t: bytes, bo: str, off: int) -> list[tuple[int, int, int, int, bytes]]:
    """IFD entries as (tag, type, count, entry_offset, raw_value_bytes)."""
    if off + 2 > len(t):
        raise ExifError("truncated IFD")
    (n,) = struct.unpack_from(bo + "H", t, off)
    if off + 2 + 12 * n > len(t):
        raise ExifError("IFD entry table overruns segment")
    out = []
    for k in range(n):
        eo = off + 2 + 12 * k
        tag, typ, count = struct.unpack_from(bo + "HHI", t, eo)
        if typ not in _TYPE_SIZES:
            continue
        size = _TYPE_SIZES[typ] * count
        if size <= 4:
            vo = eo + 8
        else:
            (vo,) = struct.unpack_from(bo + "I", t, eo + 8)
            if vo + size > len(t):
                raise ExifError("tag value block overruns segment")
        out.append((tag, typ, count, eo, t[vo : vo + size]))
    return out


def _ascii(raw: bytes) -> str:
    return raw.split(b"\x00", 1)[0].decode("latin-1")


def _rational3_micro(raw: bytes, bo: str) -> int:
    """(deg, min, sec) RATIONALs -> floor micro-degrees (module doc)."""
    vals = struct.unpack(bo + "IIIIII", raw)
    dn, dd, mn, md, sn, sd = vals
    if not dd or not md or not sd:
        raise ExifError("zero denominator in GPS rational")
    return (dn * 1_000_000) // dd + (mn * 1_000_000) // (60 * md) + (
        sn * 1_000_000
    ) // (3600 * sd)


def parse_exif_jpeg(b: bytes) -> dict:
    """EXIF fields from a JPEG payload.

    Returns {orientation, make, model, datetime, datetime_original,
    has_gps, gps_lat_micro, gps_lon_micro} — string fields '' and
    numeric fields None when absent; coordinates signed micro-degrees.
    Raises :class:`ExifError` only on a structurally corrupt APP1 (a
    payload without EXIF returns the all-absent dict)."""
    out = {
        "orientation": None, "make": "", "model": "", "datetime": "",
        "datetime_original": "", "has_gps": False,
        "gps_lat_micro": None, "gps_lon_micro": None,
    }
    span = _find_app1(b)
    if span is None:
        return out
    t = b[span[0] : span[1]]
    if len(t) < 8 or t[0:2] not in (b"II", b"MM"):
        raise ExifError("bad TIFF header in APP1")
    bo = "<" if t[0:2] == b"II" else ">"
    (ifd0,) = struct.unpack_from(bo + "I", t, 4)
    exif_off = gps_off = None
    for tag, typ, count, _eo, raw in _read_entries(t, bo, ifd0):
        if tag == _TAG_ORIENTATION and typ == 3:
            out["orientation"] = struct.unpack_from(bo + "H", raw)[0]
        elif tag == _TAG_MAKE and typ == 2:
            out["make"] = _ascii(raw)
        elif tag == _TAG_MODEL and typ == 2:
            out["model"] = _ascii(raw)
        elif tag == _TAG_DATETIME and typ == 2:
            out["datetime"] = _ascii(raw)
        elif tag == _TAG_EXIF_IFD and typ == 4:
            exif_off = struct.unpack_from(bo + "I", raw)[0]
        elif tag == _TAG_GPS_IFD and typ == 4:
            gps_off = struct.unpack_from(bo + "I", raw)[0]
    if exif_off:
        for tag, typ, _c, _eo, raw in _read_entries(t, bo, exif_off):
            if tag == _TAG_DT_ORIGINAL and typ == 2:
                out["datetime_original"] = _ascii(raw)
    if gps_off:
        lat = lon = None
        lat_sign = lon_sign = 1
        for tag, typ, _c, _eo, raw in _read_entries(t, bo, gps_off):
            if tag == _GPS_LAT_REF and typ == 2:
                lat_sign = -1 if _ascii(raw) == "S" else 1
            elif tag == _GPS_LON_REF and typ == 2:
                lon_sign = -1 if _ascii(raw) == "W" else 1
            elif tag == _GPS_LAT and typ == 5:
                lat = _rational3_micro(raw, bo)
            elif tag == _GPS_LON and typ == 5:
                lon = _rational3_micro(raw, bo)
        if lat is not None and lon is not None:
            out["has_gps"] = True
            out["gps_lat_micro"] = lat_sign * lat
            out["gps_lon_micro"] = lon_sign * lon
    return out


def strip_gps_jpeg(b: bytes) -> bytes:
    """Scrub GPS data in place (same length out; module docstring).

    Payloads without EXIF or without GPS return unchanged. The GPSInfo
    pointer tag id becomes an unknown id and the GPS IFD's entry table
    plus every out-of-line value block it references are zeroed."""
    span = _find_app1(b)
    if span is None:
        return b
    t = bytearray(b[span[0] : span[1]])
    if len(t) < 8 or bytes(t[0:2]) not in (b"II", b"MM"):
        return b
    bo = "<" if bytes(t[0:2]) == b"II" else ">"
    (ifd0,) = struct.unpack_from(bo + "I", t, 4)
    gps_off = None
    gps_entry_off = None
    for tag, typ, _c, eo, raw in _read_entries(bytes(t), bo, ifd0):
        if tag == _TAG_GPS_IFD and typ == 4:
            gps_off = struct.unpack_from(bo + "I", raw)[0]
            gps_entry_off = eo
    if gps_off is None:
        return b
    # every region zeroed below must lie inside the segment: a slice
    # assignment past its end would append bytes and change the length
    if gps_off + 2 > len(t):
        raise ExifError("truncated GPS IFD")
    (n,) = struct.unpack_from(bo + "H", t, gps_off)
    if gps_off + 2 + 12 * n > len(t):
        raise ExifError("GPS IFD entry table overruns segment")
    # zero every out-of-line value block the GPS IFD references
    for k in range(n):
        eo = gps_off + 2 + 12 * k
        _tag, typ, count = struct.unpack_from(bo + "HHI", t, eo)
        if typ in _TYPE_SIZES:
            size = _TYPE_SIZES[typ] * count
            if size > 4:
                (vo,) = struct.unpack_from(bo + "I", t, eo + 8)
                if vo + size > len(t):
                    raise ExifError("GPS value block overruns segment")
                t[vo : vo + size] = bytes(size)
    # zero the GPS entry table itself (count stays so walkers don't
    # misparse; entries become tag 0 type 0 = skipped)
    t[gps_off + 2 : gps_off + 2 + 12 * n] = bytes(12 * n)
    # retag the pointer so no reader follows it
    struct.pack_into(bo + "H", t, gps_entry_off, _SCRUBBED_TAG)
    return b[: span[0]] + bytes(t) + b[span[1] :]


def make_exif_app1(
    orientation: int,
    make: str,
    model: str,
    datetime: str,
    datetime_original: str,
    gps: tuple[str, tuple, str, tuple] | None = None,
    byte_order: str = "<",
) -> bytes:
    """Deterministic Exif APP1 segment (fixture twin of the parser).

    ``gps`` = (lat_ref, (d,dd,m,md,s,sd), lon_ref, (d,dd,m,md,s,sd))
    with explicit rational numerator/denominator pairs."""
    bo = byte_order
    order = b"II" if bo == "<" else b"MM"

    def entry(tag, typ, count, value_or_off, inline: bytes | None = None):
        e = struct.pack(bo + "HHI", tag, typ, count)
        if inline is not None:
            return e + (inline + b"\x00" * 4)[:4]
        return e + struct.pack(bo + "I", value_or_off)

    # layout: header(8) | IFD0 | exif IFD | gps IFD | value blocks
    mk = make.encode("latin-1") + b"\x00"
    md = model.encode("latin-1") + b"\x00"
    dt = datetime.encode("latin-1") + b"\x00"
    dto = datetime_original.encode("latin-1") + b"\x00"
    n0 = 5 + (1 if gps else 0)
    ifd0_off = 8
    exif_off = ifd0_off + 2 + 12 * n0 + 4
    gps_n = 4
    gps_off = exif_off + 2 + 12 * 1 + 4
    blocks_off = gps_off + ((2 + 12 * gps_n + 4) if gps else 0)
    blocks = b""

    def block(data: bytes) -> int:
        nonlocal blocks
        off = blocks_off + len(blocks)
        blocks += data
        return off

    entries0 = [
        entry(_TAG_MAKE, 2, len(mk), block(mk) if len(mk) > 4 else 0,
              mk if len(mk) <= 4 else None),
        entry(_TAG_MODEL, 2, len(md), block(md) if len(md) > 4 else 0,
              md if len(md) <= 4 else None),
        entry(_TAG_ORIENTATION, 3, 1, None,
              struct.pack(bo + "H", orientation)),
        entry(_TAG_DATETIME, 2, len(dt), block(dt) if len(dt) > 4 else 0,
              dt if len(dt) <= 4 else None),
        entry(_TAG_EXIF_IFD, 4, 1, exif_off),
    ]
    if gps:
        entries0.append(entry(_TAG_GPS_IFD, 4, 1, gps_off))
    entries0.sort(key=lambda e: struct.unpack_from(bo + "H", e)[0])
    ifd0 = struct.pack(bo + "H", n0) + b"".join(entries0) + struct.pack(bo + "I", 0)
    exif_ifd = (
        struct.pack(bo + "H", 1)
        + entry(_TAG_DT_ORIGINAL, 2, len(dto),
                block(dto) if len(dto) > 4 else 0,
                dto if len(dto) <= 4 else None)
        + struct.pack(bo + "I", 0)
    )
    gps_ifd = b""
    if gps:
        lat_ref, lat_r, lon_ref, lon_r = gps
        lat_blk = block(struct.pack(bo + "IIIIII", *lat_r))
        lon_blk = block(struct.pack(bo + "IIIIII", *lon_r))
        gps_entries = [
            entry(_GPS_LAT_REF, 2, 2, None,
                  lat_ref.encode("latin-1") + b"\x00"),
            entry(_GPS_LAT, 5, 3, lat_blk),
            entry(_GPS_LON_REF, 2, 2, None,
                  lon_ref.encode("latin-1") + b"\x00"),
            entry(_GPS_LON, 5, 3, lon_blk),
        ]
        gps_ifd = (
            struct.pack(bo + "H", gps_n)
            + b"".join(gps_entries)
            + struct.pack(bo + "I", 0)
        )
    tiff = (
        order
        + struct.pack(bo + "H", 42)
        + struct.pack(bo + "I", ifd0_off)
        + ifd0
        + exif_ifd
        + gps_ifd
        + blocks
    )
    payload = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload


def insert_exif(jpeg: bytes, app1: bytes) -> bytes:
    """Insert an APP1 segment right after SOI of an existing JPEG."""
    if jpeg[0:2] != b"\xff\xd8":
        raise ExifError("not a JPEG payload")
    return jpeg[:2] + app1 + jpeg[2:]


def apply_orientation(img, orientation: int):
    """Apply an EXIF orientation (1-8) to an (H, W, C) array — the
    transform a presentation pipeline must bake in before dHash /
    thumbnailing, since the same photo bytes can carry any of the 8
    tags. Mappings per JEITA CP-3451 Table 4 (dest <- src):
    1 identity, 2 mirror-H, 3 rotate 180, 4 mirror-V, 5 transpose,
    6 rotate 90 CW, 7 transverse, 8 rotate 270 CW."""
    import numpy as np

    if orientation in (None, 1):
        return img
    if orientation == 2:
        return img[:, ::-1]
    if orientation == 3:
        return img[::-1, ::-1]
    if orientation == 4:
        return img[::-1]
    if orientation == 5:
        return np.swapaxes(img, 0, 1)
    if orientation == 6:
        return np.rot90(img, -1)
    if orientation == 7:
        return np.swapaxes(img, 0, 1)[::-1, ::-1]
    if orientation == 8:
        return np.rot90(img, 1)
    raise ExifError(f"bad orientation {orientation}")
