"""Minimal pure-stdlib PNG codec (zlib + struct + numpy).

Closes the image-decode stub without a codec library: color types 0
(grayscale, depths 1/2/4/8/16), 2 (RGB, 8/16), 3 (palette, depths
1/2/4/8, with tRNS alpha), 4 (gray+alpha) and 6 (RGBA) at 8/16 bits,
Adam7 interlace for all of them, and all five scanline filters
(None/Sub/Up/Average/Paeth, RFC 2083 §6). 16-bit samples present their
high byte; sub-byte gray scales exactly (255 // (2^d - 1)). CRCs are
verified on decode. The encoders can write any single filter type per
image (or per-row lists), which is how the roundtrip tests exercise
every de-filter path.

Scale note: this runs inside Arrow-batched ``mapInPandas`` kernels
(multimodal.image_stats) — per-payload Python cost is the codec itself,
exactly what a PIL/turbojpeg swap-in would cost; the Spark plan shape
(binary column in, typed stats out, no shuffle) is production-real.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_MAGIC = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (RFC 2083 §4.1.1)
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_COLOR_FOR_CHANNELS = {1: 0, 2: 4, 3: 2, 4: 6}


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def filter_stream(arr: np.ndarray, filter_type=0) -> bytes:
    """Apply PNG scanline filtering to an (H, W, C) uint8 array and
    return the raw (uncompressed) filtered byte stream — one filter-id
    byte plus ``W*C`` data bytes per row. Shared by the still-image
    encoder and the APNG frame encoder (fdAT carries the same stream).

    ``filter_type`` is either one filter id (0-4) applied to every
    scanline, or a length-H sequence of per-row filter ids (how adaptive
    encoders behave — exercises the decoder's mixed-run grouping)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    if ch not in _COLOR_FOR_CHANNELS:
        raise ValueError(f"unsupported channel count {ch}")
    return filter_raw(a.reshape(h, w * ch), ch, filter_type)


def filter_raw(flat_rows: np.ndarray, bpp: int, filter_type=0) -> bytes:
    """Filter an (H, rowbytes) uint8 byte matrix with per-pixel byte
    distance ``bpp`` — the general form behind :func:`filter_stream`
    that palette/sub-byte (bpp 1) and 16-bit (bpp up to 8) encoders
    need, where the distance is not a legal still-image channel
    count."""
    h, stride = flat_rows.shape
    row_filters = [filter_type] * h if np.isscalar(filter_type) else list(filter_type)
    if len(row_filters) != h or any(not 0 <= f <= 4 for f in row_filters):
        raise ValueError(f"bad filter type {filter_type}")
    flat = flat_rows.astype(np.int16)  # int16: filter math needs signed
    prev = np.zeros(stride, dtype=np.int16)
    lines = []
    for y in range(h):
        ft = row_filters[y]
        raw = flat[y]
        left = np.concatenate([np.zeros(bpp, dtype=np.int16), raw[:-bpp]])
        up = prev
        up_left = np.concatenate([np.zeros(bpp, dtype=np.int16), up[:-bpp]])
        if ft == 0:
            out = raw
        elif ft == 1:
            out = raw - left
        elif ft == 2:
            out = raw - up
        elif ft == 3:
            out = raw - ((left + up) >> 1)
        else:  # Paeth
            p = left + up - up_left
            pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - up_left)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, up_left))
            out = raw - pred
        lines.append(bytes([ft]) + (out & 0xFF).astype(np.uint8).tobytes())
        prev = raw
    return b"".join(lines)


def encode_png(arr: np.ndarray, filter_type=0) -> bytes:
    """Encode an (H, W) or (H, W, C) uint8 array as a PNG (see
    ``filter_stream`` for the per-row filter_type contract)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _COLOR_FOR_CHANNELS[ch], 0, 0, 0)
    idat = zlib.compress(filter_stream(a, filter_type), 6)
    return _MAGIC + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


# Adam7 pass grid: (x0, y0, dx, dy) per RFC 2083 §2.6
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG to an (H, W, C) uint8 array.

    Supports depths 1/2/4/8 for grayscale (0) and palette (3), depths
    8/16 for gray/RGB/gray+alpha/RGBA (0/2/4/6), tRNS palette alpha
    (palette output is RGB, RGBA when tRNS is present), and Adam7
    interlace for every supported combination. 16-bit samples return
    their high byte (the standard 16->8 presentation downsample); gray
    levels below 8 bits scale exactly (255 // (2^d - 1) is integer for
    d in 1/2/4). Raises ValueError on a non-PNG payload, CRC mismatch,
    or an unsupported IHDR combination.
    """
    if not data.startswith(_MAGIC):
        raise ValueError("not a PNG payload")
    pos = 8
    w = h = None
    depth = color = interlace = 0
    plte = None
    trns = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        if pos + 12 + length > len(data):
            raise ValueError(f"truncated {ctype!r} chunk")
        payload = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        pos += 12 + length
        if ctype == b"IHDR":
            if length < 13:
                raise ValueError("short IHDR")
            w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", payload)
            ok = (
                comp == 0
                and filt == 0
                and interlace in (0, 1)
                and (
                    (color in (0, 3) and depth in (1, 2, 4, 8))
                    or (color in _CHANNELS and depth in (8, 16))
                )
            )
            if not ok:
                raise ValueError(
                    f"unsupported PNG (depth={depth} color={color} interlace={interlace})"
                )
        elif ctype == b"PLTE":
            plte = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS" and color == 3:
            trns = np.frombuffer(payload, dtype=np.uint8)
        elif ctype == b"IDAT":
            idat += payload
        elif ctype == b"IEND":
            break
    if w is None:
        raise ValueError("missing IHDR")
    if color == 3 and plte is None:
        raise ValueError("palette PNG without PLTE")
    samples = 1 if color == 3 else _CHANNELS[color]
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:  # corrupt deflate: a decode error, not a crash
        raise ValueError(f"bad IDAT deflate stream: {exc}") from exc

    def one_pass(chunk: bytes, pw: int, ph: int) -> np.ndarray:
        """Defilter + sample-expand one (sub)image -> (ph, pw, samples)
        uint8 (palette passes return indices)."""
        rowbytes = (pw * samples * depth + 7) // 8
        bpp = max(1, samples * depth // 8)
        flat = defilter_stream(chunk, rowbytes // bpp, ph, bpp).reshape(ph, rowbytes)
        if depth < 8:
            bits = np.unpackbits(flat, axis=1)
            vals = (
                bits[:, : (rowbytes * 8 // depth) * depth]
                .reshape(ph, -1, depth)
                * (1 << np.arange(depth - 1, -1, -1))
            ).sum(axis=2)
            return vals[:, :pw].astype(np.uint8)[:, :, None]
        if depth == 16:
            return flat.reshape(ph, pw, samples, 2)[:, :, :, 0]
        return flat.reshape(ph, pw, samples)

    if interlace == 0:
        img = one_pass(raw, w, h)
    else:
        img = np.zeros((h, w, samples), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            rowbytes = (pw * samples * depth + 7) // 8
            need = ph * (1 + rowbytes)
            img[y0::dy, x0::dx] = one_pass(raw[off : off + need], pw, ph)
            off += need
        if off != len(raw):
            raise ValueError("interlaced data size mismatch")

    if color == 3:
        idx = img[:, :, 0]
        if int(idx.max(initial=0)) >= plte.shape[0]:
            raise ValueError("palette index out of range")
        rgb = plte[idx]
        if trns is None:
            return rgb
        alpha = np.full(plte.shape[0], 255, dtype=np.uint8)
        alpha[: trns.shape[0]] = trns
        return np.concatenate([rgb, alpha[idx][:, :, None]], axis=2)
    if color == 0 and depth < 8:
        return (img * (255 // ((1 << depth) - 1))).astype(np.uint8)
    return img


def defilter_stream(raw: bytes, w: int, h: int, ch: int) -> np.ndarray:
    """Reverse PNG scanline filtering on a decompressed byte stream and
    return the (H, W, C) uint8 image. Shared by the still-image decoder
    and the APNG frame decoder (fdAT regions carry the same stream)."""
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("IDAT size mismatch")
    lines = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters = lines[:, 0]
    if filters.max(initial=0) > 4:
        raise ValueError(f"bad scanline filter {int(filters.max())}")
    data = lines[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)

    # Filters 0 (None) and 1 (Sub) never read the previous row, so every
    # such scanline decodes in one batched numpy pass. Sub is a per-channel
    # modular prefix sum: summing raw deltas in int64 then masking &0xFF is
    # exact because addition is associative mod 256.
    none_rows = filters == 0
    out[none_rows] = data[none_rows]
    sub_rows = np.nonzero(filters == 1)[0]
    if sub_rows.size:
        blk = data[sub_rows].reshape(-1, w, ch).astype(np.int64)
        out[sub_rows] = (np.cumsum(blk, axis=1) & 0xFF).reshape(-1, stride)

    # Filters 2/3/4 read the decoded row above; decode maximal same-filter
    # runs in row order. Up runs collapse to a column-wise prefix sum;
    # Average/Paeth runs use an anti-diagonal wavefront (the only
    # dependencies are left / up / up-left, so cells on a diagonal are
    # independent): sequential numpy steps drop from H*W bytes to H+W rows.
    zeros = np.zeros(stride, dtype=np.uint8)
    y = 0
    while y < h:
        ft = int(filters[y])
        if ft <= 1:
            y += 1
            continue
        e = y + 1
        while e < h and filters[e] == ft:
            e += 1
        prev = out[y - 1] if y > 0 else zeros
        if ft == 2:  # Up
            out[y:e] = (
                np.cumsum(data[y:e].astype(np.int64), axis=0) + prev.astype(np.int64)
            ) & 0xFF
        else:  # Average / Paeth wavefront
            out[y:e] = _defilter_wavefront(data[y:e], prev, w, ch, paeth=ft == 4)
        y = e
    return out.reshape(h, w, ch)


def _defilter_wavefront(block: np.ndarray, prev_row: np.ndarray, w: int, ch: int, paeth: bool) -> np.ndarray:
    """Decode a run of Average (3) or Paeth (4) filtered scanlines.

    Cell (y, x) depends on (y, x-1), (y-1, x), (y-1, x-1) only, so all
    cells on an anti-diagonal y + x = d are independent and compute as one
    vectorized numpy step. A zero pad row/column supplies the RFC 2083
    boundary values (left = up-left = 0 at x = 0).
    """
    H = block.shape[0]
    filt = block.reshape(H, w, ch).astype(np.int16)
    # Skewed storage: S[y, y + x] holds decoded pixel (y, x) for rows
    # y = 1..H and pixel columns x = 1..w (x = 0 is the zero pad), so an
    # anti-diagonal d is the plain column slice S[:, d] — a view, not an
    # advanced-indexing gather.
    D = H + w + 1
    S = np.zeros((H + 1, D, ch), dtype=np.int16)
    S[0, 1 : w + 1] = prev_row.reshape(w, ch)
    Fs = np.zeros((H + 1, D, ch), dtype=np.int16)
    for y in range(1, H + 1):
        Fs[y, y + 1 : y + w + 1] = filt[y - 1]
    for d in range(2, H + w + 1):
        ylo = max(1, d - w)
        yhi = min(H, d - 1)
        a = S[ylo : yhi + 1, d - 1]
        b = S[ylo - 1 : yhi, d - 1]
        if paeth:
            c = S[ylo - 1 : yhi, d - 2]
            p = a + b - c
            pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
            pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
        else:
            pred = (a + b) >> 1
        S[ylo : yhi + 1, d] = (Fs[ylo : yhi + 1, d] + pred) & 0xFF
    out = np.empty((H, w * ch), dtype=np.uint8)
    for y in range(1, H + 1):
        out[y - 1] = S[y, y + 1 : y + w + 1].reshape(w * ch)
    return out


def _pack_bits(vals: np.ndarray, depth: int) -> np.ndarray:
    """(H, W) sample values -> (H, rowbytes) packed big-endian rows."""
    h, w = vals.shape
    bits = (
        (vals[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1
    ).reshape(h, w * depth).astype(np.uint8)
    pad = (-bits.shape[1]) % 8
    if pad:
        bits = np.concatenate([bits, np.zeros((h, pad), np.uint8)], axis=1)
    return np.packbits(bits, axis=1)


def encode_png_palette(
    indices: np.ndarray,
    palette: np.ndarray,
    trns: np.ndarray | None = None,
    depth: int = 8,
    filter_type=0,
) -> bytes:
    """Palette (color type 3) PNG at depth 1/2/4/8, with optional tRNS
    alpha — the dominant small-web-image shape. Fixture twin of the
    palette branch in :func:`decode_png`."""
    idx = np.asarray(indices, dtype=np.uint8)
    h, w = idx.shape
    if depth not in (1, 2, 4, 8):
        raise ValueError(f"bad palette depth {depth}")
    if int(idx.max(initial=0)) >= (1 << depth):
        raise ValueError("index exceeds depth")
    rows = idx if depth == 8 else _pack_bits(idx, depth)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 0)
    out = _MAGIC + _chunk(b"IHDR", ihdr)
    out += _chunk(b"PLTE", np.asarray(palette, dtype=np.uint8).tobytes())
    if trns is not None:
        out += _chunk(b"tRNS", np.asarray(trns, dtype=np.uint8).tobytes())
    out += _chunk(b"IDAT", zlib.compress(filter_raw(rows, 1, filter_type), 6))
    return out + _chunk(b"IEND", b"")


def encode_png_16bit(arr16: np.ndarray, filter_type=0) -> bytes:
    """16-bit gray/RGB/gray+alpha/RGBA PNG from an (H, W[, C]) uint16
    array. Fixture twin of the depth-16 branch in :func:`decode_png`."""
    a = np.asarray(arr16, dtype=np.uint16)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    if ch not in _COLOR_FOR_CHANNELS:
        raise ValueError(f"unsupported channel count {ch}")
    rows = a.byteswap().view(np.uint8).reshape(h, w * ch * 2)  # big-endian
    ihdr = struct.pack(">IIBBBBB", w, h, 16, _COLOR_FOR_CHANNELS[ch], 0, 0, 0)
    idat = zlib.compress(filter_raw(rows, ch * 2, filter_type), 6)
    return _MAGIC + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def encode_png_interlaced(arr: np.ndarray, filter_type=0) -> bytes:
    """Adam7-interlaced 8-bit PNG from an (H, W[, C]) uint8 array —
    each of the seven passes filtered independently, exactly the
    stream layout :func:`decode_png`'s interlace branch consumes."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    if ch not in _COLOR_FOR_CHANNELS:
        raise ValueError(f"unsupported channel count {ch}")
    stream = b""
    for x0, y0, dx, dy in _ADAM7:
        sub = a[y0::dy, x0::dx]
        if sub.shape[0] and sub.shape[1]:
            stream += filter_raw(
                sub.reshape(sub.shape[0], -1), ch, filter_type
            )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _COLOR_FOR_CHANNELS[ch], 0, 0, 1)
    idat = zlib.compress(stream, 6)
    return _MAGIC + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def encode_png_gray_sub8(vals: np.ndarray, depth: int) -> bytes:
    """1/2/4-bit grayscale PNG from (H, W) small-int values (level
    k renders as k * (255 // (2^depth - 1)))."""
    v = np.asarray(vals, dtype=np.uint8)
    if depth not in (1, 2, 4):
        raise ValueError(f"bad sub-byte depth {depth}")
    if int(v.max(initial=0)) >= (1 << depth):
        raise ValueError("value exceeds depth")
    h, w = v.shape
    rows = _pack_bits(v, depth)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0)
    idat = zlib.compress(filter_raw(rows, 1, 0), 6)
    return _MAGIC + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")
