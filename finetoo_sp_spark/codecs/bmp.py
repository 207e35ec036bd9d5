"""Pure-stdlib BMP + ICO codec (pixel-exact decode + encoder twins).

BMP (Windows device-independent bitmap) and ICO (favicon container)
round out the lossless image formats: favicons are fetched for nearly
every crawled host, and uncompressed BMPs still appear in legacy
corpora. Both are exactly decodable with numpy alone — no entropy
coding at all — so the per-pixel-exact formula oracles used for
PNG/GIF/VP8L transfer unchanged.

Format per the public Windows BMP spec / MS ICO documentation:

- BMP: 14-byte BITMAPFILEHEADER ('BM', file size, pixel-data offset),
  then BITMAPINFOHEADER (biSize >= 40): width, signed height (negative
  = top-down row order), bit count, compression. Supported here:
  BI_RGB (uncompressed) at 1/4/8 bpp (palette, MSB-first bit packing,
  high nibble first), 24 bpp (BGR), 32 bpp (BGRX); BI_RLE8 / BI_RLE4
  run-length streams (encoded + absolute + delta + EOL/EOB escapes,
  bottom-up only per spec; pixels skipped by deltas decode to palette
  index 0 — a fixed, documented rule so stats stay oracle-exact); and
  BI_BITFIELDS at 16/32 bpp (masks from the 3 DWORDs after a 40-byte
  header, or in-header for BITMAPV4+; channels scale to 8 bits with
  round(v * 255 / mask_max) in exact integer form). Rows pad to
  4-byte boundaries; bottom-up by default.
- ICO: ICONDIR (reserved 0, type 1, count), 16-byte ICONDIRENTRYs
  (width/height bytes where 0 encodes 256, payload size + offset).
  Each payload is either a full PNG stream (modern favicons) or a DIB:
  a BITMAPINFOHEADER whose biHeight is DOUBLED, covering the XOR
  (color) image followed by a 1-bpp AND (transparency) mask, both
  bottom-up with 4-byte row padding. Masked-out pixels decode to
  black (0,0,0) — a fixed, documented rule so stats stay oracle-exact.

BI_JPEG/BI_PNG "compressions" (a whole embedded stream as the pixel
data) delegate to codecs/jpeg.py / codecs/png.py. Malformed input
raises :class:`BmpError`; unknown compression values and the 2-bpp CE
variant raise too — corpus kernels skip, not die.
"""

from __future__ import annotations

import struct

import numpy as np


class BmpError(ValueError):
    pass


def _decode_rle(data: bytes, w: int, h: int, *, rle4: bool) -> np.ndarray:
    """BI_RLE8/BI_RLE4 stream -> (h, w) palette indices in STORED
    (bottom-up) row order. Escapes: (0,0) end-of-line, (0,1)
    end-of-bitmap, (0,2) delta (dx, dy follow; skipped pixels stay
    index 0), (0,n>=3) absolute mode (n raw indices, nibble-packed
    high-first for RLE4, padded to a 16-bit boundary). Encoded runs
    of RLE4 alternate the byte's high/low nibbles."""
    out = np.zeros((h, w), dtype=np.uint8)
    x = y = i = 0
    while True:
        if i + 2 > len(data):
            raise BmpError("unterminated RLE stream")
        n, v = data[i], data[i + 1]
        i += 2
        if n > 0:  # encoded run
            if y >= h or x + n > w:
                raise BmpError("RLE run outside the bitmap")
            if rle4:
                pair = (v >> 4, v & 0xF)
                out[y, x : x + n] = [pair[k & 1] for k in range(n)]
            else:
                out[y, x : x + n] = v
            x += n
        elif v == 0:  # end of line
            x, y = 0, y + 1
            if y > h:
                raise BmpError("RLE rows past bitmap height")
        elif v == 1:  # end of bitmap
            return out
        elif v == 2:  # delta
            if i + 2 > len(data):
                raise BmpError("truncated RLE delta")
            x, y = x + data[i], y + data[i + 1]
            i += 2
            if x > w or y > h:
                raise BmpError("RLE delta outside the bitmap")
        else:  # absolute mode: v raw pixels
            if y >= h or x + v > w:
                raise BmpError("RLE absolute run outside the bitmap")
            nbytes = (v + 1) // 2 if rle4 else v
            nbytes += nbytes & 1  # pad to word boundary
            raw = data[i : i + nbytes]
            if len(raw) < nbytes:
                raise BmpError("truncated RLE absolute run")
            i += nbytes
            if rle4:
                nib = np.repeat(np.frombuffer(raw, dtype=np.uint8), 2)
                nib[0::2] >>= 4
                nib[1::2] &= 0xF
                out[y, x : x + v] = nib[:v]
            else:
                out[y, x : x + v] = np.frombuffer(raw, dtype=np.uint8)[:v]
            x += v


def _mask_channel(words: np.ndarray, mask: int) -> np.ndarray:
    """Extract one BI_BITFIELDS channel and rescale to 8 bits with the
    exact integer form of round(v * 255 / mask_max)."""
    if mask == 0:
        return np.zeros(words.shape, dtype=np.uint8)
    shift = (mask & -mask).bit_length() - 1
    mx = mask >> shift
    v = ((words >> shift) & mx).astype(np.uint32)
    return ((v * 255 + mx // 2) // mx).astype(np.uint8)


def _decode_dib(
    b: bytes, off: int, *, ico_mask: bool = False
) -> np.ndarray:
    """Decode a BITMAPINFOHEADER DIB at ``off``. With ``ico_mask`` the
    stored height is double the visual height and a 1-bpp AND mask
    follows the XOR image (ICO convention)."""
    if off + 40 > len(b):
        raise BmpError("truncated DIB header")
    (size, w, h, planes, bits, comp) = struct.unpack_from("<IiihHI", b, off)
    if size < 40:
        raise BmpError(f"unsupported DIB header size {size}")
    if comp in (4, 5):
        # BI_JPEG / BI_PNG: the "pixel data" is a whole embedded
        # stream (biSizeImage bytes after header + palette); delegate
        # to the matching codec. Not valid inside ICO entries.
        if ico_mask:
            raise BmpError("embedded streams are not valid in ICO")
        (size_image,) = struct.unpack_from("<I", b, off + 20)
        (n_colors,) = struct.unpack_from("<I", b, off + 32)
        spos = off + size + 4 * n_colors
        stream = b[spos : spos + size_image] if size_image else b[spos:]
        if comp == 4:
            from finetoo_sp_spark.codecs.jpeg import decode_jpeg

            out = decode_jpeg(bytes(stream))
            if out.ndim == 2:
                out = out[:, :, None]
            if out.shape[2] < 3:  # grayscale: expand to RGB
                out = np.repeat(out[:, :, :1], 3, axis=2)
            return np.ascontiguousarray(out[:, :, :3])
        from finetoo_sp_spark.codecs.png import decode_png

        out = decode_png(bytes(stream))
        if out.shape[2] < 3:  # grayscale (+alpha): expand to RGB
            out = np.repeat(out[:, :, :1], 3, axis=2)
        return np.ascontiguousarray(out[:, :, :3])
    if comp > 5:
        raise BmpError(f"unknown BMP compression {comp}")
    if comp == 1 and bits != 8:
        raise BmpError("BI_RLE8 requires 8 bpp")
    if comp == 2 and bits != 4:
        raise BmpError("BI_RLE4 requires 4 bpp")
    if comp == 3 and bits not in (16, 32):
        raise BmpError("BI_BITFIELDS requires 16/32 bpp")
    if comp in (1, 2) and h < 0:
        raise BmpError("RLE BMPs must be bottom-up")
    if comp in (1, 2) and ico_mask:
        raise BmpError("RLE payloads are not valid inside ICO entries")
    top_down = h < 0
    h = abs(h)
    if ico_mask:
        if h % 2:
            raise BmpError("ICO DIB height must be even (XOR + AND)")
        h //= 2
    if w < 1 or h < 1 or w > 1 << 16 or h > 1 << 16:
        raise BmpError("bad BMP dimensions")
    (n_colors,) = struct.unpack_from("<I", b, off + 32)
    pos = off + size
    masks = None
    if comp == 3:
        if size == 40:  # masks follow the header as 3 DWORDs
            if pos + 12 > len(b):
                raise BmpError("truncated BI_BITFIELDS masks")
            masks = struct.unpack_from("<III", b, pos)
            pos += 12
        else:  # BITMAPV4+ carries the masks inside the header
            if off + 52 > len(b):
                raise BmpError("truncated V4 header masks")
            masks = struct.unpack_from("<III", b, off + 40)
    if bits in (1, 4, 8):
        n_pal = n_colors or (1 << bits)
        pal_raw = b[pos : pos + 4 * n_pal]
        if len(pal_raw) < 4 * n_pal:
            raise BmpError("truncated BMP palette")
        palette = np.frombuffer(pal_raw, dtype=np.uint8).reshape(-1, 4)
        pos += 4 * n_pal
        if comp in (1, 2):
            idx = _decode_rle(b[pos:], w, h, rle4=comp == 2)[::-1]
            # _decode_rle returns stored (bottom-up) order; flip here
            # and skip the shared bottom-up flip below via top_down.
            top_down = True
            pos = len(b)
        else:
            stride = ((w * bits + 31) // 32) * 4
            raw = b[pos : pos + stride * h]
            if len(raw) < stride * h:
                raise BmpError("truncated BMP pixel data")
            rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
            if bits == 8:
                idx = rows[:, :w]
            elif bits == 4:
                nib = np.repeat(rows, 2, axis=1).copy()
                nib[:, 0::2] >>= 4
                nib[:, 1::2] &= 0xF
                idx = nib[:, :w]
            else:  # 1 bpp, MSB first
                idx = np.unpackbits(rows, axis=1)[:, :w]
            pos += stride * h
        if int(idx.max(initial=0)) >= n_pal:
            raise BmpError("palette index out of range")
        img = palette[idx][:, :, [2, 1, 0]]  # BGRX -> RGB
    elif comp == 3 or bits == 16:
        if masks is None:  # BI_RGB at 16 bpp = X1R5G5B5 per spec
            masks = (0x7C00, 0x03E0, 0x001F)
        bpp = bits // 8
        stride = (w * bpp + 3) & ~3
        raw = b[pos : pos + stride * h]
        if len(raw) < stride * h:
            raise BmpError("truncated BMP pixel data")
        dt = np.uint16 if bits == 16 else np.uint32
        rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
        words = (
            rows[:, : w * bpp]
            .reshape(h * w, bpp)
            .copy()
            .view(np.dtype(dt).newbyteorder("<"))
            .reshape(h, w)
            .astype(np.uint32)
        )
        img = np.stack(
            [_mask_channel(words, m) for m in masks], axis=2
        )
        pos += stride * h
    elif bits in (24, 32):
        bpp = bits // 8
        stride = (w * bpp + 3) & ~3
        raw = b[pos : pos + stride * h]
        if len(raw) < stride * h:
            raise BmpError("truncated BMP pixel data")
        rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
        img = rows[:, : w * bpp].reshape(h, w, bpp)[:, :, [2, 1, 0]]
        pos += stride * h
    else:
        raise NotImplementedError(f"{bits}-bpp BMP")
    if not top_down:
        img = img[::-1]
    if ico_mask:
        mask_stride = ((w + 31) // 32) * 4
        raw = b[pos : pos + mask_stride * h]
        if len(raw) < mask_stride * h:
            raise BmpError("truncated ICO AND mask")
        mbits = np.unpackbits(
            np.frombuffer(raw, dtype=np.uint8).reshape(h, mask_stride),
            axis=1,
        )[:, :w]
        mask = mbits[::-1].astype(bool)  # bottom-up like the XOR image
        img = np.where(mask[:, :, None], 0, img)
    return np.ascontiguousarray(img)


def decode_bmp(b: bytes) -> np.ndarray:
    """BMP file -> (h, w, 3) uint8 RGB array."""
    if len(b) < 54 or b[:2] != b"BM":
        raise BmpError("not a BMP file")
    return _decode_dib(b, 14)


def _palette_indices(rows: np.ndarray, bits: int):
    """(idx, palette_block, n_colors) for a paletted encode: unique
    colors in lexicographic RGB order (deterministic)."""
    h, w, _ = rows.shape
    flat = rows.reshape(-1, 3)
    colors = np.unique(flat, axis=0)  # lexicographic: deterministic
    if len(colors) > (1 << bits):
        raise ValueError(f"more than {1 << bits} colors for {bits}-bpp BMP")
    lut = {tuple(c): k for k, c in enumerate(colors)}
    idx = np.array(
        [lut[tuple(p)] for p in flat], dtype=np.uint8
    ).reshape(h, w)
    pal = np.zeros((len(colors), 4), dtype=np.uint8)
    pal[:, :3] = colors[:, [2, 1, 0]]  # RGB -> BGRX
    return idx, pal.tobytes(), len(colors)


def _encode_rle(idx: np.ndarray, *, rle4: bool) -> bytes:
    """Deterministic RLE8/RLE4 stream over STORED-order (bottom-up)
    indices: maximal encoded runs per row (RLE4 runs repeat one index
    in both nibbles), EOL after every row, EOB last. Absolute mode and
    deltas are decode-only (hand fixtures cover them)."""
    h, w = idx.shape
    out = bytearray()
    for y in range(h):
        row = idx[y]
        x = 0
        while x < w:
            v = int(row[x])
            run = 1
            while x + run < w and row[x + run] == v and run < 255:
                run += 1
            out += bytes([run, (v << 4) | v if rle4 else v])
            x += run
        out += b"\x00\x00"  # end of line
    out += b"\x00\x01"  # end of bitmap
    return bytes(out)


def encode_bmp(
    img: np.ndarray,
    *,
    bits: int = 24,
    top_down: bool = False,
    compression: str | None = None,
) -> bytes:
    """Deterministic BMP encoder twin: 24/32 bpp BI_RGB; 1/4/8 bpp
    with a palette built from the image's unique colors in
    lexicographic RGB order; or ``compression='rle8'``/``'rle4'``
    run-length streams (bottom-up only, like the spec demands)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    h, w, _ = img.shape
    if compression is not None:
        if top_down:
            raise ValueError("RLE BMPs must be bottom-up")
        bits = {"rle8": 8, "rle4": 4}[compression]
    rows = img if top_down else img[::-1]
    pal_block = b""
    comp = 0
    if compression is not None:
        idx, pal_block, n_colors = _palette_indices(rows, bits)
        stream = _encode_rle(idx, rle4=compression == "rle4")
        body_bytes, body_size = stream, len(stream)
        comp = 1 if compression == "rle8" else 2
    elif bits in (1, 4, 8):
        idx, pal_block, n_colors = _palette_indices(rows, bits)
        if bits == 8:
            stride = (w + 3) & ~3
            body = np.zeros((h, stride), dtype=np.uint8)
            body[:, :w] = idx
        elif bits == 4:
            wpad = (w + 1) & ~1
            nib = np.zeros((h, wpad), dtype=np.uint8)
            nib[:, :w] = idx
            packed = (nib[:, 0::2] << 4) | nib[:, 1::2]
            stride = ((w * 4 + 31) // 32) * 4
            body = np.zeros((h, stride), dtype=np.uint8)
            body[:, : packed.shape[1]] = packed
        else:  # 1 bpp, MSB first
            packed = np.packbits(idx, axis=1)
            stride = ((w + 31) // 32) * 4
            body = np.zeros((h, stride), dtype=np.uint8)
            body[:, : packed.shape[1]] = packed
        body_bytes, body_size = body.tobytes(), body.size
    elif bits in (24, 32):
        bpp = bits // 8
        stride = (w * bpp + 3) & ~3
        body = np.zeros((h, stride), dtype=np.uint8)
        px = rows[:, :, [2, 1, 0]]  # RGB -> BGR
        if bpp == 4:
            px = np.concatenate(
                [px, np.zeros((h, w, 1), dtype=np.uint8)], axis=2
            )
        body[:, : w * bpp] = px.reshape(h, w * bpp)
        body_bytes, body_size = body.tobytes(), body.size
        n_colors = 0
    else:
        raise ValueError(f"unsupported encode depth {bits}")
    info = struct.pack(
        "<IiihHIIiiII",
        40, w, -h if top_down else h, 1, bits, comp,
        body_size, 2835, 2835, n_colors, 0,
    )
    offset = 14 + 40 + len(pal_block)
    total = offset + body_size
    hdr = b"BM" + struct.pack("<IHHI", total, 0, 0, offset)
    return hdr + info + pal_block + body_bytes


def encode_bmp_bitfields(
    img: np.ndarray,
    *,
    bits: int = 32,
    masks: tuple[int, int, int] = (0x000000FF, 0x0000FF00, 0x00FF0000),
) -> bytes:
    """Deterministic BI_BITFIELDS encoder twin (40-byte header + the
    3 mask DWORDs). Channel values quantize to the mask width with the
    exact integer form of round(c8 * mask_max / 255) — lossless iff
    every mask is 8 bits wide (the default 32-bpp RGBA-order masks),
    which is what the formula oracle uses; 16-bpp 565/555 variants are
    decode-checked against the documented rescale rule in pytest."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    h, w, _ = img.shape
    if bits not in (16, 32):
        raise ValueError("BI_BITFIELDS encodes 16 or 32 bpp")
    rows = img[::-1]  # bottom-up
    words = np.zeros((h, w), dtype=np.uint32)
    for ch, mask in enumerate(masks):
        shift = (mask & -mask).bit_length() - 1
        mx = mask >> shift
        c = rows[:, :, ch].astype(np.uint32)
        words |= ((c * mx + 127) // 255) << shift
    bpp = bits // 8
    stride = (w * bpp + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    dt = np.dtype(np.uint16 if bits == 16 else np.uint32).newbyteorder("<")
    body[:, : w * bpp] = (
        words.astype(dt).view(np.uint8).reshape(h, w * bpp)
    )
    info = struct.pack(
        "<IiihHIIiiII",
        40, w, h, 1, bits, 3,
        body.size, 2835, 2835, 0, 0,
    ) + struct.pack("<III", *masks)
    offset = 14 + 40 + 12
    total = offset + body.size
    hdr = b"BM" + struct.pack("<IHHI", total, 0, 0, offset)
    return hdr + info + body.tobytes()


def decode_ico(b: bytes) -> np.ndarray:
    """ICO file -> (h, w, 3) uint8 RGB of the LARGEST entry (the
    favicon curation convention); PNG-payload entries delegate to
    codecs/png.py, DIB entries decode XOR+AND with masked pixels
    forced to black."""
    if len(b) < 6 or b[:4] != b"\x00\x00\x01\x00":
        raise BmpError("not an ICO file")
    (count,) = struct.unpack_from("<H", b, 4)
    if count < 1:
        raise BmpError("empty ICO directory")
    best = None
    for k in range(count):
        off = 6 + 16 * k
        if off + 16 > len(b):
            raise BmpError("truncated ICO directory")
        w = b[off] or 256
        h = b[off + 1] or 256
        size, data_off = struct.unpack_from("<II", b, off + 8)
        if best is None or w * h > best[0]:
            best = (w * h, size, data_off)
    _, size, data_off = best
    payload = b[data_off : data_off + size]
    if len(payload) < size:
        raise BmpError("truncated ICO payload")
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from finetoo_sp_spark.codecs.png import decode_png

        return decode_png(payload)
    return _decode_dib(payload, 0, ico_mask=True)


def encode_ico(
    img: np.ndarray, *, as_png: bool = False, masked: np.ndarray | None = None
) -> bytes:
    """Deterministic single-entry ICO twin: PNG payload or a 24-bpp
    DIB with doubled height and an AND mask (``masked`` is an optional
    (h, w) bool array of transparent pixels; default fully opaque)."""
    img = np.asarray(img, dtype=np.uint8)
    h, w, _ = img.shape
    if w > 256 or h > 256:
        raise ValueError("ICO entries cap at 256x256")
    if as_png:
        from finetoo_sp_spark.codecs.png import encode_png

        payload = encode_png(img)
    else:
        rows = img[::-1][:, :, [2, 1, 0]]
        stride = (w * 3 + 3) & ~3
        body = np.zeros((h, stride), dtype=np.uint8)
        body[:, : w * 3] = rows.reshape(h, w * 3)
        mask_stride = ((w + 31) // 32) * 4
        mbits = np.zeros((h, mask_stride * 8), dtype=np.uint8)
        if masked is not None:
            mbits[:, :w] = np.asarray(masked, dtype=np.uint8)[::-1]
        mask_body = np.packbits(mbits, axis=1)[:, :mask_stride]
        info = struct.pack(
            "<IiihHIIiiII",
            40, w, h * 2, 1, 24, 0,
            body.size + mask_body.size, 0, 0, 0, 0,
        )
        payload = info + body.tobytes() + mask_body.tobytes()
    entry = struct.pack(
        "<BBBBHHII",
        0 if w == 256 else w, 0 if h == 256 else h,
        0, 0, 1, 24, len(payload), 6 + 16,
    )
    return b"\x00\x00\x01\x00" + struct.pack("<H", 1) + entry + payload
