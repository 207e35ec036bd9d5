"""Pure-stdlib FLAC codec (sample-exact decode + deterministic encoder).

Second audio leg of the multimodal column beside codecs/wav.py: FLAC is
the dominant *lossless* compressed audio format on the open web, and —
unlike MP3/AAC/Opus — its decode is bit-reproducible by spec, so the
same sample-exact value oracles that gate the WAV path apply unchanged.
Format per the public spec (RFC 9639 / xiph.org FLAC format):

- ``fLaC`` magic, then metadata blocks; STREAMINFO (type 0, mandatory)
  carries blocksize/framesize ranges, sample rate (20 bits),
  channels-1 (3), bits-1 (5), total samples (36).
- Audio frames: 14-bit sync ``0b11111111111110``, blocking strategy,
  coded blocksize/rate/channel-assignment/sample-size, a UTF-8-style
  coded frame number, CRC-8 over the header, one subframe per channel,
  byte alignment, CRC-16 over the whole frame.
- Subframes: CONSTANT, VERBATIM, FIXED (orders 0-4, the hardwired
  polynomial predictors), LPC (order 1-32, quantized coefficients +
  shift). Residuals are Rice-coded in 2^partition_order partitions
  (4- or 5-bit parameters, escape code = raw binary).
- Stereo decorrelation: independent, left/side, right/side, mid/side
  (the side channel carries one extra bit of depth).

The decoder handles ALL of the above; the encoder twin (used by
datagen to build oracle corpora) emits a chosen subframe strategy and
stereo mode deterministically, so every decode path is exercisable on
purpose. Malformed input — bad sync, CRC mismatch, truncation —
raises :class:`FlacError` so corpus kernels skip rather than die.

Scale note: Rice coding is inherently bit-serial, so this decode is
O(total bits) Python inside the Arrow batch (the WAV path stays the
vectorized numpy fast lane). That is the honest cost of exactness
without a native codec dependency; the kernel-level contract
(mapInPandas, skip-on-error, integer stats) is identical.
"""

from __future__ import annotations

import struct

import numpy as np


class FlacError(ValueError):
    pass


# ---------------------------------------------------------------- CRCs
# CRC-8 poly x^8+x^2+x+1 (0x07), init 0; CRC-16 poly x^16+x^15+x^2+1
# (0x8005), init 0 — both per the FLAC spec, tables computed here.
def _make_crc8() -> list[int]:
    tbl = []
    for byte in range(256):
        c = byte
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        tbl.append(c)
    return tbl


def _make_crc16() -> list[int]:
    tbl = []
    for byte in range(256):
        c = byte << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
        tbl.append(c)
    return tbl


_CRC8 = _make_crc8()
_CRC16 = _make_crc16()


def crc8(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC8[c ^ b]
    return c


def crc16(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC16[((c >> 8) ^ b) & 0xFF] ^ ((c << 8) & 0xFFFF)
    return c


# ------------------------------------------------------------ bit I/O
class _BitReader:
    """MSB-first bit reader over one big int (fast bulk shifts beat a
    per-bit Python loop; files at oracle scale are tiny)."""

    def __init__(self, buf: bytes) -> None:
        self._buf = buf
        self._nbits = len(buf) * 8
        self._val = int.from_bytes(buf, "big")
        self._pos = 0  # bits consumed from the MSB end

    def read(self, n: int) -> int:
        if self._pos + n > self._nbits:
            raise FlacError("truncated bitstream")
        shift = self._nbits - self._pos - n
        out = (self._val >> shift) & ((1 << n) - 1)
        self._pos += n
        return out

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v & (1 << (n - 1)) else v

    def read_unary(self) -> int:
        """Count of 0 bits before the terminating 1 bit."""
        q = 0
        while True:
            if self._pos >= self._nbits:
                raise FlacError("truncated unary code")
            if self.read(1):
                return q
            q += 1

    def align(self) -> None:
        rem = self._pos & 7
        if rem:
            self._pos += 8 - rem

    @property
    def byte_pos(self) -> int:
        return self._pos >> 3


class _BitWriter:
    def __init__(self) -> None:
        self._val = 0
        self._nbits = 0

    def write(self, v: int, n: int) -> None:
        if v < 0 or v >= (1 << n):
            raise ValueError(f"value {v} does not fit in {n} bits")
        self._val = (self._val << n) | v
        self._nbits += n

    def write_signed(self, v: int, n: int) -> None:
        self.write(v & ((1 << n) - 1), n)

    def write_unary(self, q: int) -> None:
        self._val = (self._val << (q + 1)) | 1
        self._nbits += q + 1

    def align(self) -> None:
        rem = self._nbits & 7
        if rem:
            self.write(0, 8 - rem)

    def getvalue(self) -> bytes:
        if self._nbits & 7:
            raise ValueError("unaligned bitstream")
        return self._val.to_bytes(self._nbits >> 3, "big")


# -------------------------------------------------------- coded number
def _read_coded_number(r: _BitReader) -> int:
    """UTF-8-style variable-length number used for frame/sample index
    (FLAC extends UTF-8 to 36-bit values / 7-byte sequences)."""
    first = r.read(8)
    if first < 0x80:
        return first
    n = 0
    probe = first
    while probe & 0x40:
        n += 1
        probe <<= 1
    if n < 1 or n > 6:
        raise FlacError("bad coded-number lead byte")
    val = first & (0x3F >> n)
    for _ in range(n):
        b = r.read(8)
        if b & 0xC0 != 0x80:
            raise FlacError("bad coded-number continuation")
        val = (val << 6) | (b & 0x3F)
    return val


def _write_coded_number(w: _BitWriter, val: int) -> None:
    if val < 0x80:
        w.write(val, 8)
        return
    # shortest form: lead byte carries (6 - n) bits, each of the n
    # continuation bytes carries 6 (FLAC's UTF-8-style extension)
    parts = []
    v = val
    n = 1
    while True:
        head_bits = 6 - n if n < 6 else 0
        if v < (1 << (head_bits + 6 * n)):
            break
        n += 1
        if n > 6:
            raise ValueError("coded number out of range")
    head_bits = 6 - n if n < 6 else 0
    for _ in range(n):
        parts.append(0x80 | (v & 0x3F))
        v >>= 6
    lead_mask = (0xFF << (7 - n)) & 0xFF if n < 6 else 0xFE
    w.write(lead_mask | v, 8)
    for p in reversed(parts):
        w.write(p, 8)


_BLOCKSIZE_CODES = {192: 1, 576: 2, 1152: 3, 2304: 4, 4608: 5,
                    256: 8, 512: 9, 1024: 10, 2048: 11, 4096: 12,
                    8192: 13, 16384: 14, 32768: 15}
_RATE_CODES = {88200: 1, 176400: 2, 192000: 3, 8000: 4, 16000: 5,
               22050: 6, 24000: 7, 32000: 8, 44100: 9, 48000: 10,
               96000: 11}
_BITS_CODES = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}
_BITS_FROM_CODE = {v: k for k, v in _BITS_CODES.items()}

_FIXED_COEFFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


# --------------------------------------------------------------- decode
def _decode_residual(r: _BitReader, blocksize: int, order: int) -> list[int]:
    method = r.read(2)
    if method > 1:
        raise FlacError("reserved residual coding method")
    param_bits = 4 if method == 0 else 5
    escape = (1 << param_bits) - 1
    part_order = r.read(4)
    nparts = 1 << part_order
    if blocksize % nparts:
        raise FlacError("partition order does not divide blocksize")
    out: list[int] = []
    for p in range(nparts):
        count = (blocksize >> part_order) - (order if p == 0 else 0)
        if count < 0:
            raise FlacError("predictor order exceeds first partition")
        param = r.read(param_bits)
        if param == escape:
            raw_bits = r.read(5)
            if raw_bits == 0:
                out.extend([0] * count)
            else:
                out.extend(r.read_signed(raw_bits) for _ in range(count))
        else:
            for _ in range(count):
                q = r.read_unary()
                v = (q << param) | r.read(param)
                out.append((v >> 1) ^ -(v & 1))  # zigzag
    return out


def _decode_subframe(r: _BitReader, blocksize: int, bps: int) -> list[int]:
    if r.read(1):
        raise FlacError("subframe padding bit set")
    ftype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
        bps -= wasted
    if bps < 1:
        raise FlacError("wasted bits exceed sample depth")
    if ftype == 0:  # CONSTANT
        v = r.read_signed(bps)
        samples = [v] * blocksize
    elif ftype == 1:  # VERBATIM
        samples = [r.read_signed(bps) for _ in range(blocksize)]
    elif 8 <= ftype <= 12:  # FIXED order 0-4
        order = ftype - 8
        samples = [r.read_signed(bps) for _ in range(order)]
        res = _decode_residual(r, blocksize, order)
        coeffs = _FIXED_COEFFS[order]
        for e in res:
            pred = sum(c * samples[-1 - j] for j, c in enumerate(coeffs))
            samples.append(e + pred)
    elif ftype >= 32:  # LPC order 1-32
        order = (ftype & 0x1F) + 1
        samples = [r.read_signed(bps) for _ in range(order)]
        precision = r.read(4) + 1
        if precision == 16:
            raise FlacError("invalid LPC precision code")
        shift = r.read_signed(5)
        if shift < 0:
            raise FlacError("negative LPC shift")
        coeffs = [r.read_signed(precision) for _ in range(order)]
        res = _decode_residual(r, blocksize, order)
        for e in res:
            acc = sum(c * samples[-1 - j] for j, c in enumerate(coeffs))
            samples.append(e + (acc >> shift))
    else:
        raise FlacError(f"reserved subframe type {ftype}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def decode_flac(b: bytes) -> tuple[int, int, int, np.ndarray]:
    """Parse a FLAC file; returns (sample_rate, n_channels,
    bits_per_sample, samples) with ``samples`` an int32 array of shape
    (n_frames, n_channels) — the same contract as codecs.wav.decode_wav
    so the audio kernels dispatch on magic alone. Raises
    :class:`FlacError` on malformed input (callers skip, not crash)."""
    if len(b) < 42 or b[:4] != b"fLaC":
        raise FlacError("not a FLAC stream")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(b):
            raise FlacError("truncated metadata block header")
        hdr = b[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        length = int.from_bytes(b[pos + 1 : pos + 4], "big")
        body = b[pos + 4 : pos + 4 + length]
        if len(body) < length:
            raise FlacError("truncated metadata block")
        if btype == 0:
            if length < 34:
                raise FlacError("STREAMINFO too short")
            bits = int.from_bytes(body[10:18], "big")
            rate = bits >> 44
            channels = ((bits >> 41) & 0x7) + 1
            bps = ((bits >> 36) & 0x1F) + 1
            total = bits & ((1 << 36) - 1)
            streaminfo = (rate, channels, bps, total)
        elif btype == 127:
            raise FlacError("invalid metadata block type 127")
        pos += 4 + length
        if last:
            break
    if streaminfo is None:
        raise FlacError("missing STREAMINFO")
    rate, channels, bps, total = streaminfo
    if rate < 1:
        raise FlacError("bad sample rate")

    frames: list[np.ndarray] = []
    got = 0
    while (total and got < total) or (not total and pos < len(b)):
        r = _BitReader(b[pos:])
        if r.read(14) != 0b11111111111110:
            raise FlacError("lost frame sync")
        if r.read(1):
            raise FlacError("reserved frame-header bit set")
        r.read(1)  # blocking strategy
        bs_code = r.read(4)
        rate_code = r.read(4)
        chan_code = r.read(4)
        bits_code = r.read(3)
        if r.read(1):
            raise FlacError("reserved frame-header bit set")
        _read_coded_number(r)
        if bs_code == 0:
            raise FlacError("reserved blocksize code")
        elif bs_code == 1:
            blocksize = 192
        elif bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code == 6:
            blocksize = r.read(8) + 1
        elif bs_code == 7:
            blocksize = r.read(16) + 1
        else:
            blocksize = 256 << (bs_code - 8)
        if rate_code == 12:
            r.read(8)
        elif rate_code in (13, 14):
            r.read(16)
        elif rate_code == 15:
            raise FlacError("invalid sample-rate code")
        fbps = bps if bits_code == 0 else _BITS_FROM_CODE.get(bits_code)
        if fbps is None:
            raise FlacError("reserved sample-size code")
        hdr_len = r.byte_pos
        if crc8(b[pos : pos + hdr_len]) != r.read(8):
            raise FlacError("frame header CRC-8 mismatch")

        if chan_code <= 7:
            nch = chan_code + 1
            chans = [
                _decode_subframe(r, blocksize, fbps) for _ in range(nch)
            ]
        elif chan_code in (8, 9, 10):
            nch = 2
            extra0 = 1 if chan_code == 9 else 0  # right/side: ch0 is side
            extra1 = 1 if chan_code in (8, 10) else 0
            c0 = _decode_subframe(r, blocksize, fbps + extra0)
            c1 = _decode_subframe(r, blocksize, fbps + extra1)
            if chan_code == 8:  # left/side
                left = c0
                right = [l - s for l, s in zip(c0, c1)]
            elif chan_code == 9:  # side/right
                right = c1
                left = [s + rr for s, rr in zip(c0, c1)]
            else:  # mid/side
                left, right = [], []
                for m, s in zip(c0, c1):
                    m2 = (m << 1) | (s & 1)
                    left.append((m2 + s) >> 1)
                    right.append((m2 - s) >> 1)
            chans = [left, right]
        else:
            raise FlacError("reserved channel assignment")
        if len(chans) != channels:
            raise FlacError("frame channel count != STREAMINFO")
        r.align()
        frame_len = r.byte_pos
        if crc16(b[pos : pos + frame_len]) != r.read(16):
            raise FlacError("frame CRC-16 mismatch")
        pos += frame_len + 2
        frames.append(np.array(chans, dtype=np.int64).T)
        got += blocksize

    samples = (
        np.concatenate(frames, axis=0)
        if frames
        else np.zeros((0, channels), dtype=np.int64)
    )
    if total:
        if samples.shape[0] < total:
            raise FlacError("stream ended before total_samples")
        samples = samples[:total]
    lim = 1 << (bps - 1)
    if samples.size and (samples.max() >= lim or samples.min() < -lim):
        raise FlacError("decoded sample exceeds declared bit depth")
    return rate, channels, bps, samples.astype(np.int32)


# --------------------------------------------------------------- encode
def _best_rice_param(res: list[int]) -> int:
    best_k, best_bits = 0, None
    zig = [(v << 1) if v >= 0 else ((-v) << 1) - 1 for v in res]
    for k in range(15):
        bits = sum((z >> k) + 1 + k for z in zig)
        if best_bits is None or bits < best_bits:
            best_k, best_bits = k, bits
        if best_bits is not None and bits > 4 * best_bits:
            break
    return best_k


def _write_residual(w: _BitWriter, res: list[int]) -> None:
    w.write(0, 2)  # 4-bit rice parameters
    w.write(0, 4)  # partition order 0
    k = _best_rice_param(res)
    if k >= 15:
        k = 14
    w.write(k, 4)
    for v in res:
        z = (v << 1) if v >= 0 else ((-v) << 1) - 1
        w.write_unary(z >> k)
        if k:
            w.write(z & ((1 << k) - 1), k)


def _write_subframe(
    w: _BitWriter, samples: list[int], bps: int, strategy: str
) -> None:
    w.write(0, 1)  # padding
    const = all(s == samples[0] for s in samples) if samples else True
    if strategy == "constant" and not const:
        strategy = "fixed1"
    if strategy == "constant":
        w.write(0, 6)
        w.write(0, 1)
        w.write_signed(samples[0] if samples else 0, bps)
        return
    if strategy == "verbatim":
        w.write(1, 6)
        w.write(0, 1)
        for s in samples:
            w.write_signed(s, bps)
        return
    order = {"fixed0": 0, "fixed1": 1, "fixed2": 2, "fixed3": 3,
             "fixed4": 4}.get(strategy)
    if order is None:
        raise ValueError(f"unknown subframe strategy {strategy!r}")
    if order >= len(samples):
        order = 0
    w.write(8 + order, 6)
    w.write(0, 1)
    for s in samples[:order]:
        w.write_signed(s, bps)
    coeffs = _FIXED_COEFFS[order]
    res = [
        samples[i] - sum(c * samples[i - 1 - j] for j, c in enumerate(coeffs))
        for i in range(order, len(samples))
    ]
    _write_residual(w, res)


def encode_flac(
    samples: np.ndarray,
    sample_rate: int,
    *,
    bits: int = 16,
    blocksize: int = 4096,
    subframe: str = "fixed1",
    stereo: str = "independent",
) -> bytes:
    """Deterministic FLAC encoder twin. ``samples`` is int array of
    shape (n_frames, channels); ``subframe`` picks the strategy every
    block uses ('constant' falls back to fixed1 on non-constant
    blocks); ``stereo`` in {'independent','left_side','right_side',
    'mid_side'} exercises the decorrelation decode paths (2-channel
    input only). The output decodes back sample-exactly — FLAC is
    lossless — which is what the oracle corpora rely on."""
    samples = np.asarray(samples)
    if samples.ndim == 1:
        samples = samples[:, None]
    n, channels = samples.shape
    if stereo != "independent" and channels != 2:
        raise ValueError("stereo decorrelation needs exactly 2 channels")
    if blocksize not in _BLOCKSIZE_CODES and not (16 <= blocksize <= 65535):
        raise ValueError("bad blocksize")
    lim = 1 << (bits - 1)
    if samples.size and (samples.max() >= lim or samples.min() < -lim):
        raise ValueError("samples exceed bit depth")

    out = bytearray(b"fLaC")
    # STREAMINFO, the only (and last) metadata block. md5 = 0 (unknown).
    si = bytearray()
    si += struct.pack(">HH", blocksize, blocksize)
    si += b"\x00\x00\x00" * 2  # min/max framesize unknown
    packed = (sample_rate << 44) | ((channels - 1) << 41) | ((bits - 1) << 36) | n
    si += packed.to_bytes(8, "big")
    si += b"\x00" * 16
    out += bytes([0x80]) + len(si).to_bytes(3, "big") + si

    bits_code = _BITS_CODES[bits]
    rate_code = _RATE_CODES.get(sample_rate, 14)
    chan_code = {"independent": channels - 1, "left_side": 8,
                 "right_side": 9, "mid_side": 10}[stereo]
    frame_no = 0
    for start in range(0, max(n, 1), blocksize):
        block = samples[start : start + blocksize]
        bsz = block.shape[0]
        if bsz == 0:
            break
        w = _BitWriter()
        w.write(0b11111111111110, 14)
        w.write(0, 1)
        w.write(0, 1)  # fixed blocksize strategy
        bs_code = _BLOCKSIZE_CODES.get(bsz, 7)
        w.write(bs_code, 4)
        w.write(rate_code, 4)
        w.write(chan_code, 4)
        w.write(bits_code, 3)
        w.write(0, 1)
        _write_coded_number(w, frame_no)
        if bs_code == 7:
            w.write(bsz - 1, 16)
        if rate_code == 14:
            w.write(sample_rate // 10, 16)
        hdr = w.getvalue()
        w.write(crc8(hdr), 8)

        cols = [block[:, c].astype(np.int64).tolist() for c in range(channels)]
        if stereo == "left_side":
            subs = [(cols[0], bits), ([l - r for l, r in zip(*cols)], bits + 1)]
        elif stereo == "right_side":
            subs = [([l - r for l, r in zip(*cols)], bits + 1), (cols[1], bits)]
        elif stereo == "mid_side":
            mids = [(l + r) >> 1 for l, r in zip(*cols)]
            sides = [l - r for l, r in zip(*cols)]
            subs = [(mids, bits), (sides, bits + 1)]
        else:
            subs = [(c, bits) for c in cols]
        for data, sbps in subs:
            _write_subframe(w, data, sbps, subframe)
        w.align()
        body = w.getvalue()
        w.write(crc16(body), 16)
        out += w.getvalue()
        frame_no += 1
    return bytes(out)


def parse_flac_tags(b: bytes) -> dict:
    """VORBIS_COMMENT metadata from a FLAC file (RFC 9639 §8.6 /
    the Xiph VorbisComment spec) — the FLAC-side twin of ID3: walk the
    metadata blocks after ``fLaC``, and from a type-4 block read the
    little-endian vendor string + KEY=value list (keys case-insensitive
    per spec). Returns {vendor, title, artist, album} with '' for
    absent fields; files without a comment block return the vendor ''
    dict; structural overruns raise ValueError so kernels skip."""
    out = {"vendor": "", "title": "", "artist": "", "album": ""}
    if len(b) < 8 or b[:4] != b"fLaC":
        return out
    pos = 4
    while pos + 4 <= len(b):
        hdr = b[pos]
        btype, last = hdr & 0x7F, bool(hdr & 0x80)
        size = int.from_bytes(b[pos + 1 : pos + 4], "big")
        body_at = pos + 4
        if body_at + size > len(b):
            raise ValueError("FLAC metadata block overruns file")
        if btype == 4:
            body = b[body_at : body_at + size]
            p = 0
            if p + 4 > len(body):
                raise ValueError("truncated vorbis comment")
            vlen = int.from_bytes(body[p : p + 4], "little")
            p += 4
            if p + vlen + 4 > len(body):
                raise ValueError("vorbis vendor overruns block")
            out["vendor"] = body[p : p + vlen].decode("utf-8", "ignore")
            p += vlen
            n = int.from_bytes(body[p : p + 4], "little")
            p += 4
            for _ in range(n):
                if p + 4 > len(body):
                    raise ValueError("vorbis comment count overruns block")
                clen = int.from_bytes(body[p : p + 4], "little")
                p += 4
                if p + clen > len(body):
                    raise ValueError("vorbis comment overruns block")
                kv = body[p : p + clen].decode("utf-8", "ignore")
                p += clen
                key, _, val = kv.partition("=")
                k = key.lower()
                if k in ("title", "artist", "album") and val:
                    out[k] = val
        pos = body_at + size
        if last:
            break
    return out


def make_vorbis_comment_block(
    title: str = "",
    artist: str = "",
    album: str = "",
) -> bytes:
    """Serialized VORBIS_COMMENT metadata block (fixture twin of
    :func:`parse_flac_tags`); splice after STREAMINFO."""
    comments = [
        f"{k}={v}"
        for k, v in (("TITLE", title), ("ARTIST", artist), ("ALBUM", album))
        if v
    ]
    vendor = b"finetoo-sp-spark"
    body = len(vendor).to_bytes(4, "little") + vendor
    body += len(comments).to_bytes(4, "little")
    for c in comments:
        raw = c.encode("utf-8")
        body += len(raw).to_bytes(4, "little") + raw
    hdr = bytes([4]) + len(body).to_bytes(3, "big")  # type 4, not the last block
    return hdr + body


def insert_flac_tags(flac: bytes, block: bytes) -> bytes:
    """Insert a metadata block right after STREAMINFO, clearing the
    STREAMINFO last-block flag so the chain stays well-formed."""
    if flac[:4] != b"fLaC":
        raise ValueError("not a FLAC file")
    hdr = flac[4]
    size = int.from_bytes(flac[5:8], "big")
    end = 8 + size
    was_last = bool(hdr & 0x80)
    out = bytearray(flac)
    out[4] = hdr & 0x7F  # STREAMINFO no longer last
    if was_last and not (block[0] & 0x80):
        block = bytes([block[0] | 0x80]) + block[1:]
    return bytes(out[:end]) + block + bytes(out[end:])
