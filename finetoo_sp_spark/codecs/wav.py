"""Pure-stdlib RIFF/WAVE codec (decode + deterministic encoders).

The audio leg of the multimodal column: WAV needs no entropy codec,
so — like codecs/png.py for images — a complete, exact decoder is
feasible with numpy alone. Entropy-coded formats (MP3, Opus, AAC)
raise so corpus kernels skip rather than die.

Format per RIFF 1991 spec / RFC 2361 WAVE taxonomy: 'RIFF' size 'WAVE'
then chunks; 'fmt ' carries (audio_format, channels, sample_rate,
byte_rate, block_align, bits); 'data' carries the frames. Decoded
here: audio_format=1 (integer PCM, 8/16/24/32-bit), 6/7 (ITU-T G.711
A-law / mu-law — telephony-recording WAVs; decoded through the exact
256-entry spec tables built at import from the segment formulas) and
0x11 (IMA/DVI ADPCM — 4-bit predictive blocks with per-channel block
headers, decoded with the public IMA step/index tables).

PCM and G.711 are numpy ``frombuffer``/table-gather — no per-sample
Python; ADPCM's nibble recurrence is inherently sequential (small
telephony assets; the Arrow kernel batches many per task).
"""

from __future__ import annotations

import struct

import numpy as np


class WavError(ValueError):
    pass


def _ulaw_table() -> np.ndarray:
    """256-entry mu-law code -> linear int16, from the G.711 segment
    formula: complement the code, t = ((mantissa<<3)+132) << segment,
    value = t-132 (or 132-t when the complemented sign bit is set).
    Anchors: decode(0x80) = +32124 (positive full scale),
    decode(0xFF) = 0."""
    c = np.arange(256, dtype=np.int64)
    u = 255 - c  # one's complement of the transmitted code
    t = ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8))
    return np.where(u >= 128, 132 - t, t - 132).astype(np.int32)


def _alaw_table() -> np.ndarray:
    """256-entry A-law code -> linear int16, from the G.711 segment
    formula: XOR the code with 0x55, t = mantissa<<4 plus the segment
    offset (8 in segment 0, 264 then doubling), sign bit set =
    positive. Anchors: decode(0xD5) = +8, decode(0xAA) = +32256."""
    c = np.arange(256, dtype=np.int64)
    a = c ^ 0x55
    m16 = (a % 16) * 16
    seg = (a // 16) % 8
    t = np.where(
        seg == 0, m16 + 8,
        np.where(seg == 1, m16 + 264, (m16 + 264) * (1 << np.maximum(seg - 1, 0))),
    )
    return np.where(a >= 128, t, -t).astype(np.int32)


ULAW_DECODE = _ulaw_table()
ALAW_DECODE = _alaw_table()

# IMA/DVI ADPCM tables (public IMA "Recommended Practices" values)
_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767], dtype=np.int64)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8] * 2, dtype=np.int64)


def _ima_decode_channel(pred: int, index: int, nibbles: np.ndarray) -> np.ndarray:
    """One channel's ADPCM recurrence: each 4-bit code scales the
    current step (step>>3 + conditional step, step>>1, step>>2 terms),
    signs it with bit 3, clamps the predictor to int16 and steps the
    index by the IMA index table."""
    out = np.empty(len(nibbles), dtype=np.int32)
    index = min(max(index, 0), 88)
    for k, n in enumerate(nibbles):
        step = int(_IMA_STEPS[index])
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        pred = pred - diff if n & 8 else pred + diff
        pred = min(max(pred, -32768), 32767)
        out[k] = pred
        index = min(max(index + int(_IMA_INDEX[n]), 0), 88)
    return out


def _decode_ima_adpcm(
    data: bytes, channels: int, block_align: int
) -> np.ndarray:
    """WAV IMA ADPCM 'data' chunk -> (n_frames, channels) int32. Block
    layout per the Microsoft WAVE mapping of IMA ADPCM: per channel a
    4-byte header (int16 predictor = first output sample, uint8 step
    index, reserved), then interleaved 4-byte words (8 nibbles,
    low nibble first) per channel."""
    if block_align < 4 * channels or (block_align - 4 * channels) % (4 * channels):
        raise WavError("bad IMA ADPCM block_align")
    words_per_ch = (block_align - 4 * channels) // (4 * channels)
    frames_per_block = 1 + words_per_ch * 8
    chunks = []
    for boff in range(0, len(data) - block_align + 1, block_align):
        block = data[boff : boff + block_align]
        chans = []
        for ch in range(channels):
            (pred,) = struct.unpack_from("<h", block, 4 * ch)
            index = block[4 * ch + 2]
            if index > 88:
                raise WavError("IMA ADPCM step index out of range")
            # this channel's data words: word w lives at
            # 4*channels + (w//1)... words interleave per channel
            raw = bytearray()
            base = 4 * channels
            for w in range(words_per_ch):
                woff = base + (w * channels + ch) * 4
                raw += block[woff : woff + 4]
            b8 = np.frombuffer(bytes(raw), dtype=np.uint8)
            nibbles = np.empty(len(b8) * 2, dtype=np.uint8)
            nibbles[0::2] = b8 & 0xF  # low nibble first
            nibbles[1::2] = b8 >> 4
            decoded = np.empty(frames_per_block, dtype=np.int32)
            decoded[0] = pred
            decoded[1:] = _ima_decode_channel(pred, index, nibbles)
            chans.append(decoded)
        chunks.append(np.stack(chans, axis=1))
    if not chunks:
        raise WavError("empty IMA ADPCM data")
    return np.concatenate(chunks, axis=0)


def decode_wav(b: bytes) -> tuple[int, int, int, np.ndarray]:
    """Parse a PCM WAV file.

    Returns (sample_rate, n_channels, bits_per_sample, samples) where
    ``samples`` is an int32 array of shape (n_frames, n_channels)
    (8-bit unsigned PCM is centered to signed per the WAV convention).
    Raises :class:`WavError` on anything that is not integer-PCM WAVE —
    including truncated chunks — so callers can skip, not crash.
    """
    if len(b) < 12 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise WavError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise WavError(f"truncated chunk {cid!r}")
        if cid == b"fmt ":
            if size < 16:
                raise WavError("fmt chunk too short")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise WavError("missing fmt or data chunk")
    audio_format, channels, rate, _byte_rate, block_align, bits = fmt
    if channels < 1 or rate < 1:
        raise WavError("bad fmt fields")
    if audio_format in (6, 7):  # G.711 A-law / mu-law
        table = ALAW_DECODE if audio_format == 6 else ULAW_DECODE
        samples = table[np.frombuffer(data, dtype=np.uint8)]
        n_frames = len(samples) // channels
        return rate, channels, 8, samples[: n_frames * channels].reshape(
            n_frames, channels
        )
    if audio_format == 0x11:  # IMA/DVI ADPCM
        return rate, channels, 4, _decode_ima_adpcm(data, channels, block_align)
    if audio_format != 1:
        raise WavError(f"unsupported audio_format {audio_format} (compressed?)")
    if bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.int32)
    elif bits == 8:
        samples = np.frombuffer(data, dtype=np.uint8).astype(np.int32) - 128
    elif bits == 24:
        # packed little-endian 3-byte samples (studio-master WAVs):
        # assemble in int32 and sign-extend from bit 23
        raw = np.frombuffer(data[: (len(data) // 3) * 3], dtype=np.uint8)
        b0 = raw[0::3].astype(np.int32)
        b1 = raw[1::3].astype(np.int32)
        b2 = raw[2::3].astype(np.int32)
        samples = b0 | (b1 << 8) | (b2 << 16)
        samples = ((samples + (1 << 23)) & 0xFFFFFF) - (1 << 23)
    elif bits == 32:
        samples = np.frombuffer(data, dtype="<i4").astype(np.int32)
    else:
        raise WavError(f"unsupported bits_per_sample {bits}")
    n_frames = len(samples) // channels
    return rate, channels, bits, samples[: n_frames * channels].reshape(
        n_frames, channels
    )


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Deterministic 16-bit PCM WAV writer (mono or multichannel).

    ``samples``: int array, shape (n_frames,) or (n_frames, channels),
    values in int16 range. Byte-stable across runs — the synthetic
    corpus generator and pytest fixtures depend on that.
    """
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    channels = s.shape[1]
    pcm = s.astype("<i2").tobytes()
    block_align = channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align, block_align, 16
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _g711_encode(samples: np.ndarray, table: np.ndarray) -> np.ndarray:
    """Nearest-code G.711 encoder via the decode table: for each int16
    sample pick the code whose decoded value is closest (ties -> lower
    code) — an exact inverse on values that ARE decode outputs, which
    is what the synthetic corpus and round-trip tests use."""
    order = np.argsort(table, kind="stable")
    sorted_vals = table[order].astype(np.int64)
    s = np.asarray(samples, dtype=np.int64).reshape(-1)
    pos = np.searchsorted(sorted_vals, s)
    pos = np.clip(pos, 1, 255)
    lo, hi = sorted_vals[pos - 1], sorted_vals[pos]
    take_hi = (hi - s) < (s - lo)
    idx = np.where(take_hi, pos, pos - 1)
    # ties and equal distances resolve to the lower decoded value;
    # exact hits land exactly (searchsorted left + the < comparison)
    exact = sorted_vals[pos] == s
    idx = np.where(exact, pos, idx)
    return order[idx].astype(np.uint8)


def encode_wav_g711(
    samples: np.ndarray, sample_rate: int, *, law: str = "ulaw"
) -> bytes:
    """Deterministic G.711 WAV writer (audio_format 7=mu-law/6=A-law),
    mono or multichannel; nearest-code companding."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    channels = s.shape[1]
    table = ULAW_DECODE if law == "ulaw" else ALAW_DECODE
    codes = _g711_encode(s.reshape(-1), table).tobytes()
    fmt = struct.pack(
        "<HHIIHH", 7 if law == "ulaw" else 6, channels, sample_rate,
        sample_rate * channels, channels, 8,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(codes)) + codes
    if len(codes) & 1:
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def make_wav_g711_codes(
    codes: np.ndarray, sample_rate: int, *, law: str = "ulaw", channels: int = 1
) -> bytes:
    """G.711 WAV from RAW byte codes (fixture/corpus path: the decoded
    samples are then exactly the spec-table values of these codes)."""
    raw = np.asarray(codes, dtype=np.uint8).tobytes()
    fmt = struct.pack(
        "<HHIIHH", 7 if law == "ulaw" else 6, channels, sample_rate,
        sample_rate * channels, channels, 8,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(raw)) + raw
    if len(raw) & 1:
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_ima_adpcm(samples: np.ndarray, sample_rate: int) -> bytes:
    """Deterministic IMA ADPCM WAV writer (audio_format 0x11), mono or
    multichannel. Standard nibble quantization: code bits set greedily
    from step, step>>1, step>>2 against the prediction error, then the
    predictor advances through the DECODER arithmetic, so
    decode(encode(x)) is bit-reproducible everywhere."""
    s = np.asarray(samples, dtype=np.int64)
    if s.ndim == 1:
        s = s[:, None]
    n_frames, channels = s.shape
    words_per_block = 63  # 4-byte data words per channel after each block header
    frames_per_block = 1 + words_per_block * 8
    block_align = 4 * channels + words_per_block * 4 * channels
    pad = (-(n_frames - 1)) % (frames_per_block - 1) if n_frames > 1 else 0
    if n_frames == 0:
        raise ValueError("no samples")
    if pad:
        s = np.concatenate([s, np.repeat(s[-1:], pad, axis=0)], axis=0)
    blocks = bytearray()
    for b0 in range(0, len(s), frames_per_block):
        blk = s[b0 : b0 + frames_per_block]
        if len(blk) < frames_per_block:
            blk = np.concatenate(
                [blk, np.repeat(blk[-1:], frames_per_block - len(blk), axis=0)],
                axis=0,
            )
        headers = bytearray()
        ch_words = []
        for ch in range(channels):
            pred = int(np.clip(blk[0, ch], -32768, 32767))
            index = 0
            headers += struct.pack("<hBB", pred, index, 0)
            nibbles = []
            for x in blk[1:, ch]:
                step = int(_IMA_STEPS[index])
                diff = int(x) - pred
                code = 8 if diff < 0 else 0
                diff = abs(diff)
                if diff >= step:
                    code |= 4
                    diff -= step
                if diff >= step >> 1:
                    code |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    code |= 1
                # advance predictor through the decoder arithmetic
                d = step >> 3
                if code & 1:
                    d += step >> 2
                if code & 2:
                    d += step >> 1
                if code & 4:
                    d += step
                pred = pred - d if code & 8 else pred + d
                pred = min(max(pred, -32768), 32767)
                index = min(max(index + int(_IMA_INDEX[code]), 0), 88)
                nibbles.append(code)
            nb = np.asarray(nibbles, dtype=np.uint8)
            packed = (nb[0::2] | (nb[1::2] << 4)).tobytes()
            ch_words.append(packed)
        blocks += headers
        for w in range(words_per_block):
            for ch in range(channels):
                blocks += ch_words[ch][4 * w : 4 * w + 4]
    fmt = struct.pack(
        "<HHIIHHH", 0x11, channels, sample_rate,
        sample_rate * block_align // frames_per_block, block_align, 4,
        2,
    ) + struct.pack("<H", frames_per_block)
    # cbSize=2 + wSamplesPerBlock extension per the WAVE mapping
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(blocks)) + bytes(blocks)
    if len(blocks) & 1:
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_24bit(samples: np.ndarray, sample_rate: int) -> bytes:
    """Deterministic 24-bit PCM WAV writer (fixture twin of the
    bits==24 decode branch). ``samples``: int array in [-2^23, 2^23),
    shape (n_frames,) or (n_frames, channels)."""
    s = np.asarray(samples, dtype=np.int64)
    if s.ndim == 1:
        s = s[:, None]
    channels = s.shape[1]
    flat = (s.reshape(-1) & 0xFFFFFF).astype(np.uint32)
    pcm = np.empty(flat.size * 3, dtype=np.uint8)
    pcm[0::3] = flat & 0xFF
    pcm[1::3] = (flat >> 8) & 0xFF
    pcm[2::3] = (flat >> 16) & 0xFF
    block_align = channels * 3
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align,
        block_align, 24,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", pcm.size) + pcm.tobytes()
    return b"RIFF" + struct.pack("<I", len(body)) + body
