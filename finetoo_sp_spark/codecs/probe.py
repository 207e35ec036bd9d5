"""Header-only image format/dimension probe (PNG, JPEG, GIF, WebP).

Curation pipelines filter crawled images by format and size BEFORE any
decode (drop icons/trackers < 64px, route formats to codecs, bucket by
resolution) — that decision needs only the first few hundred bytes, so
this probe never touches pixel data and costs O(header) per asset even
for formats whose full decode is out of scope (GIF/WebP).

Formats per their public specs:
- PNG (RFC 2083): IHDR width/height, big-endian u32 at bytes 16..24.
- JPEG (ITU T.81): scan marker segments for SOF0/1/2 (baseline /
  extended / progressive); height u16 BE at +5, width at +7.
- GIF (GIF89a spec): 'GIF87a'/'GIF89a', logical-screen w,h LE u16.
- WebP (RIFF container): 'VP8 ' lossy (14-bit w/h after the 0x9D012A
  sync), 'VP8L' lossless (packed 14-bit w-1/h-1 after 0x2F), 'VP8X'
  extended (24-bit LE canvas w-1/h-1).

Like the other codecs, malformed input raises :class:`ProbeError` so
corpus kernels skip rather than die. Deterministic minimal writers for
GIF/WebP live here as fixture twins (PNG/JPEG already have real
encoders in codecs/png.py / codecs/jpeg.py).
"""

from __future__ import annotations

import struct


class ProbeError(ValueError):
    pass


def probe_image_dims(b: bytes) -> tuple[str, int, int]:
    """Return (format, width, height) from the header alone."""
    if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n":
        if b[12:16] != b"IHDR":
            raise ProbeError("PNG without leading IHDR")
        w, h = struct.unpack_from(">II", b, 16)
        return "png", w, h
    if len(b) >= 4 and b[:2] == b"\xff\xd8":
        pos = 2
        while pos + 4 <= len(b):
            if b[pos] != 0xFF:
                raise ProbeError("JPEG marker desync")
            marker = b[pos + 1]
            if marker == 0xFF:  # fill byte before a marker (T.81 B.1.1.2)
                pos += 1
                continue
            if marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2
                if pos + 9 > len(b):
                    raise ProbeError("truncated SOF")
                h, w = struct.unpack_from(">HH", b, pos + 5)
                return "jpeg", w, h
            if marker in (0xD9, 0xDA):  # EOI / SOS: entropy data follows,
                break  # a SOF can no longer appear at marker positions
            if marker == 0xD8 or 0xD0 <= marker <= 0xD7:  # no length field
                pos += 2
                continue
            (seglen,) = struct.unpack_from(">H", b, pos + 2)
            pos += 2 + seglen
        raise ProbeError("JPEG without SOF")
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack_from("<HH", b, 6)
        return "gif", w, h
    if len(b) >= 30 and b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        fourcc = b[12:16]
        if fourcc == b"VP8 ":
            if b[23:26] != b"\x9d\x01\x2a":
                raise ProbeError("VP8 sync code missing")
            w = struct.unpack_from("<H", b, 26)[0] & 0x3FFF
            h = struct.unpack_from("<H", b, 28)[0] & 0x3FFF
            return "webp", w, h
        if fourcc == b"VP8L":
            if b[20] != 0x2F:
                raise ProbeError("VP8L signature missing")
            (bits,) = struct.unpack_from("<I", b, 21)
            return "webp", (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
        if fourcc == b"VP8X":
            w = int.from_bytes(b[24:27], "little") + 1
            h = int.from_bytes(b[27:30], "little") + 1
            return "webp", w, h
        raise ProbeError(f"unknown WebP chunk {fourcc!r}")
    if len(b) >= 8 and b[:4] in (b"II*\x00", b"MM\x00*"):
        return ("tiff",) + _tiff_dims(b)
    if len(b) >= 26 and b[:2] == b"BM":
        # BITMAPINFOHEADER (or later): signed dims at +18/+22; height's
        # sign only encodes row order (negative = top-down)
        w, h = struct.unpack_from("<ii", b, 18)
        return "bmp", w, abs(h)
    if len(b) >= 22 and b[:4] == b"\x00\x00\x01\x00":
        (count,) = struct.unpack_from("<H", b, 4)
        if count < 1:
            raise ProbeError("empty ICO directory")
        # largest entry is the favicon curation signal; 0 encodes 256
        best = (-1, 0, 0)
        for k in range(count):
            off = 6 + 16 * k
            if off + 16 > len(b):
                raise ProbeError("truncated ICO directory")
            w = b[off] or 256
            h = b[off + 1] or 256
            if w * h > best[0]:
                best = (w * h, w, h)
        return "ico", best[1], best[2]
    raise ProbeError("unrecognized image format")


def _tiff_dims(b: bytes) -> tuple[int, int]:
    """Walk the first IFD for ImageWidth (256) / ImageLength (257),
    per TIFF 6.0: entries are 12 bytes, SHORT(3)/LONG(4) values are
    inlined in the offset field."""
    bo = "<" if b[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack_from(bo + "I", b, 4)
    if ifd_off + 2 > len(b):
        raise ProbeError("truncated TIFF IFD offset")
    (n_entries,) = struct.unpack_from(bo + "H", b, ifd_off)
    w = h = None
    for k in range(n_entries):
        off = ifd_off + 2 + 12 * k
        if off + 12 > len(b):
            raise ProbeError("truncated TIFF IFD")
        tag, typ = struct.unpack_from(bo + "HH", b, off)
        if tag not in (256, 257):
            continue
        if typ == 3:
            (val,) = struct.unpack_from(bo + "H", b, off + 8)
        elif typ == 4:
            (val,) = struct.unpack_from(bo + "I", b, off + 8)
        else:
            raise ProbeError(f"unsupported TIFF dim type {typ}")
        if tag == 256:
            w = val
        else:
            h = val
    if w is None or h is None:
        raise ProbeError("TIFF missing dimension tags")
    return w, h


# --------------------------------------------------------- audio probe
# MPEG audio frame tables (ISO 11172-3 / 13818-3). Bitrates in kbps,
# index 0 = "free format" (unsupported here), 15 = invalid.
_MP3_BITRATES = {
    # (version_group, layer): 14-entry table for indices 1..14
    ("v1", 1): [32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    ("v1", 2): [32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    ("v1", 3): [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    ("v2", 1): [32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    ("v2", 2): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    ("v2", 3): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_MP3_RATES = {3: [44100, 48000, 32000], 2: [22050, 24000, 16000],
              0: [11025, 12000, 8000]}  # version bits -> rates


def _mp3_frame(b: bytes, pos: int):
    """Parse one MPEG audio frame header at pos; returns
    (frame_bytes, samples_per_frame, rate, bitrate_kbps, channels)."""
    if pos + 4 > len(b):
        raise ProbeError("truncated MPEG frame header")
    h = int.from_bytes(b[pos : pos + 4], "big")
    if (h >> 21) & 0x7FF != 0x7FF:
        raise ProbeError("lost MPEG frame sync")
    ver_bits = (h >> 19) & 3
    if ver_bits == 1:
        raise ProbeError("reserved MPEG version")
    layer = 4 - ((h >> 17) & 3)
    if layer == 4:
        raise ProbeError("reserved MPEG layer")
    bidx = (h >> 12) & 0xF
    if bidx in (0, 15):
        raise ProbeError("free-format or invalid bitrate index")
    ridx = (h >> 10) & 3
    if ridx == 3:
        raise ProbeError("invalid sample-rate index")
    padding = (h >> 9) & 1
    mode = (h >> 6) & 3
    vgroup = "v1" if ver_bits == 3 else "v2"
    bitrate = _MP3_BITRATES[(vgroup, layer)][bidx - 1]
    rate = _MP3_RATES[ver_bits][ridx]
    if layer == 1:
        spf = 384
        size = (12 * bitrate * 1000 // rate + padding) * 4
    else:
        spf = 1152 if (layer == 2 or vgroup == "v1") else 576
        size = spf // 8 * bitrate * 1000 // rate + padding
    return size, spf, rate, bitrate, 1 if mode == 3 else 2


def probe_audio_meta(b: bytes) -> tuple[str, int, int, int, int, bool]:
    """Header-only audio metadata: (container, sample_rate, channels,
    duration_ms, bitrate_kbps, vbr). Curation pipelines bucket crawled
    audio by codec/rate/length BEFORE any decode; for the compressed
    formats this never touches entropy data:

    - MP3 (ISO 11172-3): skip ID3v2, then walk frame headers summing
      exact per-frame sample counts — works for CBR and VBR alike; a
      'Xing'/'Info'/'VBRI' tag in the first frame or varying per-frame
      bitrates flags VBR; bitrate reported is the integer mean kbps.
    - Ogg (RFC 3533): first page carries the Vorbis/Opus id header
      (rate/channels); the LAST page's granule position is the exact
      total sample count (Opus granules run at 48 kHz minus pre-skip).
      Page CRCs are not verified — crawl payloads are routinely
      truncated and the probe is best-effort by design.
    - WAV / FLAC: delegated header math from their codecs' own
      STREAMINFO / fmt chunks (no sample decode).

    Raises :class:`ProbeError` on anything unrecognized/truncated.
    """
    if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        from finetoo_sp_spark.codecs.wav import WavError, decode_wav

        try:  # WAV "decode" is a frombuffer view — header cost anyway
            rate, ch, _bits, samples = decode_wav(b)
        except WavError as e:
            raise ProbeError(str(e)) from e
        n = samples.shape[0]
        dur = n * 1000 // rate
        return ("wav", rate, ch, dur,
                rate * ch * _bits // 1000, False)
    if len(b) >= 42 and b[:4] == b"fLaC":
        bits = int.from_bytes(b[18:26], "big")
        rate = bits >> 44
        ch = ((bits >> 41) & 0x7) + 1
        total = bits & ((1 << 36) - 1)
        if rate < 1:
            raise ProbeError("bad FLAC sample rate")
        return ("flac", rate, ch, total * 1000 // rate, 0, True)
    if len(b) >= 10 and b[:3] == b"ID3":
        size = ((b[6] & 0x7F) << 21 | (b[7] & 0x7F) << 14
                | (b[8] & 0x7F) << 7 | (b[9] & 0x7F))
        return _probe_mpeg(b, 10 + size)
    if len(b) >= 4 and b[0] == 0xFF and (b[1] & 0xE0) == 0xE0:
        return _probe_mpeg(b, 0)
    if len(b) >= 28 and b[:4] == b"OggS":
        return _probe_ogg(b)
    raise ProbeError("unrecognized audio format")


def _probe_mpeg(b: bytes, pos: int) -> tuple[str, int, int, int, int, bool]:
    n_frames = 0
    total_samples = 0
    rate0 = ch0 = None
    bitrates: list[int] = []
    vbr_tag = False
    while pos + 4 <= len(b):
        if b[pos : pos + 3] == b"TAG" and len(b) - pos == 128:
            break  # trailing ID3v1 tag
        size, spf, rate, bitrate, ch = _mp3_frame(b, pos)
        if pos + size > len(b):
            break  # truncated final frame (routine in crawls): drop it
        if n_frames == 0:
            rate0, ch0 = rate, ch
            body = b[pos : pos + size]
            if b"Xing" in body or b"Info" in body or b"VBRI" in body:
                vbr_tag = True
        elif rate != rate0:
            raise ProbeError("MPEG sample rate changed mid-stream")
        n_frames += 1
        total_samples += spf
        bitrates.append(bitrate)
        pos += size
    if n_frames == 0:
        raise ProbeError("no complete MPEG frame")
    vbr = vbr_tag or len(set(bitrates)) > 1
    return ("mp3", rate0, ch0, total_samples * 1000 // rate0,
            sum(bitrates) // n_frames, vbr)


def _probe_ogg(b: bytes) -> tuple[str, int, int, int, int, bool]:
    nsegs = b[26]
    hdr_len = 27 + nsegs
    first_len = sum(b[27 : 27 + nsegs])
    packet = b[hdr_len : hdr_len + first_len]
    # last page: granule position = total PCM samples (RFC 3533 §6)
    last = b.rfind(b"OggS")
    if last < 0 or last + 14 > len(b):
        raise ProbeError("no Ogg page found")
    (granule,) = struct.unpack_from("<q", b, last + 6)
    if granule < 0:
        raise ProbeError("unset Ogg granule position")
    if packet[:7] == b"\x01vorbis":
        if len(packet) < 16:
            raise ProbeError("truncated Vorbis id header")
        ch = packet[11]
        (rate,) = struct.unpack_from("<I", packet, 12)
        if rate < 1 or ch < 1:
            raise ProbeError("bad Vorbis id header")
        return "ogg-vorbis", rate, ch, granule * 1000 // rate, 0, True
    if packet[:8] == b"OpusHead":
        if len(packet) < 19:
            raise ProbeError("truncated Opus id header")
        ch = packet[9]
        (preskip,) = struct.unpack_from("<H", packet, 10)
        samples = max(granule - preskip, 0)
        return "ogg-opus", 48000, ch, samples * 1000 // 48000, 0, True
    raise ProbeError("unrecognized Ogg codec")


# ------------------------------------- deterministic fixture writers
def make_mp3(
    n_frames: int,
    rate_idx: int = 0,
    bitrate_indices: list[int] | None = None,
    channels: int = 2,
    xing: bool = False,
) -> bytes:
    """Structurally valid MPEG-1 Layer III stream (headers + zero
    payload — the probe never reads entropy data). ``bitrate_indices``
    cycles per frame (1..14); a 'Xing' tag lands in frame 0 if asked."""
    if bitrate_indices is None:
        bitrate_indices = [9]  # 128 kbps
    out = bytearray()
    for f in range(n_frames):
        bidx = bitrate_indices[f % len(bitrate_indices)]
        bitrate = _MP3_BITRATES[("v1", 3)][bidx - 1]
        rate = _MP3_RATES[3][rate_idx]
        size = 144 * bitrate * 1000 // rate
        mode = 3 if channels == 1 else 0
        h = (0x7FF << 21) | (3 << 19) | (1 << 17) | (bidx << 12) \
            | (rate_idx << 10) | (mode << 6)
        frame = bytearray(h.to_bytes(4, "big")) + b"\x00" * (size - 4)
        if f == 0 and xing:
            off = 36 if channels == 1 else 40  # side-info end, MPEG-1
            frame[off : off + 4] = b"Xing"
        out += frame
    return bytes(out)


def encode_tiff_header(width: int, height: int, *, big_endian: bool = False) -> bytes:
    """Minimal valid TIFF: byte-order mark + one IFD carrying
    ImageWidth (SHORT) and ImageLength (LONG) — header-only fixture
    for the dimension probe, no strip data."""
    bo = ">" if big_endian else "<"
    out = (b"MM\x00*" if big_endian else b"II*\x00") + struct.pack(bo + "I", 8)
    out += struct.pack(bo + "H", 2)
    out += struct.pack(bo + "HHIHH", 256, 3, 1, width, 0)
    out += struct.pack(bo + "HHII", 257, 4, 1, height)
    out += struct.pack(bo + "I", 0)
    return out


def make_ogg(codec: str, rate: int, channels: int, granule: int) -> bytes:
    """Two-page Ogg stream: id-header page + a final page carrying the
    closing granule position. Page CRCs are left zero (unverified by
    the probe; see probe_audio_meta)."""
    if codec == "vorbis":
        packet = (b"\x01vorbis" + struct.pack("<IB", 0, channels)
                  + struct.pack("<I", rate) + b"\x00" * 16 + b"\x01")
    elif codec == "opus":
        packet = (b"OpusHead" + bytes([1, channels])
                  + struct.pack("<H", 312)
                  + struct.pack("<I", rate) + b"\x00\x00\x00")
    else:
        raise ValueError(f"unknown ogg codec {codec!r}")

    def page(granule_pos: int, seq: int, body: bytes, htype: int) -> bytes:
        segs = []
        rem = len(body)
        while rem >= 255:
            segs.append(255)
            rem -= 255
        segs.append(rem)
        return (b"OggS\x00" + bytes([htype])
                + struct.pack("<q", granule_pos)
                + struct.pack("<II", 0xFEED, seq)
                + b"\x00\x00\x00\x00"  # CRC zero
                + bytes([len(segs)]) + bytes(segs) + body)

    return page(0, 0, packet, 0x02) + page(granule, 1, b"\x00" * 17, 0x04)


def encode_gif_header(width: int, height: int) -> bytes:
    """Minimal valid GIF89a: header + logical screen descriptor + trailer."""
    return b"GIF89a" + struct.pack("<HHBBB", width, height, 0, 0, 0) + b"\x3b"


def encode_webp_vp8l_header(width: int, height: int) -> bytes:
    """Minimal WebP/VP8L container: RIFF + VP8L chunk with the packed
    14-bit dimension bits (header-only — no pixel stream follows)."""
    bits = (width - 1) | ((height - 1) << 14)
    payload = b"\x2f" + struct.pack("<I", bits) + b"\x00" * 5
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def parse_id3v2(b: bytes) -> dict:
    """ID3v2.3/2.4 TEXT frames from the head of an audio payload — the
    title/artist/album metadata a crawled-audio curation index keys on
    (id3.org spec): 10-byte header ('ID3', version, flags, syncsafe
    size), then frames of (id4, size — syncsafe in v2.4, plain in
    v2.3 — flags2, body); text-frame bodies carry an encoding byte
    (0 latin-1, 1 utf-16 with BOM, 3 utf-8). Returns {version, title,
    artist, album} with '' for absent frames and version 0 when no tag
    exists; structurally corrupt tags raise ValueError so kernels
    skip."""
    out = {"version": 0, "title": "", "artist": "", "album": ""}
    if len(b) < 10 or b[:3] != b"ID3":
        return out
    ver = b[3]
    if ver not in (3, 4):
        raise ValueError(f"unsupported ID3v2.{ver}")
    size = (b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9]
    if 10 + size > len(b):
        raise ValueError("ID3 tag size overruns payload")
    out["version"] = ver
    pos = 10
    end = 10 + size
    wanted = {b"TIT2": "title", b"TPE1": "artist", b"TALB": "album"}
    while pos + 10 <= end:
        fid = b[pos : pos + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        raw = b[pos + 4 : pos + 8]
        if ver == 4:  # syncsafe frame size
            fsize = (raw[0] << 21) | (raw[1] << 14) | (raw[2] << 7) | raw[3]
        else:
            fsize = int.from_bytes(raw, "big")
        if pos + 10 + fsize > end:
            raise ValueError("ID3 frame overruns tag")
        body = b[pos + 10 : pos + 10 + fsize]
        key = wanted.get(fid)
        if key and body:
            enc, payload = body[0], body[1:]
            if enc == 0:
                out[key] = payload.split(b"\x00")[0].decode("latin-1")
            elif enc == 1:
                out[key] = payload.decode("utf-16", "ignore").split("\x00")[0]
            elif enc == 3:
                out[key] = payload.split(b"\x00")[0].decode("utf-8", "ignore")
        pos += 10 + fsize
    return out


def make_id3v2(
    title: str = "",
    artist: str = "",
    album: str = "",
    version: int = 3,
    encoding: int = 0,
) -> bytes:
    """Deterministic ID3v2 tag (fixture twin of :func:`parse_id3v2`).
    Prepend to any audio payload; ``encoding`` 0 latin-1 / 1 utf-16 /
    3 utf-8."""
    if version not in (3, 4):
        raise ValueError("version must be 3 or 4")
    frames = b""
    for fid, val in ((b"TIT2", title), (b"TPE1", artist), (b"TALB", album)):
        if not val:
            continue
        if encoding == 0:
            body = b"\x00" + val.encode("latin-1")
        elif encoding == 1:
            body = b"\x01" + val.encode("utf-16")  # BOM included
        else:
            body = b"\x03" + val.encode("utf-8")
        n = len(body)
        if version == 4:
            raw = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])
        else:
            raw = n.to_bytes(4, "big")
        frames += fid + raw + b"\x00\x00" + body
    size = len(frames)
    hdr = b"ID3" + bytes([version, 0, 0]) + bytes(
        [(size >> 21) & 0x7F, (size >> 14) & 0x7F, (size >> 7) & 0x7F, size & 0x7F]
    )
    return hdr + frames
