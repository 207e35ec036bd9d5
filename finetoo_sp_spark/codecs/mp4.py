"""Pure-stdlib ISO-BMFF (MP4) metadata probe (parse + deterministic encoder).

The video leg of the multimodal column: full video DECODE needs entropy
codecs (H.264/AV1) that are out of scope for a stdlib container, but the
metadata a curation pipeline actually filters on — container brand,
movie timescale/duration, per-track handler/codec/geometry — lives in
the plain ISO/IEC 14496-12 box structure and parses exactly with
``struct`` alone. Like codecs/wav.py, anything malformed raises
:class:`Mp4Error` so corpus kernels skip rather than die; frame PAYLOAD
decode stays behind the documented NotImplementedError gate in
multimodal.py.

Box grammar per ISO/IEC 14496-12 §4.2: ``uint32 size, char[4] type``
(size==1 -> uint64 largesize follows); containers nest boxes in their
payload. Parsed here: ftyp (major_brand), moov/mvhd (timescale,
duration; version 0 and 1), moov/trak/tkhd (track_id, width/height as
16.16 fixed point), trak/mdia/hdlr (handler fourcc, e.g. 'vide'/'soun'),
trak/mdia/minf/stbl/stsd (first sample-entry fourcc = codec).
"""

from __future__ import annotations

import struct


class Mp4Error(ValueError):
    pass


_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}
_TABLES = {b"stts", b"stsz", b"stsc", b"stco", b"co64", b"stss"}


def _boxes(b: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for sibling boxes."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", b, pos)
        btype = b[pos + 4 : pos + 8]
        payload = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise Mp4Error("truncated largesize box")
            (size,) = struct.unpack_from(">Q", b, pos + 8)
            payload = pos + 16
        elif size == 0:  # box extends to end of file
            size = end - pos
        if size < payload - pos or pos + size > end:
            raise Mp4Error(f"bad box size {size} for {btype!r}")
        yield btype, payload, pos + size
        pos += size
    if pos != end:
        raise Mp4Error("trailing bytes that are not a box")


def decode_mp4(b: bytes) -> dict:
    """Parse container metadata.

    Returns {major_brand, timescale, duration, tracks: [{track_id,
    handler, width, height, codec}, ...]}. Raises :class:`Mp4Error` on
    anything that is not a well-formed ISO-BMFF file with ftyp + mvhd.
    """
    if len(b) < 12 or b[4:8] != b"ftyp":
        raise Mp4Error("not an ISO-BMFF file (no leading ftyp)")
    major_brand = None
    timescale = None
    duration = None
    tracks: list[dict] = []

    def walk(start: int, end: int, path: tuple[bytes, ...]) -> None:
        nonlocal major_brand, timescale, duration
        for btype, p0, p1 in _boxes(b, start, end):
            if btype == b"ftyp" and not path:
                if p1 - p0 < 8:
                    raise Mp4Error("short ftyp")
                major_brand = b[p0 : p0 + 4].decode("latin-1")
            elif btype == b"mvhd" and path == (b"moov",):
                version = b[p0]
                if version == 1:
                    timescale, duration = struct.unpack_from(">IQ", b, p0 + 20)
                else:
                    timescale, duration = struct.unpack_from(">II", b, p0 + 12)
            elif btype == b"tkhd" and path[-2:] == (b"moov", b"trak"):
                version = b[p0]
                off = p0 + (4 + 8 + 8 if version == 1 else 4 + 4 + 4)
                (track_id,) = struct.unpack_from(">I", b, off)
                w_fp, h_fp = struct.unpack_from(">II", b, p1 - 8)
                tracks.append(
                    {
                        "track_id": track_id,
                        "handler": None,
                        "width": w_fp >> 16,
                        "height": h_fp >> 16,
                        "codec": None,
                    }
                )
            elif btype == b"hdlr" and path[-2:] == (b"trak", b"mdia"):
                if tracks:
                    tracks[-1]["handler"] = b[p0 + 8 : p0 + 12].decode("latin-1")
            elif btype == b"stsd" and path[-1:] == (b"stbl",):
                (n_entries,) = struct.unpack_from(">I", b, p0 + 4)
                if n_entries > 0 and tracks:
                    tracks[-1]["codec"] = b[p0 + 12 : p0 + 16].decode("latin-1")
            elif btype in _CONTAINERS:
                walk(p0, p1, path + (btype,))

    walk(0, len(b), ())
    if major_brand is None or timescale is None:
        raise Mp4Error("missing ftyp or mvhd")
    return {
        "major_brand": major_brand,
        "timescale": timescale,
        "duration": duration,
        "tracks": tracks,
    }


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def encode_mp4(
    major_brand: str,
    timescale: int,
    duration: int,
    tracks: list[tuple[str, int, int, str]],
    mdat: bytes = b"",
) -> bytes:
    """Deterministic minimal ISO-BMFF writer (test/fixture twin of
    :func:`decode_mp4`). ``tracks``: (handler, width, height, codec)."""
    ftyp = _box(b"ftyp", major_brand.encode("latin-1") + struct.pack(">I", 0) + b"isom")
    mvhd = _box(
        b"mvhd",
        struct.pack(">B3x", 0)
        + struct.pack(">II", 0, 0)  # creation, modification
        + struct.pack(">II", timescale, duration)
        + struct.pack(">I", 0x00010000)  # rate 1.0
        + struct.pack(">H", 0x0100)  # volume 1.0
        + b"\x00" * 10
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", len(tracks) + 1),
    )
    trak_boxes = []
    for idx, (handler, width, height, codec) in enumerate(tracks):
        tkhd = _box(
            b"tkhd",
            struct.pack(">B3x", 0)
            + struct.pack(">II", 0, 0)
            + struct.pack(">I", idx + 1)
            + b"\x00" * 4
            + struct.pack(">I", duration)
            + b"\x00" * 8
            + struct.pack(">HHHH", 0, 0, 0, 0)
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + struct.pack(">II", width << 16, height << 16),
        )
        hdlr = _box(
            b"hdlr",
            struct.pack(">B3x", 0)
            + struct.pack(">I", 0)
            + handler.encode("latin-1")
            + b"\x00" * 12
            + b"\x00",
        )
        entry = struct.pack(">I", 16) + codec.encode("latin-1") + b"\x00" * 6 + struct.pack(">H", 1)
        stsd = _box(b"stsd", struct.pack(">B3x", 0) + struct.pack(">I", 1) + entry)
        stbl = _box(b"stbl", stsd)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", hdlr + minf)
        trak_boxes.append(_box(b"trak", tkhd + mdia))
    moov = _box(b"moov", mvhd + b"".join(trak_boxes))
    return ftyp + moov + _box(b"mdat", mdat)


def decode_sample_table(b: bytes) -> list[dict]:
    """Per-video-sample fetch work list from the stbl sample tables —
    the plumbing a real frame extractor needs BEFORE any codec work:
    byte ranges + timestamps + keyframe flags, resolved from stts
    (decode deltas), stsz (sizes), stsc (sample-to-chunk runs),
    stco/co64 (chunk offsets) and stss (sync table; absent = every
    sample is sync, per ISO 14496-12 §8.6.2).

    Tables are collected per ``trak``, never mixed across tracks. Returns
    one dict per sample of the first track whose stbl has the full
    stts/stsz/stsc/stco set, preferring a ``vide`` handler track:
    {sample_idx (0-based), dts_ticks, size, offset (absolute file
    offset), mdat_offset (relative to the mdat payload start),
    is_sync}. Raises :class:`Mp4Error` on inconsistent tables
    (sizes/chunks/offsets disagreeing) so kernels skip, never die."""
    traks: list[dict] = []
    mdat_start = None

    def entries(p0: int, p1: int, hdr: int, width: int, btype: bytes) -> int:
        """Validated entry count: a corrupt count that overruns the box
        would otherwise read neighboring boxes as table entries (and a
        multi-GB bogus count would OOM the expansion below)."""
        (n,) = struct.unpack_from(">I", b, p0 + 4)
        if p0 + hdr + width * n > p1:
            raise Mp4Error(f"{btype.decode('latin-1')} count {n} overruns box")
        return n

    def table(btype: bytes, p0: int, p1: int):
        if btype == b"stts":
            n = entries(p0, p1, 8, 8, btype)
            return [struct.unpack_from(">II", b, p0 + 8 + 8 * k) for k in range(n)]
        if btype == b"stsz":
            uniform_size, n = struct.unpack_from(">II", b, p0 + 4)
            if uniform_size:
                return [uniform_size] * n
            if p0 + 12 + 4 * n > p1:
                raise Mp4Error(f"stsz count {n} overruns box")
            return [struct.unpack_from(">I", b, p0 + 12 + 4 * k)[0] for k in range(n)]
        if btype == b"stsc":
            n = entries(p0, p1, 8, 12, btype)
            return [struct.unpack_from(">III", b, p0 + 8 + 12 * k) for k in range(n)]
        if btype == b"stss":
            n = entries(p0, p1, 8, 4, btype)
            return {struct.unpack_from(">I", b, p0 + 8 + 4 * k)[0] for k in range(n)}
        fmt, w = (">Q", 8) if btype == b"co64" else (">I", 4)
        n = entries(p0, p1, 8, w, btype)
        return [struct.unpack_from(fmt, b, p0 + 8 + w * k)[0] for k in range(n)]

    def walk(start: int, end: int, path: tuple[bytes, ...]) -> None:
        nonlocal mdat_start
        for btype, p0, p1 in _boxes(b, start, end):
            if btype == b"mdat" and mdat_start is None:
                mdat_start = p0
            elif btype == b"hdlr" and path[-2:] == (b"trak", b"mdia"):
                traks[-1].setdefault(b"hdlr", b[p0 + 8 : p0 + 12])
            elif btype in _TABLES and path[-1:] == (b"stbl",) and b"trak" in path:
                key = b"stco" if btype == b"co64" else btype
                if key not in traks[-1]:
                    traks[-1][key] = table(btype, p0, p1)
            elif btype in _CONTAINERS:
                if btype == b"trak":
                    traks.append({})
                walk(p0, p1, path + (btype,))

    walk(0, len(b), ())
    full = [
        t
        for t in traks
        if t.get(b"stts") and t.get(b"stsz") and t.get(b"stsc") and b"stco" in t
    ]
    if not full:
        raise Mp4Error("missing sample tables (stts/stsz/stsc/stco)")
    track = next((t for t in full if t.get(b"hdlr") == b"vide"), full[0])
    stts, stsz, stsc = track[b"stts"], track[b"stsz"], track[b"stsc"]
    stco, stss = track[b"stco"], track.get(b"stss")
    n_samples = len(stsz)
    # validate BEFORE expanding: a corrupt run count must not allocate
    total = sum(count for count, _ in stts)
    if total != n_samples:
        raise Mp4Error(f"stts covers {total} samples, stsz {n_samples}")
    # decode timestamps from stts runs
    dts, t = [], 0
    for count, delta in stts:
        for _ in range(count):
            dts.append(t)
            t += delta
    # expand stsc runs to per-chunk sample counts
    per_chunk: list[int] = []
    for k, (first, spc, _desc) in enumerate(stsc):
        last = stsc[k + 1][0] - 1 if k + 1 < len(stsc) else len(stco)
        if first < 1 or last < first:
            raise Mp4Error("bad stsc run boundaries")
        per_chunk.extend([spc] * (last - first + 1))
    if len(per_chunk) != len(stco) or sum(per_chunk) != n_samples:
        raise Mp4Error("stsc/stco disagree with stsz sample count")
    out = []
    s = 0
    for chunk_idx, spc in enumerate(per_chunk):
        off = stco[chunk_idx]
        for _ in range(spc):
            out.append(
                {
                    "sample_idx": s,
                    "dts_ticks": dts[s],
                    "size": stsz[s],
                    "offset": off,
                    "mdat_offset": off - mdat_start if mdat_start is not None else -1,
                    "is_sync": stss is None or (s + 1) in stss,
                }
            )
            off += stsz[s]
            s += 1
    return out


def encode_mp4_samples(
    timescale: int,
    stts_runs: list[tuple[int, int]],
    sizes: list[int],
    samples_per_chunk: int,
    sync_every: int = 0,
    co64: bool = False,
) -> bytes:
    """Fixture twin of :func:`decode_sample_table`: one video track with
    a full stbl (stts runs as given, per-sample stsz, stsc covering
    ``samples_per_chunk``-sized chunks with a short last run, stco or
    co64 offsets pointing at a contiguously packed mdat, stss marking
    every ``sync_every``-th sample — 0 writes NO stss, meaning all-sync).
    Sample k's payload is bytes of value (k % 251) so content checks
    can verify the byte ranges land."""
    n = len(sizes)
    if sum(c for c, _ in stts_runs) != n:
        raise ValueError("stts runs must cover exactly len(sizes) samples")
    duration = sum(c * d for c, d in stts_runs)
    stts = _box(
        b"stts",
        struct.pack(">B3xI", 0, len(stts_runs))
        + b"".join(struct.pack(">II", c, d) for c, d in stts_runs),
    )
    stsz = _box(
        b"stsz",
        struct.pack(">B3xII", 0, 0, n) + b"".join(struct.pack(">I", s) for s in sizes),
    )
    n_chunks = (n + samples_per_chunk - 1) // samples_per_chunk
    rem = n - samples_per_chunk * (n_chunks - 1)
    stsc_runs = [(1, samples_per_chunk, 1)]
    if n_chunks > 1 and rem != samples_per_chunk:
        stsc_runs.append((n_chunks, rem, 1))
    stsc = _box(
        b"stsc",
        struct.pack(">B3xI", 0, len(stsc_runs))
        + b"".join(struct.pack(">III", f, s, d) for f, s, d in stsc_runs),
    )
    stss = b""
    if sync_every:
        syncs = [k + 1 for k in range(n) if k % sync_every == 0]
        stss = _box(
            b"stss",
            struct.pack(">B3xI", 0, len(syncs))
            + b"".join(struct.pack(">I", s) for s in syncs),
        )
    # chunk offsets: mdat payload is contiguous, so chunk j starts at
    # mdat_payload_start + sum(sizes of samples before chunk j)
    chunk_rel = []
    acc = 0
    for j in range(n_chunks):
        chunk_rel.append(acc)
        spc = samples_per_chunk if j < n_chunks - 1 else rem
        lo = j * samples_per_chunk
        acc += sum(sizes[lo : lo + spc])
    fmt, btype = (">Q", b"co64") if co64 else (">I", b"stco")
    # two-pass: build moov with zero offsets to learn its size, then patch
    def build(offsets: list[int]) -> bytes:
        stco = _box(
            btype,
            struct.pack(">B3xI", 0, n_chunks)
            + b"".join(struct.pack(fmt, o) for o in offsets),
        )
        entry = struct.pack(">I", 16) + b"avc1" + b"\x00" * 6 + struct.pack(">H", 1)
        stsd = _box(b"stsd", struct.pack(">B3xI", 0, 1) + entry)
        stbl = _box(b"stbl", stsd + stts + stsz + stsc + stss + stco)
        hdlr = _box(
            b"hdlr",
            struct.pack(">B3xI", 0, 0) + b"vide" + b"\x00" * 12 + b"\x00",
        )
        mdia = _box(b"mdia", hdlr + _box(b"minf", stbl))
        tkhd = _box(
            b"tkhd",
            struct.pack(">B3xII", 0, 0, 0)
            + struct.pack(">I", 1)
            + b"\x00" * 4
            + struct.pack(">I", duration)
            + b"\x00" * 8
            + struct.pack(">HHHH", 0, 0, 0, 0)
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + struct.pack(">II", 16 << 16, 16 << 16),
        )
        mvhd = _box(
            b"mvhd",
            struct.pack(">B3x", 0)
            + struct.pack(">II", 0, 0)
            + struct.pack(">II", timescale, duration)
            + struct.pack(">I", 0x00010000)
            + struct.pack(">H", 0x0100)
            + b"\x00" * 10
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + b"\x00" * 24
            + struct.pack(">I", 2),
        )
        moov = _box(b"moov", mvhd + _box(b"trak", tkhd + mdia))
        ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
        return ftyp + moov

    head = build([0] * n_chunks)
    mdat_payload_start = len(head) + 8  # mdat box header
    head = build([mdat_payload_start + r for r in chunk_rel])
    mdat = b"".join(bytes([k % 251]) * sizes[k] for k in range(n))
    return head + _box(b"mdat", mdat)
