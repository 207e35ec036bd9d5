"""Multimodal kernels: real decodes over opaque binary payloads.

Image/audio/video assets are (asset_id, modality, payload) rows. The
payload is an opaque ``binary`` column that never leaves the JVM except
through Arrow batches into a Python kernel; metadata (modality, declared
dims, codec) rides in typed sibling columns, so pruning and filtering
never touch bytes. Every decode goes through the pure-stdlib codecs in
``finetoo_sp_spark.codecs``.

One seam: every per-asset payload kernel below is a ``row(asset_id,
raw)`` function handed to :func:`per_asset`, which owns the projection,
the Arrow batch loop, the output columns and ONE skip policy. ``row``
returns the asset's output rows; if it raises any exception in
:data:`SKIP`, the whole asset is dropped and the task carries on. A
hostile payload may skip a row, never kill a task. Each codec's own
``*Error`` subclasses ``ValueError``, so the policy covers them all.

Reference tie-in: the reference treats PDF payloads the same way —
opaque binary siblings of the DXFs routed to a parallel parse path
(binder_test_no_refs/ listing; proto/graph.proto:360-383 BinderConfig).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# The exceptions a decoder may raise on hostile bytes (the contract
# tests/test_fuzz_decoders.py pins); anything else is a bug and fails.
SKIP = (ValueError, NotImplementedError, IndexError, EOFError, struct.error, zlib.error)


def per_asset(
    assets: DataFrame, schema: StructType, row: Callable[[int, bytes], list[tuple]]
) -> DataFrame:
    """One Arrow-batched ``mapInPandas`` over (asset_id, payload).

    ``row(asset_id, raw)`` returns the asset's output rows as tuples in
    ``schema`` field order. An exception in :data:`SKIP` drops the
    whole asset (no partial rows); no shuffle, one pass."""
    cols = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            recs = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    recs.extend(row(asset_id, bytes(payload)))
                except SKIP:
                    continue
            yield pd.DataFrame(recs, columns=cols)

    return assets.select("asset_id", "payload").mapInPandas(run, schema=schema)


def decode_image(payload: bytes) -> "np.ndarray":
    """Decode an image payload to an (H, W, C) uint8 array, routed by
    magic bytes.

    PNG decodes via codecs/png.py (zlib inflate, chunk CRCs, all five
    scanline filters); JPEG via codecs/jpeg.py (baseline SOF0/SOF1 and
    progressive SOF2, Huffman, 4:4:4/4:2:0, restart markers);
    WebP-lossless via codecs/vp8l.py (full VP8L: transforms, color
    cache, LZ77, meta-prefix groups); GIF via codecs/gif.py (LZW,
    interlace, transparency; animated files decode the first frame);
    BMP and ICO (favicons — largest entry, PNG or DIB payload) via
    codecs/bmp.py; baseline TIFF via codecs/tiff.py. Lossy-VP8 WebP,
    arithmetic-coded JPEG and any other format raise
    NotImplementedError, which :data:`SKIP` covers.
    """
    b = bytes(payload)
    if b.startswith(b"\x89PNG\r\n\x1a\n"):
        from finetoo_sp_spark.codecs.png import decode_png

        return decode_png(b)
    if b.startswith(b"\xff\xd8"):
        from finetoo_sp_spark.codecs.jpeg import decode_jpeg

        return decode_jpeg(b)
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        from finetoo_sp_spark.codecs.vp8l import decode_webp

        return decode_webp(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        from finetoo_sp_spark.codecs.gif import decode_gif

        return decode_gif(b)
    if b[:2] == b"BM":
        from finetoo_sp_spark.codecs.bmp import decode_bmp

        return decode_bmp(b)
    if b[:4] == b"\x00\x00\x01\x00":
        from finetoo_sp_spark.codecs.bmp import decode_ico

        return decode_ico(b)
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        from finetoo_sp_spark.codecs.tiff import decode_tiff

        return decode_tiff(b)
    raise NotImplementedError(
        "unsupported image format (decodes PNG, JPEG, lossless WebP, GIF, "
        "BMP, ICO and TIFF)"
    )


def asset_metadata(assets: DataFrame) -> DataFrame:
    """(asset_id, modality, n_bytes, payload_sha) — pure JVM column ops;
    the scan never deserializes payloads into Python."""
    return assets.select(
        "asset_id",
        "modality",
        F.length("payload").cast("long").alias("n_bytes"),
        F.sha2("payload", 256).alias("payload_sha"),
    )


IMAGE_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("channels", LongType(), False),
        StructField("sum_r", LongType(), False),
        StructField("sum_g", LongType(), False),
        StructField("sum_b", LongType(), False),
    ]
)


def _nn_sample(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resample to (out_h, out_w) with the pure-integer
    floor rule src = (dst * src_dim) // dst_dim."""
    h, w = img.shape[:2]
    rows = (np.arange(out_h, dtype=np.int64) * h) // out_h
    cols = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return img.take(rows, axis=0).take(cols, axis=1)


def _stats_rows(asset_id: int, img: np.ndarray) -> list[tuple]:
    """IMAGE_STATS_SCHEMA row: geometry plus exact per-channel sums
    (grayscale repeats its single channel across r/g/b)."""
    h, w, ch = img.shape
    sums = img.reshape(-1, ch).sum(axis=0, dtype=np.int64)
    r, g, b = (sums[0], sums[1], sums[2]) if ch >= 3 else (sums[0],) * 3
    return [(asset_id, w, h, ch, int(r), int(g), int(b))]


def image_stats(assets: DataFrame) -> DataFrame:
    """REAL image decode over the binary column: per asset, the decoded
    dimensions and exact per-channel pixel sums (integer sums, not
    means, so an external oracle reproduces them with no float-rounding
    ambiguity). The decode routes by magic (:func:`decode_image`).
    Grayscale sums repeat the single channel across r/g/b.
    """
    return per_asset(
        assets, IMAGE_STATS_SCHEMA, lambda a, raw: _stats_rows(a, decode_image(raw))
    )


def resize_images(assets: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Nearest-neighbor resize over the REAL decode path: decode the
    payload, remap to an (out_h, out_w) grid with the pure-integer floor
    rule src = (dst * src_dim) // dst_dim, and emit the resized image's
    per-channel integer pixel sums.  The floor rule means an external
    oracle can reproduce the resized grid exactly from the pixel formula
    — no float coordinate ambiguity — which is what makes the resize
    verifiable, not just runnable.

    Downstream training pipelines consume resized tensors — the sums
    here are the verification surface for the same kernel.
    """
    if out_h <= 0 or out_w <= 0:
        raise ValueError("output dimensions must be positive")

    def row(asset_id, raw):
        return _stats_rows(asset_id, _nn_sample(decode_image(raw), out_h, out_w))

    return per_asset(assets, IMAGE_STATS_SCHEMA, row)


AUDIO_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("sample_rate", LongType(), False),
        StructField("channels", LongType(), False),
        StructField("bits", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("duration_ms", LongType(), False),
        StructField("sumsq", LongType(), False),
        StructField("peak", LongType(), False),
    ]
)


AUDIO_PROBE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("container", StringType(), False),
        StructField("sample_rate", LongType(), False),
        StructField("channels", LongType(), False),
        StructField("duration_ms", LongType(), False),
        StructField("bitrate_kbps", LongType(), False),
        StructField("vbr", BooleanType(), False),
    ]
)


def audio_probe(assets: DataFrame) -> DataFrame:
    """Header-only audio metadata over the binary column: codec
    container, sample rate, channels, exact duration and mean bitrate
    WITHOUT decoding any entropy data (codecs/probe.probe_audio_meta —
    MP3 frame-header walk incl. Xing/VBRI VBR detection, Ogg
    Vorbis/Opus id-header + closing granule position, WAV/FLAC header
    math). This is the curation fast path for crawled audio: bucket by
    codec/rate/length and drop sub-second clips BEFORE routing the
    survivors to the sample-exact decode kernels. O(headers) per
    asset."""
    from finetoo_sp_spark.codecs.probe import probe_audio_meta

    return per_asset(
        assets, AUDIO_PROBE_SCHEMA, lambda a, raw: [(a, *probe_audio_meta(raw))]
    )


def audio_stats(assets: DataFrame) -> DataFrame:
    """REAL audio decode over the binary column: per asset, the PCM
    header fields plus exact integer energy (sum of squared samples
    across all channels) and peak |amplitude| — integer sums, like
    image_stats, so an external oracle reproduces them with no
    float-rounding ambiguity. duration_ms is integer-exact
    (n_frames * 1000 div rate).

    WAV/PCM decodes via the pure-stdlib codec (codecs/wav.py, numpy
    frombuffer — no per-sample Python); FLAC decodes via codecs/flac.py
    (lossless, so the same sample-exact stats apply), dispatched on the
    ``fLaC`` magic; lossy/compressed audio (MP3/Opus/...) raises inside
    the codec and is skipped.
    """
    from finetoo_sp_spark.codecs.flac import decode_flac
    from finetoo_sp_spark.codecs.wav import decode_wav

    def row(asset_id, raw):
        decode = decode_flac if raw[:4] == b"fLaC" else decode_wav
        rate, ch, bits, samples = decode(raw)
        s64 = samples.astype(np.int64)
        n = samples.shape[0]
        return [
            (
                asset_id, rate, ch, bits, n, n * 1000 // rate,
                int((s64 * s64).sum()), int(np.abs(s64).max(initial=0)),
            )
        ]

    return per_asset(assets, AUDIO_STATS_SCHEMA, row)


DHASH_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("dhash", LongType(), False),
    ]
)


def image_dhash(assets: DataFrame) -> DataFrame:
    """(asset_id, dhash: bigint) — 64-bit difference hash over the REAL
    decode path: decode, nearest-neighbor sample to an 8x9 grid with the
    integer floor rule (src = dst*src_dim // dst_dim), integer grayscale
    gray = (r+g+b) // 3, bit (row, col) = gray[row][col] >
    gray[row][col+1], packed at index row*8+col (bit 63 wraps to the
    sign bit, same convention as SimHash fingerprints).

    dHash is the standard perceptual near-dup key for image corpora
    (brightness-shift invariant by construction: a constant luma offset
    flips only comparisons that straddle a wrap). Every step is integer
    arithmetic, so an external oracle can recompute each hash from the
    synthesis pixel formula alone.
    """
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)

    def row(asset_id, raw):
        img = decode_image(raw)
        grid = _nn_sample(img, 8, 9).astype(np.int64)
        gray = grid[:, :, :3].sum(axis=2) // 3 if img.shape[2] >= 3 else grid[:, :, 0]
        bits = (gray[:, :-1] > gray[:, 1:]).astype(np.uint64).reshape(-1)
        return [(asset_id, int((bits * weights).sum(dtype=np.uint64).astype(np.int64)))]

    return per_asset(assets, DHASH_SCHEMA, row)


def dhash_pairs(hashes: DataFrame, max_hamming: int = 7) -> DataFrame:
    """(id_a, id_b, hamming) — image near-dup pairs from dHash values by
    pigeonhole banding (identical machinery to text SimHash pairs:
    max_hamming+1 bands guarantee every pair within distance d shares an
    exact band; verify with bit_count(xor); hot buckets salt-split past
    10,000 rows). The decode kernel runs once per image; the pair
    join runs on 8-byte fingerprints only — at 100 TB the image bytes
    never shuffle.
    """
    from finetoo_sp_spark.operators.dedup import _bucket_self_pairs

    nb = max_hamming + 1
    width = 64 // nb
    banded = hashes.select(
        F.col("asset_id").alias("id"),
        F.col("dhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftrightunsigned("dhash", bi * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bits"),
                    )
                    for bi in range(nb)
                ]
            )
        ).alias("bb"),
    ).select("id", "dhash", "bb.band", "bb.bits")
    pairs = _bucket_self_pairs(
        banded, ["band", "bits"], payload_cols=["dhash"], bucket_cap=10_000
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("dhash_a").bitwiseXOR(F.col("dhash_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


VIDEO_META_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("major_brand", StringType(), False),
        StructField("timescale", LongType(), False),
        StructField("duration_ticks", LongType(), False),
        StructField("duration_ms", LongType(), False),
        StructField("n_tracks", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("video_codec", StringType(), False),
    ]
)


def video_metadata(assets: DataFrame) -> DataFrame:
    """REAL ISO-BMFF container parse over the binary column: per asset
    the ftyp brand, mvhd timescale/duration (duration_ms integer-exact,
    ticks * 1000 div timescale), track count, and the first video
    track's geometry + sample-entry codec fourcc. This is the metadata a
    curation pipeline filters on (drop sub-second clips, keep avc1/av01,
    bucket by resolution) — frame PAYLOAD decode would need a video
    entropy codec (H.264/AV1) and stays behind the NotImplementedError
    gate.

    Scale: header-only parse (struct over the first few hundred bytes;
    the mdat payload is never touched).
    """
    from finetoo_sp_spark.codecs.mp4 import decode_mp4

    def row(asset_id, raw):
        meta = decode_mp4(raw)
        vid = next((t for t in meta["tracks"] if t["handler"] == "vide"), None)
        return [
            (
                asset_id,
                meta["major_brand"],
                meta["timescale"],
                meta["duration"],
                meta["duration"] * 1000 // meta["timescale"],
                len(meta["tracks"]),
                vid["width"] if vid else 0,
                vid["height"] if vid else 0,
                (vid["codec"] or "") if vid else "",
            )
        ]

    return per_asset(assets, VIDEO_META_SCHEMA, row)


DIMS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("format", StringType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
    ]
)


def image_dimensions(assets: DataFrame) -> DataFrame:
    """Header-only format + dimension probe (codecs/probe.py) across
    PNG/JPEG/GIF/WebP — the pre-decode gate a crawl pipeline filters on
    (drop trackers/icons, route formats, bucket by resolution). Only the
    header is read, so it is cheap for every format."""
    from finetoo_sp_spark.codecs.probe import probe_image_dims

    return per_asset(assets, DIMS_SCHEMA, lambda a, raw: [(a, *probe_image_dims(raw))])


def frame_sample_times(assets: DataFrame) -> DataFrame:
    """Time-based video frame sampling driven by the REAL container
    parse: probe each MP4's mvhd duration (video_metadata), then emit
    one (asset_id, sample_idx, ts_ms) row per 500 ms — the
    work-list a frame-decode stage would map over (no video codec here
    decodes the frames themselves). The explode is bounded
    by duration/interval, stays JVM-side (sequence + explode), and
    partitions by asset like any downstream decode batch would need."""
    meta = video_metadata(assets).select("asset_id", "duration_ms")
    ts = F.explode(
        F.sequence(F.lit(0), F.col("duration_ms"), F.lit(500))
    ).alias("ts_ms")
    return meta.select("asset_id", ts).select(
        "asset_id",
        (F.col("ts_ms") / F.lit(500)).cast("long").alias("sample_idx"),
        F.col("ts_ms").cast("long").alias("ts_ms"),
    )


GIF_ANIM_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("n_frames", LongType(), False),
        StructField("loop_count", LongType(), False),
        StructField("duration_cs", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("sum_gray", LongType(), False),
    ]
)

# WebP and APNG animation rows (duration in milliseconds)
WEBP_ANIM_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("n_frames", LongType(), False),
        StructField("loop_count", LongType(), False),
        StructField("duration_ms", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("sum_gray", LongType(), False),
    ]
)


def _anim_rows(asset_id: int, frames: list, loop: int, duration: int) -> list[tuple]:
    """Animation row: frame count, loop, duration, canvas geometry and
    the exact gray (R channel) sum over all composited frames."""
    h, w = frames[0].shape[:2]
    gray = sum(int(f[:, :, 0].sum(dtype=np.int64)) for f in frames)
    return [(asset_id, len(frames), loop, duration, w, h, gray)]


def gif_animation_stats(assets: DataFrame) -> DataFrame:
    """REAL animated-GIF decode over the binary column: per asset the
    frame count, NETSCAPE loop count (-1 when absent, 0 = forever),
    total declared duration in centiseconds, logical-screen geometry
    and the exact integer gray sum (R channel) over ALL composited
    frames — so disposal handling (leave / restore-background /
    restore-previous), transparency compositing and local color tables
    are pinned by an external oracle, not just frame 1. Still images
    are 1-frame animations (loop -1).
    """
    from finetoo_sp_spark.codecs.gif import decode_gif_frames

    def row(asset_id, raw):
        frames, delays, loop = decode_gif_frames(raw)
        return _anim_rows(asset_id, frames, loop, sum(delays))

    return per_asset(assets, GIF_ANIM_SCHEMA, row)


def webp_animation_stats(assets: DataFrame) -> DataFrame:
    """REAL animated-WebP decode over the binary column — the VP8X/
    ANIM/ANMF twin of gif_animation_stats: per asset the frame count,
    ANIM loop count (-1 for stills, 0 = forever), total declared
    duration in milliseconds, canvas geometry and the exact integer
    gray sum (R channel) over ALL composited frames, so sub-frame
    placement, alpha-blend vs overwrite, and dispose-to-background are
    pinned by an external oracle. Lossy VP8 frames are skipped."""
    from finetoo_sp_spark.codecs.vp8l import decode_webp_frames

    def row(asset_id, raw):
        frames, durs, loop = decode_webp_frames(raw)
        return _anim_rows(asset_id, frames, loop, sum(durs))

    return per_asset(assets, WEBP_ANIM_SCHEMA, row)


def apng_animation_stats(assets: DataFrame) -> DataFrame:
    """REAL APNG decode over the binary column — the acTL/fcTL/fdAT
    twin of gif_animation_stats and webp_animation_stats: per asset the
    frame count, acTL num_plays (-1 for plain PNGs, 0 = forever), total
    declared duration in milliseconds (floor of delay_num*1000/
    delay_den per frame, den 0 -> 100 per spec), canvas geometry and the
    exact integer gray sum (R channel) over ALL composited frames — so
    dispose none/background/previous, source-vs-over blending, hidden
    default images and fdAT sequence numbering are pinned by an
    external oracle."""
    from finetoo_sp_spark.codecs.apng import decode_apng_frames

    def row(asset_id, raw):
        frames, delays, plays = decode_apng_frames(raw)
        dur = sum((num * 1000) // (den if den else 100) for num, den in delays)
        return _anim_rows(asset_id, frames, plays, dur)

    return per_asset(assets, WEBP_ANIM_SCHEMA, row)


SAMPLE_TABLE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("sample_idx", LongType(), False),
        StructField("dts_ticks", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("mdat_offset", LongType(), False),
        StructField("is_sync", BooleanType(), False),
    ]
)


def video_sample_table(assets: DataFrame) -> DataFrame:
    """Per-sample fetch work list from the REAL ISO-BMFF sample tables
    (stts/stsz/stsc/stco/co64/stss via codecs.mp4.decode_sample_table):
    one row per video sample with its timestamp, byte length, offset
    into the mdat payload and keyframe flag — exactly what a
    distributed frame extractor joins against byte-range reads before
    any codec work (the decode itself stays behind the documented
    NotImplementedError gate). An asset without a resolvable sample
    table yields no rows at all."""
    from finetoo_sp_spark.codecs.mp4 import decode_sample_table

    def row(asset_id, raw):
        return [
            (
                asset_id, r["sample_idx"], r["dts_ticks"], r["size"],
                r["mdat_offset"], bool(r["is_sync"]),
            )
            for r in decode_sample_table(raw)
        ]

    return per_asset(assets, SAMPLE_TABLE_SCHEMA, row)


EXIF_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("orientation", LongType(), True),
        StructField("make", StringType(), False),
        StructField("model", StringType(), False),
        StructField("dt", StringType(), False),
        StructField("dt_original", StringType(), False),
        StructField("has_gps", BooleanType(), False),
        StructField("gps_lat_micro", LongType(), True),
        StructField("gps_lon_micro", LongType(), True),
    ]
)


def image_exif(assets: DataFrame) -> DataFrame:
    """EXIF camera/orientation/timestamp/GPS metadata per JPEG asset
    (codecs/exif.py): the curation signals real photo corpora filter
    on, with GPS as signed integer micro-degrees. Assets without EXIF
    yield absent fields; corrupt APP1 segments are skipped."""
    from finetoo_sp_spark.codecs.exif import parse_exif_jpeg

    def row(asset_id, raw):
        m = parse_exif_jpeg(raw)
        return [
            (
                asset_id, m["orientation"], m["make"], m["model"],
                m["datetime"], m["datetime_original"], m["has_gps"],
                m["gps_lat_micro"], m["gps_lon_micro"],
            )
        ]

    return per_asset(assets, EXIF_SCHEMA, row)


REDACT_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("had_gps", BooleanType(), False),
        StructField("has_gps_after", BooleanType(), False),
        StructField("orientation", LongType(), True),
        StructField("make", StringType(), False),
        StructField("same_length", BooleanType(), False),
    ]
)


def gps_redaction_report(assets: DataFrame) -> DataFrame:
    """Parse -> scrub -> re-parse in ONE Arrow pass: per asset whether
    GPS existed, whether any survives the in-place scrub (must never),
    that non-GPS EXIF is intact and that the payload length is
    unchanged (the streaming-safe property). The image-side PII gate."""
    from finetoo_sp_spark.codecs.exif import parse_exif_jpeg, strip_gps_jpeg

    def row(asset_id, raw):
        before = parse_exif_jpeg(raw)
        scrubbed = strip_gps_jpeg(raw)
        after = parse_exif_jpeg(scrubbed)
        return [
            (
                asset_id, before["has_gps"], after["has_gps"],
                after["orientation"], after["make"], len(scrubbed) == len(raw),
            )
        ]

    return per_asset(assets, REDACT_SCHEMA, row)


ORIENTED_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("orientation", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("row0_sum", LongType(), False),
        StructField("col0_sum", LongType(), False),
        StructField("total_sum", LongType(), False),
    ]
)


def image_oriented_stats(assets: DataFrame) -> DataFrame:
    """Decode + EXIF AUTO-ORIENTATION in one Arrow pass: the same photo
    bytes can carry any of the 8 orientation tags, and every
    presentation-side op (dHash, thumbnails, crops) must bake the
    rotation in first. Per asset: the oriented geometry, first-row /
    first-column channel-0 sums (together they DISTINGUISH all 8
    transforms — the total sum alone is rotation-invariant) and the
    invariant total. Assets without EXIF orient as 1."""
    from finetoo_sp_spark.codecs.exif import apply_orientation, parse_exif_jpeg

    def row(asset_id, raw):
        img = decode_image(raw)
        o = parse_exif_jpeg(raw)["orientation"] or 1
        out = apply_orientation(img, o)
        h, w = out.shape[:2]
        return [
            (
                asset_id, o, w, h,
                int(out[0, :, 0].sum(dtype=np.int64)),
                int(out[:, 0, 0].sum(dtype=np.int64)),
                int(out[:, :, 0].sum(dtype=np.int64)),
            )
        ]

    return per_asset(assets, ORIENTED_SCHEMA, row)


ID3_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("id3_version", LongType(), False),
        StructField("title", StringType(), False),
        StructField("artist", StringType(), False),
        StructField("album", StringType(), False),
    ]
)


def audio_id3_meta(assets: DataFrame) -> DataFrame:
    """ID3v2 title/artist/album per audio asset (codecs/probe.py
    parse_id3v2) — the catalog metadata an audio-curation index keys
    on. Tagless assets report version 0 and empty fields; corrupt tags
    are skipped."""
    from finetoo_sp_spark.codecs.probe import parse_id3v2

    def row(asset_id, raw):
        m = parse_id3v2(raw)
        return [(asset_id, m["version"], m["title"], m["artist"], m["album"])]

    return per_asset(assets, ID3_SCHEMA, row)


TAGS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("container", StringType(), False),
        StructField("title", StringType(), False),
        StructField("artist", StringType(), False),
        StructField("album", StringType(), False),
    ]
)


def audio_tags(assets: DataFrame) -> DataFrame:
    """Unified catalog tags across audio containers: ID3v2 for MP3
    payloads, VorbisComment for FLAC — one (title, artist, album) row
    per asset regardless of container, the shape an audio-curation
    index actually joins on. Untagged assets report empty fields;
    corrupt tags are skipped."""
    from finetoo_sp_spark.codecs.flac import parse_flac_tags
    from finetoo_sp_spark.codecs.probe import parse_id3v2

    def row(asset_id, raw):
        if raw[:4] == b"fLaC":
            container, m = "flac", parse_flac_tags(raw)
        else:
            container, m = "mp3", parse_id3v2(raw)
        return [(asset_id, container, m["title"], m["artist"], m["album"])]

    return per_asset(assets, TAGS_SCHEMA, row)


PHOTO_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("make", StringType(), False),
        StructField("orientation", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("had_gps", BooleanType(), False),
        StructField("scrub_ok", BooleanType(), False),
    ]
)


def photo_report(assets: DataFrame) -> DataFrame:
    """The photo-ingest pass a responsible image corpus runs per asset,
    in ONE Arrow kernel: decode, read EXIF, apply auto-orientation to
    the geometry, scrub GPS in place and verify the scrub (nothing
    survives, length unchanged). Emits the per-asset facts the curation
    policy and the per-make rollup consume; undecodable or
    corrupt-EXIF assets are skipped."""
    from finetoo_sp_spark.codecs.exif import (
        apply_orientation,
        parse_exif_jpeg,
        strip_gps_jpeg,
    )

    def row(asset_id, raw):
        img = decode_image(raw)
        meta = parse_exif_jpeg(raw)
        o = meta["orientation"] or 1
        h, w = apply_orientation(img, o).shape[:2]
        scrubbed = strip_gps_jpeg(raw)
        scrub_ok = not parse_exif_jpeg(scrubbed)["has_gps"] and len(scrubbed) == len(raw)
        return [(asset_id, meta["make"], o, w, h, meta["has_gps"], scrub_ok)]

    return per_asset(assets, PHOTO_SCHEMA, row)
