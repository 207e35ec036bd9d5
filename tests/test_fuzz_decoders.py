"""Crawl-robustness fuzz: every decoder must either return a result or
raise one of its DOCUMENTED exception types on arbitrary, truncated,
or bit-flipped bytes — never segfault, hang, OOM, or leak an
unexpected exception class. At 10^12 documents every byte pattern that
can exist will exist. Every Spark payload kernel skips exactly the
classes in ``multimodal.SKIP``, so each documented class must be one of
them, and the kernels themselves must survive the same corpus."""

from __future__ import annotations

from struct import error as struct_error
from zlib import error as zlib_error

import numpy as np
import pytest

from finetoo_sp_spark import multimodal as mm
from finetoo_sp_spark.codecs.apng import decode_apng_frames, encode_apng
from finetoo_sp_spark.codecs.bmp import decode_bmp, encode_bmp
from finetoo_sp_spark.codecs.exif import (
    ExifError,
    insert_exif,
    make_exif_app1,
    parse_exif_jpeg,
    strip_gps_jpeg,
)
from finetoo_sp_spark.codecs.flac import encode_flac, parse_flac_tags
from finetoo_sp_spark.codecs.gif import decode_gif_frames, encode_gif_anim
from finetoo_sp_spark.codecs.jpeg import decode_jpeg, encode_jpeg_baseline
from finetoo_sp_spark.codecs.mp4 import (
    Mp4Error,
    decode_mp4,
    decode_sample_table,
    encode_mp4_samples,
)
from finetoo_sp_spark.codecs.png import decode_png, encode_png
from finetoo_sp_spark.codecs.probe import (
    ProbeError,
    make_id3v2,
    make_mp3,
    parse_id3v2,
    probe_audio_meta,
    probe_image_dims,
)
from finetoo_sp_spark.codecs.tiff import TiffError, decode_tiff
from finetoo_sp_spark.codecs.vp8l import decode_webp, encode_webp_anim
from finetoo_sp_spark.codecs.wav import WavError, decode_wav, encode_wav
from finetoo_sp_spark.extraction.pdfcrypt import decrypt_pdf
from finetoo_sp_spark.extraction.pdfmini import parse_pdf_fragments
from finetoo_sp_spark.operators.audiofp import audio_fingerprint

# (callable, allowed exception classes). ValueError covers every codec's
# documented *Error subclass plus magic rejection; the parsers that walk
# untrusted offsets may also surface struct/zlib/Index errors, which
# multimodal.SKIP covers.
_DECODERS = [
    (decode_png, (ValueError,)),
    (decode_apng_frames, (ValueError,)),
    (decode_gif_frames, (ValueError, NotImplementedError, IndexError, struct_error)),
    (decode_jpeg, (ValueError, NotImplementedError, IndexError, struct_error)),
    (decode_bmp, (ValueError, NotImplementedError, struct_error, IndexError)),
    (decode_tiff, (TiffError, ValueError, NotImplementedError, struct_error, IndexError, zlib_error)),
    (decode_webp, (ValueError, NotImplementedError, IndexError, struct_error)),
    (decode_wav, (WavError, ValueError, struct_error)),
    (decode_mp4, (Mp4Error, ValueError, struct_error)),
    (decode_sample_table, (Mp4Error, ValueError, struct_error)),
    (probe_image_dims, (ProbeError, ValueError, struct_error)),
    (probe_audio_meta, (ProbeError, ValueError, struct_error)),
    (parse_id3v2, (ValueError,)),
    (parse_flac_tags, (ValueError,)),
    (parse_exif_jpeg, (ExifError, ValueError, struct_error)),
    (strip_gps_jpeg, (ExifError, ValueError, struct_error)),
    (decrypt_pdf, (ValueError, NotImplementedError)),
]


def _payload_corpus() -> list[bytes]:
    rng = np.random.default_rng(20260821)
    out = [b"", b"\x00", b"x" * 3]
    # pure noise at several sizes
    for size in (16, 64, 300, 2048):
        out.append(rng.integers(0, 256, size, dtype=np.uint8).tobytes())
    # valid files of every format, then truncated and bit-flipped
    img = rng.integers(0, 256, (12, 10, 3), dtype=np.uint8)
    gray16 = np.full((16, 16), 130, np.uint8)
    valid = [
        encode_png(img),
        encode_apng(
            10, 12,
            [{"rgba": np.zeros((12, 10, 4), np.uint8), "blend": 0},
             {"rgba": np.ones((6, 5, 4), np.uint8), "blend": 1}],
        ),
        encode_jpeg_baseline(gray16),
        insert_exif(
            encode_jpeg_baseline(gray16),
            make_exif_app1(3, "M", "C", "", "", gps=("N", (1, 1, 2, 1, 3, 1), "E", (4, 1, 5, 1, 6, 1))),
        ),
        encode_bmp(img, bits=24),
        encode_mp4_samples(600, [(6, 100)], [10] * 6, 4, sync_every=2),
    ]
    for v in valid:
        out.append(v)
        out.append(v[: len(v) // 2])
        out.append(v[: len(v) - 3])
        for _ in range(4):
            b = bytearray(v)
            for _k in range(3):
                b[int(rng.integers(0, len(b)))] ^= int(rng.integers(1, 256))
            out.append(bytes(b))
        # magic kept, interior shredded
        b = bytearray(v)
        mid = len(b) // 2
        b[mid : mid + 32] = rng.integers(0, 256, min(32, len(b) - mid), dtype=np.uint8).tobytes()
        out.append(bytes(b))
    return out


_CORPUS = _payload_corpus()


@pytest.mark.parametrize(
    "fn,allowed", _DECODERS, ids=[f[0].__name__ for f in _DECODERS]
)
def test_decoder_survives_hostile_bytes(fn, allowed):
    for payload in _CORPUS:
        try:
            fn(payload)
        except allowed:
            pass
        # anything else propagates and fails the test with its real type


def test_pdf_fragments_never_raise_on_noise():
    # parse_pdf_fragments is additionally wrapped in try/except by the
    # kernel, but the common paths should degrade, not throw, on noise
    for payload in _CORPUS[:7]:
        assert len(parse_pdf_fragments(payload)) == 0


@pytest.mark.parametrize(
    "fn,allowed", _DECODERS, ids=[f[0].__name__ for f in _DECODERS]
)
def test_decoder_errors_are_kernel_skips(fn, allowed):
    for cls in allowed:
        assert issubclass(cls, mm.SKIP), f"{fn.__name__} may raise {cls.__name__}"


# every per_asset kernel (resize_images with an arbitrary output size)
_KERNELS = [
    ("image_stats", mm.image_stats),
    ("resize_images", lambda a: mm.resize_images(a, 5, 7)),
    ("audio_probe", mm.audio_probe),
    ("audio_stats", mm.audio_stats),
    ("image_dhash", mm.image_dhash),
    ("video_metadata", mm.video_metadata),
    ("image_dimensions", mm.image_dimensions),
    ("gif_animation_stats", mm.gif_animation_stats),
    ("webp_animation_stats", mm.webp_animation_stats),
    ("apng_animation_stats", mm.apng_animation_stats),
    ("video_sample_table", mm.video_sample_table),
    ("image_exif", mm.image_exif),
    ("gps_redaction_report", mm.gps_redaction_report),
    ("image_oriented_stats", mm.image_oriented_stats),
    ("audio_id3_meta", mm.audio_id3_meta),
    ("audio_tags", mm.audio_tags),
    ("photo_report", mm.photo_report),
    ("audio_fingerprint", audio_fingerprint),
]


def _valid_fixtures() -> list[bytes]:
    """At least one decodable payload for every kernel in _KERNELS."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (12, 10, 3), dtype=np.uint8)
    gray16 = np.full((16, 16), 130, np.uint8)
    tone = (np.sin(np.arange(512) / 3.0) * 8000).astype(np.int16)
    return [
        encode_png(img),
        encode_apng(
            10, 12,
            [{"rgba": np.zeros((12, 10, 4), np.uint8), "blend": 0},
             {"rgba": np.ones((6, 5, 4), np.uint8), "blend": 1}],
        ),
        insert_exif(
            encode_jpeg_baseline(gray16),
            make_exif_app1(3, "M", "C", "", "", gps=("N", (1, 1, 2, 1, 3, 1), "E", (4, 1, 5, 1, 6, 1))),
        ),
        encode_bmp(img, bits=24),
        encode_gif_anim(
            4, 3, np.array([[0, 0, 0], [200, 100, 50]], np.uint8), 0,
            [{"left": 0, "top": 0, "idx": np.eye(3, 4, dtype=np.int64), "delay_cs": 5,
              "disposal": 1, "transparent": None}],
        ),
        encode_webp_anim(4, 2, [{"x": 0, "y": 0, "rgba": img[:2, :4], "duration_ms": 40}]),
        encode_mp4_samples(600, [(6, 100)], [10] * 6, 4, sync_every=2),
        encode_wav(tone, 8000),
        encode_flac(tone[:, None].astype(np.int64), 8000),
        make_id3v2("T", "A", "B") + make_mp3(8),
    ]


def _kernel_rows(spark, payloads: list[tuple[int, bytes]]) -> list[tuple]:
    from pyspark.sql import functions as F

    assets = spark.createDataFrame(payloads, "asset_id long, payload binary")
    out = None
    for name, kernel in _KERNELS:
        rows = kernel(assets).select(
            F.lit(name).alias("kernel"), "asset_id", F.to_json(F.struct("*")).alias("row")
        )
        out = rows if out is None else out.unionByName(rows)
    return sorted(tuple(r) for r in out.collect())  # one job over all kernels


def test_kernels_survive_hostile_bytes_in_spark(spark):
    valid = [(1000 + i, v) for i, v in enumerate(_valid_fixtures())]
    mixed = _kernel_rows(spark, list(enumerate(_CORPUS)) + valid)
    clean = _kernel_rows(spark, valid)
    # hostile neighbours change nothing for the valid assets ...
    assert [r for r in mixed if r[1] >= 1000] == clean
    # ... and every kernel really decoded something valid
    assert {r[0] for r in clean} == {name for name, _ in _KERNELS}


# ------------------------------------------------------ WARC/CDX readers
#
# The archive readers share one scan that catches nothing, so the
# tolerance lives in the member iterator and the record walker: damaged
# archives in the same directory must not fail the job, and the intact
# archives' rows must not change.


def _archives(tag: str) -> dict[str, bytes]:
    """One archive of each kind the readers take; urls are on host
    ``{tag}.example`` and file names start with ``{tag}-``."""
    import datetime as dt

    from finetoo_sp_spark.sources.cdx import pack_zipnum
    from finetoo_sp_spark.sources.warc import (
        make_warc,
        make_warc_http,
        make_warc_mixed,
        make_warc_transfer,
        warc_record,
    )

    t0 = dt.datetime(2024, 1, 1)
    pages = [
        (f"https://{tag}.example/p/{i}", t0 + dt.timedelta(seconds=i), f"<p>page {i} é</p>".encode() * (i + 1))
        for i in range(5)
    ]
    mixed = [("response", *p) for p in pages[:2]] + [
        ("revisit", f"https://{tag}.example/r/{i}", t0, url, ts, f"sha256:{i:064x}")
        for i, (url, ts, _) in enumerate(pages[:2])
    ]
    wet_wat = b"".join(
        warc_record(kind, f"https://{tag}.example/{kind}/{i}", t0, [], f"{kind} {i}".encode(), gzip_member=True)
        for kind in ("conversion", "metadata")
        for i in range(3)
    )
    cdx_lines = [f"com,example,{tag})/p/{i:03d} 20240101000000 https://{tag}.example/p/{i}" for i in range(25)]
    return {
        f"{tag}-pages.warc.gz": make_warc(pages, gzip_members=True),
        f"{tag}-http.warc": make_warc_http([(*p, "text/html; charset=utf-8") for p in pages]),
        f"{tag}-mixed.warc.gz": make_warc_mixed(mixed, gzip_members=True),
        f"{tag}-transfer.warc": make_warc_transfer(
            [(*p, mode) for p, mode in zip(pages, ["plain", "chunked", "gzip", "chunked+gzip", "gzip"])]
        ),
        f"{tag}-wetwat.warc.gz": wet_wat,
        f"{tag}-index.zipnum.gz": pack_zipnum(cdx_lines, block_size=10)[0],
    }


def _damaged_archives() -> dict[str, bytes]:
    """Copies of ``_archives("bad")`` truncated at three offsets, with
    one byte flipped at three offsets, and with a garbage tail; plus a
    ZipNum part whose second block is not UTF-8."""
    import gzip

    from finetoo_sp_spark.sources.cdx import gzip_member_spans

    out = {}
    for name, blob in _archives("bad").items():
        out[f"{name}.tail"] = blob + b"garbage!!"
        for k in (1, 2, 3):
            at = len(blob) * k // 4
            out[f"{name}.cut{k}"] = blob[:at]
            flipped = bytearray(blob)
            flipped[at] ^= 0x55
            out[f"{name}.flip{k}"] = bytes(flipped)
    index = _archives("bad")["bad-index.zipnum.gz"]
    mid = gzip_member_spans(index)[1][0]
    out["bad-nonutf8.zipnum.gz"] = index[:mid] + gzip.compress(b"com,x)/ \xff\xfe\n", mtime=0) + index[mid:]
    return out


def _reader_rows(spark, path: str) -> list[tuple]:
    from pyspark.sql import functions as F

    from finetoo_sp_spark.sources import cdx, warc

    readers = [
        (warc.read_warc_pages, "url"),
        (warc.read_wet_text, "url"),
        (warc.read_wat_meta, "url"),
        (warc.read_warc_pages_http, "url"),
        (warc.read_warc_revisits, "url"),
        (cdx.read_cdx_entries, "filename"),
        (cdx.read_zipnum_blocks, "filename"),
    ]
    out = None
    for reader, key in readers:
        rows = reader(spark, path).select(
            F.lit(reader.__name__).alias("reader"), F.col(key).alias("key"),
            F.to_json(F.struct("*")).alias("row"),
        )
        out = rows if out is None else out.unionByName(rows)
    return sorted(tuple(r) for r in out.collect())  # one job over all readers


def test_warc_cdx_readers_survive_damaged_archives_in_spark(spark, tmp_path):
    valid = _archives("ok")
    for sub, files in (("mixed", {**valid, **_damaged_archives()}), ("valid", valid)):
        (tmp_path / sub).mkdir()
        for name, blob in files.items():
            (tmp_path / sub / name).write_bytes(blob)
    mixed = _reader_rows(spark, str(tmp_path / "mixed"))
    clean = _reader_rows(spark, str(tmp_path / "valid"))
    # damaged neighbours change nothing for the intact archives ...
    assert [r for r in mixed if r[1].startswith(("ok-", "https://ok.example/"))] == clean
    # ... every reader really read something, and so did the damaged set
    assert {r[0] for r in clean} == {
        "read_warc_pages", "read_wet_text", "read_wat_meta", "read_warc_pages_http",
        "read_warc_revisits", "read_cdx_entries", "read_zipnum_blocks",
    }
    assert {r[0] for r in mixed if r[1].startswith(("bad-", "https://bad.example/"))} == {r[0] for r in clean}
