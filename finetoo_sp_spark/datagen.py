"""Deterministic synthetic Common-Crawl-style page corpus.

Schema matches BASELINE.json input_hint exactly:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Every page is a pure function of its integer id — no wall clock, no global
RNG state — so the corpus is identical across runs, partitionings and
cluster sizes, and can be generated *distributed* (``spark.range`` +
``mapInPandas``) at any scale. The generator also emits the **expected
extracted main text** per page, computed independently of the extractor
(from the source paragraphs, not by running the classifier), which is what
makes byte-identical fixture tests honest.

Page anatomy (mirrors the reference's test corpus role,
binder_test_no_refs/: known documents with known extractable content):

- <title> + one <h1> (content: the h1 counts as a content block);
- K content paragraphs of >= MIN_CONTENT_WORDS plain words (no links)
  -> always classified content;
- nav/header/footer/sidebar blocks made ~100% of link text
  -> always classified boilerplate;
- a short "teaser" paragraph of < MIN_CONTENT_WORDS words
  -> boilerplate by the word-count rule (tests the threshold edge);
- a <script> region -> excluded raw-text region.

Host skew: urls are assigned to hosts by a Zipf-ish rule (host id =
id % (1 + id % 97) pattern produces a few very hot hosts), so the
``xxhash64(url)`` salting path has real skew to defuse at scale.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import partial

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_WORDS = np.array(
    """data spark engine query graph schema block entity extract content page
    crawl parse token region field span text density link node edge plan
    filter project join aggregate traverse compare match group sort hash
    lineage manifest resume partition shuffle broadcast salt skew scale
    vector cosine shingle minhash simhash cluster corpus fixture oracle
    pipeline column arrow pandas batch kernel deterministic byte identical
    throughput efficiency executor driver stage task codegen pushdown""".split()
)

_LANGS = np.array(["en", "en", "en", "de", "fr", "es", "pt", "it", "nl", "pl"])

_EPOCH_2025 = pd.Timestamp("2025-01-01", tz="UTC")

PAGES_SCHEMA = StructType(
    [
        StructField("page_id", LongType(), False),
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("expected_text", StringType(), False),
    ]
)


def _mix(ids: np.ndarray, salt: int) -> np.ndarray:
    """SplitMix64 — deterministic per-id uint64 stream, vectorized.
    Wrapping multiplication is intentional (mod 2^64 mixing)."""
    with np.errstate(over="ignore"):
        z = ids.astype(np.uint64) + np.uint64((salt + 1) * 0x9E3779B97F4A7C15 % (1 << 64))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _sentence(ids: np.ndarray, para: int, n_words: int) -> np.ndarray:
    """Vectorized: per id, a sentence of n_words words drawn deterministically."""
    cols = []
    for w in range(n_words):
        idx = _mix(ids, salt=1000 * para + w) % np.uint64(len(_WORDS))
        cols.append(_WORDS[idx.astype(np.int64)])
    out = cols[0].astype(object)
    for c in cols[1:]:
        out = out + " " + c.astype(object)
    return out + "."


def gen_pages_pandas(
    ids: np.ndarray, page_scale: int = 1, pdf_every: int = 0
) -> pd.DataFrame:
    """Pure function ids -> pages batch (the distributed inner kernel).

    ``page_scale`` multiplies the number of body paragraphs: 1 -> ~3 KB
    toy pages (unit tests), 8 -> ~20 KB (realistic Common-Crawl-sized
    pages for benchmarking). Still fully deterministic per (id, scale).

    ``pdf_every``: if > 0, every pdf_every-th page's payload is a FAKEPDF
    layout document (extraction/pdf.py format) built from the SAME h1 +
    paragraphs, fragments y-gapped so each paragraph is its own layout
    block — the expected extracted text is IDENTICAL to the HTML route,
    so the byte-identical invariant holds across the mixed-routing
    pipeline (extract_pages_any) without branching the expectation.
    """
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)

    host_mod = 1 + (ids % 97)
    host_id = ids % np.maximum(host_mod, 1)  # heavy skew toward small host ids
    host = np.char.add("host", host_id.astype("U8"))
    url = (
        np.char.add(
            np.char.add(np.char.add("https://", host.astype("U16")), ".example.com/page/"),
            ids.astype("U12"),
        )
    ).astype(object)

    lang = _LANGS[(_mix(ids, 7) % np.uint64(len(_LANGS))).astype(np.int64)]

    title = _sentence(ids, para=90, n_words=4)
    h1 = _sentence(ids, para=91, n_words=5)

    max_paras = 5 * page_scale
    n_paras = (2 + (_mix(ids, 8) % np.uint64(4)).astype(np.int64)) * page_scale  # 2..5 per scale unit
    paras = [_sentence(ids, para=p, n_words=12 + p % 9) for p in range(max_paras)]
    teaser = _sentence(ids, para=80, n_words=5)  # < MIN_CONTENT_WORDS

    def _page_url(j: np.ndarray) -> np.ndarray:
        hm = 1 + (j % 97)
        hid = j % np.maximum(hm, 1)
        return np.array(
            [f"https://host{h}.example.com/page/{i}" for h, i in zip(hid, j)], dtype=object
        )

    # intra-corpus links: every page links to its "parent" pages id//2 and
    # id//3 — gives the LINKS_TO graph real fan-in (popular low-id pages)
    parent2, parent3 = _page_url(ids // 2), _page_url(ids // 3)

    nav_words = [_sentence(ids, para=70 + k, n_words=2) for k in range(4)]
    nav = np.array(
        [
            "<ul>"
            + "".join(f'<li><a href="/{w[:-1].replace(" ", "-")}">{w[:-1]}</a></li>' for w in ws)
            + f'<li><a href="{p2}">related</a></li><li><a href="{p3}">more</a></li>'
            + "</ul>"
            for ws, p2, p3 in zip(zip(*nav_words), parent2, parent3)
        ],
        dtype=object,
    )
    footer = np.array(
        [
            f'<p><a href="/about">about {h}</a> <a href="/terms">terms</a> <a href="/contact">contact</a></p>'
            for h in host
        ],
        dtype=object,
    )

    body_parts = []
    expected_parts = []
    for i in range(n):
        k = int(n_paras[i])
        ps = [paras[p][i] for p in range(k)]
        body = "".join(f"<p>{p}</p>" for p in ps)
        body_parts.append(body)
        expected_parts.append([h1[i]] + ps)

    html = np.array(
        [
            f'<!DOCTYPE html><html lang="{lang[i]}"><head><title>{title[i]}</title>'
            f'<script>var x = "tracking {int(ids[i])}";</script></head>'
            f'<body><header>{nav[i]}</header>'
            f"<main><h1>{h1[i]}</h1>{body_parts[i]}"
            f"<p>{teaser[i]}</p></main>"
            f"<footer>{footer[i]}</footer></body></html>"
            for i in range(n)
        ],
        dtype=object,
    )
    expected = np.array(["\n".join(p) for p in expected_parts], dtype=object)

    if pdf_every:
        is_pdf = (ids % pdf_every) == (pdf_every - 1)
        for i in np.flatnonzero(is_pdf):
            frags = expected_parts[i]  # h1 + paragraphs, one block each
            lines = ["%PDF-FAKE"] + [
                f"P 0 10 {100000 - 20 * j} {t}" for j, t in enumerate(frags)
            ]
            html[i] = "\n".join(lines)

    warc_ts = (_EPOCH_2025 + pd.to_timedelta(ids % (365 * 24 * 3600), unit="s")).tz_convert(
        "UTC"
    ).tz_localize(None)

    return pd.DataFrame(
        {
            "page_id": ids,
            "url": url,
            "warc_ts": warc_ts,
            "html": [h.encode("utf-8") for h in html],
            "text": html,  # raw text column per input_hint (pre-extraction text payload)
            "lang": lang,
            "expected_text": expected,
        }
    )


def gen_pages(
    spark: SparkSession,
    n_pages: int,
    partitions: int | None = None,
    pdf_every: int = 0,
) -> DataFrame:
    """Distributed deterministic corpus: spark.range -> mapInPandas."""
    partitions = partitions or max(1, min(256, n_pages // 2000 or 1))
    gen = partial(gen_pages_pandas, pdf_every=pdf_every)
    return gen_assets(spark, gen, n_pages, partitions, schema=PAGES_SCHEMA)


def write_pages(
    spark: SparkSession,
    n_pages: int,
    path: str,
    partitions: int | None = None,
) -> None:
    gen_pages(spark, n_pages, partitions).write.mode("overwrite").parquet(path)


IMAGE_ASSETS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("modality", StringType(), False),
        StructField("payload", BinaryType(), False),
    ]
)


def gen_assets(
    spark: SparkSession,
    gen: Callable[[np.ndarray], pd.DataFrame],
    n: int,
    partitions: int = 4,
    schema: StructType | str = IMAGE_ASSETS_SCHEMA,
) -> DataFrame:
    """Distributed deterministic corpus: spark.range -> mapInPandas, where
    ``gen(ids)`` (one of the ``gen_*_pandas`` functions) builds the rows
    of each non-empty batch of ids."""
    rng = spark.range(0, n, 1, partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield gen(pdf["id"].to_numpy())

    return rng.mapInPandas(run, schema=schema)


def gen_image_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic synthetic PNG assets: pixel(r, c, ch) =
    (asset_id + 3r + 5c + 11ch) % 256 over a per-id geometry
    (w = 16 + id%8, h = 12 + id%5), encoded with scanline filter
    id % 5 — so a corpus of these exercises every PNG de-filter path,
    and every decoded pixel has a closed form an SQL oracle can
    recompute exactly."""
    from finetoo_sp_spark.codecs.png import encode_png

    rows = []
    for i in ids:
        i = int(i)
        w, h = 16 + i % 8, 12 + i % 5
        r = np.arange(h)[:, None, None]
        c = np.arange(w)[None, :, None]
        ch = np.arange(3)[None, None, :]
        img = ((i + 3 * r + 5 * c + 11 * ch) % 256).astype(np.uint8)
        rows.append((i, "image", encode_png(img, filter_type=i % 5)))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_jpeg_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic synthetic baseline JPEGs with CLOSED-FORM decoded
    pixels: block-flat grayscale images (every 8x8 block one value)
    where block (br, bc) of asset i is
    ``128 + 2*(((i + 7*br + 13*bc) % 50) - 25)``. A flat block's FDCT
    is DC-only with DC = 8*(v-128); the even offset from 128 makes the
    DC an exact multiple of the standard luminance quant step (16), so
    the whole encode->decode pipeline round-trips each block bit-exactly
    and a SQL oracle can recompute every pixel. Geometry varies per id
    (w = 8*(2+i%3), h = 8*(2+i%2)) and the inter-block DC deltas drive
    the differential-DC Huffman path across multiple MCUs. Odd ids
    store the same tables in Pq=1 (16-bit big-endian) DQT form — the
    decoded pixels are identical, so the oracle is unchanged while the
    16-bit DQT parse path executes on half the corpus."""
    from finetoo_sp_spark.codecs.jpeg import encode_jpeg_baseline

    rows = []
    for i in ids:
        i = int(i)
        bw, bh = 2 + i % 3, 2 + i % 2
        br = np.arange(bh)[:, None]
        bc = np.arange(bw)[None, :]
        vals = (128 + 2 * (((i + 7 * br + 13 * bc) % 50) - 25)).astype(np.uint8)
        img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        rows.append(
            (i, "image", encode_jpeg_baseline(img, quant_16bit=bool(i % 2)))
        )
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_jpeg_progressive_pandas(ids: np.ndarray) -> pd.DataFrame:
    """gen_jpeg_pandas's closed-form block-flat corpus through the
    PROGRESSIVE (SOF2) encoder, cycling three scan scripts per id —
    the default successive-approximation script, a spectral-selection-
    only split, and a deep one-bit-per-scan approximation chain — so
    the oracle exercises multi-scan accumulation, DC first/refine and
    the AC EOB-run machinery, all per-pixel-exact (flat blocks decode
    bit-identically to the baseline encoding of the same image)."""
    from finetoo_sp_spark.codecs.jpeg import encode_jpeg_progressive

    spectral = [([0], 0, 0, 0, 0), ([0], 1, 5, 0, 0), ([0], 6, 63, 0, 0)]
    deep = [
        ([0], 0, 0, 0, 2), ([0], 0, 0, 2, 1), ([0], 0, 0, 1, 0),
        ([0], 1, 63, 0, 2), ([0], 1, 63, 2, 1), ([0], 1, 63, 1, 0),
    ]
    scripts = [None, spectral, deep]
    rows = []
    for i in ids:
        i = int(i)
        bw, bh = 2 + i % 3, 2 + i % 2
        br = np.arange(bh)[:, None]
        bc = np.arange(bw)[None, :]
        vals = (128 + 2 * (((i + 7 * br + 13 * bc) % 50) - 25)).astype(np.uint8)
        img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        rows.append((i, "image", encode_jpeg_progressive(img, scans=scripts[i % 3])))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_webp_pandas(ids: np.ndarray) -> pd.DataFrame:
    """gen_jpeg_pandas's closed-form block-flat images through the
    LOSSLESS WebP (VP8L) encoder, cycling encoder shapes per id —
    plain literals+LZ77, palette (the values are few), subtract-green,
    predictor(Left), color cache, 2D-distance-map runs — all lossless,
    so the SAME pixel-formula oracle verifies every decode path
    per-pixel-exactly."""
    from finetoo_sp_spark.codecs.vp8l import encode_webp_lossless

    opts = [
        {},
        {"use_palette": True},
        {"subtract_green": True},
        {"predictor_mode": 1},
        {"cache_bits": 3},
        {"use_dist_map": True},
    ]
    rows = []
    for i in ids:
        i = int(i)
        bw, bh = 2 + i % 3, 2 + i % 2
        br = np.arange(bh)[:, None]
        bc = np.arange(bw)[None, :]
        vals = (128 + 2 * (((i + 7 * br + 13 * bc) % 50) - 25)).astype(np.uint8)
        img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        rows.append((i, "image", encode_webp_lossless(img, **opts[i % 6])))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_gif_pandas(ids: np.ndarray) -> pd.DataFrame:
    """The block-flat formula images through the GIF encoder (lossless:
    the few distinct block values fit any palette), alternating
    sequential and interlaced layout per id — LZW, sub-block framing
    and the 4-pass interlace reorder all verify under the same
    per-pixel formula oracle."""
    from finetoo_sp_spark.codecs.gif import encode_gif

    rows = []
    for i in ids:
        i = int(i)
        bw, bh = 2 + i % 3, 2 + i % 2
        br = np.arange(bh)[:, None]
        bc = np.arange(bw)[None, :]
        vals = (128 + 2 * (((i + 7 * br + 13 * bc) % 50) - 25)).astype(np.uint8)
        img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        rows.append((i, "image", encode_gif(img, interlace=bool(i % 2))))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_bmp_ico_pandas(ids: np.ndarray) -> pd.DataFrame:
    """The block-flat formula images through the BMP/ICO encoders —
    both are uncompressed-lossless, so the per-pixel formula oracle
    transfers unchanged while every container shape executes: per id
    (i%6) 24-bpp bottom-up BMP, 32-bpp BMP, 8-bpp palette BMP, 24-bpp
    top-down BMP, single-entry ICO with a DIB (XOR + opaque AND mask)
    payload, ICO with a PNG payload."""
    from finetoo_sp_spark.codecs.bmp import encode_bmp, encode_ico

    rows = []
    for i in ids:
        i = int(i)
        bw, bh = 2 + i % 3, 2 + i % 2
        br = np.arange(bh)[:, None]
        bc = np.arange(bw)[None, :]
        vals = (128 + 2 * (((i + 7 * br + 13 * bc) % 50) - 25)).astype(np.uint8)
        img = np.repeat(
            np.repeat(vals, 8, axis=0), 8, axis=1
        )[:, :, None].repeat(3, axis=2)
        kind = i % 6
        if kind == 0:
            payload = encode_bmp(img, bits=24)
        elif kind == 1:
            payload = encode_bmp(img, bits=32)
        elif kind == 2:
            payload = encode_bmp(img, bits=8)
        elif kind == 3:
            payload = encode_bmp(img, bits=24, top_down=True)
        elif kind == 4:
            payload = encode_ico(img)
        else:
            payload = encode_ico(img, as_png=True)
        rows.append((i, "image", payload))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_bmp_rle_pandas(ids: np.ndarray) -> pd.DataFrame:
    """The block-flat formula images through the compressed/exotic BMP
    encoder modes — all lossless for these images, so the per-pixel
    formula oracle transfers unchanged: per id (i%4) BI_RLE8 stream,
    BI_RLE4 stream (block-flat images have <= 12 distinct values, so
    the 16-entry palette always fits), 32-bpp BI_BITFIELDS with
    RGBA-order 8-bit masks (mask machinery executes, losslessly), and
    raw 4-bpp BI_RGB (nibble packing + padding)."""
    from finetoo_sp_spark.codecs.bmp import encode_bmp, encode_bmp_bitfields

    rows = []
    for i in ids:
        i = int(i)
        bw, bh = 2 + i % 3, 2 + i % 2
        br = np.arange(bh)[:, None]
        bc = np.arange(bw)[None, :]
        vals = (128 + 2 * (((i + 7 * br + 13 * bc) % 50) - 25)).astype(np.uint8)
        img = np.repeat(
            np.repeat(vals, 8, axis=0), 8, axis=1
        )[:, :, None].repeat(3, axis=2)
        kind = i % 4
        if kind == 0:
            payload = encode_bmp(img, compression="rle8")
        elif kind == 1:
            payload = encode_bmp(img, compression="rle4")
        elif kind == 2:
            payload = encode_bmp_bitfields(img)
        else:
            payload = encode_bmp(img, bits=4)
        rows.append((i, "image", payload))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_tiff_pandas(ids: np.ndarray) -> pd.DataFrame:
    """The block-flat formula images through the TIFF encoder — both
    byte orders x {uncompressed, PackBits, LZW, LZW+Predictor-2,
    Deflate, Deflate+Predictor-2} x grayscale/RGB input x varying
    RowsPerStrip, cycling per id (i%8 compression/shape kind, strip
    height 1/5/8/full by i%4), all lossless so the per-pixel formula
    oracle transfers unchanged."""
    from finetoo_sp_spark.codecs.tiff import encode_tiff

    rows = []
    for i in ids:
        i = int(i)
        bw, bh = 2 + i % 3, 2 + i % 2
        br = np.arange(bh)[:, None]
        bc = np.arange(bw)[None, :]
        vals = (128 + 2 * (((i + 7 * br + 13 * bc) % 50) - 25)).astype(np.uint8)
        gray = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        kind = i % 8
        img = (
            gray if kind in (0, 1, 4, 6)
            else gray[:, :, None].repeat(3, axis=2)
        )
        rows.append(
            (i, "image",
             encode_tiff(
                 img,
                 big_endian=bool(i % 2),
                 packbits=kind in (1, 3),
                 lzw=kind in (4, 5),
                 deflate=kind in (6, 7),
                 predictor=2 if kind in (4, 6) else 1,
                 rows_per_strip=[1, 5, 8, 0][i % 4],
             ))
        )
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_dhash_mixed_pandas(ids: np.ndarray) -> pd.DataFrame:
    """gen_dhash_pandas's textured formula images, rotated across the
    three LOSSLESS encoders per id — PNG (i%3=0), WebP-VP8L (1),
    GIF (2; the formula's channel offsets keep distinct RGB triples
    <= 256) — so one dHash oracle verifies decode parity across
    formats: lossless means the hash must be identical whatever the
    container."""
    from finetoo_sp_spark.codecs.gif import encode_gif
    from finetoo_sp_spark.codecs.png import encode_png
    from finetoo_sp_spark.codecs.vp8l import encode_webp_lossless

    rows = []
    for i in ids:
        i = int(i)
        w, h = 16 + i % 8, 12 + i % 5
        r = np.arange(h)[:, None, None]
        c = np.arange(w)[None, :, None]
        ch = np.arange(3)[None, None, :]
        img = (
            (13 * i + 3 * r * r + 5 * c * c + (1 + i % 4) * r * c + 11 * ch) % 256
        ).astype(np.uint8)
        enc = [encode_png, encode_webp_lossless, encode_gif][i % 3]
        rows.append((i, "image", enc(img)))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_wav_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic synthetic WAV assets with CLOSED-FORM stats: mono
    16-bit square waves at 8 kHz where every sample of asset i is
    +/-A(i), A = 1000 + (i%7)*500, over n = 400 + (i%5)*80 frames — so
    sumsq = n*A^2 and peak = A exactly, and an SQL oracle recomputes
    both without decoding a byte."""
    from finetoo_sp_spark.codecs.wav import encode_wav

    rows = []
    for i in ids:
        i = int(i)
        n = 400 + (i % 5) * 80
        amp = 1000 + (i % 7) * 500
        period = 8 + (i % 4) * 2  # full period in samples (half = period//2)
        t = np.arange(n)
        s = np.where((t // (period // 2)) % 2 == 0, amp, -amp).astype(np.int16)
        rows.append((i, "audio", encode_wav(s, 8000)))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_flac_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic synthetic FLAC assets with the SAME closed-form
    stats as the WAV corpus: 16-bit square waves at 8 kHz, amplitude
    A = 1000 + (i%7)*500 over n = 400 + (i%5)*80 frames, toggling every
    16 samples — so sumsq = channels*n*A^2 and peak = A exactly. Per id
    the encoder cycles EVERY decode path on purpose:

    - subframe strategy (i%5): verbatim / fixed0 / fixed1 / fixed2 /
      constant (constant uses blocksize 16 so each block IS constant);
    - channels (i%4): mono-independent, then stereo with R = -L
      through left/side, right/side, mid/side decorrelation — side
      carries 17-bit depth, so the +1-bit path executes.

    FLAC is lossless, so any slip in Rice decode, fixed prediction,
    CRC framing, or stereo reconstruction breaks the formula sums."""
    from finetoo_sp_spark.codecs.flac import encode_flac

    subframes = ["verbatim", "fixed0", "fixed1", "fixed2", "constant"]
    stereos = ["independent", "left_side", "right_side", "mid_side"]
    rows = []
    for i in ids:
        i = int(i)
        n = 400 + (i % 5) * 80
        amp = 1000 + (i % 7) * 500
        t = np.arange(n)
        left = np.where((t // 16) % 2 == 0, amp, -amp).astype(np.int64)
        sub = subframes[i % 5]
        st = stereos[i % 4]
        if st == "independent":
            s = left[:, None]
        else:
            s = np.stack([left, -left], axis=1)
        bsz = 16 if sub == "constant" else 192
        rows.append(
            (i, "audio",
             encode_flac(s, 8000, bits=16, blocksize=bsz,
                         subframe=sub, stereo=st))
        )
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_audio_probe_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic compressed-audio corpus with CLOSED-FORM metadata
    for the header-only probe — cycling container per id (i%4):

    0. MP3 CBR (MPEG-1 L3): rate [44100,48000,32000][i%3], 128 kbps,
       50+(i%20) frames, stereo -> duration 1152*frames*1000//rate.
    1. MP3 VBR + Xing: frames alternate 128/192 kbps over an even
       count 40+(i%10)*2, mono -> mean bitrate exactly 160.
    2. Ogg Vorbis: rate 8000+(i%5)*4000, 1+(i%2) channels, closing
       granule 10000+i*37 -> duration granule*1000//rate.
    3. Ogg Opus: 48 kHz decode rate, pre-skip 312, granule
       48000+i*480 -> duration (granule-312)*1000//48000.

    The entropy payloads are zero bytes — structurally valid streams;
    the probe never reads them, so the oracle recomputes everything
    from these formulas alone."""
    from finetoo_sp_spark.codecs.probe import make_mp3, make_ogg

    rows = []
    for i in ids:
        i = int(i)
        kind = i % 4
        if kind == 0:
            b = make_mp3(50 + (i % 20), rate_idx=i % 3,
                         bitrate_indices=[9], channels=2)
        elif kind == 1:
            b = make_mp3(40 + (i % 10) * 2, rate_idx=i % 3,
                         bitrate_indices=[9, 11], channels=1, xing=True)
        elif kind == 2:
            b = make_ogg("vorbis", 8000 + (i % 5) * 4000,
                         1 + (i % 2), 10000 + i * 37)
        else:
            b = make_ogg("opus", 48000, 1 + (i % 2), 48000 + i * 480)
        rows.append((i, "audio", b))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_dhash_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Textured synthetic PNGs for perceptual-hash tests: pixel(r,c,ch) =
    (13*id + 3r^2 + 5c^2 + (1 + id%4)*rc + 11ch) % 256. The quadratic +
    cross terms give every image real 2-D structure (a pure linear
    gradient collapses every dHash to one value); ids congruent mod 40
    share geometry AND texture class and differ only by a +8 brightness
    shift (13*40 % 256), so (i, i+40) are planted NEAR-dups — dHash
    distance 1..10 from wrap-straddling comparisons — while cross-class
    pairs sit far away. Closed form, so an SQL oracle recomputes every
    hash."""
    from finetoo_sp_spark.codecs.png import encode_png

    rows = []
    for i in ids:
        i = int(i)
        w, h = 16 + i % 8, 12 + i % 5
        r = np.arange(h)[:, None, None]
        c = np.arange(w)[None, :, None]
        ch = np.arange(3)[None, None, :]
        img = ((13 * i + 3 * r * r + 5 * c * c + (1 + i % 4) * r * c + 11 * ch) % 256).astype(
            np.uint8
        )
        rows.append((i, "image", encode_png(img, filter_type=i % 5)))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_mp4_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic synthetic MP4 containers with CLOSED-FORM metadata:
    asset i has major_brand isom/mp42 (i%2), movie timescale 600,
    duration 600*(1 + i%7) + i ticks, one video track (w = 8*(2 + i%6),
    h = 8*(2 + i%4), codec avc1/hvc1/av01 by i%3) plus an audio track
    when i%2 == 1 — every probed field recomputable by a SQL oracle
    from i alone. The mdat carries i%97 filler bytes so payload size
    also varies deterministically."""
    from finetoo_sp_spark.codecs.mp4 import encode_mp4

    codecs = ["avc1", "hvc1", "av01"]
    rows = []
    for i in ids:
        i = int(i)
        tracks = [("vide", 8 * (2 + i % 6), 8 * (2 + i % 4), codecs[i % 3])]
        if i % 2 == 1:
            tracks.append(("soun", 0, 0, "mp4a"))
        rows.append(
            (
                i,
                "video",
                encode_mp4(
                    "isom" if i % 2 == 0 else "mp42",
                    600,
                    600 * (1 + i % 7) + i,
                    tracks,
                    mdat=b"\x00" * (i % 97),
                ),
            )
        )
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_mixed_image_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic mixed-format image corpus for the header probe:
    i%7 routes to a REAL PNG (encode_png), REAL baseline JPEG
    (encode_jpeg_baseline), minimal GIF89a, minimal WebP/VP8L, minimal
    TIFF IFD (alternating byte order), REAL BMP (negative-height
    top-down on odd ids), or REAL single-entry ICO — each with
    closed-form dimensions an SQL oracle recomputes from i."""
    from finetoo_sp_spark.codecs.bmp import encode_bmp, encode_ico
    from finetoo_sp_spark.codecs.jpeg import encode_jpeg_baseline
    from finetoo_sp_spark.codecs.png import encode_png
    from finetoo_sp_spark.codecs.probe import (
        encode_gif_header,
        encode_tiff_header,
        encode_webp_vp8l_header,
    )

    rows = []
    for i in ids:
        i = int(i)
        kind = i % 7
        if kind == 0:
            w, h = 16 + i % 8, 12 + i % 5
            r = np.arange(h)[:, None, None]
            c = np.arange(w)[None, :, None]
            ch = np.arange(3)[None, None, :]
            img = ((i + 3 * r + 5 * c + 11 * ch) % 256).astype(np.uint8)
            payload = encode_png(img, filter_type=i % 5)
        elif kind == 1:
            bw, bh = 2 + i % 3, 2 + i % 2
            vals = np.full((bh, bw), 128, dtype=np.uint8)
            payload = encode_jpeg_baseline(np.repeat(np.repeat(vals, 8, 0), 8, 1))
        elif kind == 2:
            payload = encode_gif_header(100 + i, 50 + i % 7)
        elif kind == 3:
            payload = encode_webp_vp8l_header(1 + i % 200, 1 + (i * 3) % 150)
        elif kind == 4:
            payload = encode_tiff_header(
                200 + i % 31, 100 + i % 17, big_endian=bool(i % 2)
            )
        elif kind == 5:
            img = np.zeros((20 + i % 9, 30 + i % 11, 3), dtype=np.uint8)
            payload = encode_bmp(img, top_down=bool(i % 2))
        else:
            side = [16, 32, 48, 64, 256][i % 5]
            img = np.zeros((side, side, 3), dtype=np.uint8)
            payload = encode_ico(img, as_png=bool(i % 2))
        rows.append((i, "image", payload))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


# --- charset-mixed HTML corpus (extraction/charset.py) ----------------

# (python codec, meta label or None, BOM bytes, non-ASCII token).
# Class 1 declares iso-8859-1 but the token needs cp1252's 0x80-0x9F
# block (curly quotes) — exactly the real-web case the WHATWG
# label->windows-1252 mapping exists for. Classes 4/5 have a BOM and
# NO meta; class 6 has neither (fallback path).
CHARSET_CASES = [
    ("utf-8", "utf-8", b"", "na\u00efve \u2014 \u00fcnicode"),
    ("windows-1252", "iso-8859-1", b"", "caf\u00e9 \u201cquoted\u201d"),
    ("shift_jis", "Shift_JIS", b"", "\u30c6\u30b9\u30c8"),
    ("gbk", "gb2312", b"", "\u4e2d\u6587\u6d4b\u8bd5"),
    ("utf-8", None, b"\xef\xbb\xbf", "bom \u2713"),
    ("utf-16-le", None, b"\xff\xfe", "wide \u03c0"),
    ("windows-1252", None, b"", "plain \u00e9"),
]


def charset_page_text(i: int) -> str:
    """The decoded form (BOM-free) of synthetic charset page ``i``."""
    codec, meta_label, _bom, token = CHARSET_CASES[i % len(CHARSET_CASES)]
    meta = f'<meta charset="{meta_label}">' if meta_label else ""
    return (
        f"<html><head>{meta}</head>"
        f"<body>page {i} {token}</body></html>"
    )


CHARSET_PAGES_SCHEMA = "page_id long, html binary"


def gen_charset_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Mixed-encoding HTML pages: utf-8 / windows-1252 / Shift_JIS / GBK
    metas, utf-8 + utf-16-le BOMs, and a declaration-free windows-1252
    fallback class."""
    rows = []
    for i in ids:
        i = int(i)
        codec, _meta, bom, _tok = CHARSET_CASES[i % len(CHARSET_CASES)]
        rows.append((i, bom + charset_page_text(i).encode(codec)))
    return pd.DataFrame(rows, columns=["page_id", "html"])


def gen_gif_anim_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic ANIMATED GIF corpus with closed-form composited
    sums: per id, a 3-frame animation over an 8*(2+i%3) x 8*(2+i%2)
    screen — frame 0 paints the full screen gray a=40+i%40, frame 1 paints the LEFT HALF gray b=90+i%40 through a
    LOCAL color table with disposal cycling 1/2/3 by i%3, frame 2 is a
    full-screen image whose left half is the TRANSPARENT index and
    right half gray c=140+i%40. Every disposal branch, the LCT path and
    transparency compositing are thus live under the SQL oracle: the
    left half of composited frame 2 shows b (disposal 1), background 0
    (disposal 2) or a (disposal 3). Delays 2+i%7 / 3+i%7 / 4+i%7 cs,
    NETSCAPE loop count i%4."""
    from finetoo_sp_spark.codecs.gif import encode_gif_anim

    rows = []
    for i in ids:
        i = int(i)
        w, h = 8 * (2 + i % 3), 8 * (2 + i % 2)
        a, b, c = 40 + i % 40, 90 + i % 40, 140 + i % 40
        pal = np.array(
            [[0, 0, 0], [a, a, a], [0, 0, 0], [c, c, c], [255, 0, 255]],
            dtype=np.uint8,
        )
        lct = np.array(
            [[0, 0, 0], [0, 0, 0], [b, b, b], [0, 0, 0]], dtype=np.uint8
        )
        f0 = {
            "idx": np.full((h, w), 1),
            "delay_cs": 2 + i % 7,
            "disposal": 1,
        }
        f1 = {
            "idx": np.full((h, w // 2), 2),
            "local_palette": lct,
            "delay_cs": 3 + i % 7,
            "disposal": 1 + i % 3,
        }
        i2 = np.full((h, w), 3)
        i2[:, : w // 2] = 4
        f2 = {
            "idx": i2,
            "transparent": 4,
            "delay_cs": 4 + i % 7,
            "disposal": 1,
        }
        payload = encode_gif_anim(w, h, pal, 0, [f0, f1, f2], loop=i % 4)
        rows.append((i, "image", payload))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_g711_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic G.711 telephony-WAV corpus: per id a mono 8 kHz
    file of N = 160 + (i%5)*40 RAW codes c(k) = (i*31 + 7k) % 256,
    mu-law on even ids and A-law on odd — the decoded samples are then
    exactly the spec-table values of those codes, so the SQL oracle
    recomputes energy/peak from the G.711 segment formulas alone
    without seeing a WAV byte."""
    from finetoo_sp_spark.codecs.wav import make_wav_g711_codes

    rows = []
    for i in ids:
        i = int(i)
        n = 160 + (i % 5) * 40
        codes = ((i * 31 + 7 * np.arange(n)) % 256).astype(np.uint8)
        law = "ulaw" if i % 2 == 0 else "alaw"
        rows.append((i, "audio", make_wav_g711_codes(codes, 8000, law=law)))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_webp_anim_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic ANIMATED WebP corpus with closed-form composited
    sums — the VP8X/ANIM/ANMF twin of gen_gif_anim_pandas: per id a
    3-frame animation over an 8*(2+i%3) x 8*(2+i%2) canvas. Frame 0
    overwrites the full canvas with gray a=40+i%40; frame 1 overwrites
    the LEFT HALF with gray b=90+i%40 and disposes-to-background on
    odd ids; frame 2 alpha-BLENDS a full-canvas image whose left half
    is fully transparent and right half opaque gray c=140+i%40 — so
    composited frame 2's left half shows b (no dispose) or background
    0 (disposed), pinning sub-frame placement, both blend modes and
    disposal under the SQL oracle. Durations 2/3/4+i%7 ms, loop i%4."""
    from finetoo_sp_spark.codecs.vp8l import encode_webp_anim

    rows = []
    for i in ids:
        i = int(i)
        w, h = 8 * (2 + i % 3), 8 * (2 + i % 2)
        a, b, c = 40 + i % 40, 90 + i % 40, 140 + i % 40
        f0 = {
            "rgba": np.full((h, w), a, np.uint8),
            "duration_ms": 2 + i % 7,
            "blend": False,
        }
        f1 = {
            "rgba": np.full((h, w // 2), b, np.uint8),
            "duration_ms": 3 + i % 7,
            "blend": False,
            "dispose": bool(i % 2),
        }
        i2 = np.zeros((h, w, 4), np.uint8)
        i2[:, w // 2:, :3] = c
        i2[:, w // 2:, 3] = 255
        f2 = {"rgba": i2, "duration_ms": 4 + i % 7, "blend": True}
        payload = encode_webp_anim(w, h, [f0, f1, f2], loop=i % 4)
        rows.append((i, "image", payload))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_apng_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic APNG corpus with closed-form composited sums: per
    id, a 3-frame animation on a (8+4*(i%3)) x (6+2*(i%2)) canvas —
    frame 0 paints the canvas gray a=30+i%50, frame 1 paints the LEFT
    HALF gray b=100+i%50 with dispose_op cycling 0/1/2 by i%3, frame 2
    blends OVER a full-canvas image whose left half is fully
    transparent and right half gray c=170+i%50. The left half of
    composited frame 2 therefore shows b (dispose none), transparent 0
    (dispose background) or a (dispose previous) — every dispose branch
    and both blend ops live under the SQL oracle. Ids divisible by 4
    additionally ship a HIDDEN default image (IDAT with no fcTL ahead,
    gray 7) so the hidden-IDAT parse path runs under the same oracle
    (the composited sums are unchanged by construction). Delays
    (2+i%5)/100, (3+i%5)/100, (4+i%5)/100 s; num_plays i%3."""
    from finetoo_sp_spark.codecs.apng import encode_apng

    rows = []
    for i in ids:
        i = int(i)
        w, h = 8 + 4 * (i % 3), 6 + 2 * (i % 2)
        a, b, c = 30 + i % 50, 100 + i % 50, 170 + i % 50
        f0 = np.zeros((h, w, 4), np.uint8)
        f0[..., :3] = a
        f0[..., 3] = 255
        f1 = np.zeros((h, w // 2, 4), np.uint8)
        f1[..., :3] = b
        f1[..., 3] = 255
        f2 = np.zeros((h, w, 4), np.uint8)
        f2[:, w // 2 :, :3] = c
        f2[:, w // 2 :, 3] = 255
        frames = [
            {"rgba": f0, "dispose": 0, "blend": 0, "delay_num": 2 + i % 5, "delay_den": 100},
            {"rgba": f1, "dispose": i % 3, "blend": 0, "delay_num": 3 + i % 5, "delay_den": 100},
            {"rgba": f2, "dispose": 0, "blend": 1, "delay_num": 4 + i % 5, "delay_den": 100},
        ]
        default = np.full((h, w, 4), 7, np.uint8) if i % 4 == 0 else None
        payload = encode_apng(w, h, frames, num_plays=i % 3, default_image=default)
        rows.append((i, "image", payload))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_mp4_sample_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic MP4s with FULL sample tables and closed-form rows:
    asset i carries ns = 10 + i%6 video samples in two stts runs
    (first half delta 100+(i%3)*50 ticks, rest 200+(i%4)*25), sizes
    50 + ((i+7k)%40) bytes packed contiguously in mdat in 4-sample
    chunks, keyframes every 5th sample; every 8th asset uses co64
    offsets so the 64-bit chunk-offset path runs under the oracle."""
    from finetoo_sp_spark.codecs.mp4 import encode_mp4_samples

    rows = []
    for i in ids:
        i = int(i)
        ns = 10 + i % 6
        h = ns // 2
        sizes = [50 + ((i + 7 * k) % 40) for k in range(ns)]
        payload = encode_mp4_samples(
            600,
            [(h, 100 + (i % 3) * 50), (ns - h, 200 + (i % 4) * 25)],
            sizes,
            samples_per_chunk=4,
            sync_every=5,
            co64=(i % 8 == 0),
        )
        rows.append((i, "video", payload))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_exif_jpeg_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic JPEG+EXIF corpus with closed-form metadata: asset
    i carries orientation 1+i%8, make 'Maker'+i%5, model 'Cam '+i%7,
    typed timestamps keyed on i%28, and — on every 3rd asset — GPS
    rationals ((i%90) deg, (i%60) min, ((i*7)%6000)/100 sec; refs N/S
    by i%2, E/W by i%4<2) so the signed floor micro-degree resolution
    is SQL-recomputable. Every 5th asset is big-endian (MM) so both
    byte orders run under the oracle."""
    from finetoo_sp_spark.codecs.exif import insert_exif, make_exif_app1
    from finetoo_sp_spark.codecs.jpeg import encode_jpeg_baseline

    base = encode_jpeg_baseline(np.full((8, 8, 3), 100, np.uint8))
    rows = []
    for i in ids:
        i = int(i)
        gps = None
        if i % 3 == 0:
            gps = (
                "N" if i % 2 == 0 else "S",
                (i % 90, 1, i % 60, 1, (i * 7) % 6000, 100),
                "E" if i % 4 < 2 else "W",
                (i % 180, 1, (i * 3) % 60, 1, (i * 11) % 6000, 100),
            )
        app1 = make_exif_app1(
            1 + i % 8,
            f"Maker{i % 5}",
            f"Cam {i % 7}",
            "2026:03:%02d 10:00:00" % (i % 28 + 1),
            "2026:02:%02d 09:00:00" % (i % 28 + 1),
            gps=gps,
            byte_order=">" if i % 5 == 0 else "<",
        )
        rows.append((i, "image", insert_exif(base, app1)))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_png_variant_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic PNGs exercising the decoder's full IHDR matrix
    with closed-form pixel sums: asset i is a PALETTE image at depth
    2^(i%4) (1/2/4/8 bits) over a (6+(i%3)*2) x (8+(i%5)*2) grid with
    idx(r,c) = (r*w+c+i) mod 2^depth and palette entry p = ((3p+5i)%256,
    (7p+i)%256, (11p+2i)%256); every 5th asset adds tRNS alpha
    (29p+i)%256 (output RGBA), every 3rd is Adam7-INTERLACED, and the
    scanline filter cycles 0-4 by i%5 — so sub-byte unpacking, palette
    lookup, transparency, interlace reassembly and every filter all sit
    under one SQL oracle."""
    from finetoo_sp_spark.codecs.png import encode_png_palette

    rows = []
    for i in ids:
        i = int(i)
        depth = 1 << (i % 4)
        k = 1 << depth
        w, h = 8 + (i % 5) * 2, 6 + (i % 3) * 2
        r, c = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        idx = ((r * w + c + i) % k).astype(np.uint8)
        p = np.arange(k)
        pal = np.stack(
            [(3 * p + 5 * i) % 256, (7 * p + i) % 256, (11 * p + 2 * i) % 256],
            axis=1,
        ).astype(np.uint8)
        trns = ((29 * p + i) % 256).astype(np.uint8) if i % 5 == 0 else None
        if i % 3 == 0:
            # interlaced palette: encode via the Adam7 writer by hand —
            # filter each pass of the PACKED index rows independently
            from finetoo_sp_spark.codecs.png import (
                _ADAM7,
                _MAGIC,
                _chunk,
                _pack_bits,
                filter_raw,
            )
            import struct as _struct
            import zlib as _zlib

            stream = b""
            for x0, y0, dx, dy in _ADAM7:
                sub = idx[y0::dy, x0::dx]
                if sub.shape[0] and sub.shape[1]:
                    rows_p = sub if depth == 8 else _pack_bits(sub, depth)
                    stream += filter_raw(np.ascontiguousarray(rows_p), 1, i % 5)
            ihdr = _struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 1)
            payload = _MAGIC + _chunk(b"IHDR", ihdr)
            payload += _chunk(b"PLTE", pal.tobytes())
            if trns is not None:
                payload += _chunk(b"tRNS", trns.tobytes())
            payload += _chunk(b"IDAT", _zlib.compress(stream, 6))
            payload += _chunk(b"IEND", b"")
        else:
            payload = encode_png_palette(
                idx, pal, trns=trns, depth=depth, filter_type=i % 5
            )
        rows.append((i, "image", payload))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_png16_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic 16-bit PNGs (gray or RGB by parity) whose HIGH
    bytes have closed forms: sample16(r,c) = ((i + 3r + 5c + ch) * 257)
    mod 65536 — the *257 spreads both bytes so a low/high byte mixup
    cannot cancel; high byte = (i + 3r + 5c + ch) mod 256 exactly."""
    from finetoo_sp_spark.codecs.png import encode_png_16bit

    rows = []
    for i in ids:
        i = int(i)
        w, h = 8 + (i % 4) * 2, 6 + (i % 3) * 2
        r, c = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        if i % 2 == 0:
            a = (((i + 3 * r + 5 * c) * 257) % 65536).astype(np.uint16)
        else:
            a = np.stack(
                [(((i + 3 * r + 5 * c + ch) * 257) % 65536) for ch in range(3)],
                axis=2,
            ).astype(np.uint16)
        rows.append((i, "image", encode_png_16bit(a, filter_type=i % 5)))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_jpeg_exif_orient_pandas(ids: np.ndarray) -> pd.DataFrame:
    """gen_jpeg_pandas's bit-exact block-flat JPEGs with an EXIF APP1
    carrying orientation 1 + i%8 — the corpus for oriented-presentation
    oracles (block value formula unchanged, so first-row/column sums
    stay closed-form per orientation)."""
    from finetoo_sp_spark.codecs.exif import insert_exif, make_exif_app1
    from finetoo_sp_spark.codecs.jpeg import encode_jpeg_baseline

    rows = []
    for i in ids:
        i = int(i)
        bw, bh = 2 + i % 3, 2 + i % 2
        br = np.arange(bh)[:, None]
        bc = np.arange(bw)[None, :]
        vals = (128 + 2 * (((i + 7 * br + 13 * bc) % 50) - 25)).astype(np.uint8)
        img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        app1 = make_exif_app1(
            1 + i % 8, f"Maker{i % 3}", "OrientCam", "", "",
            byte_order="<" if i % 2 == 0 else ">",
        )
        rows.append(
            (i, "image", insert_exif(encode_jpeg_baseline(img), app1))
        )
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_jpeg_cmyk_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic Adobe-CMYK JPEGs with closed-form decoded pixels:
    block-flat planes whose STORED (inverted) value for plane p is
    128 + 2*(((i + 7br + 13bc + 17p) % 50) - 25) — DC-only FDCT on an
    exact quant multiple, so the 4-component pipeline round-trips
    bit-exactly and decoded RGB = s_c * s_k // 255 etc. has a SQL
    closed form. Every 4th asset adds restart markers."""
    from finetoo_sp_spark.codecs.jpeg import encode_jpeg_cmyk

    rows = []
    for i in ids:
        i = int(i)
        bw, bh = 2 + i % 3, 2 + i % 2
        br = np.arange(bh)[:, None]
        bc = np.arange(bw)[None, :]
        planes = []
        for p in range(4):
            stored = 128 + 2 * (((i + 7 * br + 13 * bc + 17 * p) % 50) - 25)
            planes.append(255 - np.repeat(np.repeat(stored, 8, 0), 8, 1))
        cmyk = np.stack(planes, axis=2).astype(np.uint8)
        rows.append(
            (i, "image",
             encode_jpeg_cmyk(cmyk, restart_interval=2 if i % 4 == 0 else 0))
        )
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_wav24_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic 24-BIT PCM WAV corpus (studio-master shape) with
    closed-form stats: mono square waves of amplitude A = 100000 +
    (i%7)*50000 (beyond int16 range, so a 16-bit fallback would clip
    and break the oracle) over n = 400 + (i%5)*80 frames."""
    from finetoo_sp_spark.codecs.wav import encode_wav_24bit

    rows = []
    for i in ids:
        i = int(i)
        n = 400 + (i % 5) * 80
        amp = 100000 + (i % 7) * 50000
        period = 8 + (i % 4) * 2
        t = np.arange(n)
        s = np.where((t // (period // 2)) % 2 == 0, amp, -amp)
        rows.append((i, "audio", encode_wav_24bit(s, 48000)))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_mp3_id3_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Deterministic MP3s with ID3v2 tags: version 3/4 by parity, text
    encoding cycling latin-1/utf-16/utf-8 by i%3, title 'Track {i}',
    artist 'Artist {i%7}', album absent on every 3rd asset, and every
    5th asset carrying NO tag at all (version-0 branch)."""
    from finetoo_sp_spark.codecs.probe import make_id3v2, make_mp3

    rows = []
    for i in ids:
        i = int(i)
        mp3 = make_mp3(3 + i % 4)
        if i % 5 == 0:
            rows.append((i, "audio", mp3))
            continue
        tag = make_id3v2(
            f"Track {i}",
            f"Artist {i % 7}",
            "" if i % 3 == 0 else f"Album {i % 4}",
            version=3 if i % 2 == 0 else 4,
            encoding=(0, 1, 3)[i % 3],
        )
        rows.append((i, "audio", tag + mp3))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_audio_tags_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Mixed tagged-audio corpus: even ids are ID3v2-tagged MP3s (the
    gen_mp3_id3 matrix), odd ids FLAC files with VorbisComment blocks
    spliced after STREAMINFO; album absent on every 3rd asset either
    way."""
    from finetoo_sp_spark.codecs.flac import (
        encode_flac,
        insert_flac_tags,
        make_vorbis_comment_block,
    )
    from finetoo_sp_spark.codecs.probe import make_id3v2, make_mp3

    rows = []
    for i in ids:
        i = int(i)
        title, artist = f"Track {i}", f"Artist {i % 7}"
        album = "" if i % 3 == 0 else f"Album {i % 4}"
        if i % 2 == 0:
            payload = make_id3v2(
                title, artist, album, version=3 if i % 4 == 0 else 4,
                encoding=(0, 3)[(i // 2) % 2],
            ) + make_mp3(3)
        else:
            t = np.arange(200)
            s = np.where((t // 4) % 2 == 0, 800 + i, -(800 + i)).astype(np.int32)
            payload = insert_flac_tags(
                encode_flac(s, 8000),
                make_vorbis_comment_block(title, artist, album),
            )
        rows.append((i, "audio", payload))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])


def gen_photo_pandas(ids: np.ndarray) -> pd.DataFrame:
    """Photo-ingest capstone corpus: the bit-exact block-flat JPEGs
    (geometry 8*(2+i%3) x 8*(2+i%2)) with EXIF orientation 1+i%8 in
    both byte orders, GPS rationals on every 3rd asset, and camera
    make 'Maker'+i%5 ABSENT on every 7th (the curation policy demands
    provenance) — every branch of the photo_report kernel and the
    keep rule lives under one oracle."""
    from finetoo_sp_spark.codecs.exif import insert_exif, make_exif_app1
    from finetoo_sp_spark.codecs.jpeg import encode_jpeg_baseline

    rows = []
    for i in ids:
        i = int(i)
        bw, bh = 2 + i % 3, 2 + i % 2
        br = np.arange(bh)[:, None]
        bc = np.arange(bw)[None, :]
        vals = (128 + 2 * (((i + 7 * br + 13 * bc) % 50) - 25)).astype(np.uint8)
        img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        gps = None
        if i % 3 == 0:
            gps = (
                "N" if i % 2 == 0 else "S",
                (i % 90, 1, i % 60, 1, (i * 7) % 6000, 100),
                "E" if i % 4 < 2 else "W",
                (i % 180, 1, (i * 3) % 60, 1, (i * 11) % 6000, 100),
            )
        app1 = make_exif_app1(
            1 + i % 8,
            "" if i % 7 == 0 else f"Maker{i % 5}",
            "PhotoCam",
            "", "",
            gps=gps,
            byte_order="<" if i % 2 == 0 else ">",
        )
        rows.append((i, "image", insert_exif(encode_jpeg_baseline(img), app1)))
    return pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])
