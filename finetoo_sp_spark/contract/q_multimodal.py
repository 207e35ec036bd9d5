"""Contract queries: image metadata/stats/resize and frame sampling.

Split from the round-3 contract.py monolith (VERDICT r03 item 7);
every query keeps its original name, Spark plan, and DuckDB twin.
"""

from __future__ import annotations

from finetoo_sp_spark.contract._core import (
    DataFrame,
    SparkSession,
    F,
    _q,
    _assets,
)


@_q(
    "multimodal_metadata",
    """
SELECT doc_id AS asset_id,
  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  sha256(text) AS payload_sha
FROM documents""",
)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finetoo_sp_spark.multimodal import asset_metadata

    return asset_metadata(_assets(spark, sf_dir))


@_q(
    "multimodal_image_stats",
    """
SELECT i AS asset_id,
  CAST(16 + i % 8 AS BIGINT) AS width,
  CAST(12 + i % 5 AS BIGINT) AS height,
  CAST(3 AS BIGINT) AS channels,
  sum((i + 3*r + 5*c) % 256) AS sum_r,
  sum((i + 3*r + 5*c + 11) % 256) AS sum_g,
  sum((i + 3*r + 5*c + 22) % 256) AS sum_b
FROM range(0, 64) t(i), range(0, 16) rr(r), range(0, 23) cc(c)
WHERE r < 12 + i % 5 AND c < 16 + i % 8
GROUP BY i""",
    audit=[
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode under a per-pixel-exact oracle: synthetic PNGs
    (closed-form pixels, every scanline filter type across the corpus)
    are decoded by the pure-stdlib codec inside the Arrow kernel; the
    DuckDB twin recomputes the per-channel pixel SUMS from the pixel
    formula alone — it never sees a PNG, so agreement proves zlib
    inflate + de-filtering + geometry are all byte-correct."""
    from finetoo_sp_spark.datagen import gen_assets, gen_image_pandas
    from finetoo_sp_spark.multimodal import image_stats

    return image_stats(gen_assets(spark, gen_image_pandas, 64))


@_q(
    "multimodal_resize",
    """
SELECT i AS asset_id,
  CAST(12 AS BIGINT) AS width,
  CAST(8 AS BIGINT) AS height,
  CAST(3 AS BIGINT) AS channels,
  sum((i + 3*((r*(12 + i%5))//8) + 5*((c*(16 + i%8))//12)) % 256) AS sum_r,
  sum((i + 3*((r*(12 + i%5))//8) + 5*((c*(16 + i%8))//12) + 11) % 256) AS sum_g,
  sum((i + 3*((r*(12 + i%5))//8) + 5*((c*(16 + i%8))//12) + 22) % 256) AS sum_b
FROM range(0, 64) t(i), range(0, 8) rr(r), range(0, 12) cc(c)
GROUP BY i""",
)
def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode + nearest-neighbor resize under a per-pixel-exact
    oracle: the kernel decodes each synthetic PNG and remaps it to an
    8x12 grid with the integer floor rule src = (dst * src_dim) //
    dst_dim; the DuckDB twin recomputes the resized per-channel sums
    from the pixel formula and the same floor rule — it never sees a
    PNG, so agreement proves decode AND the resize geometry."""
    from finetoo_sp_spark.datagen import gen_assets, gen_image_pandas
    from finetoo_sp_spark.multimodal import resize_images

    return resize_images(gen_assets(spark, gen_image_pandas, 64), out_h=8, out_w=12)


@_q(
    "multimodal_image_stats_jpeg",
    """
SELECT i AS asset_id,
  CAST(8*(2 + i%3) AS BIGINT) AS width,
  CAST(8*(2 + i%2) AS BIGINT) AS height,
  CAST(1 AS BIGINT) AS channels,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_r,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_g,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_b
FROM range(0, 48) t(i), range(0, 3) rr(br), range(0, 4) cc(bc)
WHERE br < (2 + i%2) AND bc < (2 + i%3)
GROUP BY i""",
)
def q_image_stats_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode under a per-pixel-exact oracle:
    synthetic block-flat grayscale JPEGs (datagen.gen_jpeg_pandas —
    flat 8x8 blocks make the DCT path provably lossless under the
    standard quant tables) are Huffman-decoded, dequantized and
    IDCT'd by the pure-stdlib codec inside the Arrow kernel; the
    DuckDB twin recomputes the per-block pixel sums from the value
    formula alone — it never sees a JPEG, so agreement proves marker
    parsing, entropy decode, differential DC, dequant and IDCT are
    all pixel-correct."""
    from finetoo_sp_spark.datagen import gen_assets, gen_jpeg_pandas
    from finetoo_sp_spark.multimodal import image_stats

    return image_stats(gen_assets(spark, gen_jpeg_pandas, 48))


@_q(
    "multimodal_image_stats_jpeg_progressive",
    """
SELECT i AS asset_id,
  CAST(8*(2 + i%3) AS BIGINT) AS width,
  CAST(8*(2 + i%2) AS BIGINT) AS height,
  CAST(1 AS BIGINT) AS channels,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_r,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_g,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_b
FROM range(0, 48) t(i), range(0, 3) rr(br), range(0, 4) cc(bc)
WHERE br < (2 + i%2) AND bc < (2 + i%3)
GROUP BY i""",
    audit=[
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_image_stats_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE (SOF2) JPEG decode under the same per-pixel-exact
    oracle as the baseline query: the corpus re-encodes the identical
    block-flat images progressively, cycling three scan scripts per id
    (default successive approximation / spectral-selection only / deep
    one-bit-per-scan chain), so multi-scan coefficient accumulation —
    DC first+refine, AC first with EOB runs, AC refinement correction
    bits — must reconstruct every pixel bit-exactly for the sums to
    match the formula. Closes VERDICT r04 gap #1 (progressive files
    previously skipped all pixel-level ops)."""
    from finetoo_sp_spark.datagen import gen_assets, gen_jpeg_progressive_pandas
    from finetoo_sp_spark.multimodal import image_stats

    return image_stats(gen_assets(spark, gen_jpeg_progressive_pandas, 48))


@_q(
    "multimodal_image_stats_webp",
    """
SELECT i AS asset_id,
  CAST(8*(2 + i%3) AS BIGINT) AS width,
  CAST(8*(2 + i%2) AS BIGINT) AS height,
  CAST(3 AS BIGINT) AS channels,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_r,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_g,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_b
FROM range(0, 48) t(i), range(0, 3) rr(br), range(0, 4) cc(bc)
WHERE br < (2 + i%2) AND bc < (2 + i%3)
GROUP BY i""",
    audit=[
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_image_stats_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless-WebP (VP8L) decode under the same per-pixel-exact
    oracle as the JPEG queries: the corpus encodes the block-flat
    formula images through SIX encoder shapes (plain LZ77, palette,
    subtract-green, predictor, color cache, 2D distance map), cycling
    per id — VP8L is lossless, so every transform/entropy decode path
    must reproduce the formula pixels exactly for the sums to match.
    Closes VERDICT r04 gap #2 (WebP was dimensions-probe only).
    channels = 3: the grayscale source encodes as opaque RGB."""
    from finetoo_sp_spark.datagen import gen_assets, gen_webp_pandas
    from finetoo_sp_spark.multimodal import image_stats

    return image_stats(gen_assets(spark, gen_webp_pandas, 48))


@_q(
    "multimodal_image_stats_gif",
    """
SELECT i AS asset_id,
  CAST(8*(2 + i%3) AS BIGINT) AS width,
  CAST(8*(2 + i%2) AS BIGINT) AS height,
  CAST(3 AS BIGINT) AS channels,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_r,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_g,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_b
FROM range(0, 48) t(i), range(0, 3) rr(br), range(0, 4) cc(bc)
WHERE br < (2 + i%2) AND bc < (2 + i%3)
GROUP BY i""",
    audit=[
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_image_stats_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF decode (LZW + sub-block framing + 4-pass interlace on odd
    ids) under the same per-pixel-exact formula oracle as the
    JPEG/WebP queries — GIF is palette-lossless, so any decode slip in
    the LZW dictionary, width growth, or interlace reorder breaks the
    sums."""
    from finetoo_sp_spark.datagen import gen_assets, gen_gif_pandas
    from finetoo_sp_spark.multimodal import image_stats

    return image_stats(gen_assets(spark, gen_gif_pandas, 48))


@_q(
    "multimodal_image_stats_bmp_ico",
    """
SELECT i AS asset_id,
  CAST(8*(2 + i%3) AS BIGINT) AS width,
  CAST(8*(2 + i%2) AS BIGINT) AS height,
  CAST(3 AS BIGINT) AS channels,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_r,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_g,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_b
FROM range(0, 48) t(i), range(0, 3) rr(br), range(0, 4) cc(bc)
WHERE br < (2 + i%2) AND bc < (2 + i%3)
GROUP BY i""",
    audit=[
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_image_stats_bmp_ico(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMP + ICO (favicon) decode under the same per-pixel-exact
    formula oracle as the GIF/WebP queries: the corpus encodes the
    block-flat images as 24/32/8-bpp-palette/top-down BMPs and as
    single-entry ICOs with DIB (doubled-height XOR + AND mask) and
    PNG payloads, cycling per id — any slip in BGR ordering, 4-byte
    row padding, bottom-up flip, palette indexing, or ICO payload
    routing breaks exactly its sixth of the rows. Favicons are
    fetched for nearly every crawled host, so this is the highest-
    frequency image container a web curation pipeline touches."""
    from finetoo_sp_spark.datagen import gen_assets, gen_bmp_ico_pandas
    from finetoo_sp_spark.multimodal import image_stats

    return image_stats(gen_assets(spark, gen_bmp_ico_pandas, 48))


@_q(
    "multimodal_image_stats_bmp_rle",
    """
SELECT i AS asset_id,
  CAST(8*(2 + i%3) AS BIGINT) AS width,
  CAST(8*(2 + i%2) AS BIGINT) AS height,
  CAST(3 AS BIGINT) AS channels,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_r,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_g,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_b
FROM range(0, 48) t(i), range(0, 3) rr(br), range(0, 4) cc(bc)
WHERE br < (2 + i%2) AND bc < (2 + i%3)
GROUP BY i""",
    audit=[
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_image_stats_bmp_rle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed/exotic BMP modes under the same per-pixel-exact
    formula oracle as the other image queries: the corpus cycles
    BI_RLE8 and BI_RLE4 run-length streams, 32-bpp BI_BITFIELDS with
    RGBA-order masks, and raw 4-bpp nibble-packed BI_RGB — any slip in
    RLE escape handling (EOL/EOB/absolute/delta), nibble alternation,
    mask extraction/rescale, or sub-byte row padding breaks exactly
    its quarter of the rows. RLE BMPs are the dominant form of legacy
    clip-art/scanned-diagram assets in old web corpora."""
    from finetoo_sp_spark.datagen import gen_assets, gen_bmp_rle_pandas
    from finetoo_sp_spark.multimodal import image_stats

    return image_stats(gen_assets(spark, gen_bmp_rle_pandas, 48))


@_q(
    "multimodal_image_stats_tiff",
    """
SELECT i AS asset_id,
  CAST(8*(2 + i%3) AS BIGINT) AS width,
  CAST(8*(2 + i%2) AS BIGINT) AS height,
  CAST(3 AS BIGINT) AS channels,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_r,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_g,
  CAST(sum(64 * (128 + 2*(((i + 7*br + 13*bc) % 50) - 25))) AS BIGINT) AS sum_b
FROM range(0, 48) t(i), range(0, 3) rr(br), range(0, 4) cc(bc)
WHERE br < (2 + i%2) AND bc < (2 + i%3)
GROUP BY i""",
    audit=[
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_image_stats_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline-TIFF decode under the same per-pixel-exact formula
    oracle as the GIF/BMP queries: the corpus cycles both byte orders,
    uncompressed vs PackBits strips, grayscale vs RGB samples, and
    RowsPerStrip 1/5/8/whole-image per id — any slip in IFD tag
    typing, strip reassembly, RLE runs, or photometric expansion
    breaks its share of the rows. TIFF is the scanned-document staple
    a crawl's PDF-adjacent corpora still carry."""
    from finetoo_sp_spark.datagen import gen_assets, gen_tiff_pandas
    from finetoo_sp_spark.multimodal import image_stats

    return image_stats(gen_assets(spark, gen_tiff_pandas, 48))


@_q(
    "multimodal_audio_stats",
    """
SELECT i AS asset_id,
  CAST(8000 AS BIGINT) AS sample_rate,
  CAST(1 AS BIGINT) AS channels,
  CAST(16 AS BIGINT) AS bits,
  CAST(400 + (i%5)*80 AS BIGINT) AS n_samples,
  CAST((400 + (i%5)*80) * 1000 // 8000 AS BIGINT) AS duration_ms,
  CAST((400 + (i%5)*80) * (1000 + (i%7)*500) * (1000 + (i%7)*500) AS BIGINT) AS sumsq,
  CAST(1000 + (i%7)*500 AS BIGINT) AS peak
FROM range(0, 96) t(i)""",
)
def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV/PCM decode under a sample-exact oracle: synthetic mono
    square waves (datagen.gen_wav_pandas — every sample +/-A so energy
    and peak have closed forms) round-trip through the pure-stdlib RIFF
    parser inside the Arrow kernel; the DuckDB twin recomputes
    n*A^2 / A from the synthesis formula alone — it never sees a WAV
    byte, so agreement proves chunk walking, fmt parsing and PCM frame
    decode are sample-correct. Compressed audio raises in the codec and
    is skipped, never task-fatal."""
    from finetoo_sp_spark.datagen import gen_assets, gen_wav_pandas
    from finetoo_sp_spark.multimodal import audio_stats

    return audio_stats(gen_assets(spark, gen_wav_pandas, 96))


@_q(
    "multimodal_audio_stats_flac",
    """
SELECT i AS asset_id,
  CAST(8000 AS BIGINT) AS sample_rate,
  CAST(CASE WHEN i%4 = 0 THEN 1 ELSE 2 END AS BIGINT) AS channels,
  CAST(16 AS BIGINT) AS bits,
  CAST(400 + (i%5)*80 AS BIGINT) AS n_samples,
  CAST((400 + (i%5)*80) * 1000 // 8000 AS BIGINT) AS duration_ms,
  CAST((CASE WHEN i%4 = 0 THEN 1 ELSE 2 END)
       * (400 + (i%5)*80) * (1000 + (i%7)*500) * (1000 + (i%7)*500)
       AS BIGINT) AS sumsq,
  CAST(1000 + (i%7)*500 AS BIGINT) AS peak
FROM range(0, 96) t(i)""",
    audit=[
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_audio_stats_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC decode under the same sample-exact oracle as the WAV
    query: the corpus (datagen.gen_flac_pandas) re-encodes the square
    waves through the pure-stdlib FLAC codec, cycling every subframe
    strategy (verbatim / fixed 0-2 / constant) and every stereo
    decorrelation mode (independent / left-side / right-side /
    mid-side, the side channel at 17-bit depth) per id; the DuckDB
    twin recomputes channels*n*A^2 / A from the synthesis formula
    alone — it never sees a FLAC byte, so agreement proves Rice
    residual decode, fixed prediction, CRC framing and stereo
    reconstruction are all sample-correct. FLAC being lossless is what
    makes the WAV-grade oracle transferable."""
    from finetoo_sp_spark.datagen import gen_assets, gen_flac_pandas
    from finetoo_sp_spark.multimodal import audio_stats

    return audio_stats(gen_assets(spark, gen_flac_pandas, 96))


# shared with asset_curation_report below
_AUDIO_PROBE_SQL = """
SELECT i AS asset_id,
  CASE i%4 WHEN 0 THEN 'mp3' WHEN 1 THEN 'mp3'
           WHEN 2 THEN 'ogg-vorbis' ELSE 'ogg-opus' END AS container,
  CAST(CASE i%4
    WHEN 0 THEN CASE i%3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END
    WHEN 1 THEN CASE i%3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END
    WHEN 2 THEN 8000 + (i%5)*4000
    ELSE 48000 END AS BIGINT) AS sample_rate,
  CAST(CASE i%4 WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 1 + (i%2) END
       AS BIGINT) AS channels,
  CAST(CASE i%4
    WHEN 0 THEN (50 + (i%20)) * 1152 * 1000
      // (CASE i%3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END)
    WHEN 1 THEN (40 + (i%10)*2) * 1152 * 1000
      // (CASE i%3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END)
    WHEN 2 THEN (10000 + i*37) * 1000 // (8000 + (i%5)*4000)
    ELSE (48000 + i*480 - 312) * 1000 // 48000 END AS BIGINT) AS duration_ms,
  CAST(CASE i%4 WHEN 0 THEN 128 WHEN 1 THEN 160 ELSE 0 END
       AS BIGINT) AS bitrate_kbps,
  i%4 <> 0 AS vbr
FROM range(0, 120) t(i)"""


@_q(
    "audio_probe_meta",
    _AUDIO_PROBE_SQL,
    audit=[
        ("header walk in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_audio_probe_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only compressed-audio metadata under a full value oracle:
    the corpus (datagen.gen_audio_probe_pandas) writes structurally
    valid MP3 / Ogg-Vorbis / Ogg-Opus streams with zero entropy
    payloads and formula-driven frame counts / granule positions; the
    probe walks MPEG frame headers (exact sample counts, Xing VBR
    flag, mean kbps) and Ogg id-headers + closing granules, and the
    DuckDB twin recomputes every column from the formulas alone — it
    never sees a container byte. This is the pre-decode curation path
    for crawled audio (bucket by codec/rate/length, drop clips)."""
    from finetoo_sp_spark.datagen import gen_assets, gen_audio_probe_pandas
    from finetoo_sp_spark.multimodal import audio_probe

    return audio_probe(gen_assets(spark, gen_audio_probe_pandas, 120))


# Closed-form dHash oracle over the textured corpus (datagen.
# gen_dhash_pandas): grid gray values from the pixel formula + the
# integer floor-rule resample, adjacent-column comparisons packed at
# bit index r*8+c (bit 63 = the sign bit, SimHash convention; DuckDB
# sums in HUGEINT so the signed wrap is explicit, never an overflow).
_DHASH_SQL = """
  WITH gsrc AS (
    SELECT i, r, c,
      13*i + 3*rr*rr + 5*cc*cc + (1 + i%4)*rr*cc AS b
    FROM (
      SELECT i, r, c,
        (r*(12 + i%5))//8 AS rr, (c*(16 + i%8))//9 AS cc
      FROM range(0, 80) t(i), range(0, 8) tr(r), range(0, 9) tc(c)
    )
  ),
  g AS (
    SELECT i, r, c,
      ((b % 256) + ((b+11) % 256) + ((b+22) % 256)) // 3 AS gray
    FROM gsrc
  ),
  bits AS (
    SELECT a.i, a.r*8 + a.c AS idx,
      CASE WHEN a.gray > n.gray THEN 1 ELSE 0 END AS bit
    FROM g a JOIN g n ON n.i = a.i AND n.r = a.r AND n.c = a.c + 1
    WHERE a.c < 8
  )
  SELECT i AS asset_id,
    CAST(sum(CASE WHEN bit = 1 THEN
      CASE WHEN idx <= 61 THEN (CAST(1 AS BIGINT) << idx)
           WHEN idx = 62 THEN CAST(4611686018427387904 AS BIGINT)
           ELSE CAST(-9223372036854775808 AS BIGINT) END
      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS dhash
  FROM bits GROUP BY i
"""


@_q(
    "image_dhash",
    _DHASH_SQL,
    audit=[
        ("Arrow-batched python kernel (not per-row UDF)", r"MapInPandas"),
        ("NO join", r"!Join"),
        ("NO shuffle", r"!\+- Exchange"),
    ],
)
def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual difference hash over the REAL decode path: textured
    synthetic PNGs (quadratic + cross-term pixels — a linear gradient
    would collapse every hash to one value) decoded, floor-rule-sampled
    to 8x9, integer-grayscaled, adjacent columns compared. The DuckDB
    twin recomputes all 64 bits of every hash from the pixel formula —
    it never sees a PNG."""
    from finetoo_sp_spark.datagen import gen_assets, gen_dhash_pandas
    from finetoo_sp_spark.multimodal import image_dhash

    return image_dhash(gen_assets(spark, gen_dhash_pandas, 80))


@_q("image_dhash_mixed_formats", _DHASH_SQL)
def q_image_dhash_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-format decode parity under the dHash value oracle: the
    SAME textured formula images, encoded per id as PNG / lossless
    WebP / GIF (all lossless), must hash identically — the oracle
    recomputes the 64 bits from the pixel formula and never sees a
    container, so any format-specific decode slip (transform inverse,
    LZW width, palette order) breaks exactly its third of the rows."""
    from finetoo_sp_spark.datagen import gen_assets, gen_dhash_mixed_pandas
    from finetoo_sp_spark.multimodal import image_dhash

    return image_dhash(gen_assets(spark, gen_dhash_mixed_pandas, 80))


@_q(
    "image_neardup_pairs",
    f"""
WITH d AS ({_DHASH_SQL})
SELECT a.asset_id AS id_a, b.asset_id AS id_b,
  CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
FROM d a JOIN d b ON a.asset_id < b.asset_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 10""",
    audit=[
        ("NO nested-loop join", r"!BroadcastNestedLoopJoin"),
        ("hamming verify via bit_count", r"bit_count"),
    ],
)
def q_image_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection end-to-end: ids congruent mod 40 are
    planted brightness-shifted copies (all 40 land at hamming 1..10);
    the operator finds them by pigeonhole banding over the 8-byte
    fingerprints (the image bytes never join); the oracle is the
    brute-force all-pairs Hamming join over SQL-recomputed hashes."""
    from finetoo_sp_spark.datagen import gen_assets, gen_dhash_pandas
    from finetoo_sp_spark.multimodal import dhash_pairs, image_dhash

    h = image_dhash(gen_assets(spark, gen_dhash_pandas, 80))
    return dhash_pairs(h, max_hamming=10).withColumn(
        "hamming", F.col("hamming").cast("int")
    )


@_q(
    "image_dup_clusters",
    f"""
WITH RECURSIVE d AS ({_DHASH_SQL}),
pairs AS (
  SELECT a.asset_id AS u, b.asset_id AS v
  FROM d a JOIN d b ON a.asset_id <> b.asset_id
  WHERE bit_count(xor(a.dhash, b.dhash)) <= 10
),
reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM pairs)
  UNION
  SELECT reach.u, pairs.v FROM reach JOIN pairs ON reach.r = pairs.u
),
comp AS (SELECT u AS id, min(r) AS component FROM reach GROUP BY u)
SELECT id, component, count(*) OVER (PARTITION BY component) AS cluster_size
FROM comp""",
)
def q_image_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup CLUSTERS: dHash banding finds candidate pairs over
    the real PNG decode path, then distributed min-label propagation
    (operators/components.py) closes them transitively — the dedup
    survivor set per cluster is min(id). The window that adds
    cluster_size partitions by component over the (tiny) duplicate node
    set only; the oracle recomputes hashes from the pixel formula and
    closes the same pairs with a recursive CTE."""
    from pyspark.sql import Window

    from finetoo_sp_spark.datagen import gen_assets, gen_dhash_pandas
    from finetoo_sp_spark.multimodal import dhash_pairs, image_dhash
    from finetoo_sp_spark.operators.components import connected_components

    h = image_dhash(gen_assets(spark, gen_dhash_pandas, 80))
    pairs = dhash_pairs(h, max_hamming=10)
    comp = connected_components(pairs)
    return comp.withColumn(
        "cluster_size", F.count("*").over(Window.partitionBy("component"))
    )


@_q(
    "video_metadata",
    """
SELECT i AS asset_id,
  CASE WHEN i % 2 = 0 THEN 'isom' ELSE 'mp42' END AS major_brand,
  CAST(600 AS BIGINT) AS timescale,
  CAST(600 * (1 + i % 7) + i AS BIGINT) AS duration_ticks,
  (600 * (1 + i % 7) + i) * 1000 // 600 AS duration_ms,
  CAST(1 + i % 2 AS BIGINT) AS n_tracks,
  CAST(8 * (2 + i % 6) AS BIGINT) AS width,
  CAST(8 * (2 + i % 4) AS BIGINT) AS height,
  CASE CAST(i % 3 AS INTEGER) WHEN 0 THEN 'avc1' WHEN 1 THEN 'hvc1' ELSE 'av01' END
    AS video_codec
FROM range(0, 96) t(i)""",
    audit=[
        ("Arrow-batched kernel", r"MapInPandas"),
        ("NO shuffle (header-only probe)", r"!Exchange"),
    ],
)
def q_video_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video leg of the multimodal trio: REAL ISO-BMFF box parse
    (codecs/mp4.py — ftyp/mvhd/tkhd/hdlr/stsd) over deterministic
    synthetic containers; every probed field has a closed form the
    oracle recomputes from the asset id. Header-only Arrow kernel, mdat
    never touched, no shuffle."""
    from finetoo_sp_spark.datagen import gen_assets, gen_mp4_pandas
    from finetoo_sp_spark.multimodal import video_metadata

    return video_metadata(gen_assets(spark, gen_mp4_pandas, 96))


# shared with asset_curation_report below
_IMAGE_DIMS_SQL = """
SELECT i AS asset_id,
  CASE CAST(i % 7 AS INTEGER) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
       WHEN 2 THEN 'gif' WHEN 3 THEN 'webp' WHEN 4 THEN 'tiff'
       WHEN 5 THEN 'bmp' ELSE 'ico' END AS format,
  CAST(CASE CAST(i % 7 AS INTEGER)
    WHEN 0 THEN 16 + i % 8
    WHEN 1 THEN 8 * (2 + i % 3)
    WHEN 2 THEN 100 + i
    WHEN 3 THEN 1 + i % 200
    WHEN 4 THEN 200 + i % 31
    WHEN 5 THEN 30 + i % 11
    ELSE CASE CAST(i % 5 AS INTEGER) WHEN 0 THEN 16 WHEN 1 THEN 32
         WHEN 2 THEN 48 WHEN 3 THEN 64 ELSE 256 END
    END AS BIGINT) AS width,
  CAST(CASE CAST(i % 7 AS INTEGER)
    WHEN 0 THEN 12 + i % 5
    WHEN 1 THEN 8 * (2 + i % 2)
    WHEN 2 THEN 50 + i % 7
    WHEN 3 THEN 1 + (i * 3) % 150
    WHEN 4 THEN 100 + i % 17
    WHEN 5 THEN 20 + i % 9
    ELSE CASE CAST(i % 5 AS INTEGER) WHEN 0 THEN 16 WHEN 1 THEN 32
         WHEN 2 THEN 48 WHEN 3 THEN 64 ELSE 256 END
    END AS BIGINT) AS height
FROM range(0, 140) t(i)"""


@_q(
    "image_dimensions",
    _IMAGE_DIMS_SQL,
    audit=[
        ("Arrow-batched kernel", r"MapInPandas"),
        ("NO shuffle (header-only probe)", r"!Exchange"),
    ],
)
def q_image_dimensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-decode image gate: header-only format/dimension probe over a
    mixed PNG / JPEG / GIF / WebP / TIFF (both byte orders) / BMP
    (incl. negative-height top-down) / ICO (largest directory entry,
    0-coded 256px sizes) corpus — every format a crawl's <img> and
    favicon fetches actually surface yields the fields curation
    filters on. Oracle recomputes everything from the id."""
    from finetoo_sp_spark.datagen import gen_assets, gen_mixed_image_pandas
    from finetoo_sp_spark.multimodal import image_dimensions

    return image_dimensions(gen_assets(spark, gen_mixed_image_pandas, 140))


@_q(
    "frame_sample_times",
    """
WITH v AS (
  SELECT i, (600 * (1 + i % 7) + i) * 1000 // 600 AS dms FROM range(0, 96) t(i)
)
SELECT i AS asset_id,
  CAST(g.ts // 500 AS BIGINT) AS sample_idx,
  CAST(g.ts AS BIGINT) AS ts_ms
FROM v, UNNEST(generate_series(0, dms, 500)) AS g(ts)""",
    audit=[
        ("JVM-side sequence explode", r"Generate"),
        ("NO shuffle", r"!Exchange"),
    ],
)
def q_frame_sample_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based frame sampling over the REAL ISO-BMFF duration probe:
    every 500 ms of each synthetic MP4's mvhd duration becomes a
    work-list row; the oracle recomputes duration_ms from the id
    formula and unrolls the same inclusive series."""
    from finetoo_sp_spark.datagen import gen_assets, gen_mp4_pandas
    from finetoo_sp_spark.multimodal import frame_sample_times

    return frame_sample_times(gen_assets(spark, gen_mp4_pandas, 96))


@_q(
    "gif_animation_stats",
    """
SELECT i AS asset_id,
  CAST(3 AS BIGINT) AS n_frames,
  CAST(i % 4 AS BIGINT) AS loop_count,
  CAST(9 + 3*(i % 7) AS BIGINT) AS duration_cs,
  CAST(8*(2 + i%3) AS BIGINT) AS width,
  CAST(8*(2 + i%2) AS BIGINT) AS height,
  CAST(
      (8*(2 + i%3)) * (8*(2 + i%2)) * (40 + i%40)
    + (4*(2 + i%3)) * (8*(2 + i%2)) * ((90 + i%40) + (40 + i%40))
    + (4*(2 + i%3)) * (8*(2 + i%2))
      * ((CASE 1 + i%3 WHEN 1 THEN 90 + i%40 WHEN 2 THEN 0
          ELSE 40 + i%40 END) + (140 + i%40))
  AS BIGINT) AS sum_gray
FROM range(0, 48) t(i)""",
    audit=[
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_gif_animation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-GIF decode under a closed-form composited-pixel oracle:
    3-frame animations whose middle frame cycles disposal 1/2/3 per id
    and paints through a LOCAL color table, and whose last frame
    composites a half-transparent full-screen image — the oracle states
    each composited frame's gray sum from area arithmetic (the left
    half of frame 3 shows b, background 0, or a depending on the
    disposal branch), so a slip in disposal restore, transparency
    masking, LCT routing, NETSCAPE loop parsing or GCE delay accounting
    breaks the sums. Extends the still-image GIF query to the animation
    semantics a video-adjacent web corpus actually carries."""
    from finetoo_sp_spark.datagen import gen_assets, gen_gif_anim_pandas
    from finetoo_sp_spark.multimodal import gif_animation_stats

    return gif_animation_stats(gen_assets(spark, gen_gif_anim_pandas, 48))


@_q(
    "multimodal_audio_stats_g711",
    """
WITH s AS (
  SELECT i, (i*31 + 7*k) % 256 AS c
  FROM range(0, 48) t(i),
       UNNEST(generate_series(0, 159 + (i%5)*40)) u(k)
),
v AS (
  SELECT i,
    CASE WHEN i % 2 = 0 THEN
      -- mu-law: complement, t = ((mant<<3)+132) << seg, sign by bit 7
      CASE WHEN (255 - c) >= 128
           THEN 132 - (((255 - c) % 16) * 8 + 132) * (1 << (((255 - c) // 16) % 8))
           ELSE (((255 - c) % 16) * 8 + 132) * (1 << (((255 - c) // 16) % 8)) - 132
      END
    ELSE
      -- A-law: xor 0x55, segment-offset mantissa, sign bit = positive
      CASE WHEN xor(c, 85) >= 128 THEN 1 ELSE -1 END *
      CASE WHEN (xor(c, 85) // 16) % 8 = 0 THEN (xor(c, 85) % 16) * 16 + 8
           WHEN (xor(c, 85) // 16) % 8 = 1 THEN (xor(c, 85) % 16) * 16 + 264
           ELSE ((xor(c, 85) % 16) * 16 + 264)
                * (1 << ((xor(c, 85) // 16) % 8 - 1))
      END
    END AS val
  FROM s
)
SELECT i AS asset_id,
  CAST(8000 AS BIGINT) AS sample_rate,
  CAST(1 AS BIGINT) AS channels,
  CAST(8 AS BIGINT) AS bits,
  CAST(count(*) AS BIGINT) AS n_samples,
  CAST(count(*) * 1000 // 8000 AS BIGINT) AS duration_ms,
  CAST(sum(val * val) AS BIGINT) AS sumsq,
  CAST(max(abs(val)) AS BIGINT) AS peak
FROM v GROUP BY i""",
    audit=[
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_audio_stats_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 (mu-law / A-law) WAV decode under a sample-exact oracle:
    the corpus stores RAW companded codes from a closed form, and the
    DuckDB twin re-derives every decoded sample from the ITU-T G.711
    segment formulas (complement / XOR-0x55, mantissa shift, segment
    scaling, sign) — agreement proves the 256-entry decode tables are
    built exactly to spec, byte for byte. Telephony recordings and
    voicemail archives on the web are overwhelmingly G.711 WAVs."""
    from finetoo_sp_spark.datagen import gen_assets, gen_g711_pandas
    from finetoo_sp_spark.multimodal import audio_stats

    return audio_stats(gen_assets(spark, gen_g711_pandas, 48))


@_q(
    "webp_animation_stats",
    """
SELECT i AS asset_id,
  CAST(3 AS BIGINT) AS n_frames,
  CAST(i % 4 AS BIGINT) AS loop_count,
  CAST(9 + 3*(i % 7) AS BIGINT) AS duration_ms,
  CAST(8*(2 + i%3) AS BIGINT) AS width,
  CAST(8*(2 + i%2) AS BIGINT) AS height,
  CAST(
      (8*(2 + i%3)) * (8*(2 + i%2)) * (40 + i%40)
    + (4*(2 + i%3)) * (8*(2 + i%2)) * ((90 + i%40) + (40 + i%40))
    + (4*(2 + i%3)) * (8*(2 + i%2))
      * ((CASE i%2 WHEN 1 THEN 0 ELSE 90 + i%40 END) + (140 + i%40))
  AS BIGINT) AS sum_gray
FROM range(0, 48) t(i)""",
    audit=[
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_webp_animation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-WebP decode under a closed-form composited-pixel
    oracle — the container-spec twin of gif_animation_stats: 3-frame
    VP8X/ANIM/ANMF animations whose middle frame overwrites the left
    half (disposing to background on odd ids) and whose last frame
    alpha-blends a half-transparent full-canvas image, so sub-frame
    rect placement, blend-vs-overwrite, dispose-to-background, ANIM
    loop parsing and ANMF duration accounting all break the sums if
    they slip. WebP is the modern web's second image format; animated
    WebP is its GIF replacement, so a curation pipeline sees both."""
    from finetoo_sp_spark.datagen import gen_assets, gen_webp_anim_pandas
    from finetoo_sp_spark.multimodal import webp_animation_stats

    return webp_animation_stats(gen_assets(spark, gen_webp_anim_pandas, 48))


@_q(
    "asset_curation_report",
    f"""
WITH img AS ({_IMAGE_DIMS_SQL}),
aud AS ({_AUDIO_PROBE_SQL}),
u AS (
  SELECT 'image' AS modality, format AS fmt,
    width * height AS metric,
    CASE WHEN least(width, height) >= 32 THEN 1 ELSE 0 END AS keep
  FROM img
  UNION ALL
  SELECT 'audio', container, duration_ms,
    CASE WHEN duration_ms >= 1500 THEN 1 ELSE 0 END
  FROM aud
)
SELECT modality, fmt, CAST(count(*) AS BIGINT) AS n_assets,
  CAST(sum(keep) AS BIGINT) AS n_keep,
  CAST(sum(metric) AS BIGINT) AS metric_sum
FROM u GROUP BY modality, fmt""",
    audit=[
        ("probe kernels present", r"MapInPandas"),
        ("partial agg before the rollup shuffle", r"partial_count"),
    ],
)
def q_asset_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone over the header-probe layer: the pre-decode curation
    gate a multimodal crawl actually runs — probe EVERY asset's format
    + geometry/duration WITHOUT decoding entropy data (7 image
    containers via probe_image_dims, 4 compressed-audio shapes via
    probe_audio_meta), apply the drop rules (icons/trackers under
    32px, clips under 1.5s), and roll up per (modality, format) the
    asset count, keep count, and total pixel/millisecond mass. Two
    Arrow header kernels + one union + one small-key groupBy — at
    10^12 assets nothing but the 11-format rollup ever shuffles.
    Oracle recomputes every cell from the two corpus formulas."""
    from finetoo_sp_spark.datagen import (
        gen_assets,
        gen_audio_probe_pandas,
        gen_mixed_image_pandas,
    )
    from finetoo_sp_spark.multimodal import audio_probe, image_dimensions

    imgs = image_dimensions(gen_assets(spark, gen_mixed_image_pandas, 140)).select(
        F.lit("image").alias("modality"),
        F.col("format").alias("fmt"),
        (F.col("width") * F.col("height")).alias("metric"),
        (F.least("width", "height") >= 32).alias("keep"),
    )
    auds = audio_probe(gen_assets(spark, gen_audio_probe_pandas, 120)).select(
        F.lit("audio").alias("modality"),
        F.col("container").alias("fmt"),
        F.col("duration_ms").alias("metric"),
        (F.col("duration_ms") >= 1500).alias("keep"),
    )
    return (
        imgs.unionByName(auds)
        .groupBy("modality", "fmt")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.sum("metric").alias("metric_sum"),
        )
    )


@_q(
    "apng_animation_stats",
    """
SELECT i AS asset_id,
  CAST(3 AS BIGINT) AS n_frames,
  CAST(i % 3 AS BIGINT) AS loop_count,
  CAST(10*(9 + 3*(i % 5)) AS BIGINT) AS duration_ms,
  CAST(8 + 4*(i % 3) AS BIGINT) AS width,
  CAST(6 + 2*(i % 2) AS BIGINT) AS height,
  CAST(
      (8 + 4*(i%3)) * (6 + 2*(i%2)) * (30 + i%50)
    + ((8 + 4*(i%3))//2) * (6 + 2*(i%2)) * ((100 + i%50) + (30 + i%50))
    + ((8 + 4*(i%3))//2) * (6 + 2*(i%2))
      * ((CASE i%3 WHEN 0 THEN 100 + i%50 WHEN 1 THEN 0
          ELSE 30 + i%50 END) + (170 + i%50))
  AS BIGINT) AS sum_gray
FROM range(0, 48) t(i)""",
    audit=[
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_apng_animation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-PNG decode under a closed-form composited-pixel oracle —
    the acTL/fcTL/fdAT member of the animation trio (GIF, WebP, APNG):
    3-frame animations whose middle frame cycles dispose_op none/
    background/previous per id and whose last frame alpha-blends OVER
    the disposed canvas with a half-transparent full-canvas image; ids
    divisible by 4 carry a HIDDEN default image (IDAT with no fcTL).
    The oracle states each composited frame's gray sum from area
    arithmetic alone — it never sees a PNG byte — so zlib inflate,
    scanline de-filtering, fdAT sequence numbering, dispose restore
    and the integer OVER blend are all pinned externally."""
    from finetoo_sp_spark.datagen import gen_apng_pandas, gen_assets
    from finetoo_sp_spark.multimodal import apng_animation_stats

    return apng_animation_stats(gen_assets(spark, gen_apng_pandas, 48))


@_q(
    "audio_fingerprint_dups",
    """
WITH f AS (
  SELECT i, fnum, 4 + (i % 4) AS hp
  FROM range(0, 96) t(i), range(0, 6) fr(fnum)
),
z AS (
  SELECT i,
    string_agg(to_hex(LEAST(15, length(bin(1000 + (i % 7) * 500)))), ''
               ORDER BY fnum) AS energy_fp,
    string_agg(to_hex(LEAST(15, (64 * fnum + 63) // hp - (64 * fnum) // hp)), ''
               ORDER BY fnum) AS zcr_fp
  FROM f GROUP BY i
)
SELECT i AS asset_id, energy_fp, zcr_fp,
  CAST(i % 4 AS BIGINT) AS cluster_id,
  CAST(24 AS BIGINT) AS n_cluster
FROM z""",
    audit=[
        ("fingerprinting is one Arrow pass", r"MapInPandas"),
        ("cluster rollup partial-aggregates", r"HashAggregate"),
        ("cluster join is a hash equi-join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
    ],
)
def q_audio_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup detection under a sample-exact oracle: the REAL
    RIFF/PCM decode feeds integer frame fingerprints (energy nibble =
    bit-length of mean |x|, pitch nibble = internal zero crossings) and
    assets sharing a pitch contour cluster on the zcr_fp key
    (loudness-invariant: amplitude variants of the same wave land in
    one cluster, different periods never do). The DuckDB twin
    recomputes BOTH hex fingerprints and the clusters from the square-
    wave synthesis formula alone — crossings per frame have the closed
    form (64f+63)//hp - (64f)//hp — so PCM decode, frame slicing,
    nibble quantization and the min-id cluster rule are all pinned
    without the oracle seeing a WAV byte."""
    from finetoo_sp_spark.datagen import gen_assets, gen_wav_pandas
    from finetoo_sp_spark.operators.audiofp import audio_dup_clusters

    return audio_dup_clusters(gen_assets(spark, gen_wav_pandas, 96))


@_q(
    "mp4_sample_table",
    """
WITH s AS (
  SELECT i, k,
    (10 + (i % 6)) // 2 AS h,
    100 + (i % 3) * 50 AS d1,
    200 + (i % 4) * 25 AS d2,
    50 + ((i + 7 * k) % 40) AS sz
  FROM range(0, 64) t(i), range(0, 16) kk(k)
  WHERE k < 10 + (i % 6)
)
SELECT i AS asset_id,
  CAST(k AS BIGINT) AS sample_idx,
  CAST(CASE WHEN k < h THEN k * d1
       ELSE h * d1 + (k - h) * d2 END AS BIGINT) AS dts_ticks,
  CAST(sz AS BIGINT) AS n_bytes,
  CAST(COALESCE(sum(sz) OVER (PARTITION BY i ORDER BY k
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    AS mdat_offset,
  (k % 5 = 0) AS is_sync
FROM s""",
    audit=[
        ("sample-table walk is one Arrow pass", r"MapInPandas"),
        ("NO shuffle (per-asset explode is local)", r"!Exchange hashpartitioning"),
    ],
)
def q_mp4_sample_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-extraction WORK LIST from real ISO-BMFF sample tables: per
    video sample, the (timestamp, byte-range, keyframe) triple a
    distributed frame sampler needs before any codec runs — stts runs
    decode to timestamps, stsc runs expand to per-chunk sample counts,
    stco/co64 anchor the byte offsets (co64 every 8th asset). The
    oracle recomputes every row from the synthesis formula (two-run
    timestamp CASE, running-sum offsets) without seeing a box — so run
    expansion, chunk walking, 32/64-bit offsets and sync marking are
    all pinned externally."""
    from finetoo_sp_spark.datagen import gen_assets, gen_mp4_sample_pandas
    from finetoo_sp_spark.multimodal import video_sample_table

    return video_sample_table(gen_assets(spark, gen_mp4_sample_pandas, 64))


@_q(
    "image_exif_meta",
    """
SELECT i AS asset_id,
  CAST(1 + i % 8 AS BIGINT) AS orientation,
  'Maker' || CAST(i % 5 AS VARCHAR) AS make,
  'Cam ' || CAST(i % 7 AS VARCHAR) AS model,
  '2026:03:' || lpad(CAST(i % 28 + 1 AS VARCHAR), 2, '0') || ' 10:00:00' AS dt,
  '2026:02:' || lpad(CAST(i % 28 + 1 AS VARCHAR), 2, '0') || ' 09:00:00'
    AS dt_original,
  (i % 3 = 0) AS has_gps,
  CAST(CASE WHEN i % 3 = 0 THEN
    (CASE WHEN i % 2 = 0 THEN 1 ELSE -1 END) *
    ((i % 90) * 1000000 + ((i % 60) * 1000000) // 60
      + (((i * 7) % 6000) * 1000000) // 360000)
  END AS BIGINT) AS gps_lat_micro,
  CAST(CASE WHEN i % 3 = 0 THEN
    (CASE WHEN i % 4 < 2 THEN 1 ELSE -1 END) *
    ((i % 180) * 1000000 + (((i * 3) % 60) * 1000000) // 60
      + (((i * 11) % 6000) * 1000000) // 360000)
  END AS BIGINT) AS gps_lon_micro
FROM range(0, 60) t(i)""",
    audit=[
        ("EXIF walk is one Arrow pass", r"MapInPandas"),
        ("NO shuffle", r"!Exchange hashpartitioning"),
    ],
)
def q_image_exif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF extraction under a field-exact oracle: JPEG+APP1 fixtures
    (both byte orders, GPS on every 3rd asset with explicit rational
    triples) parsed by the pure-stdlib TIFF-IFD walker inside the
    Arrow kernel; the DuckDB twin recomputes every field — including
    the signed floor micro-degree coordinate resolution — from the
    synthesis formula without seeing a byte, pinning IFD walking,
    sub-IFD pointers, ASCII/SHORT/RATIONAL decode and both
    endiannesses."""
    from finetoo_sp_spark.datagen import gen_assets, gen_exif_jpeg_pandas
    from finetoo_sp_spark.multimodal import image_exif

    return image_exif(gen_assets(spark, gen_exif_jpeg_pandas, 60))


@_q(
    "image_gps_redact",
    """
SELECT i AS asset_id,
  (i % 3 = 0) AS had_gps,
  FALSE AS has_gps_after,
  CAST(1 + i % 8 AS BIGINT) AS orientation,
  'Maker' || CAST(i % 5 AS VARCHAR) AS make,
  TRUE AS same_length
FROM range(0, 60) t(i)""",
    audit=[
        ("parse->scrub->reparse is ONE Arrow pass", r"MapInPandas"),
        ("NO shuffle", r"!Exchange hashpartitioning"),
    ],
)
def q_image_gps_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-side PII gate: the in-place GPS scrub (pointer tag retired,
    GPS IFD + value blocks zeroed — payload length PROVABLY unchanged,
    the streaming-safe rewrite shape) runs parse -> scrub -> re-parse
    in one Arrow pass. The oracle pins that every asset that had GPS
    has NONE afterward while orientation/make survive byte-identically
    — the redaction contract a responsible photo corpus publishes
    under."""
    from finetoo_sp_spark.datagen import gen_assets, gen_exif_jpeg_pandas
    from finetoo_sp_spark.multimodal import gps_redaction_report

    return gps_redaction_report(gen_assets(spark, gen_exif_jpeg_pandas, 60))


@_q(
    "multimodal_image_stats_png_palette",
    """
WITH g AS (
  SELECT i, r, c,
    CASE CAST(i % 4 AS INTEGER) WHEN 0 THEN 2 WHEN 1 THEN 4
         WHEN 2 THEN 16 ELSE 256 END AS k,
    8 + (i % 5) * 2 AS w, 6 + (i % 3) * 2 AS h
  FROM range(0, 60) t(i), range(0, 10) rr(r), range(0, 16) cc(c)
  WHERE r < 6 + (i % 3) * 2 AND c < 8 + (i % 5) * 2
),
px AS (SELECT i, w, h, (r * w + c + i) % k AS idx FROM g)
SELECT i AS asset_id,
  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
  CAST(CASE WHEN i % 5 = 0 THEN 4 ELSE 3 END AS BIGINT) AS channels,
  CAST(sum((3 * idx + 5 * i) % 256) AS BIGINT) AS sum_r,
  CAST(sum((7 * idx + i) % 256) AS BIGINT) AS sum_g,
  CAST(sum((11 * idx + 2 * i) % 256) AS BIGINT) AS sum_b
FROM px GROUP BY i, w, h""",
    audit=[
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_image_stats_png_palette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PALETTE PNG decode (the dominant small-web-image shape) under a
    per-pixel-exact oracle: depths 1/2/4/8 cycle by id (sub-byte bit
    unpacking live), every 5th asset carries tRNS alpha (RGBA out),
    every 3rd is Adam7-INTERLACED, and the scanline filter cycles 0-4
    — one corpus covering the full IHDR matrix the still-image query
    never touched. The oracle recomputes per-channel sums from the
    index formula and palette polynomial alone."""
    from finetoo_sp_spark.datagen import gen_assets, gen_png_variant_pandas
    from finetoo_sp_spark.multimodal import image_stats

    return image_stats(gen_assets(spark, gen_png_variant_pandas, 60))


@_q(
    "multimodal_image_stats_png16",
    """
WITH g AS (
  SELECT i, r, c, 8 + (i % 4) * 2 AS w, 6 + (i % 3) * 2 AS h
  FROM range(0, 48) t(i), range(0, 10) rr(r), range(0, 14) cc(c)
  WHERE r < 6 + (i % 3) * 2 AND c < 8 + (i % 4) * 2
)
SELECT i AS asset_id,
  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
  CAST(CASE WHEN i % 2 = 0 THEN 1 ELSE 3 END AS BIGINT) AS channels,
  CAST(sum((i + 3 * r + 5 * c) % 256) AS BIGINT) AS sum_r,
  CAST(sum((i + 3 * r + 5 * c
    + CASE WHEN i % 2 = 0 THEN 0 ELSE 1 END) % 256) AS BIGINT) AS sum_g,
  CAST(sum((i + 3 * r + 5 * c
    + CASE WHEN i % 2 = 0 THEN 0 ELSE 2 END) % 256) AS BIGINT) AS sum_b
FROM g GROUP BY i, w, h""",
    audit=[
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_image_stats_png16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-BIT PNG decode under a byte-exact oracle: gray/RGB by parity,
    samples (x*257) mod 65536 so the presented high byte equals x mod
    256 — a low/high byte mixup cannot cancel — across all five
    scanline filters at the doubled per-pixel byte distance. The
    oracle recomputes the high-byte sums from the formula alone."""
    from finetoo_sp_spark.datagen import gen_assets, gen_png16_pandas
    from finetoo_sp_spark.multimodal import image_stats

    return image_stats(gen_assets(spark, gen_png16_pandas, 48))


@_q(
    "image_autorotate_stats",
    """
WITH b AS (
  SELECT i, br, bc,
    2 + i % 3 AS bw, 2 + i % 2 AS bh,
    128 + 2 * (((i + 7 * br + 13 * bc) % 50) - 25) AS v
  FROM range(0, 64) t(i), range(0, 3) rr(br), range(0, 4) cc(bc)
  WHERE br < 2 + i % 2 AND bc < 2 + i % 3
),
m AS (
  SELECT i, max(bw) AS bw, max(bh) AS bh,
    8 * sum(CASE WHEN br = 0 THEN v END) AS row0,
    8 * sum(CASE WHEN br = bh - 1 THEN v END) AS lastrow,
    8 * sum(CASE WHEN bc = 0 THEN v END) AS col0,
    8 * sum(CASE WHEN bc = bw - 1 THEN v END) AS lastcol,
    64 * sum(v) AS total
  FROM b GROUP BY i
)
SELECT i AS asset_id,
  CAST(1 + i % 8 AS BIGINT) AS orientation,
  CAST(CASE WHEN 1 + i % 8 >= 5 THEN 8 * bh ELSE 8 * bw END AS BIGINT) AS width,
  CAST(CASE WHEN 1 + i % 8 >= 5 THEN 8 * bw ELSE 8 * bh END AS BIGINT) AS height,
  CAST(CASE CAST(1 + i % 8 AS INTEGER)
    WHEN 1 THEN row0 WHEN 2 THEN row0 WHEN 3 THEN lastrow WHEN 4 THEN lastrow
    WHEN 5 THEN col0 WHEN 6 THEN col0 ELSE lastcol END AS BIGINT) AS row0_sum,
  CAST(CASE CAST(1 + i % 8 AS INTEGER)
    WHEN 1 THEN col0 WHEN 2 THEN lastcol WHEN 3 THEN lastcol WHEN 4 THEN col0
    WHEN 5 THEN row0 WHEN 6 THEN lastrow WHEN 7 THEN lastrow
    ELSE row0 END AS BIGINT) AS col0_sum,
  CAST(total AS BIGINT) AS total_sum
FROM m""",
    audit=[
        ("decode+orient runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_image_autorotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF AUTO-ORIENTATION applied to real decoded pixels: the
    bit-exact block-flat JPEG corpus tagged with orientation 1+i%8
    (both EXIF byte orders), decoded and transformed inside one Arrow
    kernel. The oracle states the oriented first-row and first-column
    sums per transform from the block formula's marginals — together
    they DISTINGUISH all eight transforms (mirror-H vs identity, 90 CW
    vs transpose, …) while the total stays invariant, so a wrong or
    missing rotation/flip breaks the hash."""
    from finetoo_sp_spark.datagen import gen_assets, gen_jpeg_exif_orient_pandas
    from finetoo_sp_spark.multimodal import image_oriented_stats

    return image_oriented_stats(gen_assets(spark, gen_jpeg_exif_orient_pandas, 64))


@_q(
    "multimodal_image_stats_cmyk",
    """
WITH b AS (
  SELECT i, br, bc,
    128 + 2 * (((i + 7 * br + 13 * bc) % 50) - 25) AS sc,
    128 + 2 * (((i + 7 * br + 13 * bc + 17) % 50) - 25) AS sm,
    128 + 2 * (((i + 7 * br + 13 * bc + 34) % 50) - 25) AS sy,
    128 + 2 * (((i + 7 * br + 13 * bc + 51) % 50) - 25) AS sk
  FROM range(0, 48) t(i), range(0, 3) rr(br), range(0, 4) cc(bc)
  WHERE br < 2 + i % 2 AND bc < 2 + i % 3
)
SELECT i AS asset_id,
  CAST(8 * (2 + i % 3) AS BIGINT) AS width,
  CAST(8 * (2 + i % 2) AS BIGINT) AS height,
  CAST(3 AS BIGINT) AS channels,
  CAST(64 * sum((sc * sk) // 255) AS BIGINT) AS sum_r,
  CAST(64 * sum((sm * sk) // 255) AS BIGINT) AS sum_g,
  CAST(64 * sum((sy * sk) // 255) AS BIGINT) AS sum_b
FROM b GROUP BY i""",
    audit=[
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_image_stats_cmyk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adobe-CMYK JPEG decode (print-origin images) under a per-pixel-
    exact oracle: 4-component files with the inverted-sample convention
    and an APP14 transform-0 marker, every 4th with restart markers;
    decoded RGB composites via the integer floor rule s_c*s_k//255,
    which the DuckDB twin recomputes from the block formula alone —
    pinning the 4-component MCU walk, the Adobe inversion and the
    composite."""
    from finetoo_sp_spark.datagen import gen_assets, gen_jpeg_cmyk_pandas
    from finetoo_sp_spark.multimodal import image_stats

    return image_stats(gen_assets(spark, gen_jpeg_cmyk_pandas, 48))


@_q(
    "multimodal_audio_stats_24bit",
    """
SELECT i AS asset_id,
  CAST(48000 AS BIGINT) AS sample_rate,
  CAST(1 AS BIGINT) AS channels,
  CAST(24 AS BIGINT) AS bits,
  CAST(400 + (i % 5) * 80 AS BIGINT) AS n_samples,
  CAST((400 + (i % 5) * 80) * 1000 // 48000 AS BIGINT) AS duration_ms,
  CAST((400 + (i % 5) * 80) * (100000 + (i % 7) * 50000)
       * (100000 + (i % 7) * 50000) AS BIGINT) AS sumsq,
  CAST(100000 + (i % 7) * 50000 AS BIGINT) AS peak
FROM range(0, 64) t(i)""",
    audit=[
        ("decode runs in one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_audio_stats_24bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-bit PCM decode (packed 3-byte little-endian samples with sign
    extension from bit 23) under a sample-exact oracle: amplitudes
    beyond int16 range, so any 16-bit fallback or sign-extension slip
    breaks n*A^2 / A. The studio-master shape of crawled audio."""
    from finetoo_sp_spark.datagen import gen_assets, gen_wav24_pandas
    from finetoo_sp_spark.multimodal import audio_stats

    return audio_stats(gen_assets(spark, gen_wav24_pandas, 64))


@_q(
    "audio_id3_meta",
    """
SELECT i AS asset_id,
  CAST(CASE WHEN i % 5 = 0 THEN 0
       WHEN i % 2 = 0 THEN 3 ELSE 4 END AS BIGINT) AS id3_version,
  CASE WHEN i % 5 = 0 THEN '' ELSE 'Track ' || i END AS title,
  CASE WHEN i % 5 = 0 THEN '' ELSE 'Artist ' || (i % 7) END AS artist,
  CASE WHEN i % 5 = 0 OR i % 3 = 0 THEN '' ELSE 'Album ' || (i % 4) END AS album
FROM range(0, 70) t(i)""",
    audit=[
        ("tag walk is one Arrow pass, no shuffle", r"!Exchange hashpartitioning"),
        ("mapInPandas stage present", r"MapInPandas"),
    ],
)
def q_audio_id3_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 catalog metadata (id3.org v2.3/2.4): versions alternate by
    parity, text encodings cycle latin-1/utf-16-with-BOM/utf-8, album
    frames go absent on every 3rd asset and every 5th asset has no tag
    (version 0) — the full frame-walk + syncsafe-size + encoding matrix
    under one relational oracle."""
    from finetoo_sp_spark.datagen import gen_assets, gen_mp3_id3_pandas
    from finetoo_sp_spark.multimodal import audio_id3_meta

    return audio_id3_meta(gen_assets(spark, gen_mp3_id3_pandas, 70))


@_q(
    "caption_keyframe_align",
    """
WITH s AS (
  SELECT i, k,
    (10 + (i % 6)) // 2 AS h,
    100 + (i % 3) * 50 AS d1,
    200 + (i % 4) * 25 AS d2
  FROM range(0, 64) t(i), range(0, 16) kk(k)
  WHERE k < 10 + (i % 6)
),
samp AS (
  SELECT i,
    (CASE WHEN k < h THEN k * d1 ELSE h * d1 + (k - h) * d2 END) * 1000 // 600
      AS dts_ms
  FROM s WHERE k % 5 = 0
),
cue AS (
  SELECT i, g.j,
    (i * 97 + g.j * 800) % 3000 AS start_ms
  FROM range(0, 64) t(i),
    UNNEST(generate_series(0, CAST(i % 3 AS BIGINT))) AS g(j)
)
SELECT c.i AS asset_id, CAST(c.j AS BIGINT) AS cue_idx,
  CAST(c.start_ms AS BIGINT) AS start_ms,
  CAST(c.start_ms + 400 + c.j * 100 AS BIGINT) AS end_ms,
  CAST(count(samp.dts_ms) AS BIGINT) AS n_keyframes
FROM cue c LEFT JOIN samp
  ON samp.i = c.i
  AND samp.dts_ms >= c.start_ms
  AND samp.dts_ms < c.start_ms + 400 + c.j * 100
GROUP BY c.i, c.j, c.start_ms""",
    audit=[
        ("cue/keyframe match is an asset-keyed equi-join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
        ("count partial-aggregates", r"HashAggregate"),
        ("sample walk is the Arrow kernel", r"MapInPandas"),
    ],
)
def q_caption_keyframe_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-caption ALIGNMENT capstone: per subtitle cue, how many
    KEYFRAMES (stss sync samples from the real ISO-BMFF sample-table
    walk, timestamps rescaled ticks->ms with integer floor) land
    inside the cue's [start, end) window — the signal a video-caption
    pairing pipeline thresholds before extracting (frame, text)
    training pairs. Plan: one equi-join on asset_id with a range
    residual + partial-aggregated count; cues with no keyframe keep
    their row through the left join. Oracle regenerates both sides
    from the synthesis formulas and replays the same range join."""
    from finetoo_sp_spark.datagen import gen_assets, gen_mp4_sample_pandas
    from finetoo_sp_spark.multimodal import video_sample_table

    samples = video_sample_table(gen_assets(spark, gen_mp4_sample_pandas, 64))
    keyframes = samples.filter(F.col("is_sync")).select(
        F.col("asset_id"),
        (F.col("dts_ticks") * 1000 / 600).cast("long").alias("dts_ms"),
    )
    rng = spark.range(0, 64)
    start = (F.col("id") * 97 + F.col("cue_idx") * 800) % 3000
    cues = rng.select(
        "id",
        F.explode(
            F.sequence(F.lit(0), (F.col("id") % 3).cast("int"))
        ).alias("cue_idx"),
    ).select(
        F.col("id").alias("asset_id"),
        F.col("cue_idx").cast("long").alias("cue_idx"),
        start.alias("start_ms"),
        (start + 400 + F.col("cue_idx") * 100).alias("end_ms"),
    )
    joined = cues.join(
        keyframes,
        (cues.asset_id == keyframes.asset_id)
        & (keyframes.dts_ms >= cues.start_ms)
        & (keyframes.dts_ms < cues.end_ms),
        "left",
    )
    return joined.groupBy(
        cues.asset_id, "cue_idx", "start_ms", "end_ms"
    ).agg(F.count(keyframes.dts_ms).alias("n_keyframes"))


@_q(
    "audio_tags_meta",
    """
SELECT i AS asset_id,
  CASE WHEN i % 2 = 0 THEN 'mp3' ELSE 'flac' END AS container,
  'Track ' || i AS title,
  'Artist ' || (i % 7) AS artist,
  CASE WHEN i % 3 = 0 THEN '' ELSE 'Album ' || (i % 4) END AS album
FROM range(0, 60) t(i)""",
    audit=[
        ("cross-container tag walk is one Arrow pass", r"MapInPandas"),
        ("NO shuffle", r"!Exchange hashpartitioning"),
    ],
)
def q_audio_tags_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-independent audio catalog tags: ID3v2 MP3s and FLAC
    VorbisComment files (comment block spliced after STREAMINFO with
    the last-block flag handed over) yield ONE normalized
    (title, artist, album) row shape — the join key surface an
    audio-curation index builds on. Oracle relational from the id
    formula across both containers."""
    from finetoo_sp_spark.datagen import gen_assets, gen_audio_tags_pandas
    from finetoo_sp_spark.multimodal import audio_tags

    return audio_tags(gen_assets(spark, gen_audio_tags_pandas, 60))


@_q(
    "photo_curation_report",
    """
WITH a AS (
  SELECT i,
    CASE WHEN i % 7 = 0 THEN '' ELSE 'Maker' || CAST(i % 5 AS VARCHAR) END AS make,
    8 * (2 + i % 3) AS w0, 8 * (2 + i % 2) AS h0,
    (i % 3 = 0) AS had_gps
  FROM range(0, 70) t(i)
)
SELECT make,
  CAST(count(*) AS BIGINT) AS n_assets,
  CAST(sum(CASE WHEN had_gps THEN 1 ELSE 0 END) AS BIGINT) AS n_gps_scrubbed,
  CAST(sum(CASE WHEN make <> '' AND LEAST(w0, h0) >= 24 THEN 1 ELSE 0 END)
    AS BIGINT) AS n_keep,
  CAST(sum(w0 * h0) AS BIGINT) AS px_mass
FROM a GROUP BY make""",
    audit=[
        # two MapInPandas appear by design: the synthetic-corpus
        # generator is itself an Arrow kernel; the report pass is one
        ("decode+EXIF+orient+scrub is ONE Arrow pass", r"MapInPandas"),
        ("per-make rollup partial-aggregates", r"HashAggregate"),
    ],
)
def q_photo_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Photo-ingest CAPSTONE: decode + EXIF + auto-orientation + GPS
    scrub + verification run as ONE Arrow kernel pass per asset, then
    the curation policy (provenance required: camera make present;
    oriented min dimension >= 24; scrub verified) and a per-make
    rollup — the report a responsible image corpus publishes. The
    oracle recomputes every cell from the synthesis formulas; the
    scrub column is load-bearing (n_gps_scrubbed counts assets whose
    GPS existed AND verifiably vanished — scrub_ok gates keep)."""
    from finetoo_sp_spark.datagen import gen_assets, gen_photo_pandas
    from finetoo_sp_spark.multimodal import photo_report

    rep = photo_report(gen_assets(spark, gen_photo_pandas, 70))
    keep = (
        (F.least("width", "height") >= 24)
        & (F.col("make") != "")
        & F.col("scrub_ok")
    )
    return rep.groupBy("make").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum((F.col("had_gps") & F.col("scrub_ok")).cast("long")).alias(
            "n_gps_scrubbed"
        ),
        F.sum(keep.cast("long")).alias("n_keep"),
        F.sum(F.col("width") * F.col("height")).alias("px_mass"),
    )
