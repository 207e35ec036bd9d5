"""Sitemap parsing + WAV codec — hand-pinned fixtures."""

import numpy as np
import pytest
from pyspark.sql import Row

from finetoo_sp_spark.codecs.wav import WavError, decode_wav, encode_wav
from finetoo_sp_spark.sources.sitemap import parse_sitemaps

SITEMAP = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc>https://h.example.com/a</loc>
    <lastmod>2026-03-05</lastmod>
    <changefreq>daily</changefreq>
    <priority>0.8</priority>
  </url>
  <url><loc>https://h.example.com/b</loc></url>
  <url><lastmod>2026-01-01</lastmod></url>
  <url><loc>https://h.example.com/c</loc><lastmod>not-a-date</lastmod></url>
</urlset>"""

INDEX = """<sitemapindex>
  <sitemap><loc>https://h.example.com/sitemap-1.xml</loc></sitemap>
  <sitemap><loc>https://h.example.com/sitemap-2.xml</loc></sitemap>
</sitemapindex>"""


def test_parse_fields(spark):
    df = spark.createDataFrame([Row(host="h", sitemap_xml=SITEMAP)])
    rows = {r["loc"]: r for r in parse_sitemaps(df).collect()}
    # entry with no <loc> is dropped; the other three survive
    assert set(rows) == {
        "https://h.example.com/a",
        "https://h.example.com/b",
        "https://h.example.com/c",
    }
    a = rows["https://h.example.com/a"]
    assert str(a["lastmod"]) == "2026-03-05"
    assert a["changefreq"] == "daily"
    assert a["priority_ppm"] == 800000
    b = rows["https://h.example.com/b"]
    assert b["lastmod"] is None and b["changefreq"] is None and b["priority_ppm"] is None
    # unparseable lastmod -> NULL (try-cast), row survives
    assert rows["https://h.example.com/c"]["lastmod"] is None


def test_index_entries(spark):
    # a <sitemapindex> body yields no url rows
    idx = spark.createDataFrame([Row(host="h", sitemap_xml=INDEX)])
    assert parse_sitemaps(idx).count() == 0
    # beside a urlset body, the index's <sitemap><loc> children never leak in
    mixed = spark.createDataFrame(
        [Row(host="h", sitemap_xml=INDEX), Row(host="h", sitemap_xml=SITEMAP)]
    )
    locs = sorted(r["loc"] for r in parse_sitemaps(mixed).collect())
    assert locs == [
        "https://h.example.com/a",
        "https://h.example.com/b",
        "https://h.example.com/c",
    ]


def test_sitemap_narrow_plan(spark):
    df = spark.createDataFrame([Row(host="h", sitemap_xml=SITEMAP)])
    plan = parse_sitemaps(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# --- WAV codec ----------------------------------------------------------


def test_wav_roundtrip_mono():
    s = np.array([0, 100, -100, 32767, -32768, 7], dtype=np.int16)
    rate, ch, bits, out = decode_wav(encode_wav(s, 44100))
    assert (rate, ch, bits) == (44100, 1, 16)
    assert out[:, 0].tolist() == s.astype(np.int32).tolist()


def test_wav_roundtrip_stereo():
    s = np.arange(20, dtype=np.int16).reshape(10, 2) * 100
    rate, ch, bits, out = decode_wav(encode_wav(s, 8000))
    assert (rate, ch) == (8000, 2)
    assert out.shape == (10, 2)
    assert (out == s.astype(np.int32)).all()


def test_wav_8bit_centering():
    import struct

    pcm = bytes([0, 128, 255])
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(pcm)) + pcm + b"\x00"  # pad byte
    b = b"RIFF" + struct.pack("<I", len(body)) + body
    _, _, bits, out = decode_wav(b)
    assert bits == 8
    assert out[:, 0].tolist() == [-128, 0, 127]


def test_wav_rejects_non_pcm_and_truncated():
    s = np.zeros(4, dtype=np.int16)
    good = encode_wav(s, 8000)
    with pytest.raises(WavError):
        decode_wav(good[:-3])  # truncated data chunk
    with pytest.raises(WavError):
        decode_wav(b"RIFF\x00\x00\x00\x00AIFF")
    # non-PCM audio_format
    bad = bytearray(good)
    bad[20] = 85  # audio_format = 0x55 (MP3)
    with pytest.raises(WavError):
        decode_wav(bytes(bad))


def test_audio_stats_skips_bad_payloads(spark):
    from finetoo_sp_spark.multimodal import audio_stats

    good = encode_wav(np.full(8, 5, dtype=np.int16), 8000)
    df = spark.createDataFrame(
        [Row(asset_id=0, payload=bytearray(good)),
         Row(asset_id=1, payload=bytearray(b"ID3\x04garbage-mp3"))]
    )
    rows = audio_stats(df).collect()
    assert len(rows) == 1 and rows[0]["asset_id"] == 0
    assert rows[0]["sumsq"] == 8 * 25 and rows[0]["peak"] == 5


# ------------------------------------------------------- G.711 / ADPCM
def test_g711_table_anchors_and_properties():
    from finetoo_sp_spark.codecs.wav import ALAW_DECODE, ULAW_DECODE

    # published anchor values from the G.711 segment formulas
    assert ULAW_DECODE[0x80] == 32124   # positive full scale
    assert ULAW_DECODE[0x00] == -32124  # negative full scale
    assert ULAW_DECODE[0xFF] == 0
    assert ALAW_DECODE[0xD5] == 8       # smallest positive
    assert ALAW_DECODE[0x55] == -8
    assert ALAW_DECODE[0xAA] == 32256   # positive full scale
    assert ALAW_DECODE[0x2A] == -32256
    # odd symmetry: flipping the sign bit negates the value
    c = np.arange(256)
    assert (ULAW_DECODE[c] == -ULAW_DECODE[c ^ 0x80]).all()
    assert (ALAW_DECODE[c] == -ALAW_DECODE[c ^ 0x80]).all()


def test_g711_wav_decode_and_encode_fixed_point():
    from finetoo_sp_spark.codecs.wav import (
        ALAW_DECODE,
        ULAW_DECODE,
        encode_wav_g711,
        make_wav_g711_codes,
    )

    codes = ((np.arange(200) * 31 + 7) % 256).astype(np.uint8)
    for law, tab in (("ulaw", ULAW_DECODE), ("alaw", ALAW_DECODE)):
        rate, ch, bits, s = decode_wav(
            make_wav_g711_codes(codes, 8000, law=law))
        assert (rate, ch, bits) == (8000, 1, 8)
        assert (s[:, 0] == tab[codes]).all()
        # decode -> encode -> decode is a fixed point (values that ARE
        # table outputs re-encode to a code with the same value)
        _, _, _, s2 = decode_wav(encode_wav_g711(s[:, 0], 8000, law=law))
        assert (s2 == s).all()
    # stereo interleave
    _, ch2, _, st = decode_wav(
        make_wav_g711_codes(codes[:120], 16000, law="ulaw", channels=2))
    assert ch2 == 2 and st.shape == (60, 2)
    assert (st.reshape(-1) == ULAW_DECODE[codes[:120]]).all()


def test_ima_adpcm_hand_walked_fixture():
    """One mono block hand-walked through the IMA recurrence: header
    predictor 100 / index 0 (step 7), nibbles 0,1,2,4,8,15,...  The
    expected values below were computed by hand from the spec tables."""
    import struct

    from finetoo_sp_spark.codecs.wav import _IMA_STEPS

    nibbles = [0, 1, 2, 4, 8, 15, 0, 0]  # one data word = 4 bytes
    packed = bytes([nibbles[0] | (nibbles[1] << 4),
                    nibbles[2] | (nibbles[3] << 4),
                    nibbles[4] | (nibbles[5] << 4),
                    nibbles[6] | (nibbles[7] << 4)])
    block = struct.pack("<hBB", 100, 0, 0) + packed
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 4000, len(block), 4, 2, 9)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(block)) + block
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    rate, ch, bits, out = decode_wav(wav)
    assert (rate, ch, bits) == (8000, 1, 4)
    # hand walk: step(0)=7
    # n=0: diff=0, pred=100+0=100, idx 0-1->0
    # n=1: diff=0+7>>2=1, pred=101, idx->0
    # n=2: diff=0+3=3, pred=104, idx->0
    # n=4: diff=0+7=7, pred=111, idx 0+2=2 (step 9)
    # n=8: diff=9>>3=1 sign -, pred=110, idx 2-1=1 (step 8)
    # n=15: diff=1+2+4+8=15 sign -, pred=95, idx 1+8=9 (step 17)
    # n=0: diff=17>>3=2, pred=97, idx 9-1=8 (step 16)
    # n=0: diff=2, pred=99
    assert out[:, 0].tolist() == [100, 100, 101, 104, 111, 110, 95, 97, 99]
    assert _IMA_STEPS[0] == 7 and _IMA_STEPS[88] == 32767


def test_ima_adpcm_encode_decode_roundtrip_tracks_signal():
    from finetoo_sp_spark.codecs.wav import encode_wav_ima_adpcm

    t = np.arange(1013)
    x = (3000 * np.sin(t / 20) + 500 * np.sin(t / 3)).astype(np.int64)
    rate, ch, bits, dec = decode_wav(encode_wav_ima_adpcm(x, 8000))
    assert (rate, ch, bits) == (8000, 1, 4)
    assert np.abs(dec[: len(x), 0] - x).max() < 2000  # adaptation bound
    # stereo channels decode independently, each tracking its signal
    # (NOT mirror images: code 0 still adds step>>3 in both channels,
    # so ADPCM is not odd-symmetric)
    x2 = np.stack([x, -x], axis=1)
    _, ch2, _, dec2 = decode_wav(encode_wav_ima_adpcm(x2, 8000))
    assert ch2 == 2
    assert np.abs(dec2[: len(x), 0] - x).max() < 2000
    assert np.abs(dec2[: len(x), 1] + x).max() < 2000
    # byte-determinism
    assert encode_wav_ima_adpcm(x2, 8000) == encode_wav_ima_adpcm(x2, 8000)
