"""FLAC codec: sample-exact round-trips, hand-built decode-only paths
(LPC, escape residuals, wasted bits), error gating, kernel dispatch."""

import numpy as np
import pytest

from finetoo_sp_spark.codecs.flac import (
    FlacError,
    _BitReader,
    _BitWriter,
    _read_coded_number,
    _write_coded_number,
    _write_residual,
    crc8,
    crc16,
    decode_flac,
    encode_flac,
)


def _square(n, amp, ch=1):
    t = np.arange(n)
    left = np.where((t // 16) % 2 == 0, amp, -amp).astype(np.int64)
    if ch == 1:
        return left[:, None]
    return np.stack([left, -left], axis=1)


# ------------------------------------------------------- round-trips
@pytest.mark.parametrize("sub", ["verbatim", "fixed0", "fixed1", "fixed2",
                                 "fixed3", "fixed4", "constant"])
def test_roundtrip_subframe_strategies(sub):
    s = _square(480, 1200)
    bsz = 16 if sub == "constant" else 192
    enc = encode_flac(s, 8000, bits=16, blocksize=bsz, subframe=sub)
    rate, ch, bits, dec = decode_flac(enc)
    assert (rate, ch, bits) == (8000, 1, 16)
    assert np.array_equal(dec, s)


@pytest.mark.parametrize("st", ["independent", "left_side",
                                "right_side", "mid_side"])
def test_roundtrip_stereo_modes(st):
    rng = np.random.default_rng(3)
    s = rng.integers(-30000, 30000, size=(700, 2))
    enc = encode_flac(s, 44100, bits=16, blocksize=256,
                      subframe="fixed1", stereo=st)
    rate, ch, bits, dec = decode_flac(enc)
    assert (rate, ch, bits) == (44100, 2, 16)
    assert np.array_equal(dec, s)


def test_roundtrip_mid_side_odd_sums():
    # mid = (l+r)>>1 floors; the parity bit must be recovered from side
    s = np.array([[3, 2], [-5, 4], [7, -2], [1, 0], [-1, -2]] * 50)
    enc = encode_flac(s, 8000, subframe="verbatim", stereo="mid_side")
    assert np.array_equal(decode_flac(enc)[3], s)


@pytest.mark.parametrize("bits", [8, 16, 24])
def test_roundtrip_bit_depths(bits):
    lim = 1 << (bits - 1)
    rng = np.random.default_rng(bits)
    s = rng.integers(-lim, lim, size=(333, 1))
    enc = encode_flac(s, 48000, bits=bits, blocksize=192, subframe="fixed2")
    rate, ch, b, dec = decode_flac(enc)
    assert b == bits
    assert np.array_equal(dec, s)


def test_roundtrip_nonstandard_rate_and_blocksize():
    s = _square(250, 900)
    enc = encode_flac(s, 11030, blocksize=100, subframe="fixed1")
    rate, ch, bits, dec = decode_flac(enc)
    assert rate == 11030  # travels via STREAMINFO (frame carries /10)
    assert np.array_equal(dec, s)


def test_multiframe_frame_numbers():
    # >128 frames exercises the multi-byte coded frame number
    s = np.arange(130 * 16)[:, None] % 100
    enc = encode_flac(s, 8000, blocksize=16, subframe="fixed1")
    assert np.array_equal(decode_flac(enc)[3], s)


def test_coded_number_roundtrip():
    for val in [0, 1, 0x7F, 0x80, 0x7FF, 0x800, 0xFFFF, (1 << 31) - 1]:
        w = _BitWriter()
        _write_coded_number(w, val)
        w.align()
        assert _read_coded_number(_BitReader(w.getvalue())) == val


# ------------------------------------- hand-built decode-only paths
def _container(subframe_bits_fn, samples, bits=16, rate=8000):
    """Assemble a one-frame FLAC file whose subframe is written by
    subframe_bits_fn(w) — lets tests drive decoder paths the encoder
    twin never emits (LPC, escape residuals, wasted bits)."""
    import struct

    n = len(samples)
    out = bytearray(b"fLaC")
    si = bytearray()
    si += struct.pack(">HH", n, n) + b"\x00\x00\x00" * 2
    packed = (rate << 44) | (0 << 41) | ((bits - 1) << 36) | n
    si += packed.to_bytes(8, "big") + b"\x00" * 16
    out += bytes([0x80]) + len(si).to_bytes(3, "big") + si

    w = _BitWriter()
    w.write(0b11111111111110, 14)
    w.write(0, 2)
    w.write(7, 4)          # blocksize: 16-bit at end
    w.write(4, 4)          # 8000 Hz
    w.write(0, 4)          # mono
    w.write(4, 3)          # 16-bit
    w.write(0, 1)
    _write_coded_number(w, 0)
    w.write(n - 1, 16)
    hdr = w.getvalue()
    w.write(crc8(hdr), 8)
    subframe_bits_fn(w)
    w.align()
    body = w.getvalue()
    w.write(crc16(body), 16)
    return bytes(out + w.getvalue())


def test_lpc_subframe_decodes():
    rng = np.random.default_rng(11)
    order, precision, shift = 2, 12, 4
    coeffs = [29, -13]
    s = list(rng.integers(-2000, 2000, size=order))
    res = list(rng.integers(-40, 40, size=60))
    for e in res:
        pred = (coeffs[0] * s[-1] + coeffs[1] * s[-2]) >> shift
        s.append(int(e) + pred)

    def sub(w):
        w.write(0, 1)
        w.write(32 + (order - 1), 6)  # LPC order 2
        w.write(0, 1)
        for v in s[:order]:
            w.write_signed(v, 16)
        w.write(precision - 1, 4)
        w.write_signed(shift, 5)
        for c in coeffs:
            w.write_signed(c, precision)
        _write_residual(w, res)

    rate, ch, bits, dec = decode_flac(_container(sub, s))
    assert np.array_equal(dec[:, 0], np.array(s))


def test_escape_residual_partition_decodes():
    s = list(np.arange(64) * 7 - 100)
    res = [int(s[i] - s[i - 1]) for i in range(1, 64)]  # fixed order 1

    def sub(w):
        w.write(0, 1)
        w.write(8 + 1, 6)  # FIXED order 1
        w.write(0, 1)
        w.write_signed(s[0], 16)
        w.write(0, 2)      # rice method 0
        w.write(0, 4)      # partition order 0
        w.write(0xF, 4)    # ESCAPE
        w.write(9, 5)      # raw 9-bit residuals
        for e in res:
            w.write_signed(e, 9)

    rate, ch, bits, dec = decode_flac(_container(sub, s))
    assert np.array_equal(dec[:, 0], np.array(s))


def test_wasted_bits_decode():
    base = np.arange(48) % 37 - 18
    s = (base * 4).tolist()  # two wasted (zero) low bits per sample

    def sub(w):
        w.write(0, 1)
        w.write(1, 6)        # VERBATIM
        w.write(1, 1)        # wasted-bits flag
        w.write_unary(1)     # wasted = 1 + 1 = 2
        for v in base:
            w.write_signed(int(v), 14)  # bps 16 - 2

    rate, ch, bits, dec = decode_flac(_container(sub, s))
    assert np.array_equal(dec[:, 0], np.array(s))


# --------------------------------------------------------- gating
def test_corrupt_payload_raises():
    enc = encode_flac(_square(200, 500), 8000)
    bad = bytearray(enc)
    bad[70] ^= 0x55
    with pytest.raises(FlacError):
        decode_flac(bytes(bad))


def test_truncated_and_foreign_raise():
    enc = encode_flac(_square(200, 500), 8000)
    with pytest.raises(FlacError):
        decode_flac(enc[: len(enc) // 2])
    with pytest.raises(FlacError):
        decode_flac(b"OggS" + b"\x00" * 60)
    with pytest.raises(FlacError):
        decode_flac(b"")


def test_encoder_rejects_out_of_depth():
    with pytest.raises(ValueError):
        encode_flac(np.array([[40000]]), 8000, bits=16)


def test_crc_vectors():
    # spot values computed from the generator polynomials by hand
    assert crc8(b"") == 0
    assert crc16(b"") == 0
    assert crc8(b"\x00") == 0
    assert crc8(b"\x01") == 0x07
    assert crc16(b"\x80") == 0x8303  # 8 polynomial steps from 0x8000
    assert crc16(b"\x01") == 0x8005


# ------------------------------------------------------ Spark kernel
def test_audio_stats_dispatches_wav_and_flac(spark):
    from finetoo_sp_spark.codecs.wav import encode_wav
    from finetoo_sp_spark.multimodal import audio_stats

    s = _square(320, 1500)
    wav = encode_wav(s[:, 0].astype(np.int16), 8000)
    flac = encode_flac(s, 8000, subframe="fixed1")
    df = spark.createDataFrame(
        [(0, "audio", bytearray(wav)),
         (1, "audio", bytearray(flac)),
         (2, "audio", bytearray(b"\xff\xfb junk mp3"))],
        "asset_id long, modality string, payload binary",
    )
    rows = {r["asset_id"]: r for r in audio_stats(df).collect()}
    assert set(rows) == {0, 1}  # the junk payload skips, never dies
    for aid in (0, 1):
        r = rows[aid]
        assert (r["sample_rate"], r["channels"], r["bits"]) == (8000, 1, 16)
        assert r["n_samples"] == 320
        assert r["sumsq"] == 320 * 1500 * 1500
        assert r["peak"] == 1500


def test_flac_corpus_matches_formula(spark):
    from finetoo_sp_spark.datagen import gen_assets, gen_flac_pandas
    from finetoo_sp_spark.multimodal import audio_stats

    rows = audio_stats(gen_assets(spark, gen_flac_pandas, 24)).collect()
    assert len(rows) == 24
    for r in rows:
        i = r["asset_id"]
        n = 400 + (i % 5) * 80
        amp = 1000 + (i % 7) * 500
        ch = 1 if i % 4 == 0 else 2
        assert r["channels"] == ch
        assert r["n_samples"] == n
        assert r["sumsq"] == ch * n * amp * amp
        assert r["peak"] == amp


def test_vorbis_comment_roundtrip_and_decode_tolerance():
    import numpy as np

    from finetoo_sp_spark.codecs.flac import (
        decode_flac,
        encode_flac,
        insert_flac_tags,
        make_vorbis_comment_block,
        parse_flac_tags,
    )

    s = np.where((np.arange(400) // 4) % 2 == 0, 1000, -1000).astype(np.int32)
    f = encode_flac(s, 8000)
    tagged = insert_flac_tags(
        f, make_vorbis_comment_block("Song X", "Band 3", "LP 1")
    )
    assert parse_flac_tags(tagged) == {
        "vendor": "finetoo-sp-spark", "title": "Song X",
        "artist": "Band 3", "album": "LP 1",
    }
    # the spliced block must not disturb sample decode
    _, _, _, out = decode_flac(tagged)
    assert (out[:, 0] == s).all()
    # untagged file: empty fields, no error
    assert parse_flac_tags(f)["title"] == ""
    # keys are case-insensitive; unknown keys ignored
    blk = make_vorbis_comment_block()
    body = b"\x03\x00\x00\x00abc" + (2).to_bytes(4, "little")
    for kv in (b"TiTlE=mixed", b"YEAR=2026"):
        body += len(kv).to_bytes(4, "little") + kv
    blk = bytes([4]) + len(body).to_bytes(3, "big") + body
    assert parse_flac_tags(insert_flac_tags(f, blk))["title"] == "mixed"
    # overrun rejection
    import pytest

    bad = bytearray(tagged)
    i = bad.find(b"finetoo-sp-spark")
    bad[i - 4 : i] = (1 << 20).to_bytes(4, "little")  # vendor length blown up
    with pytest.raises(ValueError, match="overruns"):
        parse_flac_tags(bytes(bad))
