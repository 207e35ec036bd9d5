"""MP4/ISO-BMFF metadata probe + CCNet-style LM filter."""

import struct

import pytest
from pyspark.sql import Row, functions as F

from finetoo_sp_spark.codecs.mp4 import Mp4Error, decode_mp4, encode_mp4


def test_mp4_roundtrip_two_tracks():
    b = encode_mp4("mp42", 600, 1234, [("vide", 640, 360, "avc1"), ("soun", 0, 0, "mp4a")])
    m = decode_mp4(b)
    assert m["major_brand"] == "mp42"
    assert m["timescale"] == 600 and m["duration"] == 1234
    assert [t["handler"] for t in m["tracks"]] == ["vide", "soun"]
    assert m["tracks"][0]["width"] == 640 and m["tracks"][0]["height"] == 360
    assert m["tracks"][0]["codec"] == "avc1"
    assert m["tracks"][1]["codec"] == "mp4a"


def test_mp4_hand_pinned_bytes():
    """The encoder is a fixture generator — pin its exact box layout so
    silent format drift can't pass both halves of the oracle."""
    b = encode_mp4("isom", 600, 600, [("vide", 16, 16, "av01")])
    assert b[0:4] == struct.pack(">I", 20)  # ftyp: 8 hdr + 12 payload
    assert b[4:8] == b"ftyp" and b[8:12] == b"isom"
    moov_off = 20
    assert b[moov_off + 4 : moov_off + 8] == b"moov"
    mvhd_off = moov_off + 8
    assert b[mvhd_off + 4 : mvhd_off + 8] == b"mvhd"
    # v0 mvhd: timescale at payload+12, duration at payload+16
    assert struct.unpack_from(">II", b, mvhd_off + 8 + 12) == (600, 600)
    assert b[-8:] == struct.pack(">I", 8) + b"mdat"  # empty mdat tail


def test_mp4_v1_mvhd_and_largesize():
    """Version-1 (64-bit) mvhd and size==1 largesize boxes parse too."""
    mvhd_v1 = (
        struct.pack(">B3x", 1)
        + struct.pack(">QQ", 0, 0)
        + struct.pack(">IQ", 90000, 2**33)
        + b"\x00" * 80
    )
    mvhd = struct.pack(">I", 8 + len(mvhd_v1)) + b"mvhd" + mvhd_v1
    moov_payload = mvhd
    # moov written with the largesize encoding (size==1 -> uint64 follows)
    moov = struct.pack(">I", 1) + b"moov" + struct.pack(">Q", 16 + len(moov_payload)) + moov_payload
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"iso5" + struct.pack(">I", 0)
    m = decode_mp4(ftyp + moov)
    assert m["major_brand"] == "iso5"
    assert m["timescale"] == 90000 and m["duration"] == 2**33


@pytest.mark.parametrize(
    "bad",
    [b"", b"\x00\x00\x00\x10ftypisom\x00\x00\x00\x00"[:12], b"\x00" * 32,
     struct.pack(">I", 99) + b"ftyp" + b"x" * 8],
)
def test_mp4_malformed_raises(bad):
    with pytest.raises(Mp4Error):
        decode_mp4(bad)


def test_video_metadata_skips_garbage(spark):
    from finetoo_sp_spark.multimodal import video_metadata

    good = encode_mp4("isom", 600, 900, [("vide", 32, 16, "hvc1")])
    df = spark.createDataFrame(
        [Row(asset_id=1, payload=bytearray(good)),
         Row(asset_id=2, payload=bytearray(b"not a video at all"))]
    )
    rows = video_metadata(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.asset_id, r.major_brand, r.duration_ms, r.width, r.height,
            r.video_codec, r.n_tracks) == (1, "isom", 1500, 32, 16, "hvc1", 1)


def test_ccnet_buckets_reference_like_text_as_head(spark):
    """Docs made of reference vocabulary must land in head; gibberish
    with bigrams the reference LM never saw lands in tail."""
    from finetoo_sp_spark.operators.lmfilter import ccnet_lm_scores

    ref = [(i, "the quick brown fox jumps over the lazy dog", True) for i in range(9)]
    head_doc = [(100, "the quick brown fox", False)]
    tail_doc = [(101, "zzq xkcd vvv qqq zzq xkcd", False)]
    df = spark.createDataFrame(ref + head_doc + tail_doc, "id long, text string, is_ref boolean")
    out = {
        r.id: r
        for r in ccnet_lm_scores(df, "id", "text", F.col("is_ref")).collect()
    }
    assert out[100].ppl_bucket == "head"
    assert out[101].ppl_bucket == "tail"
    assert out[100].cost_per_bigram_fp < out[101].cost_per_bigram_fp
    # empty/one-word docs cost 0 -> head, never a crash
    df2 = spark.createDataFrame(ref + [(200, "single", False)], "id long, text string, is_ref boolean")
    out2 = {r.id: r for r in ccnet_lm_scores(df2, "id", "text", F.col("is_ref")).collect()}
    assert out2[200].n_bigrams == 0 and out2[200].ppl_bucket == "head"


def test_ccnet_thresholds_from_reference_only(spark):
    """Tercile thresholds must come from the reference slice: adding
    extreme NON-reference docs must not move any bucket boundary."""
    from finetoo_sp_spark.operators.lmfilter import ccnet_lm_scores

    ref = [(i, f"alpha beta gamma delta w{i} w{i+1}", True) for i in range(12)]
    probe = [(500, "alpha beta gamma", False)]
    noise = [(600 + j, "zz" + " zz".join(str(k) for k in range(j + 2)), False) for j in range(8)]
    base = spark.createDataFrame(ref + probe, "id long, text string, is_ref boolean")
    with_noise = spark.createDataFrame(ref + probe + noise, "id long, text string, is_ref boolean")
    b1 = {r.id: r.ppl_bucket for r in ccnet_lm_scores(base, "id", "text", F.col("is_ref")).collect()}
    b2 = {r.id: r.ppl_bucket for r in ccnet_lm_scores(with_noise, "id", "text", F.col("is_ref")).collect()}
    assert b1[500] == b2[500]
    for i in range(12):
        assert b1[i] == b2[i]


def test_probe_image_dims_formats():
    import numpy as np

    from finetoo_sp_spark.codecs.jpeg import encode_jpeg_baseline
    from finetoo_sp_spark.codecs.png import encode_png
    from finetoo_sp_spark.codecs.probe import (
        ProbeError,
        encode_gif_header,
        encode_webp_vp8l_header,
        probe_image_dims,
    )

    png = encode_png(np.zeros((5, 7, 3), dtype=np.uint8))
    assert probe_image_dims(png) == ("png", 7, 5)
    jpg = encode_jpeg_baseline(np.full((16, 24), 128, dtype=np.uint8))
    assert probe_image_dims(jpg) == ("jpeg", 24, 16)
    assert probe_image_dims(encode_gif_header(321, 77)) == ("gif", 321, 77)
    assert probe_image_dims(encode_webp_vp8l_header(1, 1)) == ("webp", 1, 1)
    assert probe_image_dims(encode_webp_vp8l_header(16383, 100)) == ("webp", 16383, 100)
    # progressive JPEG (SOF2) probes fine even though decode rejects it
    sof0 = jpg.index(b"\xff\xc0")
    prog = jpg[:sof0] + b"\xff\xc2" + jpg[sof0 + 2 :]
    assert probe_image_dims(prog) == ("jpeg", 24, 16)
    for bad in (b"", b"\x89PNG\r\n\x1a\n" + b"\x00" * 8, b"RIFF\x00\x00\x00\x00WAVE",
                b"\xff\xd8\xff\xd9"):
        with pytest.raises(ProbeError):
            probe_image_dims(bad)


def test_image_dimensions_spark(spark):
    from finetoo_sp_spark.datagen import gen_assets, gen_mixed_image_pandas
    from finetoo_sp_spark.multimodal import image_dimensions

    assets = gen_assets(spark, gen_mixed_image_pandas, 8)
    out = {r.asset_id: r for r in image_dimensions(assets).collect()}
    assert len(out) == 8
    assert out[0].format == "png" and (out[0].width, out[0].height) == (16, 12)
    assert out[1].format == "jpeg"
    assert out[2].format == "gif" and out[2].width == 102
    assert out[3].format == "webp" and out[3].height == 1 + 9 % 150


def test_blocklist_gate_suffix_semantics(spark):
    from finetoo_sp_spark.operators.blocklist import blocklist_gate

    pages = spark.createDataFrame(
        [
            (1, "ads.x.spam.example"),     # nested subdomain -> blocked
            (2, "spam.example"),            # exact -> blocked
            (3, "notspam.example"),         # label superstring -> NOT blocked
            (4, "spam.example.org"),        # blocked domain as PREFIX -> NOT blocked
            (5, "deep.a.b.tracker.net"),    # longest-rule check (both rules match)
            (6, "clean.org"),
        ],
        "doc_id long, host string",
    )
    bl = spark.createDataFrame(
        [("spam.example",), ("tracker.net",), ("b.tracker.net",)], "domain string"
    )
    out = {r.id: r for r in blocklist_gate(pages, bl).collect()}
    assert out[1].blocked and out[1].matched_domain == "spam.example"
    assert out[2].blocked
    assert not out[3].blocked and out[3].matched_domain == ""
    assert not out[4].blocked
    assert out[5].blocked and out[5].matched_domain == "b.tracker.net"
    assert not out[6].blocked


def test_frame_sample_times(spark):
    from finetoo_sp_spark.codecs.mp4 import encode_mp4
    from finetoo_sp_spark.multimodal import frame_sample_times
    from pyspark.sql import Row

    # 1500 ms duration at interval 500 -> ts 0,500,1000,1500 (inclusive)
    b = encode_mp4("isom", 600, 900, [("vide", 16, 16, "avc1")])
    df = spark.createDataFrame([Row(asset_id=7, payload=bytearray(b))])
    rows = sorted(
        (r.sample_idx, r.ts_ms) for r in frame_sample_times(df).collect()
    )
    assert rows == [(0, 0), (1, 500), (2, 1000), (3, 1500)]


def test_bpe_learn_matches_encode_word_semantics(spark):
    """The learned merges must drive encode_word to the expected
    tokenization (train/apply consistency), and ties must resolve
    (count desc, pair asc)."""
    from finetoo_sp_spark.operators.tokenize import bpe_learn, encode_word

    vocab = spark.createDataFrame(
        [("low", 600), ("lower", 200), ("lowest", 100)], "word string, cnt long"
    )
    merges = bpe_learn(vocab, 6).collect()
    table = [(r["left"], r["right"]) for r in sorted(merges, key=lambda r: r.merge_idx)]
    assert table == [
        ("l", "o"), ("lo", "w"), ("low", "e"),
        ("lowe", "r"), ("lowe", "s"), ("lowes", "t"),
    ]
    ranks = {p: i for i, p in enumerate(table)}
    assert encode_word("low", ranks) == ["low"]
    assert encode_word("lowest", ranks) == ["lowest"]
    assert encode_word("slower", ranks) == ["s", "lower"]


def test_bpe_learn_overlapping_pairs_greedy(spark):
    """'aaaa' x1: pair (a,a) counts 3 but greedy non-overlap merges to
    two 'aa' tokens; next round merges (aa,aa)."""
    from finetoo_sp_spark.operators.tokenize import bpe_learn

    vocab = spark.createDataFrame([("aaaa", 10)], "word string, cnt long")
    merges = bpe_learn(vocab, 2).collect()
    assert [(r["left"], r["right"], r.cnt) for r in merges] == [
        ("a", "a", 30), ("aa", "aa", 10)
    ]


def test_bpe_learn_stops_when_dry(spark):
    from finetoo_sp_spark.operators.tokenize import bpe_learn

    vocab = spark.createDataFrame([("ab", 5), ("x", 9)], "word string, cnt long")
    merges = bpe_learn(vocab, 10).collect()
    # one merge possible, then every word is a single token -> stop early
    assert len(merges) == 2 or len(merges) == 1
    assert (merges[0]["left"], merges[0]["right"]) == ("a", "b")


def test_probe_jpeg_fill_bytes_and_sos_guard():
    import numpy as np

    from finetoo_sp_spark.codecs.jpeg import encode_jpeg_baseline
    from finetoo_sp_spark.codecs.probe import ProbeError, probe_image_dims

    jpg = encode_jpeg_baseline(np.full((8, 8), 128, dtype=np.uint8))
    # inject T.81 fill bytes before the first marker segment after SOI
    padded = jpg[:2] + b"\xff\xff\xff" + jpg[2:]
    assert probe_image_dims(padded) == ("jpeg", 8, 8)
    # a JPEG whose SOF was stripped must fail cleanly at SOS, never
    # walk into entropy-coded bytes
    sof = jpg.index(b"\xff\xc0")
    seglen = int.from_bytes(jpg[sof + 2 : sof + 4], "big")
    no_sof = jpg[:sof] + jpg[sof + 2 + seglen :]
    with pytest.raises(ProbeError):
        probe_image_dims(no_sof)


def test_bpe_learn_backslash_quote_tokens(spark):
    """Tokens with SQL-hostile characters must survive the merge fold."""
    from finetoo_sp_spark.operators.tokenize import bpe_learn

    vocab = spark.createDataFrame([("a\\'b", 4)], "word string, cnt long")
    merges = bpe_learn(vocab, 3).collect()
    # pair-asc tie-break: "'" (0x27) < "\\" (0x5c) < "a" (0x61)
    assert [(r["left"], r["right"], r["merged"]) for r in merges] == [
        ("'", "b", "'b"), ("\\", "'b", "\\'b"), ("a", "\\'b", "a\\'b")
    ]


def test_wet_roundtrip_decoys(spark, tmp_path):
    """Multi-line bodies, embedded 'WARC/1.0' decoys, and bodies that
    START with 'HTTP/' must survive the WET write/read byte-exactly
    (Content-Length binding, no HTTP-envelope strip on conversion)."""
    from finetoo_sp_spark.operators.sinks import write_wet
    from finetoo_sp_spark.sources.warc import read_wet_text

    rows = [
        ("https://a.example/1", "plain text"),
        ("https://a.example/2", "line one\nline two\r\nline three"),
        ("https://a.example/3", "decoy\r\nWARC/1.0\r\nWARC-Type: response\r\n\r\nx"),
        ("https://a.example/4", "HTTP/1.1 200 OK\r\n\r\nlooks like an envelope"),
        ("https://a.example/5", "unicode café € 𝄞"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    out = str(tmp_path / "wet")
    write_wet(df, out)
    back = {r.url: r.text for r in read_wet_text(spark, out + "/*.txt").collect()}
    assert back == dict(rows)


def test_versioned_table_atomicity_and_reuse(spark, tmp_path):
    import json
    import os

    from finetoo_sp_spark.sources.table import (
        commit_version,
        current_version,
        read_version,
        rollback,
    )

    path = str(tmp_path / "tbl")
    d = spark.range(0, 100).select(F.col("id").alias("k"))
    assert commit_version(d.filter("k < 40"), path, mode="overwrite") == 0
    assert commit_version(d.filter("k >= 40"), path, mode="append") == 1
    # append REUSES parent files: v1's manifest is a superset of v0's
    m0 = json.load(open(os.path.join(path, "_versions", "v0.json")))
    m1 = json.load(open(os.path.join(path, "_versions", "v1.json")))
    assert set(m0["files"]) < set(m1["files"])
    assert read_version(spark, path, 0).count() == 40
    assert read_version(spark, path, 1).count() == 100
    # overwrite: new snapshot only, old versions still readable
    assert commit_version(d.filter("k % 10 = 0"), path, mode="overwrite") == 2
    assert read_version(spark, path).count() == 10
    assert read_version(spark, path, 1).count() == 100
    # rollback publishes a NEW version with v1's files; history intact
    assert rollback(spark, path, 1) == 3
    assert current_version(path) == 3
    assert read_version(spark, path).count() == 100
    assert read_version(spark, path, 2).count() == 10
    # crash before the manifest publish: orphan data dir is invisible
    orphan = os.path.join(path, "data", "deadbeef")
    d.limit(5).write.parquet(orphan)
    assert current_version(path) == 3
    assert read_version(spark, path).count() == 100
    # duplicate version number refuses (single-writer arbitration)
    import pytest as _pytest

    from finetoo_sp_spark.sources import table as _t

    with _pytest.raises(RuntimeError):
        _t._publish(path, m1["files"], "append", 2)  # v3 already exists


def test_upsert_mor_and_rollback_chain(spark, tmp_path):
    """MOR semantics: upserted keys replaced, untouched rows pass,
    inserts appear once; rollback to an upsert version keeps its
    delete chain; compaction (overwrite) resets read cost."""
    from finetoo_sp_spark.sources.table import (
        commit_version,
        read_version,
        rollback,
        upsert_version,
    )

    path = str(tmp_path / "mor")
    d = spark.createDataFrame([(i, i * 10) for i in range(6)], "k long, v long")
    commit_version(d, path, mode="overwrite")                       # v0
    upsert_version(
        spark.createDataFrame([(2, -1), (99, -1)], "k long, v long"), path, "k"
    )                                                               # v1
    got1 = {r.k: r.v for r in read_version(spark, path).collect()}
    assert got1 == {0: 0, 1: 10, 2: -1, 3: 30, 4: 40, 5: 50, 99: -1}
    commit_version(read_version(spark, path, 1), path, "overwrite")  # v2 compaction
    got2 = {r.k: r.v for r in read_version(spark, path, 2).collect()}
    assert got2 == got1
    rollback(spark, path, 1)                                        # v3 -> v1 chain
    got3 = {r.k: r.v for r in read_version(spark, path, 3).collect()}
    assert got3 == got1
    # history: v0 untouched by the whole chain
    assert {r.k: r.v for r in read_version(spark, path, 0).collect()} == {
        i: i * 10 for i in range(6)
    }


def test_trap_urls_hand_cases(spark):
    from finetoo_sp_spark.operators.traps import flag_trap_urls

    rows = [
        (1, "https://a.example/ok/page"),
        (2, "https://a.example/a/b/a/b/a/x"),          # repeated a,b
        (3, "https://a.example/blog/2023/12/31/post"),  # calendar
        (4, "https://a.example/blog/2023/13/05/post"),  # month 13 -> NOT calendar
        (5, "https://a.example/p?a=1&b=2&c=3&d=4&e=5&f=6&g=7"),
        (6, "https://a.example/events/1999/01"),        # calendar, no day
        (7, "https://a.example/"),                      # empty path
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    out = {r.id: r for r in flag_trap_urls(df).collect()}
    assert not out[1].is_trap
    assert out[2].repeated_segment and out[2].is_trap
    assert out[3].calendar
    assert not out[4].calendar and not out[4].is_trap
    assert out[5].query_explosion and out[5].n_params == 7
    assert out[6].calendar
    assert out[7].path_depth == 0 and not out[7].is_trap


def test_meta_extraction_hand_cases(spark):
    from finetoo_sp_spark.extraction.meta import (
        link_alternates,
        microdata_props,
        og_meta,
    )

    html = (
        "<html><head>"
        '<meta property="og:title" content="Hello World"/>'
        '<meta name="description" content="decoy"/>'
        "<meta property='og:type' content='article'/>"
        '<link rel="alternate" hreflang="en" href="https://h/en/1"/>'
        '<link rel="alternate" type="application/rss+xml" href="/feed"/>'
        '<link rel="stylesheet" href="c.css"/>'
        '<link rel="alternate" hreflang="de-AT" href="https://h/de/1"/>'
        "</head><body>"
        '<span itemprop="name">Widget X</span>'
        '<meta itemprop="price" content="9.99"/>'
        "</body></html>"
    )
    df = spark.createDataFrame([("u1", html)], "url string, html string")
    assert [(r.idx, r.og_key, r.og_value) for r in og_meta(df).collect()] == [
        (0, "title", "Hello World"), (1, "type", "article")
    ]
    assert [(r.idx, r.hreflang, r.href) for r in link_alternates(df).collect()] == [
        (0, "en", "https://h/en/1"), (2, "de-AT", "https://h/de/1")
    ]
    assert [(r.idx, r.prop, r.value) for r in microdata_props(df).collect()] == [
        (0, "name", "Widget X"), (1, "price", "9.99")
    ]
    # binary html column routes through the cast
    dfb = spark.createDataFrame([("u2", bytearray(html.encode()))], "url string, html binary")
    assert og_meta(dfb).count() == 2


def test_feed_parse_hand_cases(spark):
    from finetoo_sp_spark.sources.feeds import parse_feeds

    xml = (
        "<rss><channel>"
        "<item><title>First</title><link>https://h/1</link>"
        "<pubDate>Tue, 06 Jan 2026 09:05:00 GMT</pubDate></item>"
        "<item><title>Bad date</title><link>https://h/2</link>"
        "<pubDate>whenever</pubDate></item>"
        "</channel></rss>"
        '<feed xmlns="http://www.w3.org/2005/Atom">'
        "<entry><title>Atom one</title>"
        '<link rel="alternate" href="https://h/a1"/>'
        "<published>2026-03-04T12:00:00Z</published>"
        "<updated>2026-03-05T12:00:00Z</updated></entry>"
        "</feed>"
    )
    df = spark.createDataFrame([("h", xml)], "host string, feed_xml string")
    rows = {(r.kind, r.link): r for r in parse_feeds(df).collect()}
    r1 = rows[("rss", "https://h/1")]
    assert r1.title == "First" and str(r1.published) == "2026-01-06 09:05:00"
    assert rows[("rss", "https://h/2")].published is None
    ra = rows[("atom", "https://h/a1")]
    # published wins over updated when both present
    assert ra.title == "Atom one" and str(ra.published) == "2026-03-04 12:00:00"


def test_sample_table_roundtrip_and_byte_ranges():
    """Absolute offsets must land on the actual packed sample bytes,
    across stco and co64, two stts runs and a short last chunk."""
    from finetoo_sp_spark.codecs.mp4 import (
        decode_sample_table,
        encode_mp4_samples,
    )

    sizes = [50 + 7 * k % 40 for k in range(11)]
    for co64 in (False, True):
        b = encode_mp4_samples(
            600, [(5, 100), (6, 200)], sizes, 4, sync_every=5, co64=co64
        )
        rows = decode_sample_table(b)
        assert [r["dts_ticks"] for r in rows][:7] == [0, 100, 200, 300, 400, 500, 700]
        acc = 0
        for k, r in enumerate(rows):
            assert r["mdat_offset"] == acc and r["size"] == sizes[k]
            assert b[r["offset"] : r["offset"] + r["size"]] == bytes([k % 251]) * sizes[k]
            acc += sizes[k]
        assert [r["is_sync"] for r in rows] == [k % 5 == 0 for k in range(11)]


def test_sample_table_no_stss_means_all_sync():
    from finetoo_sp_spark.codecs.mp4 import (
        decode_sample_table,
        encode_mp4_samples,
    )

    rows = decode_sample_table(
        encode_mp4_samples(600, [(6, 100)], [10] * 6, 4, sync_every=0)
    )
    assert all(r["is_sync"] for r in rows)


def test_sample_table_inconsistent_tables_raise():
    import pytest

    from finetoo_sp_spark.codecs.mp4 import (
        Mp4Error,
        decode_sample_table,
        encode_mp4_samples,
    )

    # entry count overrunning the box must raise, never read neighbors
    # (or allocate from a multi-GB bogus count)
    b = bytearray(encode_mp4_samples(600, [(6, 100)], [10] * 6, 4, sync_every=0))
    i = b.find(b"stts")
    b[i + 11] = 9  # entry-count low byte: 1 -> 9 entries (box holds 1)
    with pytest.raises(Mp4Error, match="overruns box"):
        decode_sample_table(bytes(b))
    # in-box run count disagreeing with stsz must raise before expanding
    b = bytearray(encode_mp4_samples(600, [(6, 100)], [10] * 6, 4, sync_every=0))
    i = b.find(b"stts")
    b[i + 15] = 5  # first run count: 6 -> 5 samples (stsz says 6)
    with pytest.raises(Mp4Error, match="stts covers"):
        decode_sample_table(bytes(b))
    with pytest.raises(Mp4Error, match="missing sample tables"):
        from finetoo_sp_spark.codecs.mp4 import encode_mp4

        decode_sample_table(encode_mp4("isom", 600, 600, [("vide", 16, 16, "avc1")]))


def _two_track_mp4(first_handler: bytes) -> bytes:
    """Track 1: 4 samples of 10 bytes, no stss (all sync). Track 2:
    4 samples of 20 bytes, stss marking every 2nd sample."""
    import struct

    from finetoo_sp_spark.codecs.mp4 import encode_mp4_samples

    a = encode_mp4_samples(600, [(4, 100)], [10] * 4, 2, sync_every=0)
    b = encode_mp4_samples(600, [(4, 50)], [20] * 4, 2, sync_every=2)

    def trak(f: bytes) -> tuple[int, bytes]:
        i = f.find(b"trak") - 4
        return i, f[i : i + struct.unpack_from(">I", f, i)[0]]

    ia, ta = trak(a)
    _, tb = trak(b)
    moov = a.find(b"moov") - 4
    moov_size = struct.unpack_from(">I", a, moov)[0] + len(tb)
    return (
        a[:moov]
        + struct.pack(">I", moov_size)
        + a[moov + 4 : ia]
        + ta.replace(b"vide", first_handler)
        + tb
        + a[ia + len(ta) :]
    )


def test_sample_table_never_mixes_tracks():
    """Only track 2 has stss: track 1's samples must all stay sync (not
    pick up track 2's keyframe flags), and a video track is preferred
    over an earlier non-video one."""
    from finetoo_sp_spark.codecs.mp4 import decode_sample_table

    rows = decode_sample_table(_two_track_mp4(b"vide"))
    assert [(r["size"], r["is_sync"]) for r in rows] == [(10, True)] * 4
    rows = decode_sample_table(_two_track_mp4(b"soun"))
    assert [r["size"] for r in rows] == [20] * 4
    assert [r["is_sync"] for r in rows] == [True, False, True, False]
    assert [r["dts_ticks"] for r in rows] == [0, 50, 100, 150]
