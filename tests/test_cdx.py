"""CDX index + HTTP transfer decoding (sources/cdx.py, warc.py).

Hand-built byte fixtures first (the FIXTURES.md discipline): gzip
member bounds, slice random access, chunked framing edge cases; then
the Spark-side readers end-to-end on a tiny archive set.
"""

import datetime as dt
import gzip

import pytest

from finetoo_sp_spark.sources.cdx import (
    fetch_warc_record,
    gzip_member_spans,
    pack_zipnum,
    read_cdx_entries,
    read_zipnum_blocks,
    surt_key,
    zipnum_lookup,
)
from finetoo_sp_spark.sources.warc import (
    _chunk_encode,
    _dechunk,
    _decode_http_body,
    make_warc,
    make_warc_transfer,
    parse_warc,
    parse_warc_http,
)

TS = dt.datetime(2024, 1, 1)


def _archive(n=5):
    recs = [
        (f"https://h{i}.example.com/p/{i}", TS + dt.timedelta(seconds=i),
         (f"payload number {i} " * (i + 1)).encode())
        for i in range(n)
    ]
    return recs, make_warc(recs, gzip_members=True)


# ---------------------------------------------------------- member spans


def test_member_spans_cover_whole_file():
    recs, data = _archive(5)
    spans = gzip_member_spans(data)
    assert len(spans) == 5
    assert spans[0][0] == 0
    for (o1, l1), (o2, _) in zip(spans, spans[1:]):
        assert o1 + l1 == o2  # contiguous, no gaps
    assert spans[-1][0] + spans[-1][1] == len(data)


def test_member_spans_tolerate_garbage_tail():
    _, data = _archive(3)
    spans = gzip_member_spans(data + b"\x1f\x8bnot actually gzip")
    assert len(spans) == 3  # truncated tail costs itself, not the file


def test_member_spans_empty_and_nongzip():
    assert gzip_member_spans(b"") == []
    assert gzip_member_spans(b"WARC/1.0\r\n") == []


def test_fetch_is_true_random_access():
    recs, data = _archive(6)
    spans = gzip_member_spans(data)
    # fetch the FOURTH record from its slice alone — corrupt every
    # other byte of the file to prove nothing outside the slice is read
    off, ln = spans[3]
    mangled = b"\x00" * off + data[off : off + ln] + b"\x00" * 8
    got = fetch_warc_record(mangled, off, ln)
    assert got is not None
    url, ts, payload = got
    assert url == recs[3][0]
    assert ts == recs[3][1]
    assert payload == recs[3][2]


def test_fetch_bad_slice_returns_none():
    _, data = _archive(2)
    assert fetch_warc_record(data, 1, 50) is None


# ---------------------------------------------------------- chunked/gzip


def test_dechunk_multi_chunk_roundtrip():
    body = b"x" * 2500  # 3 chunks at the writer's 1000-byte size
    wire = _chunk_encode(body)
    assert wire.startswith(b"3e8\r\n")  # sizes are bare lowercase hex
    assert wire.endswith(b"0\r\n\r\n")
    assert _dechunk(wire) == body


def test_dechunk_chunk_extension_and_trailers():
    wire = b"5;ext=1\r\nhello\r\n3\r\n wo\r\n0\r\nX-Trailer: t\r\n\r\n"
    assert _dechunk(wire) == b"hello wo"


@pytest.mark.parametrize(
    "bad",
    [
        b"zz\r\nhello\r\n0\r\n\r\n", b"5\r\nhel", b"5\r\nhelloXX0\r\n\r\n", b"",
        b"1\r\nA\r\n-6\r\n",  # negative size: must not rewind onto itself
    ],
)
def test_dechunk_malformed_returns_none(bad):
    assert _dechunk(bad) is None


def test_decode_body_layering_order():
    payload = b"<html>the actual page</html>"
    wire = _chunk_encode(gzip.compress(payload, mtime=0))
    assert _decode_http_body(wire, "chunked", "gzip") == payload
    # tolerant: claimed-gzip that isn't decodes to itself
    assert _decode_http_body(b"plain", "", "gzip") == b"plain"


def test_decode_body_cut_gzip_passes_through_raw():
    from finetoo_sp_spark.sources.warc import warc_record

    wire = gzip.compress(b"<p>page</p>" * 50, mtime=0)
    for cut in (wire[:-10], wire[: len(wire) // 2]):
        assert _decode_http_body(cut, "", "gzip") == cut
        rec = warc_record("response", "https://x/1", TS, ["Content-Encoding: gzip"], cut)
        assert parse_warc(rec) == [("https://x/1", TS, cut)]


def test_make_warc_transfer_all_modes_roundtrip():
    payload = b"page body " * 300  # > one chunk
    recs = [
        (f"https://h.example.com/{i}", TS + dt.timedelta(seconds=i), payload, m)
        for i, m in enumerate(["plain", "chunked", "gzip", "chunked+gzip"])
    ]
    data = make_warc_transfer(recs)
    for parsed in (parse_warc(data), parse_warc_http(data)):
        assert len(parsed) == 4
        assert all(rec[2] == payload for rec in parsed)


def test_transfer_deflate_content_encoding():
    import zlib

    payload = b"deflated body"
    assert _decode_http_body(zlib.compress(payload), "", "deflate") == payload
    raw = zlib.compress(payload)[2:-4]  # raw-deflate (no zlib wrapper)
    assert _decode_http_body(raw, "", "deflate") == payload


# ---------------------------------------------------------- surt + spark


SURT_CASES = [
    ("https://www.Example.COM/a/b?b=2&a=1", "com,example)/a/b?a=1&b=2"),
    ("HTTP://EXAMPLE.COM:80/", "com,example)/"),
    ("https://example.com:443", "com,example)/"),
    ("https://sub.example.co.uk/path", "uk,co,example,sub)/path"),
    ("https://www2.example.com/x#frag", "com,example)/x"),
    ("https://example.com/?q=1", "com,example)/?q=1"),
]


def test_surt_key_cases(spark):
    df = spark.createDataFrame([(u,) for u, _ in SURT_CASES], ["url"])
    got = [r.k for r in df.select(surt_key("url").alias("k")).collect()]
    assert got == [k for _, k in SURT_CASES]


def _zipnum_lines(n=25):
    return [f"com,h{i:03d})/p 20240101000000 https://h{i:03d}.com/p"
            for i in range(n)]


def test_pack_zipnum_blocks_and_cluster():
    lines = _zipnum_lines(25)
    blob, cluster = pack_zipnum(lines, block_size=10)
    assert [c[1] for c in cluster] == [0, 1, 2]  # 10+10+5
    assert cluster[0][0] == "com,h000)/p"
    assert cluster[2][0] == "com,h020)/p"
    spans = gzip_member_spans(blob)
    assert [(o, l) for o, l in spans] == [(c[2], c[3]) for c in cluster]
    # block 1 decodes from its slice alone to exactly lines 10..19
    o, l = spans[1]
    text = gzip.decompress(blob[o : o + l]).decode()
    assert text.splitlines() == lines[10:20]


def test_zipnum_lookup_binary_search():
    lines = _zipnum_lines(25)
    blob, cluster = pack_zipnum(lines, block_size=10)
    # middle block, exact key
    assert zipnum_lookup(blob, cluster, "com,h013)/p") == [lines[13]]
    # first line of a block (boundary)
    assert zipnum_lookup(blob, cluster, "com,h010)/p") == [lines[10]]
    # last partial block
    assert zipnum_lookup(blob, cluster, "com,h024)/p") == [lines[24]]
    # key before every block / absent key inside range
    assert zipnum_lookup(blob, cluster, "aaa") == []
    assert zipnum_lookup(blob, cluster, "com,h013)/q") == []


def test_read_zipnum_blocks(spark, tmp_path):
    lines = _zipnum_lines(25)
    blob, _ = pack_zipnum(lines, block_size=10)
    (tmp_path / "part-0.zipnum.gz").write_bytes(blob)
    rows = read_zipnum_blocks(spark, str(tmp_path)).orderBy("block_no").collect()
    assert [(r.block_no, r.n_lines) for r in rows] == [(0, 10), (1, 10), (2, 5)]
    assert rows[0].first_key == "com,h000)/p"
    assert rows[2].last_key == "com,h024)/p"
    assert all(len(r.block_sha) == 64 for r in rows)


def test_read_cdx_entries_and_build_cdx(spark, tmp_path):
    recs, data = _archive(4)
    (tmp_path / "f0.warc.gz").write_bytes(data)
    recs2 = [("https://www.h9.example.com/p?z=2&a=1", TS, b"only one")]
    (tmp_path / "f1.warc.gz").write_bytes(make_warc(recs2, gzip_members=True))

    e = read_cdx_entries(spark, str(tmp_path)).orderBy("filename", "rec_seq")
    rows = e.collect()
    assert [r.url for r in rows] == [r[0] for r in recs] + [recs2[0][0]]
    assert [r.rec_seq for r in rows] == [0, 1, 2, 3, 0]
    assert [bytes(r.html) for r in rows] == [r[2] for r in recs] + [b"only one"]
    spans = gzip_member_spans(data)
    assert [(r.offset, r.length) for r in rows[:4]] == spans


def test_read_zipnum_blocks_skips_non_utf8_block(spark, tmp_path):
    lines = _zipnum_lines(25)
    blob, cluster = pack_zipnum(lines, block_size=10)
    bad = gzip.compress(b"com,bad)/ \xff\xfe not utf-8\n", mtime=0)
    mid = cluster[1][2]
    for name, data in (("clean", blob), ("dirty", blob[:mid] + bad + blob[mid:])):
        (tmp_path / name).mkdir()
        (tmp_path / name / "part-0.zipnum.gz").write_bytes(data)
    clean, dirty = (
        read_zipnum_blocks(spark, str(tmp_path / name)).orderBy("block_no").collect()
        for name in ("clean", "dirty")
    )
    assert [r.block_no for r in dirty] == [0, 2, 3]  # the bad block 1 is skipped
    assert dirty[0] == clean[0]
    cols = ["length", "n_lines", "first_key", "last_key", "block_sha"]
    assert [[r[c] for c in cols] for r in dirty] == [[r[c] for c in cols] for r in clean]


def test_zipnum_lookup_damaged_block_returns_empty():
    lines = _zipnum_lines(25)
    blob, cluster = pack_zipnum(lines, block_size=10)
    _, _, off, ln = cluster[1]
    flipped = bytearray(blob)
    flipped[off + ln // 2] ^= 0xFF  # inside block 1's deflate stream
    bad = gzip.compress(b"com,h010)/p \xff\xfe not utf-8\n", mtime=0)
    non_utf8 = blob[:off] + bad + blob[off + ln :]
    shift = len(bad) - ln
    non_utf8_cluster = [
        (k, b, o + shift if b > 1 else o, len(bad) if b == 1 else l)
        for k, b, o, l in cluster
    ]
    for data, clu in ((bytes(flipped), cluster), (non_utf8, non_utf8_cluster)):
        assert zipnum_lookup(data, clu, "com,h013)/p") == []
        # keys held in the intact blocks are still found
        assert zipnum_lookup(data, clu, "com,h003)/p") == [lines[3]]
        assert zipnum_lookup(data, clu, "com,h024)/p") == [lines[24]]
