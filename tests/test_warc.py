"""WARC source (sources/warc.py): format roundtrip + the full
Common-Crawl-shaped path (WARC archives -> pages -> extraction kernel ->
byte-identical text)."""

from __future__ import annotations

import datetime as dt
import gzip

from pyspark.sql import functions as F

from finetoo_sp_spark.sources.warc import make_warc, parse_warc, read_warc_pages


def test_warc_format_roundtrip_plain_and_gzip():
    recs = [
        ("https://a.example.com/1", dt.datetime(2024, 1, 1, 0, 0, 5), b"<html>one</html>"),
        ("https://b.example.com/2", dt.datetime(2024, 1, 2, 3, 4, 5), b"payload \xc3\xa9"),
    ]
    for gz in (False, True):
        parsed = parse_warc(make_warc(recs, gzip_members=gz))
        assert parsed == recs, f"gzip_members={gz}"


def test_warc_parser_tolerates_garbage():
    good = make_warc([("https://x/1", dt.datetime(2024, 1, 1), b"ok")])
    assert parse_warc(b"\x00garbage" + good)[0][2] == b"ok"
    assert parse_warc(b"not a warc at all") == []
    assert parse_warc(b"\x1f\x8b truncated gzip") == []
    # record with corrupt length header is skipped, later records survive
    broken = good.replace(b"Content-Length: ", b"Content-Length: x", 1) + good
    assert len(parse_warc(broken)) == 1


def test_warc_to_extraction_byte_identical(spark, tmp_path):
    """The north-rule input path end to end: pages land as gzip WARC
    archives, read via binaryFile + the Arrow parse kernel, and the
    extraction output is byte-identical to the expectation."""
    from finetoo_sp_spark.datagen import gen_pages
    from finetoo_sp_spark.extraction.extract import extract_pages

    pages = gen_pages(spark, 60, partitions=3).select("url", "html", "expected_text")
    rows = pages.collect()  # 60 rows: fixture assembly only
    d = tmp_path / "warc"
    d.mkdir()
    for i in range(3):
        recs = [
            (r["url"], dt.datetime(2024, 1, 1, 0, 0, j), bytes(r["html"]))
            for j, r in enumerate(rows[i * 20 : (i + 1) * 20])
        ]
        (d / f"part-{i}.warc.gz").write_bytes(make_warc(recs, gzip_members=True))

    warc_pages = read_warc_pages(spark, str(d))
    assert warc_pages.count() == 60
    out = extract_pages(warc_pages)
    joined = out.join(pages.select("url", "expected_text"), "url")
    assert joined.count() == 60
    assert joined.filter(F.col("text") != F.col("expected_text")).count() == 0


def test_gzip_members_are_individually_decompressible():
    """Common-Crawl invariant: each record is its own gzip member, so a
    byte-range fetch of one member decompresses standalone."""
    recs = [
        ("https://x/1", dt.datetime(2024, 1, 1), b"first"),
        ("https://x/2", dt.datetime(2024, 1, 1), b"second"),
    ]
    blob = make_warc(recs, gzip_members=True)
    # find the second member's start (gzip magic) and decompress it alone
    second = blob.find(b"\x1f\x8b", 2)
    assert second > 0
    alone = parse_warc(gzip.decompress(blob[second:]))
    assert alone == [recs[1]]


def test_wat_roundtrip_hostile_title(spark, tmp_path):
    # Titles with embedded CRLF decoys and JSON-hostile chars survive
    # byte-exactly (Content-Length binds the body; to_json escapes).
    from pyspark.sql import functions as F

    from finetoo_sp_spark.operators.sinks import write_wat
    from finetoo_sp_spark.sources.warc import read_wat_meta

    rows = [
        ("https://a/1", 'ti"tle \\ with WARC/1.0 decoy', ["https://t/1", "https://t/2"]),
        ("https://a/2", "", []),
    ]
    df = spark.createDataFrame(rows, "url string, title string, links array<string>")
    out = str(tmp_path / "wat")
    write_wat(df, out)
    back = read_wat_meta(spark, out + "/*.txt")
    meta = "$['Envelope']['Payload-Metadata']['HTTP-Response-Metadata']['HTML-Metadata']"
    got = {
        r["url"]: (r["t"], r["n"])
        for r in back.select(
            "url",
            F.get_json_object("wat_json", meta + "['Head']['Title']").alias("t"),
            F.json_array_length(F.get_json_object("wat_json", meta + "['Links']")).alias("n"),
        ).collect()
    }
    assert got["https://a/1"] == ('ti"tle \\ with WARC/1.0 decoy', 2)
    assert got["https://a/2"][1] in (0, None)  # empty links list
    # Header URI matches the envelope URI.
    env = {
        r["url"]: r["e"]
        for r in back.select(
            "url",
            F.get_json_object(
                "wat_json", "$['Envelope']['WARC-Header-Metadata']['WARC-Target-URI']"
            ).alias("e"),
        ).collect()
    }
    assert env == {u: u for u in env}


def test_warc_revisit_roundtrip_and_resolution(spark, tmp_path):
    """IIPC identical-payload-digest revisits: the revisit record stores
    only pointers; read_warc_resolved joins it back to the original
    capture's payload and validates the stored digest."""
    import hashlib

    from finetoo_sp_spark.sources.warc import (
        make_warc_mixed,
        parse_warc,
        parse_warc_revisits,
        read_warc_resolved,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    t1 = dt.datetime(2024, 1, 2, 0, 0, 0)
    payload = b"<html>original</html>"
    good = "sha256:" + hashlib.sha256(payload).hexdigest()
    bad = "sha256:" + hashlib.sha256(payload + b"!").hexdigest()
    recs = [
        ("response", "https://a/1", t0, payload),
        ("revisit", "https://a/1b", t1, "https://a/1", t0, good),
        ("revisit", "https://a/1c", t1, "https://a/1", t0, bad),
        ("revisit", "https://a/1d", t1, "https://gone/x", t0, good),
    ]
    for gz in (False, True):
        blob = make_warc_mixed(recs, gzip_members=gz)
        # response reader never sees revisits; revisit reader never
        # sees responses
        assert [u for u, _, _ in parse_warc(blob)] == ["https://a/1"]
        revs = parse_warc_revisits(blob)
        assert [(r[0], r[2], r[4]) for r in revs] == [
            ("https://a/1b", "https://a/1", good),
            ("https://a/1c", "https://a/1", bad),
            ("https://a/1d", "https://gone/x", good),
        ]
        assert all(r[1] == t1 and r[3] == t0 for r in revs)

    d = tmp_path / "warc"
    d.mkdir()
    (d / "f.warc.gz").write_bytes(make_warc_mixed(recs, gzip_members=True))
    got = {
        r["url"]: (bytes(r["html"]), r["is_revisit"], r["digest_ok"])
        for r in read_warc_resolved(spark, str(d)).collect()
    }
    # unresolvable revisit (original not in corpus) is dropped
    assert set(got) == {"https://a/1", "https://a/1b", "https://a/1c"}
    assert got["https://a/1"] == (payload, False, True)
    assert got["https://a/1b"] == (payload, True, True)
    assert got["https://a/1c"] == (payload, True, False)


def test_warc_record_content_type_uses_semicolon_parameter():
    # ISO 28500 / WARC 1.0: the record Content-Type parameter separator
    # is a semicolon ('application/http;msgtype=response'); a colon
    # makes archives malformed for warcio/CC tooling.
    from finetoo_sp_spark.sources.warc import make_warc_http

    blob = make_warc([("https://x/1", dt.datetime(2024, 1, 1), b"ok")])
    assert b"Content-Type: application/http;msgtype=response" in blob
    assert b"http:msgtype" not in blob
    blob2 = make_warc_http(
        [("https://x/1", dt.datetime(2024, 1, 1), b"ok", "text/html")]
    )
    assert b"Content-Type: application/http;msgtype=response" in blob2
    assert b"http:msgtype" not in blob2


# ------------------------------------------------------- damaged archives
#
# A damaged gzip member or record costs only itself, and nothing raises.
# Each parser is checked on its own fixture: 3 records, one gzip member
# each.

T0 = dt.datetime(2024, 1, 1)


def _damage_fixtures(gz: bool = True):
    """(parser, expected records, archive) for the three public parsers."""
    from finetoo_sp_spark.sources.warc import (
        make_warc_mixed,
        parse_warc_http,
        parse_warc_revisits,
    )

    pages = [
        (f"https://d.example/{i}", T0 + dt.timedelta(seconds=i), f"<p>payload number {i}</p>".encode())
        for i in range(3)
    ]
    revisits = [
        ("revisit", f"https://r.example/{i}", T0, f"https://o.example/{i}", T0, f"sha256:{i:064x}")
        for i in range(3)
    ]
    blob = make_warc(pages, gzip_members=gz)
    return [
        (parse_warc, pages, blob),
        (parse_warc_http, [(*p, "", "") for p in pages], blob),
        (parse_warc_revisits, [r[1:] for r in revisits], make_warc_mixed(revisits, gzip_members=gz)),
    ]


def test_truncated_final_member_keeps_complete_members():
    from finetoo_sp_spark.sources.cdx import gzip_member_spans

    for parse, recs, blob in _damage_fixtures():
        last = gzip_member_spans(blob)[-1][0]
        for cut in (last + 1, last + 12, (last + len(blob)) // 2, len(blob) - 1):
            assert parse(blob[:cut]) == recs[:2], (parse.__name__, cut)


def test_garbage_tail_keeps_every_record():
    for parse, recs, blob in _damage_fixtures():
        assert parse(blob + b"garbage!!") == recs, parse.__name__


def test_flipped_byte_costs_only_its_member():
    from finetoo_sp_spark.sources.cdx import gzip_member_spans

    for parse, recs, blob in _damage_fixtures():
        off, ln = gzip_member_spans(blob)[1]
        for i in range(off, off + ln):
            bad = bytearray(blob)
            bad[i] ^= 0x55
            got = parse(bytes(bad))
            assert recs[0] in got and recs[2] in got, (parse.__name__, i - off)
            assert set(got) <= set(recs), (parse.__name__, i - off)


def test_plain_archive_cut_mid_record_drops_the_short_record():
    _, pages, blob = _damage_fixtures(gz=False)[0]
    cut = blob.rindex(pages[2][2]) + len(b"<p>payload n")
    assert parse_warc(blob[:cut]) == pages[:2]
    # no cut point emits a record with fewer body bytes than its
    # Content-Length: every output is a prefix of the whole archive's
    for parse, recs, plain in _damage_fixtures(gz=False):
        for cut in range(len(plain) + 1):
            got = parse(plain[:cut])
            assert got == recs[: len(got)], (parse.__name__, cut)


def test_negative_content_length_is_skipped():
    good = make_warc([("https://x/1", dt.datetime(2024, 1, 1), b"ok")])
    bad = good.replace(b"Content-Length: ", b"Content-Length: -999", 1)
    assert parse_warc(bad + good) == parse_warc(good)


def test_gzip_members_have_zero_mtime():
    from finetoo_sp_spark.sources.cdx import gzip_member_spans

    for _parse, _recs, blob in _damage_fixtures():
        spans = gzip_member_spans(blob)
        assert len(spans) == 3
        assert all(blob[off + 4 : off + 8] == b"\0\0\0\0" for off, _ in spans)


def test_sources_have_one_record_walker_and_one_archive_scan():
    """Within sources/, only the record walker searches for b"WARC/" and
    only the archive scan calls format("binaryFile"): a private walker or
    a hand-written binaryFile loop must not come back."""
    import ast
    from pathlib import Path

    import finetoo_sp_spark.sources as pkg

    def is_warc_search(n: ast.AST) -> bool:
        return isinstance(n, ast.Constant) and isinstance(n.value, bytes) and n.value.startswith(b"WARC/")

    def is_binary_file_scan(n: ast.AST) -> bool:
        return (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "format"
            and any(isinstance(a, ast.Constant) and a.value == "binaryFile" for a in n.args)
        )

    found = {is_warc_search: [], is_binary_file_scan: []}
    for path in sorted(Path(pkg.__file__).parent.glob("*.py")):
        tree = ast.parse(path.read_text())
        funcs = [f for f in ast.walk(tree) if isinstance(f, (ast.FunctionDef, ast.Lambda))]
        for n in ast.walk(tree):
            for check, hits in found.items():
                if check(n):
                    owners = [f for f in funcs if f.lineno <= n.lineno <= f.end_lineno]
                    inner = min(owners, key=lambda f: f.end_lineno - f.lineno, default=None)
                    hits.append(f"{path.name}:{getattr(inner, 'name', '<module>')}")
    assert found[is_warc_search] == ["warc.py:_records"]
    assert found[is_binary_file_scan] == ["warc.py:scan_archives"]
