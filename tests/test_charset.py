"""Charset sniffing + decode: hand-pinned byte fixtures (independent
of datagen's case table) plus the Spark plumbing."""

import pandas as pd

from finetoo_sp_spark.extraction.charset import (
    decode_pages,
    sniff_decode_pandas,
)


def _one(payload):
    out = sniff_decode_pandas(pd.Series([payload]))
    r = out.iloc[0]
    return r["charset"], r["charset_src"], r["text"]


def test_meta_charset_forms():
    # <meta charset=...> form, uppercase label.
    assert _one(b'<html><meta charset="UTF-8"><body>\xc3\xa9') == (
        "utf-8", "meta", '<html><meta charset="UTF-8"><body>\u00e9'
    )
    # http-equiv content-type form.
    cs, src, text = _one(
        b'<meta http-equiv="Content-Type" '
        b'content="text/html; charset=Shift_JIS"><p>\x83e\x83X\x83g'
    )
    assert (cs, src) == ("shift_jis", "meta")
    assert text.endswith("<p>\u30c6\u30b9\u30c8")
    # Unquoted label.
    assert _one(b"<meta charset=gb2312>\xd6\xd0")[0] == "gbk"
    assert _one(b"<meta charset=gb2312>\xd6\xd0")[2].endswith("\u4e2d")


def test_alias_normalization_and_fallback():
    # iso-8859-1 label, cp1252-only curly-quote bytes: the WHATWG
    # label->windows-1252 mapping is what makes 0x93/0x94 decode.
    cs, _, text = _one(b'<meta charset="iso-8859-1">\x93hi\x94')
    assert cs == "windows-1252"
    assert text.endswith("\u201chi\u201d")
    # Unknown label falls back (and reports 'default').
    assert _one(b'<meta charset="x-no-such-enc">\xe9') == (
        "windows-1252", "default", '<meta charset="x-no-such-enc">\u00e9'
    )
    # No declaration at all.
    assert _one(b"plain \xe9 text") == (
        "windows-1252", "default", "plain \u00e9 text"
    )


def test_boms_win_and_strip():
    # utf-8 BOM beats a CONFLICTING meta (spec priority), BOM stripped.
    cs, src, text = _one(b'\xef\xbb\xbf<meta charset="shift_jis">\xc3\xa9')
    assert (cs, src) == ("utf-8", "bom")
    assert text == '<meta charset="shift_jis">\u00e9'
    # utf-16 little and big endian.
    assert _one(b"\xff\xfe" + "hi \u03c0".encode("utf-16-le")) == (
        "utf-16-le", "bom", "hi \u03c0"
    )
    assert _one(b"\xfe\xff" + "hi \u03c0".encode("utf-16-be")) == (
        "utf-16-be", "bom", "hi \u03c0"
    )


def test_dirty_payloads_never_fatal():
    out = sniff_decode_pandas(
        pd.Series([None, b"", b"\xff\xfeodd byte count\x00!", b"\x81\x8d"])
    )
    assert out["text"].iloc[0] is None
    assert out["text"].iloc[1] == ""
    assert isinstance(out["text"].iloc[2], str)  # replace, not raise
    # cp1252's five unmapped bytes -> U+FFFD, row survives.
    assert out["text"].iloc[3] == "\ufffd\ufffd"


def test_prescan_window_is_1024_bytes():
    far_meta = b" " * 1100 + b'<meta charset="shift_jis">'
    assert _one(far_meta)[0] == "windows-1252"  # declaration out of window
    near_meta = b" " * 900 + b'<meta charset="shift_jis">'
    assert _one(near_meta)[0] == "shift_jis"


def test_decode_pages_spark(spark):
    from finetoo_sp_spark.datagen import (
        CHARSET_PAGES_SCHEMA,
        charset_page_text,
        gen_assets,
        gen_charset_pandas,
    )

    pages = gen_assets(spark, gen_charset_pandas, 14, schema=CHARSET_PAGES_SCHEMA)
    got = {
        r["page_id"]: (r["charset"], r["charset_src"], r["text"])
        for r in decode_pages(pages, passthrough=("page_id",)).collect()
    }
    assert len(got) == 14
    for i in range(14):
        assert got[i][2] == charset_page_text(i)
    assert got[1][0] == "windows-1252" and got[1][1] == "meta"
    assert got[5][0] == "utf-16-le" and got[5][1] == "bom"
    assert got[6][1] == "default"


def test_transport_layer_priority():
    import pandas as pd

    # HTTP label sits between BOM and meta (WHATWG order).
    html = pd.Series([
        b'<meta charset="utf-8">\x83e',          # meta lies; http wins
        b'<meta charset="shift_jis">\x83e',      # no http; meta wins
        b"\xef\xbb\xbfplain \xc3\xa9",           # BOM beats http
        b"plain \xe9",                           # unknown http -> default
    ])
    http = pd.Series(["shift_jis", None, "iso-8859-1", "x-nope"])
    out = sniff_decode_pandas(html, http)
    assert list(out["charset"]) == [
        "shift_jis", "shift_jis", "utf-8", "windows-1252"
    ]
    assert list(out["charset_src"]) == ["http", "meta", "bom", "default"]
    assert out["text"].iloc[0].endswith("\u30c6")
    assert out["text"].iloc[2] == "plain \u00e9"


def test_parse_warc_http_label_extraction():
    import datetime as dt

    from finetoo_sp_spark.sources.warc import make_warc_http, parse_warc_http

    recs = [
        ("https://a/1", dt.datetime(2024, 1, 1), b"x", 'text/html; charset="Shift_JIS"'),
        ("https://a/2", dt.datetime(2024, 1, 1), b"y", "text/html"),
    ]
    got = parse_warc_http(make_warc_http(recs))
    assert [(u, lab, xr) for u, _t, _p, lab, xr in got] == [
        ("https://a/1", "shift_jis", ""), ("https://a/2", "", "")
    ]


def test_meta_utf16_label_is_treated_as_utf8():
    import pandas as pd

    # WHATWG prescan: an in-document utf-16/utf-16le/utf-16be label is
    # remapped to utf-8 (a label readable in the ASCII prescan cannot
    # be genuine UTF-16).  The transport layer keeps the real mapping.
    body = "caf\u00e9 \u2713".encode("utf-8")
    html = pd.Series([
        b'<meta charset="utf-16">' + body,
        b'<meta charset="UTF-16LE">' + body,
        b'<meta charset="utf-16be">' + body,
    ])
    out = sniff_decode_pandas(html)
    assert list(out["charset"]) == ["utf-8"] * 3
    assert list(out["charset_src"]) == ["meta"] * 3
    assert out["text"].iloc[0].endswith("caf\u00e9 \u2713")
    # Transport-label layer unchanged: utf-16 label still decodes LE.
    t_payload = "hi".encode("utf-16-le")
    out2 = sniff_decode_pandas(
        pd.Series([t_payload]), pd.Series(["utf-16"])
    )
    assert list(out2["charset"]) == ["utf-16-le"]
    assert out2["text"].iloc[0] == "hi"


def test_parse_warc_http_multiple_x_robots_headers_accumulate():
    from finetoo_sp_spark.sources.warc import _CRLF, parse_warc_http

    body = b"<html>page</html>"
    http = _CRLF.join([
        b"HTTP/1.1 200 OK",
        b"Content-Type: text/html",
        b"X-Robots-Tag: noindex",
        b"X-Robots-Tag: NOAI",
        f"Content-Length: {len(body)}".encode(),
    ]) + _CRLF + _CRLF + body
    warc = (
        b"WARC/1.0" + _CRLF
        + b"WARC-Type: response" + _CRLF
        + b"WARC-Target-URI: https://cdn.example.com/x" + _CRLF
        + b"WARC-Date: 2024-01-01T00:00:00Z" + _CRLF
        + f"Content-Length: {len(http)}".encode() + _CRLF
        + _CRLF + http + _CRLF + _CRLF
    )
    (url, _ts, payload, _lab, xr), = parse_warc_http(warc)
    assert url == "https://cdn.example.com/x"
    assert payload == body
    # RFC 9110 5.3: repeated field lines == one comma-joined list.
    assert xr == "noindex, noai"
