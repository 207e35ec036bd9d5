"""JSON-LD structured-data extraction (extraction/jsonld.py)."""

from finetoo_sp_spark.extraction.jsonld import extract_jsonld


def test_blob_lift_and_decoy_scripts(spark):
    html = (
        '<html><head><script>var x=1;</script>'
        '<script type="application/ld+json">{"@type":"Order","n":7}</script>'
        "<script type = 'application/ld+json'>{\"@type\":\"Product\"}</script>"
        "</head><body></body></html>"
    )
    df = spark.createDataFrame([("u", html)], "url string, html string")
    out = sorted(map(tuple, extract_jsonld(df).collect()))
    assert out == [
        ("u", 0, '{"@type":"Order","n":7}'),
        ("u", 1, '{"@type":"Product"}'),
    ]


def test_typed_fields_and_malformed_blob_yields_nulls(spark):
    rows = [
        ("u1", '<script type="application/ld+json">{"@type":"A","p":1.5}</script>'),
        ("u2", '<script type="application/ld+json">not json</script>'),
        ("u3", "<p>no blobs</p>"),
    ]
    df = spark.createDataFrame(rows, "url string, html string")
    out = extract_jsonld(df, fields={"otype": "$['@type']", "p": "$.p"})
    got = {r["url"]: (r["otype"], r["p"]) for r in out.collect()}
    # u2 survives with NULL fields (dirty-data-safe); u3 contributes nothing
    assert got == {"u1": ("A", "1.5"), "u2": (None, None)}


def test_binary_html_input(spark):
    html = '<script type="application/ld+json">{"k":"v"}</script>'
    df = spark.createDataFrame(
        [("u", html.encode("utf-8"))], "url string, html binary"
    )
    assert [tuple(r) for r in extract_jsonld(df).collect()] == [
        ("u", 0, '{"k":"v"}')
    ]


def test_meta_refresh_shapes(spark):
    """All real-world refresh shapes: bare delay, absolute url,
    relative url resolved against the page, mixed quoting, decoys."""
    from finetoo_sp_spark.extraction.meta import meta_refresh

    rows = [
        ("https://a.example/p/1", '<meta http-equiv="refresh" content="0;url=https://b.example/x">'),
        ("https://a.example/d/2", "<meta http-equiv=refresh content=\"5; URL='../up/y'\">"),
        ("https://a.example/3", '<meta http-equiv="Refresh" content="30">'),
        ("https://a.example/4", '<meta http-equiv="content-type" content="text/html">'),
        ("https://a.example/5", "plain page, no meta at all"),
    ]
    out = {
        r["url"]: (r["delay_s"], r["target"])
        for r in meta_refresh(
            spark.createDataFrame(rows, "url string, html string")
        ).collect()
    }
    assert out["https://a.example/p/1"] == (0, "https://b.example/x")
    assert out["https://a.example/d/2"] == (5, "https://a.example/up/y")
    assert out["https://a.example/3"] == (30, None)
    assert "https://a.example/4" not in out and "https://a.example/5" not in out


def test_subtitle_parser_shapes(spark):
    """WebVTT with header/settings/bare-mm:ss timestamps, SRT with
    counters and comma milliseconds, multi-line text, decoys."""
    from finetoo_sp_spark.extraction.subtitles import parse_subtitles

    vtt = (
        "WEBVTT\n\n"
        "00:01.500 --> 00:04.000 align:start\nShort stamp\n\n"
        "01:02:03.250 --> 01:02:04.000\nLine one\nLine two\n\n"
        "NOTE this block has no timing and must not emit\n"
    )
    srt = "2\n00:00:01,000 --> 00:00:02,500\nSRT text\n"
    rows = parse_subtitles(
        spark.createDataFrame(
            [("https://v.example/a.vtt", vtt), ("https://v.example/b.srt", srt)],
            "url string, body string",
        )
    ).collect()
    by = {(r["url"], r["block_pos"]): r for r in rows}
    assert len(rows) == 3
    a1 = by[("https://v.example/a.vtt", 1)]
    assert (a1["start_ms"], a1["end_ms"], a1["text"]) == (1500, 4000, "Short stamp")
    a2 = by[("https://v.example/a.vtt", 2)]
    assert (a2["start_ms"], a2["end_ms"]) == (3723250, 3724000)
    assert a2["text"] == "Line one\nLine two"
    b0 = by[("https://v.example/b.srt", 0)]
    assert (b0["start_ms"], b0["end_ms"], b0["text"]) == (1000, 2500, "SRT text")


def test_hls_parser_shapes(spark):
    from finetoo_sp_spark.sources.hls import parse_hls

    master = (
        "#EXTM3U\n#EXT-X-VERSION:4\n"
        "#EXT-X-STREAM-INF:RESOLUTION=1280x720,BANDWIDTH=1500000\n"
        "hd/index.m3u8\n"
        "#EXT-X-STREAM-INF:BANDWIDTH=500000\n"  # no resolution attr
        "sd/index.m3u8\n"
    )
    media = (
        "#EXTM3U\n#EXT-X-TARGETDURATION:8\n"
        "#EXTINF:7.5,\nseg0.ts\n"
        "#EXTINF:8,\nseg1.ts\n"  # integer seconds, no fraction
        "#EXT-X-ENDLIST\n"
    )
    rows = parse_hls(
        spark.createDataFrame(
            [("https://h.example/m.m3u8", master), ("https://h.example/p.m3u8", media)],
            "url string, body string",
        )
    ).collect()
    by = {(r["url"], r["pos"]): r for r in rows}
    hd = by[("https://h.example/m.m3u8", 0)]
    assert (hd["kind"], hd["item_uri"], hd["bandwidth"], hd["width"], hd["height"]) == (
        "variant", "hd/index.m3u8", 1500000, 1280, 720
    )
    sd = by[("https://h.example/m.m3u8", 1)]
    assert sd["width"] is None and sd["bandwidth"] == 500000
    s0 = by[("https://h.example/p.m3u8", 0)]
    assert (s0["kind"], s0["item_uri"], s0["duration_ms"]) == ("segment", "seg0.ts", 7500)
    assert by[("https://h.example/p.m3u8", 1)]["duration_ms"] == 8000


def test_hls_uri_after_byterange_and_blank_line(spark):
    """RFC 8216: the URI is the next non-tag, non-blank line after the
    item tag, not the line right after it."""
    from finetoo_sp_spark.sources.hls import parse_hls

    media = (
        "#EXTM3U\n#EXT-X-TARGETDURATION:8\n"
        "#EXTINF:6.25,\n#EXT-X-BYTERANGE:1000@0\n\nmain.ts\n"
        "#EXTINF:4,\n\n#EXT-X-DISCONTINUITY\nnext.ts\n"
        "#EXTINF:2,\n#EXT-X-ENDLIST\n"  # no URI: dropped
    )
    rows = parse_hls(
        spark.createDataFrame([("https://h.example/b.m3u8", media)], "url string, body string")
    ).orderBy("pos").collect()
    assert [(r["pos"], r["item_uri"], r["duration_ms"]) for r in rows] == [
        (0, "main.ts", 6250),
        (1, "next.ts", 4000),
    ]


def test_asset_discovery_shapes(spark):
    """SVG units, srcset descriptor edge cases, CSS data:-exclusion."""
    from finetoo_sp_spark.extraction.assets import (
        css_asset_urls,
        srcset_candidates,
        svg_meta,
    )

    svg_rows = [
        ("https://a.example/1.svg", '<svg width="42px" height="7"><text>ab</text></svg>'),
        ("https://a.example/2.svg", '<svg width="3em" viewBox="0,0,640,480"></svg>'),
        ("https://a.example/3.svg", "not svg at all"),
    ]
    out = {r["url"]: r for r in svg_meta(
        spark.createDataFrame(svg_rows, "url string, body string")).collect()}
    assert len(out) == 2
    r1 = out["https://a.example/1.svg"]
    assert (r1["width"], r1["height"], r1["text_chars"]) == (42, 7, 2)
    r2 = out["https://a.example/2.svg"]
    assert r2["width"] is None and (r2["vb_width"], r2["vb_height"]) == (640, 480)

    pages = [("https://a.example/dir/p.html",
              '<img srcset="x.png, /y.png 2x , z.png 300w">')]
    cands = {r["cand_idx"]: r for r in srcset_candidates(
        spark.createDataFrame(pages, "url string, html string")).collect()}
    assert cands[0]["asset_url"] == "https://a.example/dir/x.png"
    assert (cands[0]["descriptor"], cands[0]["density_centi"]) == ("", 100)
    assert cands[1]["asset_url"] == "https://a.example/y.png"
    assert cands[1]["density_centi"] == 200
    assert (cands[2]["descriptor"], cands[2]["width_px"]) == ("w", 300)

    css = [("https://a.example/s/m.css",
            "a{background:url(data:image/gif;base64,R0)} "
            "b{src:url(../f.woff)} @import 'x.css';")]
    refs = {r["ref_idx"]: r for r in css_asset_urls(
        spark.createDataFrame(css, "url string, body string")).collect()}
    assert len(refs) == 2  # data: excluded before indexing
    assert refs[0]["asset_url"] == "https://a.example/f.woff"
    assert (refs[1]["asset_url"], refs[1]["via"]) == ("https://a.example/s/x.css", "import")
