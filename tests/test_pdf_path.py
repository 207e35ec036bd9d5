"""PDF layout-analysis path: reading order, block segmentation, routing."""

from __future__ import annotations

import pandas as pd
import pytest

from finetoo_sp_spark.extraction.pdf import (
    extract_pdf_batch,
    make_fake_pdf,
)


@pytest.fixture()
def payload():
    # two pages; fragments deliberately out of reading order
    return make_fake_pdf(
        [
            (0, 300.0, 700.0, "right header"),
            (0, 72.0, 700.0, "left header"),
            (0, 72.0, 600.0, "body paragraph one"),
            (0, 72.0, 590.0, "continues close below"),
            (1, 72.0, 700.0, "second page"),
        ]
    )


def test_reading_order_and_blocks(payload):
    out = extract_pdf_batch(pd.Series(["u"]), pd.Series([payload])).to_pandas()
    r = out.iloc[0]
    # same-y fragments join left->right; y-gap starts a new block; page break too
    assert r["text"] == "left header right header\nbody paragraph one continues close below\nsecond page"
    assert r["n_blocks"] == 3
    assert r["content_chars"] == len(r["text"]) - 2


def test_unknown_binary_yields_empty_not_error():
    out = extract_pdf_batch(pd.Series(["u"]), pd.Series([b"\x89PNG not a pdf"])).to_pandas()
    assert out.iloc[0]["text"] == ""
    assert out.iloc[0]["n_blocks"] == 0


def test_deterministic(payload):
    a = extract_pdf_batch(pd.Series(["u"]), pd.Series([payload]))
    b = extract_pdf_batch(pd.Series(["u"]), pd.Series([payload]))
    assert a.equals(b)


def test_spark_routing_union(spark):
    from finetoo_sp_spark.extraction.pdf import extract_pages_any

    html = b"<html><body><h1>Hello Page</h1><p>" + b"word " * 12 + b"</p></body></html>"
    rows = [
        ("https://a/html", bytearray(html)),
        ("https://b/pdf", bytearray(make_fake_pdf([(0, 10.0, 100.0, "pdf text block")]))),
    ]
    pages = spark.createDataFrame(rows, ["url", "html"])
    out = {r["url"]: r for r in extract_pages_any(pages).collect()}
    assert out["https://b/pdf"]["text"] == "pdf text block"
    assert out["https://a/html"]["text"].startswith("Hello Page")
    assert set(out["https://a/html"].asDict()) == set(out["https://b/pdf"].asDict())


def test_mixed_corpus_resumable_byte_identical(spark, tmp_path):
    """North-star e2e: a corpus with every 5th page as a FAKEPDF layout
    doc runs through the FULL resumable pipeline (routing + lineage +
    manifests) with ZERO byte-identical-text mismatches, including after
    a simulated partial failure (deleted manifests -> resume)."""
    import shutil

    from pyspark.sql import functions as F

    from finetoo_sp_spark.datagen import gen_pages
    from finetoo_sp_spark.extraction.pdf import extract_pages_any
    from finetoo_sp_spark.sources.lineage import run_resumable_extraction

    out_dir = str(tmp_path / "mixed_out")
    pages = gen_pages(spark, 400, partitions=4, pdf_every=5)
    n_pdf = pages.filter(F.startswith(F.col("html"), F.lit(b"%PDF-"))).count()
    assert n_pdf == 400 // 5

    metrics = run_resumable_extraction(
        pages, out_dir, n_buckets=8, extractor=extract_pages_any
    )
    assert metrics["rows_out"] == 400

    result = spark.read.parquet(f"{out_dir}/data")
    joined = result.select("url", "text").join(
        pages.select("url", "expected_text"), "url"
    )
    assert joined.count() == 400
    assert joined.filter(F.col("text") != F.col("expected_text")).count() == 0

    # resume: drop two bucket manifests, re-run, still byte-identical
    for b in (0, 3):
        shutil.rmtree(f"{out_dir}/_manifests/bucket={b}", ignore_errors=True)
    m2 = run_resumable_extraction(
        pages, out_dir, n_buckets=8, extractor=extract_pages_any
    )
    assert m2["buckets_processed"] == 2
    result2 = spark.read.parquet(f"{out_dir}/data")
    j2 = result2.select("url", "text").join(pages.select("url", "expected_text"), "url")
    assert j2.filter(F.col("text") != F.col("expected_text")).count() == 0


def test_real_pdf_roundtrip_through_layout_path():
    """A spec-conformant PDF written by make_real_pdf (Flate content
    stream, xref, Helvetica literal strings) extracts through the SAME
    reading-order/block logic as the fixtures — the real-PDF path is no
    longer a stub."""
    from finetoo_sp_spark.extraction.pdfmini import make_real_pdf

    pdf = make_real_pdf(
        [
            (0, 300.0, 700.0, "right header"),
            (0, 72.0, 700.0, "left header"),
            (0, 72.0, 600.0, "body paragraph one"),
            (0, 72.0, 590.0, "continues close below"),
        ]
    )
    assert pdf.startswith(b"%PDF-1.4")
    out = extract_pdf_batch(pd.Series(["u"]), pd.Series([pdf])).to_pandas()
    r = out.iloc[0]
    assert r["text"] == "left header right header\nbody paragraph one continues close below"
    assert r["n_blocks"] == 2


def test_two_fonts_same_cid_different_glyphs():
    """Per-font CMap tracking: two Type0 fonts in one resource dict map
    the SAME CID (0x0001) to different glyphs; the Tf-tracked decoder
    must resolve each show string through its own font's ToUnicode
    table (the merged table would pick one glyph for both)."""
    from finetoo_sp_spark.extraction.pdfmini import parse_pdf_fragments

    def tounicode(ch: str) -> bytes:
        return (
            b"/CIDInit /ProcSet findresource begin\nbegincmap\n"
            b"1 beginbfchar\n<0001> <%04X>\nendbfchar\nendcmap\n" % ord(ch)
        )

    def stream_obj(num: int, body: bytes) -> bytes:
        return (
            b"%d 0 obj<</Length %d>>stream\n" % (num, len(body))
            + body
            + b"\nendstream endobj\n"
        )

    content = (
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm <0001> Tj ET\n"
        b"BT /F2 12 Tf 1 0 0 1 72 600 Tm <0001> Tj ET\n"
    )
    pdf = (
        b"%PDF-1.7\n"
        b"1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj\n"
        b"2 0 obj<</Type/Pages/Kids[3 0 R]/Count 1>>endobj\n"
        b"3 0 obj<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]"
        b"/Resources<</Font<</F1 4 0 R/F2 5 0 R>>>>/Contents 8 0 R>>endobj\n"
        b"4 0 obj<</Type/Font/Subtype/Type0/BaseFont/FontA"
        b"/Encoding/Identity-H/ToUnicode 6 0 R>>endobj\n"
        b"5 0 obj<</Type/Font/Subtype/Type0/BaseFont/FontB"
        b"/Encoding/Identity-H/ToUnicode 7 0 R>>endobj\n"
        + stream_obj(6, tounicode("A"))
        + stream_obj(7, tounicode("B"))
        + stream_obj(8, content)
        + b"%%EOF\n"
    )
    frags = parse_pdf_fragments(pdf)
    got = {(r.y, r.text) for r in frags.itertuples()}
    assert got == {(700.0, "A"), (600.0, "B")}


def test_reference_model_pdfs_extract():
    """The reference's own 7 CAD PDFs (PDF 1.7, CID fonts + ToUnicode
    CMaps) yield their text through the vendored extractor."""
    import glob
    import os

    pdfs = sorted(glob.glob("/root/reference/binder_test_no_refs/*-Model.pdf"))
    if not pdfs:
        pytest.skip("reference PDFs not present")
    payloads = [open(p, "rb").read() for p in pdfs]
    out = extract_pdf_batch(pd.Series([os.path.basename(p) for p in pdfs]), pd.Series(payloads)).to_pandas()
    assert (out["n_blocks"] > 0).all()
    assert out["text"].str.contains("AS RECORDED").all()


def test_real_pdf_through_resumable_pipeline(spark, tmp_path):
    """One non-FAKEPDF payload end-to-end: real PDFs mixed into an HTML
    corpus, routed by magic through extract_pages_any inside the
    resumable manifest pipeline, with correct extracted text."""
    from pyspark.sql import functions as F

    from finetoo_sp_spark.datagen import gen_pages
    from finetoo_sp_spark.extraction.pdf import extract_pages_any
    from finetoo_sp_spark.extraction.pdfmini import make_real_pdf
    from finetoo_sp_spark.sources.lineage import run_resumable_extraction

    html = gen_pages(spark, 30, partitions=2).select("url", "html", "expected_text")
    real = spark.createDataFrame(
        [
            (
                f"https://pdfs.example.com/doc{i}.pdf",
                bytearray(
                    make_real_pdf(
                        [(0, 72.0, 700.0, f"real pdf {i} heading"),
                         (0, 72.0, 600.0, f"real pdf {i} body text")]
                    )
                ),
                f"real pdf {i} heading\nreal pdf {i} body text",
            )
            for i in range(5)
        ],
        "url string, html binary, expected_text string",
    )
    pages = html.unionByName(real)
    out_dir = str(tmp_path / "realpdf_out")
    m = run_resumable_extraction(
        pages.select("url", "html"), out_dir, n_buckets=8, extractor=extract_pages_any
    )
    assert m["rows_out"] == 35
    got = spark.read.parquet(out_dir)
    joined = got.join(pages.select("url", "expected_text"), "url")
    assert joined.filter(F.col("text") != F.col("expected_text")).count() == 0


def test_objstm_packed_fonts_resolve_per_font():
    """PDF 1.5 layout: font dicts inside a compressed object stream must
    still route per-font ToUnicode tables (the oracle-differentiating
    case: same CID, different glyphs)."""
    from finetoo_sp_spark.extraction.pdfmini import (
        expand_object_streams,
        make_pdf_objstm,
        parse_pdf_fragments,
    )

    pdf = make_pdf_objstm("tail text", glyph_a="Q", glyph_b="W")
    frags = parse_pdf_fragments(pdf)
    assert list(frags["text"]) == ["Q", "W", "tail text"]
    # the expansion is the load-bearing part: it must surface all five
    # packed objects as scannable obj bodies
    exp = expand_object_streams(pdf)
    for marker in (b"1 0 obj", b"4 0 obj", b"5 0 obj", b"/FontA", b"/FontB"):
        assert marker in exp
    # a document with no ObjStm expands to nothing
    from finetoo_sp_spark.extraction.pdfmini import make_real_pdf

    assert expand_object_streams(make_real_pdf([(0, 72.0, 700.0, "x")])) == b""


def test_objstm_malformed_header_degrades_gracefully():
    from finetoo_sp_spark.extraction.pdfmini import (
        expand_object_streams,
        make_pdf_objstm,
    )

    pdf = make_pdf_objstm("y")
    broken = pdf.replace(b"/Type/ObjStm/N 5", b"/Type/ObjStm/N 99")
    assert expand_object_streams(broken) == b""  # short header -> skip


def test_encrypted_objstm_composes():
    """RC4 encryption over the PDF 1.5 layout: decrypt_pdf restores the
    ObjStm plaintext and the expansion + per-font routing still work."""
    from finetoo_sp_spark.extraction.pdfcrypt import decrypt_pdf, encrypt_pdf
    from finetoo_sp_spark.extraction.pdfmini import (
        make_pdf_objstm,
        parse_pdf_fragments,
    )

    enc = encrypt_pdf(make_pdf_objstm("locked tail"), rev=3)
    assert len(parse_pdf_fragments(enc)) == 0
    frags = parse_pdf_fragments(decrypt_pdf(enc))
    assert list(frags["text"]) == ["H", "Z", "locked tail"]


def test_encrypt_bytes_in_content_stream_are_not_encryption(spark):
    """An unencrypted PDF whose (uncompressed) content stream holds the
    bytes ``/Encrypt 5 0 R`` is not an encrypted document: /Encrypt
    counts only in a trailer dictionary, so its text still comes out."""
    import re
    import zlib

    from finetoo_sp_spark.extraction.pdf import extract_pages_any
    from finetoo_sp_spark.extraction.pdfcrypt import decrypt_pdf
    from finetoo_sp_spark.extraction.pdfmini import make_real_pdf

    pdf = make_real_pdf([(0, 72.0, 700.0, "see /Encrypt 5 0 R here"), (0, 72.0, 600.0, "body")])
    m = re.search(rb"<</Length \d+/Filter/FlateDecode>>stream\n(.*?)\nendstream", pdf, re.S)
    content = zlib.decompress(m.group(1))
    pdf = (
        pdf[: m.start()] + b"<</Length %d>>stream\n" % len(content)
        + content + b"\nendstream" + pdf[m.end():]
    )
    assert b"/Encrypt 5 0 R" in pdf
    assert decrypt_pdf(pdf) == pdf
    pages = spark.createDataFrame([("https://p.example/x.pdf", pdf)], "url string, html binary")
    row = extract_pages_any(pages).first()
    assert row["text"] == "see /Encrypt 5 0 R here\nbody"
