"""Minimal pure-stdlib real-PDF text extractor (zlib + re only).

Closes the real-PDF seam without pdfminer: enough of ISO 32000 to pull
positioned text fragments out of the PDF shapes the reference ships
(binder_test_no_refs/*-Model.pdf: PDF 1.7, FlateDecode content streams,
BT/ET text blocks, Tm/Td positioning, literal + hex show strings, Type0
fonts with Identity-H encoding resolved through ToUnicode bfchar /
bfrange CMaps) and the shapes our own datagen writes (make_real_pdf:
classic Helvetica + literal strings).

Deliberate simplifications, documented:
- object graph: streams are located by scanning ``stream``/``endstream``
  framing rather than parsing the xref table (robust to the incremental
  updates and broken offsets common in web-crawled PDFs);
- fonts: per-font ToUnicode CMaps are resolved through the resource
  chain (/Font dict -> font object -> /ToUnicode stream) and selected
  by tracking the active ``Tf`` font in content streams, so two fonts
  assigning the same CID to different glyphs decode correctly; when the
  chain cannot be resolved (broken refs, inline font dicts) the decoder
  falls back to the merged all-fonts table — fewer correct glyphs,
  never an exception;
- positioning: Tm sets (x, y) from its translation part, Td/TD
  accumulate; kerning/char-spacing effects on position are ignored
  (fragment granularity is the show-op, reading order only needs
  relative block positions);
- each text-bearing content stream is one "page" in stream order.

Anything outside this subset degrades to fewer fragments, never an
exception — at 10^12 documents a malformed payload must not kill a
task (the caller additionally guards with try/except).
"""

from __future__ import annotations

import re
import zlib

import pandas as pd

_STREAM_RE = re.compile(rb"stream\r?\n")
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEXPAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_RANGE3_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")

# content-stream tokens: literal string | hex string | array delims |
# number | name | operator
_TOKEN_RE = re.compile(
    rb"(\((?:\\.|[^\\()])*\))"
    rb"|(<[0-9A-Fa-f\s]*>)"
    rb"|([\[\]])"
    rb"|([-+]?[0-9]*\.?[0-9]+)"
    rb"|(/[^\s/\[\]()<>{}%]*)"
    rb"|([A-Za-z'\"*]+)"
)

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _inflate(blob: bytes) -> bytes:
    """FlateDecode if the blob decompresses, else the raw bytes."""
    for candidate in (blob, blob.rstrip(b"\r\n")):
        try:
            return zlib.decompress(candidate)
        except zlib.error:
            continue
    return blob


def _decoded_streams(data: bytes) -> list[bytes]:
    out = []
    for m in _STREAM_RE.finditer(data):
        start = m.end()
        end = data.find(b"endstream", start)
        if end < 0:
            continue
        out.append(_inflate(data[start:end]))
    return out


_OBJ_RE = re.compile(rb"(\d+)\s+0\s+obj(.*?)endobj", re.S)
_FONTDICT_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.S)
_FONTREF_RE = re.compile(rb"/([^\s/\[\]()<>{}%]+)\s+(\d+)\s+0\s+R")
_TOUNI_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+0\s+R")


def _font_cmaps(data: bytes) -> dict[str, dict[int, str]]:
    """resource-name -> ToUnicode table, resolved through the object
    graph: every /Font<<...>> resource dict's ``/Fn N 0 R`` entries lead
    to font objects whose /ToUnicode stream parses as that font's CMap.
    Fonts without a resolvable chain simply don't appear (the caller
    falls back to the merged table)."""
    objs = {int(n): body for n, body in _OBJ_RE.findall(data)}

    def stream_of(num: int) -> bytes:
        body = objs.get(num, b"")
        m = _STREAM_RE.search(body)
        if not m:
            return b""
        end = body.find(b"endstream", m.end())
        return _inflate(body[m.end() : end if end >= 0 else len(body)])

    name2cmap: dict[str, dict[int, str]] = {}
    for fd in _FONTDICT_RE.finditer(data):
        for name, num in _FONTREF_RE.findall(fd.group(1)):
            tu = _TOUNI_RE.search(objs.get(int(num), b""))
            if not tu:
                continue
            cm = _collect_cmap([stream_of(int(tu.group(1)))])
            if cm:
                name2cmap.setdefault(name.decode("latin-1"), {}).update(cm)
    return name2cmap


def _collect_cmap(chunks: list[bytes]) -> dict[int, str]:
    """Merged ToUnicode table from every bfchar/bfrange section found in
    the raw file or any decoded stream (UTF-16BE targets)."""
    cmap: dict[int, str] = {}

    def utf16(h: bytes) -> str:
        try:
            return bytes.fromhex(h.decode()).decode("utf-16-be", "ignore")
        except ValueError:
            return ""

    for chunk in chunks:
        for m in _BFCHAR_RE.finditer(chunk):
            for src, dst in _HEXPAIR_RE.findall(m.group(1)):
                cmap[int(src, 16)] = utf16(dst)
        for m in _BFRANGE_RE.finditer(chunk):
            for lo, hi, dst in _RANGE3_RE.findall(m.group(1)):
                lo_i, hi_i = int(lo, 16), int(hi, 16)
                base = int(dst, 16)
                for k in range(min(hi_i - lo_i, 0xFFFF) + 1):
                    cmap[lo_i + k] = chr(base + k)
    return cmap


def _unescape_literal(raw: bytes) -> str:
    out = bytearray()
    i = 0
    while i < len(raw):
        b = raw[i : i + 1]
        if b == b"\\" and i + 1 < len(raw):
            nxt = raw[i + 1 : i + 2]
            if nxt in b"01234567":  # octal escape, up to 3 octal digits
                j = i + 1
                while j < min(i + 4, len(raw)) and raw[j : j + 1] in b"01234567":
                    j += 1
                out.append(int(raw[i + 1 : j], 8) & 0xFF)
                i = j
                continue
            out += _ESCAPES.get(nxt, nxt)
            i += 2
            continue
        out += b
        i += 1
    return out.decode("latin-1")


def _decode_hex_string(hexdigits: str, cmap: dict[int, str]) -> str:
    h = re.sub(r"\s", "", hexdigits)
    if len(h) % 2:
        h += "0"  # spec: odd final digit pads with 0
    if cmap and len(h) % 4 == 0:
        # 2-byte CIDs through the ToUnicode table; keep the mapping only
        # if it explains most codes, else fall back to 1-byte latin
        cids = [int(h[i : i + 4], 16) for i in range(0, len(h), 4)]
        mapped = [cmap.get(c) for c in cids]
        if cids and sum(m is not None for m in mapped) >= max(1, len(cids) // 2):
            return "".join(m or "" for m in mapped)
    return bytes.fromhex(h).decode("latin-1")


def _mostly_printable(text: str) -> bool:
    """Guard against accidental BT..ET byte runs inside binary streams:
    real show-strings are overwhelmingly (>= 80%) printable."""
    if not text:
        return False
    ok = sum(c.isprintable() or c in "\n\t" for c in text)
    return ok / len(text) >= 0.8


_OBJSTM_RE = re.compile(rb"/Type\s*/ObjStm")
_N_RE = re.compile(rb"/N\s+(\d+)")
_FIRST_RE = re.compile(rb"/First\s+(\d+)")


def expand_object_streams(data: bytes) -> bytes:
    """PDF 1.5 compressed object streams (ISO 32000 §7.5.7), expanded
    back into ``N 0 obj … endobj`` text so the regex-framed object scan
    sees them. Real crawled PDFs routinely pack font/resource/page
    dicts into a Flate ObjStm (only non-stream objects are allowed
    there) — without this, per-font ToUnicode routing silently falls
    back to the merged table. Returns the expansion blob (empty when
    the document has no object streams); callers append it to the
    document before scanning. Malformed object streams contribute
    nothing, never raise."""
    out = []
    for m in _OBJ_RE.finditer(data):
        body = m.group(2)
        sm = _STREAM_RE.search(body)
        if not sm or not _OBJSTM_RE.search(body[: sm.start()]):
            continue
        n_m, first_m = _N_RE.search(body[: sm.start()]), _FIRST_RE.search(
            body[: sm.start()]
        )
        if not n_m or not first_m:
            continue
        end = body.find(b"endstream", sm.end())
        content = _inflate(body[sm.end() : end if end >= 0 else len(body)])
        n, first = int(n_m.group(1)), int(first_m.group(1))
        header = content[:first].split()
        if len(header) < 2 * n:
            continue
        pairs = [
            (int(header[2 * k]), int(header[2 * k + 1])) for k in range(n)
        ]
        for k, (num, off) in enumerate(pairs):
            stop = pairs[k + 1][1] if k + 1 < n else len(content) - first
            objbody = content[first + off : first + stop]
            out.append(b"%d 0 obj" % num + objbody.strip() + b" endobj\n")
    return b"".join(out)


def parse_pdf_fragments(payload: bytes) -> pd.DataFrame:
    """(page, x, y, text) fragments from a real PDF payload — the same
    frame shape as the FAKEPDF parser and the pdfminer path, so the
    downstream reading-order/block logic is shared by all three."""
    expansion = expand_object_streams(payload)
    if expansion:
        # appended, not inlined: offsets of every existing object hold,
        # and the expansion carries no streams (ObjStm objects cannot),
        # so the stream scan below is unaffected
        payload = payload + b"\n" + expansion
    streams = _decoded_streams(payload)
    merged_cmap = _collect_cmap([payload, *streams])
    per_font = _font_cmaps(payload)

    rows = []
    page = -1
    cmap = merged_cmap  # active table; Tf switches it when resolvable
    for s in streams:
        # only the spans between BT..ET are text objects; tokenizing the
        # whole stream would read accidental parens inside binary font
        # programs (which can also contain 'BT'/'Tj' byte runs) as text
        spans = re.findall(rb"\bBT\b(.*?)\bET\b", s, re.S)
        spans = [sp for sp in spans if b"Tj" in sp or b"TJ" in sp or b"'" in sp]
        if not spans:
            continue
        page += 1
        x = y = 0.0
        operands: list = []
        in_array = False
        array_text: list[str] = []
        for m in _TOKEN_RE.finditer(b"\n".join(spans)):
            lit, hexs, bracket, num, name, op = m.groups()
            if lit is not None:
                txt = _unescape_literal(lit[1:-1])
                if in_array:
                    array_text.append(txt)
                else:
                    operands.append(("str", txt))
            elif hexs is not None:
                txt = _decode_hex_string(hexs[1:-1].decode("ascii", "ignore"), cmap)
                if in_array:
                    array_text.append(txt)
                else:
                    operands.append(("str", txt))
            elif bracket is not None:
                if bracket == b"[":
                    in_array, array_text = True, []
                else:
                    in_array = False
                    operands.append(("str", "".join(array_text)))
            elif num is not None:
                if not in_array:  # kerning numbers inside TJ arrays are spacing
                    operands.append(("num", float(num)))
            elif name is not None:
                operands.append(("name", name))
            elif op is not None:
                o = op.decode("latin-1")
                nums = [v for t, v in operands if t == "num"]
                strs = [v for t, v in operands if t == "str"]
                if o == "Tf":
                    names = [v for t, v in operands if t == "name"]
                    if names:
                        fname = names[-1].decode("latin-1").lstrip("/")
                        cmap = per_font.get(fname, merged_cmap)
                elif o == "Tm" and len(nums) >= 6:
                    x, y = nums[-2], nums[-1]
                elif o in ("Td", "TD") and len(nums) >= 2:
                    x, y = x + nums[-2], y + nums[-1]
                elif o in ("Tj", "'", '"', "TJ"):
                    text = " ".join(t.strip() for t in strs if t.strip())
                    if text and _mostly_printable(text):
                        rows.append((page, x, y, text))
                elif o == "BT":
                    x = y = 0.0
                operands = []
    return pd.DataFrame(rows, columns=["page", "x", "y", "text"])


def make_real_pdf(fragments: list[tuple[int, float, float, str]]) -> bytes:
    """Write a REAL (spec-conformant, externally-openable) single-page
    PDF 1.4 with Helvetica literal-string text at given (page, x, y)
    positions — the deterministic fixture for the real-PDF path (pages
    beyond 0 are folded onto one page object but keep distinct BT/Tm
    blocks, which is all the fragment parser distinguishes). Flate-
    compressed content stream, correct xref table.
    """
    import struct  # noqa: F401  (symmetry with codecs; zlib does the work)

    def esc(t: str) -> str:
        return t.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    parts = []
    for _page, x, y, text in fragments:
        parts.append(f"BT /F1 12 Tf 1 0 0 1 {x:g} {y:g} Tm ({esc(text)}) Tj ET")
    content = ("\n".join(parts)).encode("latin-1", "replace")
    stream = zlib.compress(content, 6)

    objs = [
        b"<</Type/Catalog/Pages 2 0 R>>",
        b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
        b"<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]"
        b"/Resources<</Font<</F1 4 0 R>>>>/Contents 5 0 R>>",
        b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>",
        b"<</Length " + str(len(stream)).encode() + b"/Filter/FlateDecode>>stream\n"
        + stream
        + b"\nendstream",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 " + str(len(objs) + 1).encode() + b"\n"
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        b"trailer<</Size " + str(len(objs) + 1).encode() + b"/Root 1 0 R>>\n"
        b"startxref\n" + str(xref_at).encode() + b"\n%%EOF\n"
    )
    return bytes(out)


def make_pdf_objstm(literal: str, glyph_a: str = "H", glyph_b: str = "Z") -> bytes:
    """Write a REAL PDF 1.5 document whose catalog/pages/page/font
    dictionaries live inside a Flate-compressed OBJECT STREAM, indexed
    by a cross-reference STREAM (type-2 entries) — the modern layout
    web-crawled PDFs actually use. Two Type0 fonts map the SAME CID
    0x0001 to ``glyph_a`` / ``glyph_b`` through separate ToUnicode
    CMaps, so correct extraction REQUIRES the object-stream expansion
    (the merged-table fallback would show one glyph twice); a third
    literal-string fragment carries ``literal``. Deterministic output.
    """
    import struct

    def tounicode(ch: str) -> bytes:
        return (
            b"/CIDInit /ProcSet findresource begin\nbegincmap\n"
            b"1 beginbfchar\n<0001> <%04X>\nendbfchar\nendcmap\n" % ord(ch)
        )

    def esc(t: str) -> str:
        return t.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    # objects 1-5 live in the ObjStm (non-stream objects only, per spec)
    packed = [
        (1, b"<</Type/Catalog/Pages 2 0 R>>"),
        (2, b"<</Type/Pages/Kids[3 0 R]/Count 1>>"),
        (3, b"<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 4 0 R/F2 5 0 R>>>>/Contents 8 0 R>>"),
        (4, b"<</Type/Font/Subtype/Type0/BaseFont/FontA"
            b"/Encoding/Identity-H/ToUnicode 6 0 R>>"),
        (5, b"<</Type/Font/Subtype/Type0/BaseFont/FontB"
            b"/Encoding/Identity-H/ToUnicode 7 0 R>>"),
    ]
    offsets_hdr = []
    bodies = b""
    for num, body in packed:
        offsets_hdr.append(b"%d %d" % (num, len(bodies)))
        bodies += body + b"\n"
    header = b" ".join(offsets_hdr) + b"\n"
    objstm_plain = header + bodies
    objstm = zlib.compress(objstm_plain, 6)

    content = (
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm <0001> Tj ET\n"
        b"BT /F2 12 Tf 1 0 0 1 72 600 Tm <0001> Tj ET\n"
        + f"BT /F1 12 Tf 1 0 0 1 72 500 Tm ({esc(literal)}) Tj ET".encode(
            "latin-1", "replace"
        )
    )
    cstream = zlib.compress(content, 6)

    def stream_obj(num: int, extra: bytes, payload: bytes) -> bytes:
        return (
            b"%d 0 obj<</Length %d%s>>stream\n" % (num, len(payload), extra)
            + payload
            + b"\nendstream endobj\n"
        )

    out = bytearray(b"%PDF-1.5\n")
    offs = {}
    for num, extra, payload in [
        (6, b"", tounicode(glyph_a)),
        (7, b"", tounicode(glyph_b)),
        (8, b"/Filter/FlateDecode", cstream),
        (9, b"/Type/ObjStm/N %d/First %d/Filter/FlateDecode"
            % (len(packed), len(header)), objstm),
    ]:
        offs[num] = len(out)
        out += stream_obj(num, extra, payload)

    # cross-reference stream (obj 10): /W [1 4 2] rows over objects 0-10
    rows = [b"\x00" + struct.pack(">I", 0) + struct.pack(">H", 0xFFFF)]
    for k in range(len(packed)):  # objects 1-5: type 2 (in ObjStm 9)
        rows.append(b"\x02" + struct.pack(">I", 9) + struct.pack(">H", k))
    for num in (6, 7, 8, 9):
        rows.append(b"\x01" + struct.pack(">I", offs[num]) + struct.pack(">H", 0))
    xref_at = len(out)
    rows.append(b"\x01" + struct.pack(">I", xref_at) + struct.pack(">H", 0))
    xref_payload = b"".join(rows)
    out += (
        b"10 0 obj<</Type/XRef/Size 11/Index[0 11]/W[1 4 2]/Root 1 0 R"
        b"/Length %d>>stream\n" % len(xref_payload)
        + xref_payload
        + b"\nendstream endobj\n"
    )
    out += b"startxref\n" + str(xref_at).encode() + b"\n%%EOF\n"
    return bytes(out)
