"""PDF Standard Security Handler (RC4) — decrypt crawled encrypted PDFs.

A meaningful share of web-crawled PDFs are "encrypted" with an EMPTY
user password (owner-password-only protection: printing/copy
restrictions, not secrecy) — without this handler every such document
silently extracts zero text. Implements ISO 32000-1 §7.6.3 / the PDF
1.4 Algorithms 3.1–3.5: security handler revisions 2 (40-bit) and 3
(up to 128-bit), RC4 only. AES (/V 4/5, revisions ≥4) raises
``NotImplementedError`` so kernels SKIP, never die — the same honest
gate discipline as the codec modules.

``decrypt_pdf`` returns a rebuilt byte-identical-layout document whose
STREAM payloads are replaced by their plaintext, which is exactly what
the downstream regex-framed extractor (extraction/pdfmini.py) consumes;
document-level strings (Info dict etc.) are outside the extraction
surface and are left as stored. The per-object key is
MD5(key + objnum_le3 + gen_le2) truncated to min(len(key)+5, 16)
(Algorithm 3.1). The ``make_encrypted_pdf`` twin encrypts our own
deterministic make_real_pdf fixtures so the whole path sits under the
DuckDB value oracle (pdf_encrypted_extract).

Pure stdlib: hashlib.md5 + an RC4 implemented here (RC4 is a key
scheduler and a byte PRGA — public, trivially small; used for DECRYPT
of legacy documents, the encoder exists only to build test fixtures).
"""

from __future__ import annotations

import hashlib
import re
import struct

_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)

_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+(\d+)\s+R")
# /Encrypt is a trailer entry: in a classic ``trailer`` dict, or in the
# dict of a cross-reference stream (PDF 1.5+) — never in a content stream
_TRAILER_RE = re.compile(rb"trailer\s*<<(.*?)>>\s*startxref", re.S)
_STREAM_DICT_RE = re.compile(rb"\sobj\s*<<((?:(?!endobj).)*?)stream", re.S)
_XREF_TYPE_RE = re.compile(rb"/Type\s*/XRef")
_ID_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f]+)>")
_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj(.*?)endobj", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n")


def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 (KSA + PRGA). Symmetric: encrypt == decrypt."""
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for k, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[k] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _pad(pw: bytes) -> bytes:
    return (pw + _PAD)[:32]


def compute_key(
    user_pw: bytes, o_entry: bytes, p: int, id0: bytes, rev: int, key_len: int
) -> bytes:
    """Algorithm 3.2: the file encryption key."""
    h = hashlib.md5()
    h.update(_pad(user_pw))
    h.update(o_entry[:32])
    h.update(struct.pack("<i", p))
    h.update(id0)
    digest = h.digest()
    if rev >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest[:key_len]).digest()
    return digest[:key_len]


def compute_o(owner_pw: bytes, user_pw: bytes, rev: int, key_len: int) -> bytes:
    """Algorithm 3.3: the /O entry."""
    digest = hashlib.md5(_pad(owner_pw)).digest()
    if rev >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest).digest()
    key = digest[:key_len]
    out = rc4(key, _pad(user_pw))
    if rev >= 3:
        for i in range(1, 20):
            out = rc4(bytes(b ^ i for b in key), out)
    return out


def compute_u(key: bytes, id0: bytes, rev: int) -> bytes:
    """Algorithm 3.4 (rev 2) / 3.5 (rev 3): the /U entry."""
    if rev == 2:
        return rc4(key, _PAD)
    digest = hashlib.md5(_PAD + id0).digest()
    out = rc4(key, digest)
    for i in range(1, 20):
        out = rc4(bytes(b ^ i for b in key), out)
    return out + b"\x00" * 16  # arbitrary 16-byte pad per spec


def object_key(key: bytes, num: int, gen: int) -> bytes:
    """Algorithm 3.1: per-object RC4 key."""
    h = hashlib.md5(
        key + struct.pack("<I", num)[:3] + struct.pack("<I", gen)[:2]
    ).digest()
    return h[: min(len(key) + 5, 16)]


def _parse_pdf_string(body: bytes, name: bytes) -> bytes | None:
    """Value of ``/Name (...)`` or ``/Name <...>`` in a dict body, with
    PDF literal-string escapes resolved to raw bytes."""
    m = re.search(name + rb"\s*<([0-9A-Fa-f\s]+)>", body)
    if m:
        return bytes.fromhex(re.sub(rb"\s", b"", m.group(1)).decode())
    m = re.search(name + rb"\s*\(", body)
    if not m:
        return None
    out = bytearray()
    i = m.end()
    depth = 1
    while i < len(body) and depth:
        c = body[i]
        if c == 0x5C and i + 1 < len(body):  # backslash
            nxt = body[i + 1]
            if 0x30 <= nxt <= 0x37:  # octal
                j = i + 1
                while j < min(i + 4, len(body)) and 0x30 <= body[j] <= 0x37:
                    j += 1
                out.append(int(body[i + 1 : j], 8) & 0xFF)
                i = j
                continue
            out.append(
                {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}.get(nxt, nxt)
            )
            i += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if not depth:
                break
        out.append(c)
        i += 1
    return bytes(out)


def _int_entry(body: bytes, name: bytes, default: int | None = None) -> int:
    m = re.search(name + rb"\s+(-?\d+)", body)
    if m:
        return int(m.group(1))
    if default is None:
        raise ValueError(f"missing {name.decode()} in encrypt dict")
    return default


def _trailer_encrypt_ref(data: bytes) -> re.Match | None:
    """The ``/Encrypt N G R`` entry of the last trailer dictionary that
    has one (incremental updates append trailers), or None."""
    dicts = [(m.start(), m.group(1)) for m in _TRAILER_RE.finditer(data)] + [
        (m.start(), m.group(1))
        for m in _STREAM_DICT_RE.finditer(data)
        if _XREF_TYPE_RE.search(m.group(1))
    ]
    ref = None
    for _, d in sorted(dicts):
        ref = _ENCRYPT_REF_RE.search(d) or ref
    return ref


def decrypt_pdf(data: bytes, password: bytes = b"") -> bytes:
    """Decrypt every stream of an RC4 standard-security PDF in place.

    Returns the rebuilt document (plaintext streams, layout otherwise
    untouched). Raises ``NotImplementedError`` for AES / crypt-filter
    documents (/V >= 4) and ``ValueError`` when the user password does
    not authenticate or required entries are missing. A document with
    no /Encrypt reference in a trailer dictionary is returned unchanged."""
    ref = _trailer_encrypt_ref(data)
    if ref is None:
        return data
    enc_num, enc_gen = int(ref.group(1)), int(ref.group(2))
    objs = {
        (int(n), int(g)): (m.start(3), m.end(3))
        for m in _OBJ_RE.finditer(data)
        for n, g in [(m.group(1), m.group(2))]
    }
    span = objs.get((enc_num, enc_gen))
    if span is None:
        raise ValueError("encrypt dictionary object not found")
    enc = data[span[0] : span[1]]
    if b"/Standard" not in enc:
        raise NotImplementedError("non-Standard security handler")
    v = _int_entry(enc, rb"/V", 0)
    rev = _int_entry(enc, rb"/R")
    if v not in (1, 2) or rev not in (2, 3):
        raise NotImplementedError(f"unsupported encryption V={v} R={rev} (AES?)")
    length_bits = _int_entry(enc, rb"/Length", 40)
    key_len = 5 if rev == 2 else length_bits // 8
    o_entry = _parse_pdf_string(enc, rb"/O")
    u_entry = _parse_pdf_string(enc, rb"/U")
    if o_entry is None or u_entry is None:
        raise ValueError("missing /O or /U entry")
    p = _int_entry(enc, rb"/P")
    m = _ID_RE.search(data)
    id0 = bytes.fromhex(m.group(1).decode()) if m else b""
    key = compute_key(password, o_entry, p, id0, rev, key_len)
    expect = compute_u(key, id0, rev)
    check = 16 if rev >= 3 else 32
    if expect[:check] != u_entry[:check]:
        raise ValueError("user password does not authenticate")

    out = bytearray(data)
    for (num, gen), (start, end) in objs.items():
        if (num, gen) == (enc_num, enc_gen):
            continue
        body = data[start:end]
        sm = _STREAM_RE.search(body)
        if not sm:
            continue
        if b"/XRef" in body[: sm.start()]:
            continue  # cross-reference streams are never encrypted (spec)
        s_end = body.find(b"endstream", sm.end())
        if s_end < 0:
            continue
        cipher = body[sm.end() : s_end]
        plain = rc4(object_key(key, num, gen), cipher)
        out[start + sm.end() : start + s_end] = plain  # same length: offsets hold
    return bytes(out)


def encrypt_pdf(
    data: bytes,
    user_pw: bytes = b"",
    owner_pw: bytes = b"secret-owner",
    rev: int = 3,
) -> bytes:
    """Fixture twin of ``decrypt_pdf``: encrypt every stream of a plain
    PDF and append the /Encrypt dict + /ID to the trailer. rev 2 =
    40-bit, rev 3 = 128-bit. Deterministic (the /ID is derived from an
    MD5 of the input, not a timestamp)."""
    if rev not in (2, 3):
        raise ValueError("rev must be 2 or 3")
    key_len = 5 if rev == 2 else 16
    id0 = hashlib.md5(b"fixture-id:" + data[:256]).digest()
    o_entry = compute_o(owner_pw, user_pw, rev, key_len)
    key = compute_key(user_pw, o_entry, -44, id0, rev, key_len)
    u_entry = compute_u(key, id0, rev)

    out = bytearray(data)
    max_num = 0
    for m in reversed(list(_OBJ_RE.finditer(data))):
        num, gen = int(m.group(1)), int(m.group(2))
        max_num = max(max_num, num)
        body = data[m.start(3) : m.end(3)]
        sm = _STREAM_RE.search(body)
        if not sm:
            continue
        if b"/XRef" in body[: sm.start()]:
            continue  # cross-reference streams are never encrypted (spec)
        s_end = body.find(b"endstream", sm.end())
        if s_end < 0:
            continue
        plain = body[sm.end() : s_end]
        cipher = rc4(object_key(key, num, gen), plain)
        out[m.start(3) + sm.end() : m.start(3) + s_end] = cipher

    enc_num = max_num + 1
    enc_obj = (
        f"{enc_num} 0 obj<</Filter/Standard/V {1 if rev == 2 else 2}"
        f"/R {rev}/Length {key_len * 8}/P -44"
        f"/O <{o_entry.hex().upper()}>/U <{u_entry.hex().upper()}>"
        f">>\nendobj\n"
    ).encode()
    trailer_add = (
        f"/Encrypt {enc_num} 0 R"
        f"/ID[<{id0.hex().upper()}><{id0.hex().upper()}>]"
    ).encode()
    t = out.rfind(b"trailer<<")
    if t >= 0:
        # classic layout: extend the trailer dict, put the encrypt
        # object before the xref section so object scans pick it up
        out[t + len(b"trailer<<") : t + len(b"trailer<<")] = trailer_add
        x = out.rfind(b"\nxref\n") + 1  # not the "xref" inside "startxref"
        out[x:x] = enc_obj
        return bytes(out)
    # PDF 1.5 xref-stream layout: the trailer entries live in the XRef
    # stream dict. Patch /Encrypt + /ID into that dict and append the
    # encrypt object after %%EOF (an incremental-update-like tail; the
    # regex-framed decrypt path needs no xref entry for it).
    xm = None
    for xm in re.finditer(rb"(\d+)\s+\d+\s+obj\s*<</Type\s*/XRef", out):
        pass
    if xm is None:
        raise ValueError("no trailer or XRef stream to extend")
    insert_at = out.find(b"<<", xm.start()) + 2
    out[insert_at:insert_at] = trailer_add
    out += enc_obj
    return bytes(out)
