"""WARC source: read Common-Crawl-style web archives into the pages table.

The north rule's corpus is "Common-Crawl-style web pages"; the container
those actually arrive in is WARC (ISO 28500): a sequence of records,
each a header block (``WARC/1.0`` + name:value lines, notably
WARC-Target-URI / WARC-Date / Content-Length) and a body of exactly
Content-Length bytes, separated by CRLF CRLF. Common Crawl ships them
as ~1 GB gzip files where EVERY record is its own gzip member, so one
bad member costs only its own record.

The layer has one of each piece, and every reader goes through them:
``gzip_members`` (the member iterator), ``_records`` (the record walker:
header parse, Content-Length skip, WARC-Date parse), ``_split_http``
(the HTTP-envelope split), ``scan_archives`` (the binaryFile scan) and
``warc_record`` (the writer behind every ``make_warc*``).

Tolerance contract: a damaged gzip member or record costs only itself,
and nothing raises. A member is kept only if it inflates to end of
stream with a valid CRC; after a bad one the iterator resynchronises on
the next gzip header. A record is emitted only if its whole
Content-Length body is present; a header without a usable length is
skipped and the walk resumes after it.

Spark shape: ``scan_archives`` turns a WARC directory into (path,
content) rows — one file per task, which is exactly how Common Crawl is
processed at scale (the unit of parallelism is the archive file; a
crawl is ~64k files, far more than any cluster's cores) — and parses
them in one Arrow-batched ``mapInPandas``. Response records come out in
the input_hint pages schema (url, warc_ts, html:binary) with the HTTP
envelope stripped from the payload.

A deterministic writer (``make_warc``) exists so fixtures and oracle
queries can build real archives from the driver tables — parity with
datagen's role for HTML.
"""

from __future__ import annotations

import datetime as dt
import gzip
import re
import zlib
from collections.abc import Callable, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_CRLF = b"\r\n"
_GZIP_MAGIC = b"\x1f\x8b\x08"  # ID1 ID2 CM=deflate (RFC 1952)
_CHUNK = 1 << 16
_DATE_FMT = "%Y-%m-%dT%H:%M:%SZ"


# --------------------------------------------------------------- writer


def _lines(*lines: str) -> bytes:
    return "".join(f"{line}\r\n" for line in lines).encode()


def warc_record(
    warc_type: str,
    url: str,
    ts: dt.datetime,
    http_headers: Iterable[str],
    body: bytes,
    warc_extra: Iterable[str] = (),
    gzip_member: bool = False,
) -> bytes:
    """One WARC/1.0 record around an ``HTTP/1.1 200 OK`` message whose
    header lines are ``http_headers`` plus a final Content-Length for
    ``body``. ``warc_extra`` header lines go between WARC-Date and the
    record Content-Type. ``gzip_member=True`` compresses the record as
    its own gzip member with mtime=0, so the bytes are reproducible."""
    http = _lines("HTTP/1.1 200 OK", *http_headers, f"Content-Length: {len(body)}", "") + body
    rec = (
        _lines(
            "WARC/1.0",
            f"WARC-Type: {warc_type}",
            f"WARC-Target-URI: {url}",
            f"WARC-Date: {ts.strftime(_DATE_FMT)}",
            *warc_extra,
            "Content-Type: application/http;msgtype=response",
            f"Content-Length: {len(http)}",
            "",
        )
        + http
        + _CRLF
        + _CRLF
    )
    return gzip.compress(rec, mtime=0) if gzip_member else rec


def make_warc(
    records: list[tuple[str, dt.datetime, bytes]], gzip_members: bool = False
) -> bytes:
    """Build a WARC file from (url, warc_date, payload) response records.
    ``gzip_members=True`` writes the Common-Crawl layout (one gzip
    member per record)."""
    return b"".join(
        warc_record("response", url, ts, ["Content-Type: text/html"], payload,
                    gzip_member=gzip_members)
        for url, ts, payload in records
    )


def _chunk_encode(payload: bytes) -> bytes:
    """Deterministic chunked transfer coding (fixed 1000-byte chunks) for
    the writer side — fixtures exercise multi-chunk bodies without any
    content-dependent framing choices."""
    out = bytearray()
    for i in range(0, len(payload), 1000):
        part = payload[i : i + 1000]
        out += f"{len(part):x}".encode() + _CRLF + part + _CRLF
    out += b"0" + _CRLF + _CRLF
    return bytes(out)


def make_warc_transfer(
    records: list[tuple[str, "dt.datetime", bytes, str]],
) -> bytes:
    """make_warc variant exercising on-wire HTTP encodings: records are
    (url, ts, payload, mode) with mode in {'plain', 'chunked', 'gzip',
    'chunked+gzip'}. 'gzip' applies Content-Encoding (deterministic
    mtime=0) and 'chunked' wraps the (possibly compressed) body in
    Transfer-Encoding framing — the layering real origins produce and
    parse_warc/_split_http must undo."""
    out = []
    for url, ts, payload, mode in records:
        headers = ["Content-Type: text/html"]
        if "gzip" in mode:
            payload = gzip.compress(payload, mtime=0)
            headers.append("Content-Encoding: gzip")
        if "chunked" in mode:
            payload = _chunk_encode(payload)
            headers.append("Transfer-Encoding: chunked")
        out.append(warc_record("response", url, ts, headers, payload))
    return b"".join(out)


def make_warc_http(
    records: list[tuple[str, "dt.datetime", bytes, str]],
) -> bytes:
    """make_warc variant with a per-record HTTP Content-Type (the
    transport charset carrier): records are (url, ts, payload,
    content_type)."""
    return b"".join(
        warc_record("response", url, ts, [f"Content-Type: {ctype}"], payload)
        for url, ts, payload, ctype in records
    )


# --- revisit records (crawl-time dedup, IIPC identical-payload-digest) ----

_REVISIT_PROFILE = "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"


def make_warc_mixed(records: list[tuple], gzip_members: bool = False) -> bytes:
    """WARC writer with revisit support (ISO 28500 + the IIPC
    identical-payload-digest profile — how Common Crawl dedups repeat
    captures at crawl time without storing the payload twice). Records
    are either ('response', url, ts, payload) or ('revisit', url, ts,
    refers_url, refers_ts, digest): a revisit stores ONLY the HTTP
    headers plus WARC-Refers-To-Target-URI / WARC-Refers-To-Date /
    WARC-Payload-Digest pointers to the original capture."""
    out = []
    for rec in records:
        if rec[0] == "response":
            _, url, ts, payload = rec
            out.append(warc_record("response", url, ts, ["Content-Type: text/html"],
                                   payload, gzip_member=gzip_members))
        else:
            _, url, ts, refers_url, refers_ts, digest = rec
            extra = [
                f"WARC-Profile: {_REVISIT_PROFILE}",
                f"WARC-Refers-To-Target-URI: {refers_url}",
                f"WARC-Refers-To-Date: {refers_ts.strftime(_DATE_FMT)}",
                f"WARC-Payload-Digest: {digest}",
            ]
            out.append(warc_record("revisit", url, ts, [], b"", extra, gzip_member=gzip_members))
    return b"".join(out)


# --------------------------------------------------------------- reader


def gzip_members(data: bytes) -> Iterator[tuple[int, int, bytes]]:
    """(offset, length, inflated bytes) of every intact gzip member.

    Nothing comes out unless ``data`` starts with the gzip magic. Each
    member is inflated once from fixed-size chunks (RFC 1952 members are
    self-delimiting: whatever the inflater did not consume starts the
    next one). Only members that reach end of stream with a valid CRC
    are yielded; after a failed one the search for the next
    ``1f 8b 08`` header starts one byte past the failed member's start."""
    if data[:2] != _GZIP_MAGIC[:2]:
        return
    view = memoryview(data)
    pos, n = 0, len(data)
    while 0 <= pos < n:
        d = zlib.decompressobj(wbits=31)
        parts, cur = [], pos
        try:
            while not d.eof and cur < n:
                parts.append(d.decompress(view[cur : cur + _CHUNK]))
                cur += _CHUNK
        except zlib.error:
            pass
        if d.eof:
            end = min(cur, n) - len(d.unused_data)
            yield pos, end - pos, b"".join(parts)
            pos = end
        else:
            pos = data.find(_GZIP_MAGIC, pos + 1)


def _warc_date(raw: bytes) -> "dt.datetime | None":
    try:
        return dt.datetime.strptime(raw.decode("ascii", "replace"), _DATE_FMT)
    except ValueError:
        return None


def _records(
    data: bytes, types: tuple[bytes, ...]
) -> Iterator[tuple[dict, str, "dt.datetime | None", bytes]]:
    """The record walker: (headers, url, warc_ts, body) for every whole
    record whose WARC-Type is in ``types`` and that names a target URI.
    Header names are lowercased; a gzip archive is walked over the
    concatenation of its intact members."""
    if data[:2] == _GZIP_MAGIC[:2]:
        data = b"".join(member for _, _, member in gzip_members(data))
    pos, n = 0, len(data)
    while True:
        start = data.find(b"WARC/", pos)
        if start < 0:
            return
        head_end = data.find(_CRLF + _CRLF, start)
        if head_end < 0:
            return
        headers = {}
        for line in data[start:head_end].split(_CRLF)[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower()] = v.strip()
        pos = head_end + 4
        try:
            length = int(headers.get(b"content-length", b""))
        except ValueError:
            continue
        if length < 0:
            continue
        body_start, pos = pos, pos + length
        if pos > n:
            return  # cut record: fewer body bytes than its Content-Length
        if headers.get(b"warc-type") not in types:
            continue
        url = headers.get(b"warc-target-uri", b"").decode("utf-8", "replace")
        if url:
            yield headers, url, _warc_date(headers.get(b"warc-date", b"")), data[body_start:pos]


def _dechunk(body: bytes) -> "bytes | None":
    """Decode an RFC 9112 chunked transfer coding: hex-size CRLF data
    CRLF ... 0 CRLF [trailers] CRLF. Chunk extensions (';ext=...') are
    ignored per spec; trailers are dropped. Returns None on malformed
    framing so callers can fall back to the raw bytes (a WARC must
    never lose a record to a bad origin)."""
    out = bytearray()
    pos = 0
    while True:
        eol = body.find(_CRLF, pos)
        if eol < 0:
            return None
        size_tok = body[pos:eol].split(b";")[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            return None
        if size < 0:  # a negative size would walk pos backwards forever
            return None
        pos = eol + 2
        if size == 0:
            return bytes(out)
        chunk = body[pos : pos + size]
        if len(chunk) < size or body[pos + size : pos + size + 2] != _CRLF:
            return None
        out += chunk
        pos += size + 2


def _decode_http_body(payload: bytes, transfer_enc: str, content_enc: str) -> bytes:
    """WARC response records store the HTTP message as it crossed the
    wire (ISO 28500 §6.3.2), so chunked framing and compressed
    representations arrive verbatim — warcio/CC tooling decodes both
    layers and so do we: Transfer-Encoding first (transport framing),
    then Content-Encoding (representation). Tolerant: undecodable
    bodies pass through raw rather than costing the record."""
    if "chunked" in transfer_enc:
        decoded = _dechunk(payload)
        if decoded is not None:
            payload = decoded
    ce = content_enc.strip()
    if ce in ("gzip", "x-gzip"):
        try:
            payload = gzip.decompress(payload)
        except (OSError, EOFError, zlib.error):  # EOFError: body cut mid-stream
            pass
    elif ce == "deflate":
        try:
            payload = zlib.decompress(payload)
        except zlib.error:
            try:
                payload = zlib.decompress(payload, -15)  # raw-deflate origins
            except zlib.error:
                pass
    return payload


_CHARSET_PARAM = re.compile(rb"charset\s*=\s*\"?\s*([A-Za-z0-9_.:\-]+)", re.I)


def _split_http(body: bytes) -> tuple[bytes, str, str]:
    """The HTTP-envelope split: (payload, charset label, x_robots).
    The payload has its transfer / content encodings undone (see
    _decode_http_body). The label is the raw charset parameter of the
    HTTP Content-Type header and x_robots the lowercased X-Robots-Tag
    value, each '' when absent. A body that does not start with an HTTP
    status line, or has no header end, comes back untouched."""
    if body[:5] != b"HTTP/":
        return body, "", ""
    sep = body.find(_CRLF + _CRLF)
    if sep < 0:
        return body, "", ""
    label = x_robots = te = ce = ""
    for line in body[:sep].split(_CRLF)[1:]:
        k, _, v = line.partition(b":")
        hk = k.strip().lower()
        if hk == b"content-type":
            m = _CHARSET_PARAM.search(v)
            if m:
                label = m.group(1).decode("ascii", "replace").lower()
        elif hk == b"x-robots-tag":
            # Origins/CDNs commonly emit SEVERAL X-Robots-Tag headers
            # (e.g. 'noindex' + 'noai' on separate lines); RFC 9110 §5.3
            # says repeated field lines are equivalent to one comma-joined
            # list, so accumulate rather than overwrite — dropping earlier
            # lines would under-block opted-out pages.
            tok = v.strip().decode("utf-8", "replace").lower()
            x_robots = f"{x_robots}, {tok}" if x_robots else tok
        elif hk == b"transfer-encoding":
            te = v.strip().decode("ascii", "replace").lower()
        elif hk == b"content-encoding":
            ce = v.strip().decode("ascii", "replace").lower()
    return _decode_http_body(body[sep + 4 :], te, ce), label, x_robots


def parse_warc(
    data: bytes, types: tuple[bytes, ...] = (b"response",)
) -> list[tuple[str, dt.datetime | None, bytes]]:
    """(url, warc_ts, payload) for every record whose WARC-Type is in
    ``types``. The HTTP envelope is stripped (and its encodings undone)
    for ``response`` records only; ``conversion`` (WET) bodies are taken
    verbatim."""
    return [
        (url, ts, _split_http(body)[0] if h[b"warc-type"] == b"response" else body)
        for h, url, ts, body in _records(data, types)
    ]


def parse_warc_http(
    data: bytes,
) -> list[tuple[str, "dt.datetime | None", bytes, str, str]]:
    """Like parse_warc(response) but keeps the transport layer:
    (url, warc_ts, payload, http_charset_label, x_robots). The charset
    label is the WHATWG layer that outranks in-document meta
    declarations; x_robots is the transport-layer robots/opt-out signal
    beside the meta robots tag."""
    return [(url, ts, *_split_http(body)) for _, url, ts, body in _records(data, (b"response",))]


def parse_warc_revisits(
    data: bytes,
) -> list[tuple[str, "dt.datetime | None", str, "dt.datetime | None", str]]:
    """(url, warc_ts, refers_url, refers_ts, payload_digest) for every
    revisit record."""
    return [
        (
            url,
            ts,
            h.get(b"warc-refers-to-target-uri", b"").decode("utf-8", "replace"),
            _warc_date(h.get(b"warc-refers-to-date", b"")),
            h.get(b"warc-payload-digest", b"").decode("ascii", "replace"),
        )
        for h, url, ts, _ in _records(data, (b"revisit",))
    ]


# ----------------------------------------------------------------- scan


def scan_archives(
    spark: SparkSession,
    path: str,
    rows: Callable[[str, bytes], Iterable[tuple]],
    schema: str,
) -> DataFrame:
    """The archive scan: ``binaryFile`` -> one Arrow-batched
    ``mapInPandas``, one archive file per task. ``rows(file_path,
    content)`` returns the file's output rows as tuples in ``schema``
    field order. Nothing is caught here: a whole-file skip would drop
    whole archives, so tolerance stays per member and per record."""
    cols = StructType.fromDDL(schema).fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [r for p, blob in zip(pdf["path"], pdf["content"]) for r in rows(p, bytes(blob))]
            if out:
                yield pd.DataFrame(out, columns=cols)

    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(run, schema=schema)


PAGES_FROM_WARC_SCHEMA = "url string, warc_ts timestamp, html binary"


def read_warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """WARC directory/glob -> pages(url, warc_ts, html)."""
    return scan_archives(spark, path, lambda _p, blob: parse_warc(blob), PAGES_FROM_WARC_SCHEMA)


WET_SCHEMA = "url string, warc_ts timestamp, text string"


def read_wet_text(spark: SparkSession, path: str) -> DataFrame:
    """WET directory/glob -> (url, warc_ts, text): the read twin of
    operators/sinks.write_wet. Keeps ``conversion`` records and decodes
    bodies as UTF-8 text."""

    def rows(_p: str, blob: bytes) -> list[tuple]:
        return [
            (url, ts, payload.decode("utf-8", "replace"))
            for url, ts, payload in parse_warc(blob, types=(b"conversion",))
        ]

    return scan_archives(spark, path, rows, WET_SCHEMA)


def read_wat_meta(spark: SparkSession, path: str) -> DataFrame:
    """WAT ingest: metadata records -> (url, wat_json). The JSON
    envelope stays a string column for JVM-side lifts (get_json_object /
    json_array_length) downstream."""

    def rows(_p: str, blob: bytes) -> list[tuple]:
        return [
            (url, payload.decode("utf-8", "replace"))
            for url, _ts, payload in parse_warc(blob, types=(b"metadata",))
        ]

    return scan_archives(spark, path, rows, "url string, wat_json string")


def read_warc_pages_http(spark: SparkSession, path: str) -> DataFrame:
    """(url, warc_ts, html, http_charset, x_robots) — the pages table
    plus the transport-layer signals: the charset label feeds
    extraction/charset.py's full WHATWG priority chain (BOM > HTTP >
    meta > default), x_robots feeds the compliance gate
    (extraction/compliance.with_http_compliance)."""
    return scan_archives(
        spark,
        path,
        lambda _p, blob: parse_warc_http(blob),
        "url string, warc_ts timestamp, html binary, http_charset string, x_robots string",
    )


def read_warc_revisits(spark: SparkSession, path: str) -> DataFrame:
    """WARC directory -> revisit pointer rows (url, warc_ts, refers_url,
    refers_ts, digest)."""
    return scan_archives(
        spark,
        path,
        lambda _p, blob: parse_warc_revisits(blob),
        "url string, warc_ts timestamp, refers_url string, refers_ts timestamp, digest string",
    )


def read_warc_resolved(spark: SparkSession, path: str) -> DataFrame:
    """The dedup-aware pages view: response records pass through;
    revisit records are RESOLVED to their original capture's payload by
    an equi-join on (refers_url, refers_ts), and the stored
    WARC-Payload-Digest is checked against the resolved bytes
    (digest_ok). Unresolvable revisits (original not in this path) are
    dropped — at crawl scale the join key is (url, ts), so resolution
    shuffles both sides once and never moves payloads for responses.

    Output: (url, warc_ts, html, is_revisit, digest_ok)."""
    resp = read_warc_pages(spark, path)
    rev = read_warc_revisits(spark, path)
    originals = resp.select(
        F.col("url").alias("refers_url"),
        F.col("warc_ts").alias("refers_ts"),
        F.col("html").alias("orig_html"),
    )
    resolved = (
        rev.join(originals, ["refers_url", "refers_ts"], "inner")
        .select(
            "url",
            "warc_ts",
            F.col("orig_html").alias("html"),
            F.lit(True).alias("is_revisit"),
            (
                F.regexp_replace("digest", "^sha256:", "")
                == F.sha2("orig_html", 256)
            ).alias("digest_ok"),
        )
    )
    plain = resp.select(
        "url",
        "warc_ts",
        "html",
        F.lit(False).alias("is_revisit"),
        F.lit(True).alias("digest_ok"),
    )
    return plain.unionByName(resolved)
