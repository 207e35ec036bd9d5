"""CDX index + random access over gzip-member WARC archives.

Common Crawl's access layer is not "read every archive": it is the cdx
index — one line per capture, keyed by (SURT url key, 14-digit
timestamp) and pointing at (filename, byte offset, byte length) of a
SINGLE gzip member inside a .warc.gz, so one HTTP range request (or one
file slice) yields one record without touching the rest of the ~1 GB
archive. This module builds that index Spark-side and proves the
offsets by fetching every record back through them.

Public-knowledge basis only: ISO 28500 (WARC), RFC 1952 (gzip members
are concatenable and each carries its own trailer, so member bounds are
recoverable by streaming inflate), the Internet Archive's SURT
(Sort-friendly URI Reordering Transform, as in webarchive-commons /
pywb), and Common Crawl's published cc-index layout. The C++ reference
(src/finetoo/) has no web-archive random-access layer; this extends the
engine the same way cc-index extends Common Crawl.

Spark shape: the INDEX BUILD is embarrassingly parallel per archive
file (binaryFile source -> one task per .warc.gz; a crawl is ~64k
files, far more than any cluster's cores), and the member scan within a
file is a single streaming inflate pass — O(bytes), no seeks. The SURT
key and digest are JVM-side column expressions (lower / regexp /
split / reverse / sha2), so the Python kernel only finds member bounds
and parses headers. LOOKUPS then never scan: filter on surt_key ranges
(the index is written sorted, so parquet zone maps prune), join to the
archive bytes, slice-decompress one member.

Tolerance contract (the same as sources/warc.py): a damaged gzip member
costs only itself, and nothing raises. Member bounds come from the WARC
layer's one member iterator, which keeps only intact members; a member
that does not decode to a record or to UTF-8 text is skipped, and its
neighbours keep their rows.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import zlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from finetoo_sp_spark.sources.warc import gzip_members, parse_warc, scan_archives


def gzip_member_spans(data: bytes) -> list[tuple[int, int]]:
    """(offset, length) of every intact gzip member in ``data`` (see
    warc.gzip_members): one streaming pass, O(len(data)); a truncated,
    corrupt or garbage stretch costs only itself."""
    return [(off, ln) for off, ln, _ in gzip_members(data)]


def fetch_warc_record(data: bytes, offset: int, length: int):
    """Random access: decompress ONLY ``data[offset:offset+length]``
    (one gzip member) and parse the single WARC record inside it.
    Returns (url, warc_ts, payload) or None — this is the consumer side
    of the cdx contract, and what proves an index entry's offsets."""
    try:
        raw = gzip.decompress(bytes(data[offset : offset + length]))
    except (OSError, EOFError, zlib.error):
        return None
    recs = parse_warc(raw)
    return recs[0] if recs else None


def surt_key(url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key as a pure
    JVM-side column expression: lowercase; scheme and fragment dropped;
    default ports :80/:443 dropped; leading www[0-9]*. dropped; host
    labels reversed and comma-joined; ')' + path (default '/'); query
    parameters '&'-sorted. 'https://www.X.Example.com/a?b=2&a=1' ->
    'com,example,x)/a?a=1&b=2' — captures of one page cluster under one
    key regardless of surface spelling, which is what makes the cdx
    sortable/mergeable at crawl scale."""
    u = F.lower(url)
    u = F.regexp_replace(u, "^[a-z][a-z0-9+.-]*://", "")
    u = F.regexp_replace(u, "#.*", "")
    hostport = F.regexp_extract(u, "^([^/?]*)", 1)
    pathq = F.regexp_replace(u, "^[^/?]*", "")
    host = F.regexp_replace(hostport, ":(80|443)$", "")
    host = F.regexp_replace(host, "^www[0-9]*\\.", "")
    rev = F.array_join(F.reverse(F.split(host, "\\.")), ",")
    path = F.regexp_replace(pathq, "\\?.*", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    qs = F.when(
        F.instr(pathq, "?") > 0, F.regexp_replace(pathq, "^[^?]*\\?", "")
    ).otherwise(F.lit(""))
    qsorted = F.array_join(F.sort_array(F.split(qs, "&")), "&")
    return F.concat(
        rev,
        F.lit(")"),
        path,
        F.when(qsorted == "", F.lit("")).otherwise(F.concat(F.lit("?"), qsorted)),
    )


CDX_ENTRY_SCHEMA = (
    "filename string, offset long, length long, rec_seq long,"
    " url string, warc_ts timestamp, html binary"
)


def read_cdx_entries(spark: SparkSession, path: str) -> DataFrame:
    """Scan a directory of gzip-member WARCs into per-record index rows
    (filename, offset, length, rec_seq, url, warc_ts, html). rec_seq is
    the record's ordinal within its file by offset. Every row's payload
    is obtained by fetch_warc_record over its OWN (offset, length)
    slice — the scan that builds the index simultaneously exercises the
    random-access path it promises, so a wrong offset cannot produce a
    right payload."""

    def rows(p: str, data: bytes) -> list[tuple]:
        name = p.rsplit("/", 1)[-1]
        out = []
        for seq, (off, ln) in enumerate(gzip_member_spans(data)):
            rec = fetch_warc_record(data, off, ln)
            if rec is not None:
                out.append((name, off, ln, seq, *rec))
        return out

    return scan_archives(spark, path, rows, CDX_ENTRY_SCHEMA)


ZIPNUM_BLOCK_SCHEMA = (
    "filename string, block_no long, offset long, length long,"
    " n_lines long, first_key string, last_key string, block_sha string"
)


def pack_zipnum(lines: list[str], block_size: int = 3000) -> tuple[bytes, list]:
    """Pack SORTED cdx lines into the ZipNum layout: consecutive blocks
    of ``block_size`` lines, each block gzip-compressed as its own
    member (deterministic mtime=0) and concatenated. Returns (bytes,
    cluster entries) where each cluster entry is (first_key_of_block,
    block_no, offset, length) — the rows of Common Crawl's cluster.idx,
    the tiny secondary index that makes a ~300 GB cdx binary-searchable:
    find the last cluster entry <= your key, range-read ONE block,
    scan <= block_size lines."""
    out = io.BytesIO()
    cluster = []
    for bno in range(0, len(lines), block_size):
        chunk = lines[bno : bno + block_size]
        blob = gzip.compress(("\n".join(chunk) + "\n").encode("utf-8"), mtime=0)
        cluster.append((chunk[0].split(" ", 1)[0], bno // block_size, out.tell(), len(blob)))
        out.write(blob)
    return out.getvalue(), cluster


def zipnum_lookup(data: bytes, cluster: list, key: str) -> list[str]:
    """Consumer side of the two-level index: binary-search the cluster
    entries for the block that can contain ``key``, slice-decompress
    ONLY that member, return its matching lines. O(log blocks) compares
    + one block decode regardless of index size. A block that does not
    inflate or is not UTF-8 text yields ``[]``, as in
    :func:`read_zipnum_blocks`."""
    import bisect

    firsts = [c[0] for c in cluster]
    i = bisect.bisect_right(firsts, key) - 1
    if i < 0:
        return []
    _, _, off, ln = cluster[i]
    try:
        text = gzip.decompress(data[off : off + ln]).decode("utf-8")
    except (OSError, EOFError, zlib.error, UnicodeDecodeError):
        return []
    return [l for l in text.splitlines() if l.split(" ", 1)[0] == key]


def read_zipnum_blocks(spark: SparkSession, path: str) -> DataFrame:
    """Scan ZipNum part files back into per-block stats (filename,
    block_no, offset, length, n_lines, first_key, last_key, block_sha).
    Each block is decoded from its OWN member slice (fetch path =
    verification path, as in read_cdx_entries); block_sha is sha256 of
    the decompressed block text, so the packing is value-checkable. A
    block that is not UTF-8 text is skipped like an undecodable one."""

    def rows(p: str, data: bytes) -> list[tuple]:
        name = p.rsplit("/", 1)[-1]
        out = []
        for bno, (off, ln) in enumerate(gzip_member_spans(data)):
            try:
                raw = gzip.decompress(data[off : off + ln])
                lines = raw.decode("utf-8").splitlines()
            except (OSError, UnicodeDecodeError):
                continue
            if lines:
                out.append((
                    name, bno, off, ln, len(lines),
                    lines[0].split(" ", 1)[0],
                    lines[-1].split(" ", 1)[0],
                    hashlib.sha256(raw).hexdigest(),
                ))
        return out

    return scan_archives(spark, path, rows, ZIPNUM_BLOCK_SCHEMA)
