"""Contract queries: the Common Crawl ACCESS layer (cdx index + HTTP
transfer decoding).

warc_roundtrip proved the container parses; these two prove the two
things a consumer of a real crawl additionally relies on:

* ``cdx_index`` — gzip-member offset indexing with SURT keys
  (sources/cdx.py). The query stages real .warc.gz archives (one gzip
  member per record, Common Crawl layout), scans member bounds by
  streaming inflate, then fetches EVERY record back through its own
  (offset, length) slice — so the oracle-matched payload sha is also a
  proof the offsets are valid random-access handles. File membership
  and in-file order are deterministic (file_id = doc_id % 4, records
  sorted by doc_id) so the oracle can recompute filename and rec_seq.

* ``http_transfer_decode`` — WARC response records carry the HTTP
  message as it crossed the wire, so Transfer-Encoding: chunked and
  Content-Encoding: gzip arrive verbatim; the reader must undo both
  layers (transport framing first, then representation). Four on-wire
  modes cycle by doc_id % 4; the oracle recomputes the decoded bytes'
  sha/length straight from the documents table, so a missed or
  misordered decode can't hash-match.

Every query here writes its fixture archives through ``_core._stage``
and keeps only the function that encodes one file's records.
"""

from __future__ import annotations

from finetoo_sp_spark.contract._core import (
    DataFrame,
    SparkSession,
    F,
    T,
    _docpages_expected_sql,
    _q,
    _FILE_ID,
    _stage,
    documents_to_pages,
    extract_pages,
)

# Shared SQL: urls synthesized from the documents table, cycling three
# SURT-relevant surface spellings (plain / www + unsorted query params +
# trailing slash / uppercase scheme-host + default port).
_CDX_URLS_SQL = """
urls AS (
  SELECT doc_id, text,
    CAST(doc_id % 4 AS INTEGER) AS file_id,
    CASE CAST(doc_id % 3 AS INTEGER)
      WHEN 0 THEN 'https://' || source || '.example.com/doc/' || doc_id
      WHEN 1 THEN 'https://www.' || source || '.example.com/doc/' || doc_id
        || '/?b=' || CAST(doc_id % 7 AS VARCHAR)
        || '&a=' || CAST(doc_id % 5 AS VARCHAR)
      ELSE 'HTTP://' || upper(source) || '.EXAMPLE.COM:80/doc/' || doc_id
    END AS url
  FROM documents
)"""


def _cdx_write_urls(doc_id: int, source: str) -> str:
    m = doc_id % 3
    if m == 0:
        return f"https://{source}.example.com/doc/{doc_id}"
    if m == 1:
        return (
            f"https://www.{source}.example.com/doc/{doc_id}"
            f"/?b={doc_id % 7}&a={doc_id % 5}"
        )
    return f"HTTP://{source.upper()}.EXAMPLE.COM:80/doc/{doc_id}"


@_q(
    "cdx_index",
    f"""
WITH {_CDX_URLS_SQL},
s AS (
  SELECT *, regexp_replace(regexp_replace(lower(url),
    '^[a-z][a-z0-9+.-]*://', ''), '#.*', '') AS t
  FROM urls
),
p AS (
  SELECT *, regexp_extract(t, '^([^/?]*)', 1) AS hostport,
    regexp_replace(t, '^[^/?]*', '') AS pathq
  FROM s
),
h AS (
  SELECT *,
    regexp_replace(regexp_replace(hostport, ':(80|443)$', ''),
      '^www[0-9]*\\.', '') AS host,
    CASE WHEN regexp_replace(pathq, '\\?.*', '') = '' THEN '/'
         ELSE regexp_replace(pathq, '\\?.*', '') END AS path,
    CASE WHEN position('?' IN pathq) > 0
         THEN regexp_replace(pathq, '^[^?]*\\?', '') ELSE '' END AS qs
  FROM p
)
SELECT 'part-' || CAST(file_id AS VARCHAR) || '.warc.gz' AS filename,
  CAST(row_number() OVER (PARTITION BY file_id ORDER BY doc_id) - 1
    AS BIGINT) AS rec_seq,
  array_to_string(list_reverse(string_split(host, '.')), ',') || ')'
    || path
    || CASE WHEN qs = '' THEN ''
            ELSE '?' || array_to_string(list_sort(string_split(qs, '&')), '&')
       END AS surt_key,
  url,
  TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS warc_ts,
  sha256(text) AS payload_sha
FROM h""",
    audit=[
        ("member scan is the Arrow binaryFile kernel", r"MapInPandas"),
        ("NO shuffle after the scan (index rows are final)", r"!Exchange"),
    ],
)
def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cdx over real archives (sources/cdx.py): write gzip-member WARCs
    with deterministic file membership, scan member spans, random-fetch
    each record through its own slice, emit the index row. rec_seq is
    rank-by-offset within the file; the oracle expects rank-by-doc_id —
    equality proves member order == write order, and the sha proves the
    (offset, length) handles decode to the right record."""
    import datetime as _dt

    from finetoo_sp_spark.sources.cdx import read_cdx_entries, surt_key
    from finetoo_sp_spark.sources.warc import make_warc

    def encode(pdf) -> bytes:
        recs = [
            (
                _cdx_write_urls(int(r.doc_id), r.source),
                _dt.datetime(2024, 1, 1) + _dt.timedelta(seconds=int(r.doc_id)),
                r.text.encode("utf-8"),
            )
            for r in pdf.itertuples()
        ]
        return make_warc(recs, gzip_members=True)

    docs = T(spark, sf_dir, "documents").selectExpr("doc_id", "source", "text", _FILE_ID)
    idx = read_cdx_entries(spark, _stage(docs, "cdx", ".warc.gz", encode))
    return idx.select(
        "filename",
        "rec_seq",
        surt_key(F.col("url")).alias("surt_key"),
        "url",
        "warc_ts",
        F.sha2("html", 256).alias("payload_sha"),
    )


@_q(
    "zipnum_index",
    """
WITH c AS (
  SELECT 'com,example,' || source || ')/doc/' || doc_id AS surt,
    strftime(TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND,
      '%Y%m%d%H%M%S') AS ts14,
    'https://' || source || '.example.com/doc/' || doc_id AS url
  FROM documents
), p AS (
  SELECT *,
    CASE WHEN surt < 'com,example,src5' THEN 0 ELSE 1 END AS pid,
    surt || ' ' || ts14 || ' ' || url AS line
  FROM c
), r AS (
  SELECT *, CAST(row_number()
    OVER (PARTITION BY pid ORDER BY surt, ts14) - 1 AS BIGINT) AS rk
  FROM p
)
SELECT 'part-' || CAST(pid AS VARCHAR) || '.zipnum.gz' AS filename,
  rk // 100 AS block_no,
  count(*) AS n_lines,
  min(surt) AS first_key,
  max(surt) AS last_key,
  sha256(string_agg(line, chr(10) ORDER BY rk) || chr(10)) AS block_sha
FROM r GROUP BY 1, 2""",
)
def q_zipnum_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level cdx index (sources/cdx.pack_zipnum): sorted cdx lines
    packed into gzip-member blocks of 100 with a cluster.idx of
    first-key pointers — Common Crawl's binary-searchable index layout.
    Partition membership uses a FIXED split key (the way cc-index jobs
    ship a split file), so the oracle can recompute every block's line
    count, key range, and the sha of its exact decompressed text; the
    read side decodes each block from its own member slice."""
    import pandas as pd  # noqa: PLC0415

    from finetoo_sp_spark.sources.cdx import pack_zipnum, read_zipnum_blocks

    docs = T(spark, sf_dir, "documents").select("doc_id", "source")
    surt = F.concat(
        F.lit("com,example,"), "source", F.lit(")/doc/"),
        F.col("doc_id").cast("string"),
    )
    keyed = docs.select(
        "doc_id", "source", surt.alias("surt"),
        F.when(surt < "com,example,src5", 0).otherwise(1).alias("file_id"),
    )

    def encode(pdf: pd.DataFrame) -> bytes:
        pdf = pdf.sort_values("surt")
        ts14 = (
            pd.Timestamp("2024-01-01")
            + pd.to_timedelta(pdf["doc_id"], "s")
        ).dt.strftime("%Y%m%d%H%M%S")
        url = "https://" + pdf["source"] + ".example.com/doc/" + pdf[
            "doc_id"
        ].astype(str)
        lines = (pdf["surt"] + " " + ts14 + " " + url).tolist()
        return pack_zipnum(lines, block_size=100)[0]

    out = _stage(keyed, "zipnum", ".zipnum.gz", encode)
    return read_zipnum_blocks(spark, out).select(
        "filename", "block_no", "n_lines", "first_key", "last_key", "block_sha"
    )


@_q(
    "http_transfer_decode",
    """
SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
  CASE CAST(doc_id % 4 AS INTEGER)
    WHEN 0 THEN 'plain' WHEN 1 THEN 'chunked'
    WHEN 2 THEN 'gzip' ELSE 'chunked+gzip' END AS mode,
  sha256(text) AS payload_sha,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents""",
    audit=[
        ("WARC parse is the Arrow binaryFile kernel", r"MapInPandas"),
        ("NO shuffle", r"!Exchange"),
    ],
)
def q_http_transfer_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-wire HTTP encodings through the WARC reader
    (sources/warc.make_warc_transfer / _decode_http_body): bodies are
    written chunked, gzipped, both, or plain — cycling by doc_id — and
    the decoded payload's sha256 and byte length must equal the
    original text's on every mode."""
    import datetime as _dt

    from finetoo_sp_spark.sources.warc import make_warc_transfer, read_warc_pages_http

    _MODES = ["plain", "chunked", "gzip", "chunked+gzip"]

    def encode(pdf) -> bytes:
        recs = [
            (
                f"https://{r.source}.example.com/doc/{int(r.doc_id)}",
                _dt.datetime(2024, 1, 1) + _dt.timedelta(seconds=int(r.doc_id)),
                r.text.encode("utf-8"),
                _MODES[int(r.doc_id) % 4],
            )
            for r in pdf.itertuples()
        ]
        return make_warc_transfer(recs)

    docs = T(spark, sf_dir, "documents").selectExpr("doc_id", "source", "text", _FILE_ID)
    pages = read_warc_pages_http(spark, _stage(docs, "httpenc", ".warc", encode))
    doc_id = F.regexp_extract("url", "([0-9]+)$", 1).cast("long")
    return pages.select(
        "url",
        F.element_at(
            F.array(*[F.lit(m) for m in _MODES]),
            (doc_id % 4 + 1).cast("int"),
        ).alias("mode"),
        F.sha2("html", 256).alias("payload_sha"),
        F.length("html").cast("long").alias("n_bytes"),
    )


@_q(
    "cdx_fetch_extract",
    f"""
SELECT url, text
FROM ({_docpages_expected_sql("url, text, doc_id")})
WHERE doc_id % 17 = 3""",
    audit=[
        ("span lists broadcast against archive bytes", r"BroadcastHashJoin"),
        ("index scan + slice fetch are Arrow kernels", r"MapInPandas"),
    ],
)
def q_cdx_fetch_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The access-layer capstone: the reason a crawl gets an index is so
    a downstream job can extract 0.1% of its pages WITHOUT scanning
    100 TB. Real docpages HTML is archived into gzip-member WARCs, the
    cdx index is built once, then the wanted urls (doc_id % 17 == 3)
    select index rows, the (offset, length) handles are grouped per
    archive file and BROADCAST against the file bytes, and ONLY those
    members are slice-decompressed and fed to the extraction kernel —
    whose output must still be the byte-identical expected text.

    Scale shape: the fetch plan reads each archive file once (one
    binaryFile task per file), probes a broadcast list of spans, and
    decompresses selected members only — I/O and CPU proportional to
    the SELECTION, not the crawl. At real scale the binaryFile read
    becomes ranged GETs; the plan shape (index join -> grouped spans ->
    per-file slice fetch) is unchanged."""
    import datetime as _dt

    import pandas as pd  # noqa: PLC0415

    from finetoo_sp_spark.sources.cdx import fetch_warc_record, read_cdx_entries
    from finetoo_sp_spark.sources.warc import make_warc

    def encode(pdf: pd.DataFrame) -> bytes:
        recs = [
            (
                r.url,
                _dt.datetime(2024, 1, 1) + _dt.timedelta(seconds=int(r.doc_id)),
                bytes(r.html),
            )
            for r in pdf.itertuples()
        ]
        return make_warc(recs, gzip_members=True)

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    doc_id = F.regexp_extract("url", "([0-9]+)$", 1).cast("long")
    pages = pages.select("url", "html", doc_id.alias("doc_id"))
    out = _stage(pages.selectExpr("*", _FILE_ID), "cdxfetch", ".warc.gz", encode)

    # the index job runs once per crawl; consumers only touch it
    idx = read_cdx_entries(spark, out).select("filename", "offset", "length", "url")
    wanted = idx.filter(
        F.regexp_extract("url", "([0-9]+)$", 1).cast("long") % 17 == 3
    )
    spans = wanted.groupBy("filename").agg(
        F.collect_list(F.struct("offset", "length")).alias("spans")
    )

    files = (
        spark.read.format("binaryFile")
        .load(out)
        .select(
            F.regexp_extract("path", "([^/]+)$", 1).alias("filename"), "content"
        )
        .join(F.broadcast(spans), "filename")
    )

    def fetch(batches):
        for pdf in batches:
            rows = []
            for blob, sp in zip(pdf["content"], pdf["spans"]):
                data = bytes(blob)
                for s in sp:
                    rec = fetch_warc_record(data, int(s["offset"]), int(s["length"]))
                    if rec is not None:
                        rows.append((rec[0], rec[2]))
            if rows:
                yield pd.DataFrame(rows, columns=["url", "html"])

    fetched = files.mapInPandas(fetch, "url string, html binary")
    return extract_pages(fetched).select("url", "text")
