"""Output sinks: JSON / CSV export with the reference's sanitization.

Reference surface: src/export/bom_exporter.cc —
- ExportToJSON (:154-219): pretty JSON with non-printable sanitization
  (:16-28 keep 0x20-0x7E, map \\n/\\t -> space, drop the rest);
- ExportToCSV (:221-259): quoted CSV of part/qty/drawings/props;
- ExportDimensions (:261-285): handle/type/value/text/layer/drawing CSV.

Spark mapping (SURVEY A6-A8, F9): `df.write.json` / `df.write.csv` with
a column-level sanitize expression. Writers are distributed: one file
per partition, never a driver-side coalesce.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sanitize_ascii(col: Column | str) -> Column:
    """Keep printable ASCII 0x20-0x7E; newlines/tabs become spaces, other
    bytes are dropped (reference: bom_exporter.cc:16-28)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        F.regexp_replace(c, r"[\n\t\r]", " "), r"[^\x20-\x7E]", ""
    )


def _sanitized(df: DataFrame) -> DataFrame:
    cols = [
        sanitize_ascii(f.name).alias(f.name) if f.dataType.typeName() == "string" else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(*cols)


def write_json(df: DataFrame, path: str) -> None:
    """JSON-lines export with string sanitization (A6)."""
    _sanitized(df).write.mode("overwrite").json(path)


def dim_type_decode(code: Column | str) -> Column:
    """Dimension-type code -> name (reference: bom_exporter.cc:111-120
    decodes gc_70 & 0x07 into LINEAR/ALIGNED/ANGULAR/DIAMETER/RADIUS,
    anything else OTHER). Chained `when` — pure Catalyst, constant-folded.
    """
    c = F.col(code) if isinstance(code, str) else code
    return (
        F.when(c == 0, "LINEAR")
        .when(c == 1, "ALIGNED")
        .when(c == 2, "ANGULAR")
        .when(c == 3, "DIAMETER")
        .when(c == 4, "RADIUS")
        .otherwise("OTHER")
    )


# FormatBOM column widths
PART_WIDTH = 40
QTY_WIDTH = 8


def format_bom_lines(bom: DataFrame) -> DataFrame:
    """Fixed-width rendering of (part, quantity) BOM rows as (line_no,
    line) rows — an
    analogue of the reference's FormatBOM (query_service.cc:181-206:
    padded part/qty table, quantity-desc order), not a byte-for-byte
    clone of its exact header/separator layout. line_no 0 = header,
    1 = separator, 2.. = entries; ties broken on part name so the
    rendering is byte-deterministic. Part names wider than
    ``PART_WIDTH`` are truncated to ``PART_WIDTH - 3`` + '...' (the
    reference's over-width rule) so fixed-width rows stay unambiguous
    instead of silently rpad-truncating.

    Kept as a DataFrame (not a collected string) so the renderer
    distributes; a driver-side `"\\n".join` over `.collect()` gives the
    full text artifact for dimension-sized BOMs.
    """
    from pyspark.sql.window import Window

    spark = bom.sparkSession
    header = spark.createDataFrame(
        [
            (0, "PART".ljust(PART_WIDTH) + "QTY".rjust(QTY_WIDTH)),
            (1, "-" * (PART_WIDTH + QTY_WIDTH)),
        ],
        ["line_no", "line"],
    )
    w = Window.orderBy(F.desc("quantity"), F.asc("part"))
    shown_part = F.when(
        F.length("part") > PART_WIDTH,
        F.concat(F.substring("part", 1, PART_WIDTH - 3), F.lit("...")),
    ).otherwise(F.col("part"))
    body = bom.select(
        (F.row_number().over(w) + 1).cast("long").alias("line_no"),
        F.concat(
            F.rpad(shown_part, PART_WIDTH, " "),
            F.lpad(F.col("quantity").cast("string"), QTY_WIDTH, " "),
        ).alias("line"),
    )
    return header.select(F.col("line_no").cast("long"), "line").unionByName(body)


def write_csv(df: DataFrame, path: str) -> None:
    """Quoted CSV export with header + sanitization (A7/A8; reference
    quotes every field, bom_exporter.cc:230-240 -> quoteAll)."""
    # escape='"' -> RFC-4180 doubled quotes (Spark defaults to backslash);
    # whitespace options off -> the writer defaults TRIM leading/trailing
    # whitespace even inside quoted fields, which breaks byte-identical
    # round trips (reference quotes fields verbatim)
    _sanitized(df).write.mode("overwrite").option("header", True).option("quoteAll", True).option(
        "escape", '"'
    ).option("ignoreLeadingWhiteSpace", False).option(
        "ignoreTrailingWhiteSpace", False
    ).csv(path)


def write_wet(df: DataFrame, path: str) -> None:
    """WET export (WARC/1.0 ``conversion`` records — the Common Crawl
    extracted-text interchange format): one record per (url, text) row
    with WARC-Target-URI / WARC-Date headers (the date is the fixed
    2026-01-01T00:00:00Z) and the UTF-8 text as the body, Content-Length
    in bytes.

    Fully distributed: each record is assembled as ONE JVM string
    column (concat of headers + body, CRLF line ends) and written with
    the text sink — one .wet file per partition, no driver collection.
    The text source appends a single '\\n' between rows; readers bind
    the body by Content-Length, so the separator is inert padding
    (sources/warc.py read_wet_text round-trips it)."""
    crlf = F.lit("\r\n")
    record = F.concat(
        F.lit("WARC/1.0"), crlf,
        F.lit("WARC-Type: conversion"), crlf,
        F.lit("WARC-Target-URI: "), F.col("url"), crlf,
        F.lit("WARC-Date: "), F.lit("2026-01-01T00:00:00Z"), crlf,
        F.lit("Content-Type: text/plain"), crlf,
        F.lit("Content-Length: "),
        F.octet_length(F.col("text")).cast("string"), crlf,
        crlf,
        F.col("text"), crlf,
    )
    df.select(record.alias("value")).write.mode("overwrite").text(path)


def write_wat(df: DataFrame, path: str) -> None:
    """WAT export (WARC/1.0 ``metadata`` records whose body is the
    Common Crawl JSON envelope): per (url, title, links) page,
    Envelope.WARC-Header-Metadata carries the target URI and Envelope.Payload-Metadata...HTML-Metadata
    carries the extracted Head.Title and Links list — the metadata
    interchange format beside WARC (raw) and WET (text).

    Fully distributed like write_wet: the JSON envelope is ONE JVM
    ``to_json(struct(...))`` per row (hyphenated keys via aliases), the
    WARC framing one concat, one .wat file per partition, no driver
    collection. Content-Length binds the body, so embedded newlines in
    titles survive byte-exactly."""
    links_json = F.transform(
        F.col("links"), lambda t: F.struct(t.alias("url"))
    )
    envelope = F.to_json(
        F.struct(
            F.struct(
                F.struct(
                    F.col("url").alias("WARC-Target-URI"),
                    F.lit("response").alias("WARC-Type"),
                ).alias("WARC-Header-Metadata"),
                F.struct(
                    F.struct(
                        F.struct(
                            F.struct(F.col("title").alias("Title")).alias("Head"),
                            links_json.alias("Links"),
                        ).alias("HTML-Metadata")
                    ).alias("HTTP-Response-Metadata")
                ).alias("Payload-Metadata"),
            ).alias("Envelope")
        )
    )
    crlf = F.lit("\r\n")
    record = F.concat(
        F.lit("WARC/1.0"), crlf,
        F.lit("WARC-Type: metadata"), crlf,
        F.lit("WARC-Target-URI: "), F.col("url"), crlf,
        F.lit("WARC-Date: "), F.lit("2026-01-01T00:00:00Z"), crlf,
        F.lit("Content-Type: application/json"), crlf,
        F.lit("Content-Length: "), F.octet_length(envelope).cast("string"), crlf,
        crlf,
        envelope, crlf,
    )
    df.select(record.alias("value")).write.mode("overwrite").text(path)
