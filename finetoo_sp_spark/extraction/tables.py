"""HTML table extraction: <table> regions -> typed (row, col, cell) rows.

Extraction-tier extension of the main-text kernel (reference analogue:
the schema-driven typed-field mapping in query_service.cc's DXF binder —
tables are the HTML case of "structured region -> typed records").
Training pipelines mine tables for aligned/structured text; this
operator turns every ``<table>`` in a page into long-format cells that
the schema-rule mapper (extraction/fields.py) can type downstream.

Shape: pure JVM column ops end to end — three nested
``regexp_extract_all`` + ``posexplode`` passes (tables -> <tr> rows ->
<td>/<th> cells), then an inner-tag strip + trim on the cell body. No
Python executes per row and no shuffle at all: the whole plan is narrow
(Generate + Project over the scan), so it scales exactly like the page
scan itself and composes with the hash(url) salting used by the
extraction kernel.

Limits (documented, regex-based by design): nested ``<table>`` inside a
cell is not recursed into (the inner table's markup is stripped with the
other inner tags); attributes on table/tr/td/th are tolerated;
``[\\s\\S]*?`` lazy spans make multi-line markup work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType

_TABLES = r"(?i)<table[^>]*>([\\s\\S]*?)</table>"
_ROWS = r"(?i)<tr[^>]*>([\\s\\S]*?)</tr>"
_CELLS = r"(?i)<t[dh][^>]*>([\\s\\S]*?)</t[dh]>"


def extract_tables(pages: DataFrame) -> DataFrame:
    """(url, table_idx, row_idx, col_idx, cell) — one row per table cell,
    indices 0-based in document order, cell = trim(inner tags stripped).
    Pages with no <table> contribute no rows."""
    html = F.col("html")
    if isinstance(pages.schema["html"].dataType, BinaryType):
        html = F.decode(html, "UTF-8")

    return (
        pages.select("url", html.alias("_html"))
        .select(
            "url",
            F.posexplode(F.expr(f"regexp_extract_all(_html, '{_TABLES}', 1)")).alias(
                "table_idx", "_tbl"
            ),
        )
        .select(
            "url",
            "table_idx",
            F.posexplode(F.expr(f"regexp_extract_all(_tbl, '{_ROWS}', 1)")).alias(
                "row_idx", "_row"
            ),
        )
        .select(
            "url",
            "table_idx",
            "row_idx",
            F.posexplode(F.expr(f"regexp_extract_all(_row, '{_CELLS}', 1)")).alias(
                "col_idx", "_cell"
            ),
        )
        .select(
            "url",
            "table_idx",
            "row_idx",
            "col_idx",
            F.trim(F.regexp_replace("_cell", r"<[^>]*>", "")).alias("cell"),
        )
    )
