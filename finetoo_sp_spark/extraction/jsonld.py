"""JSON-LD structured-data extraction (schema.org script blocks).

Extraction-tier extension: the other common machine-readable region in
web pages besides <table> — ``<script type="application/ld+json">``
blobs carrying schema.org entities (Product, Article, Order...). A
training pipeline mines these for typed supervision (price/title/date
alignment with the page text); the reference's analogue is again the
schema-rule typed-field mapping (extraction/fields.py cites it).

Shape: one ``regexp_extract_all`` + ``posexplode`` to lift every blob,
then JVM-side ``get_json_object`` per requested field — no Python per
row, no shuffle; the plan is narrow over the page scan (same scale
story as extraction/tables.py).

Malformed JSON: get_json_object returns NULL for unparseable blobs or
missing paths — rows survive with NULL fields rather than failing the
job (dirty-data-safe at 10^12 pages).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType

_SCRIPT_RE = (
    r'(?i)<script[^>]*type\\s*=\\s*["\\x27]application/ld\\+json["\\x27][^>]*>'
    r"([\\s\\S]*?)</script>"
)


def extract_jsonld(
    pages: DataFrame, fields: dict[str, str] | None = None
) -> DataFrame:
    """(url, blob_idx, jsonld [, <field>...]) — one row per JSON-LD blob
    in document order. ``fields`` maps output column name -> JSONPath
    (e.g. ``{"price": "$.price"}``); each is extracted with
    get_json_object (string-typed; cast downstream)."""
    html = F.col("html")
    if isinstance(pages.schema["html"].dataType, BinaryType):
        html = F.decode(html, "UTF-8")

    blobs = pages.select("url", html.alias("_html")).select(
        "url",
        F.posexplode(F.expr(f"regexp_extract_all(_html, '{_SCRIPT_RE}', 1)")).alias(
            "blob_idx", "jsonld"
        ),
    )
    if not fields:
        return blobs.select("url", "blob_idx", F.trim("jsonld").alias("jsonld"))
    cols = [F.get_json_object(F.col("jsonld"), path).alias(name) for name, path in fields.items()]
    return blobs.select("url", "blob_idx", *cols)
