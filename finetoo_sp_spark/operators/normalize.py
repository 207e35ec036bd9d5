"""Web-text normalization: mojibake repair + unicode cleanup.

Training-pipeline extension (no reference analogue): raw Common-Crawl
text is full of double-encoded UTF-8 ("mojibake": UTF-8 bytes decoded
as CP1252 and re-encoded — the classic three-character artifact where
an apostrophe should be), non-breaking/zero-width spaces, and
typographic quotes that fragment token statistics. ftfy is the
reference tool; this is the deterministic, declaratively-expressed
subset covering the overwhelmingly common cases, as a single JVM
column expression (a chain of ``replace`` — no regex, no Python per
row, no shuffle, fully codegen'd).

The repair table is DERIVED at import time: for each target character
we compute its actual UTF-8-read-as-CP1252 artifact with a sloppy
CP1252 map (undefined bytes 0x81/8D/8F/90/9D pass through as the C1
control of the same value — the browser/ftfy convention), so the
patterns are exact by construction rather than hand-typed. Every rule
is a plain string replace, and :func:`oracle_sql_chain` generates the
identical nested replace() chain for DuckDB from the SAME table —
single source of truth, the two sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# sloppy CP1252: byte -> char, undefined C1 bytes map to themselves
_CP1252_SLOPPY = {
    b: bytes([b]).decode("cp1252", errors="strict") if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D) else chr(b)
    for b in range(256)
}


def _mojibake(ch: str) -> str:
    """The artifact produced when UTF-8 bytes of ``ch`` are read as
    (sloppy) CP1252 — e.g. one curly quote becomes three characters."""
    return "".join(_CP1252_SLOPPY[b] for b in ch.encode("utf-8"))


# target characters whose mojibake artifacts we repair, with the ascii
# (punctuation) or proper unicode (letters) replacement
_REPAIR_TARGETS: list[tuple[str, str]] = [
    ("’", "'"),    # right single quote
    ("‘", "'"),    # left single quote
    ("“", '"'),    # left double quote
    ("”", '"'),    # right double quote
    ("–", "-"),    # en dash
    ("—", "-"),    # em dash
    ("…", "..."),  # ellipsis
    ("é", "é"),  # e-acute: repair to the REAL letter
    ("è", "è"),
    ("á", "á"),
    ("à", "à"),
    ("ó", "ó"),
    ("ö", "ö"),
    ("ü", "ü"),
    ("ñ", "ñ"),
    ("ç", "ç"),
]

# (broken, fixed) — derived, most-specific (3-byte artifacts) first
MOJIBAKE_TABLE: list[tuple[str, str]] = sorted(
    [(_mojibake(src), dst) for src, dst in _REPAIR_TARGETS],
    key=lambda p: -len(p[0]),
)

# typographic -> ascii (applied after repair so fixed quotes fold too)
QUOTE_FOLD_TABLE: list[tuple[str, str]] = [
    ("’", "'"), ("‘", "'"),
    ("“", '"'), ("”", '"'),
    ("–", "-"), ("—", "-"),
    ("…", "..."),
]

# NBSP family -> plain space; zero-width family -> removed
_SPACE_CHARS = [" ", " ", " "]
_ZERO_WIDTH = ["​", "‌", "‍", "﻿"]


def normalize_text_col(col) -> Column:
    """Column expression applying the full repair chain to ``col``."""
    c = F.col(col) if isinstance(col, str) else col
    for broken, fixed in MOJIBAKE_TABLE + QUOTE_FOLD_TABLE:
        c = F.replace(c, F.lit(broken), F.lit(fixed))
    for ch in _SPACE_CHARS:
        c = F.replace(c, F.lit(ch), F.lit(" "))
    for ch in _ZERO_WIDTH:
        c = F.replace(c, F.lit(ch), F.lit(""))
    return c


def normalize_text(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, text, changed) — repaired text plus a flag marking rows the
    chain actually touched (cheap corpus-health signal: % mojibake)."""
    fixed = normalize_text_col(text_col)
    return docs.select(
        F.col(id_col).alias("id"),
        fixed.alias("text"),
        (fixed != F.col(text_col)).alias("changed"),
    )


def oracle_sql_chain(expr: str) -> str:
    """The identical repair chain as nested DuckDB replace() calls,
    generated from the same tables as the Spark path."""
    out = expr
    for broken, fixed in MOJIBAKE_TABLE + QUOTE_FOLD_TABLE:
        out = f"replace({out}, '{_sq(broken)}', '{_sq(fixed)}')"
    for ch in _SPACE_CHARS:
        out = f"replace({out}, '{ch}', ' ')"
    for ch in _ZERO_WIDTH:
        out = f"replace({out}, '{ch}', '')"
    return out


def _sq(s: str) -> str:
    return s.replace("'", "''")


def nfc_normalize_text(df: "DataFrame") -> "DataFrame":
    """Unicode NFC normalization — the canonical-composition pass every
    training corpus applies so 'e'+COMBINING ACUTE and the precomposed
    U+00E9 stop being distinct tokens (they hash, dedup, and tokenize
    differently while rendering identically). One Arrow pass, no
    shuffle; inside the batch a C-level is_normalized prescan gates the
    stdlib normalize so only the rows that actually change pay for the
    copy (a few percent of real web text — the rest is ASCII). DuckDB's
    nfc_normalize() gives the oracle the same Unicode canonical
    composition, so the check is two independent implementations of
    UAX#15 agreeing byte-for-byte.

    Reads (doc_id, text); returns (doc_id, text_nfc, changed).
    """
    import unicodedata

    import pandas as pd

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            texts = pdf["text"].astype(object).reset_index(drop=True)
            # Fast path: unicodedata.is_normalized is a C-level quick
            # check (true for all-ASCII and precomposed text without
            # allocating the normalized copy), so the quadratic-ish
            # normalize call only runs on rows that actually change —
            # on real web text that's a few percent. (This pyarrow
            # build's utf8_normalize is not ICU-backed and does not
            # compose, so the stdlib path is the correct one.)
            dirty = texts.map(
                lambda s: s is not None and not unicodedata.is_normalized("NFC", s)
            )
            out = texts.copy()
            out[dirty] = texts[dirty].map(
                lambda s: unicodedata.normalize("NFC", s)
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].reset_index(drop=True),
                    "text_nfc": out,
                    "changed": dirty.astype(bool),
                }
            )

    id_type = dict(df.dtypes)["doc_id"]
    return df.select("doc_id", "text").mapInPandas(
        run, schema=f"doc_id {id_type}, text_nfc string, changed boolean"
    )
