"""Parallel PDF layout-analysis extraction path.

North-star requirement: "a parallel layout-analysis path for PDF
payloads" (BASELINE.json). Reference analogue: the 7 `*-Model.pdf`
siblings of the DXFs routed through BinderConfig
(binder_test_no_refs/ listing; proto/graph.proto:360-383).

Design mirrors the HTML path: payloads stay opaque ``binary`` until the
Arrow batch reaches the vectorized kernel; output schema is the same
EXTRACT_SCHEMA so the two paths union into one table.

Layout analysis = order text fragments by (page, y desc, x asc) — the
standard reading-order reconstruction — then group fragments into blocks
on y-gaps, join block texts with newlines.

Codec routing: ``pdfminer.six`` is used when importable; otherwise REAL
%PDF- payloads go through the vendored pure-stdlib extractor
(extraction/pdfmini.py — Flate streams, BT/ET text objects, ToUnicode
CMaps; verified against the reference's 7 *-Model.pdf payloads and
against spec-conformant PDFs written by pdfmini.make_real_pdf). The
deterministic FAKEPDF fixture format (:func:`make_fake_pdf`) parses
natively. A malformed payload yields an empty extraction with
n_blocks=0 rather than an error — at 10^12 scale a bad payload must
never kill the job.

FAKEPDF format (text, utf-8)::

    %PDF-FAKE
    P <page> <x> <y> <text...>     # one fragment per line

"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from finetoo_sp_spark.extraction.extract import _map_pages, extract_pages
from finetoo_sp_spark.extraction.kernel import EXTRACT_ARROW_SCHEMA

FAKE_MAGIC = b"%PDF-FAKE"
PDF_MAGIC = b"%PDF-"

# fragments closer than this vertically belong to one block
Y_BLOCK_GAP = 14.0


def make_fake_pdf(fragments: list[tuple[int, float, float, str]]) -> bytes:
    """Build a FAKEPDF payload from (page, x, y, text) fragments."""
    lines = ["%PDF-FAKE"] + [
        f"P {p} {x:g} {y:g} {t}" for (p, x, y, t) in fragments
    ]
    return "\n".join(lines).encode("utf-8")


def _parse_fake(payload: bytes) -> pd.DataFrame:
    rows = []
    for line in payload.decode("utf-8", "replace").splitlines()[1:]:
        parts = line.split(" ", 4)
        if len(parts) == 5 and parts[0] == "P":
            try:
                rows.append(
                    (int(parts[1]), float(parts[2]), float(parts[3]), parts[4])
                )
            except ValueError:
                continue
    return pd.DataFrame(rows, columns=["page", "x", "y", "text"])


def _parse_pdfminer(payload: bytes) -> pd.DataFrame:
    """Real layout parse via pdfminer.six (absent in this container;
    exercised wherever the library exists — same fragment schema)."""
    from io import BytesIO

    from pdfminer.high_level import extract_pages  # noqa: PLC0415
    from pdfminer.layout import LTTextContainer  # noqa: PLC0415

    rows = []
    for pageno, layout in enumerate(extract_pages(BytesIO(payload))):
        for el in layout:
            if isinstance(el, LTTextContainer):
                rows.append((pageno, el.x0, el.y1, el.get_text().strip()))
    return pd.DataFrame(rows, columns=["page", "x", "y", "text"])


def _have_pdfminer() -> bool:
    try:
        import pdfminer  # noqa: F401, PLC0415

        return True
    except ImportError:
        return False


def extract_pdf_batch(urls: pd.Series, payload: pd.Series) -> pa.RecordBatch:
    """(url, payload) -> an EXTRACT_ARROW_SCHEMA batch via layout analysis."""
    use_real = _have_pdfminer()

    out_rows = []
    for url, raw in zip(urls, payload):
        raw = bytes(raw) if raw is not None else b""
        if raw.startswith(FAKE_MAGIC):
            frags = _parse_fake(raw)
        elif raw.startswith(PDF_MAGIC):
            # real PDFs: pdfminer when the library exists, else the
            # vendored pure-stdlib extractor (pdfmini) — same fragment
            # schema either way; malformed payloads emit empty rows,
            # never an exception (a bad payload must not kill the task)
            if b"/Encrypt" in raw:
                # RC4 standard-security docs (commonly empty user
                # password) decrypt in place (extraction/pdfcrypt.py); if
                # decryption fails (AES, a real password, or "/Encrypt"
                # bytes that were never a trailer entry) the original
                # bytes are parsed instead
                from finetoo_sp_spark.extraction.pdfcrypt import decrypt_pdf

                try:
                    raw = decrypt_pdf(raw)
                except Exception:
                    pass
            try:
                if use_real:
                    frags = _parse_pdfminer(raw)
                else:
                    from finetoo_sp_spark.extraction.pdfmini import parse_pdf_fragments

                    frags = parse_pdf_fragments(raw)
            except Exception:
                frags = pd.DataFrame(columns=["page", "x", "y", "text"])
        else:
            frags = pd.DataFrame(columns=["page", "x", "y", "text"])

        if len(frags):
            # reading order: page asc, y desc (PDF origin bottom-left), x asc
            frags = frags.sort_values(
                ["page", "y", "x"], ascending=[True, False, True], kind="mergesort"
            ).reset_index(drop=True)
            # block segmentation on y-gaps within a page
            newpage = frags["page"].diff().fillna(1) != 0
            ygap = (-frags["y"].diff().fillna(0)) > Y_BLOCK_GAP
            block = (newpage | ygap).cumsum()
            texts = frags.groupby(block, sort=True)["text"].agg(" ".join)
            texts = texts[texts.str.len() > 0]
            text = "\n".join(texts)
            n_blocks = int(len(texts))
        else:
            text, n_blocks = "", 0

        out_rows.append(
            {
                "url": url,
                "text": text,
                "spans": [],  # byte offsets are codec-specific; spans carry
                # block indices for PDFs only when a real codec is present
                "title": "",
                "h1": "",
                "lang_attr": "",
                "n_blocks": n_blocks,
                "n_content_blocks": n_blocks,
                "content_chars": len(text) - (n_blocks - 1 if n_blocks else 0),
            }
        )
    return pa.RecordBatch.from_pylist(out_rows, schema=EXTRACT_ARROW_SCHEMA)


def extract_pages_any(
    pages: DataFrame,
    repartition_buckets: int | None = None,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Route each page by payload magic: %PDF-* -> layout path, else HTML
    tokenizer path; union into one EXTRACT_SCHEMA output.

    The routing predicate is a JVM-side prefix check on the binary column
    (no Python touch for the split), so each path's mapInArrow sees only
    its own rows — a narrow, shuffle-free plan on both branches.
    ``repartition_buckets`` and ``keep_cols`` are extract_pages' own
    (applied to each branch): the extractor protocol that
    ``run_resumable_extraction(extractor=)`` calls every extractor with,
    so this is a drop-in replacement for extract_pages there.
    """
    is_pdf = F.startswith(F.col("html"), F.lit(PDF_MAGIC))
    html_out = extract_pages(pages.filter(~is_pdf), repartition_buckets, keep_cols)
    pdf_out = _map_pages(
        pages.filter(is_pdf), repartition_buckets, keep_cols, extract_pdf_batch
    )
    return html_out.unionByName(pdf_out)
