"""WHATWG-style charset sniffing + decode for crawled HTML bytes.

The input_hint table carries ``html`` as BINARY because real crawl
payloads arrive in whatever encoding the origin served — and a real
Common-Crawl slice is still ~5-10% legacy-encoded (windows-1252,
Shift_JIS, GBK, EUC-KR, ...). Decoding everything as UTF-8 (the
default in extraction/kernel.py ``decode_html``) mojibakes those pages
*before* extraction sees them, which post-hoc repair
(operators/normalize.py) can only partially undo. This module is the
missing first stage: the HTML standard's encoding-sniffing algorithm
(https://html.spec.whatwg.org/multipage/parsing.html#determining-the-character-encoding)
reduced to its deterministic batch subset:

1. **BOM** (highest priority, per spec): ``EF BB BF`` -> utf-8,
   ``FF FE`` -> utf-16-le, ``FE FF`` -> utf-16-be.
2. **meta prescan** over the first 1024 bytes (the spec's prescan
   window): ``<meta charset=...>`` or ``<meta http-equiv=content-type
   content="...; charset=...">``, matched case-insensitively on a
   latin-1 lift of the head (latin-1 decodes any byte, so the regex
   view is total — no decode error can precede detection).
3. **Fallback windows-1252** — the spec's default for the en locale
   and the WHATWG target of the ascii / latin-1 / iso-8859-1 labels.

Labels normalize through ENCODING_LABELS (a WHATWG alias-table
subset); an unknown label falls back like a missing one (the spec
keeps prescanning past unrecognized labels) and is reported as
``charset_src='default'`` so corpora can audit their label hygiene.

Vectorization: everything up to the codec call is column-wise pandas
on the Arrow batch (byte-slice compares for BOMs, one regex extract on
the 1 KiB head). The decode itself is grouped **by detected codec**
within the batch — one ``Series.str.decode`` per distinct encoding
present, not per row — which is as batched as charset conversion can
be (the codec is data-dependent). Plan shape: one mapInPandas, no
shuffle; the stage is embarrassingly parallel like the extraction
kernel it feeds.
"""

from __future__ import annotations

import re
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

PRESCAN_BYTES = 1024
DEFAULT_ENCODING = "windows-1252"

# WHATWG encoding-label subset -> python codec name. Keys lowercase.
# Per the standard, the pure-ASCII/latin-1 family all map to
# windows-1252 (its 0x80-0x9F block is what origins actually send).
ENCODING_LABELS = {
    "utf-8": "utf-8", "utf8": "utf-8", "unicode-1-1-utf-8": "utf-8",
    "ascii": "windows-1252", "us-ascii": "windows-1252",
    "latin-1": "windows-1252", "latin1": "windows-1252",
    "iso-8859-1": "windows-1252", "iso8859-1": "windows-1252",
    "iso_8859-1": "windows-1252", "l1": "windows-1252",
    "windows-1252": "windows-1252", "cp1252": "windows-1252",
    "x-cp1252": "windows-1252",
    "iso-8859-2": "iso-8859-2", "latin2": "iso-8859-2",
    "iso-8859-15": "iso-8859-15",
    "windows-1250": "windows-1250", "cp1250": "windows-1250",
    "windows-1251": "windows-1251", "cp1251": "windows-1251",
    "windows-1254": "windows-1254", "iso-8859-9": "windows-1254",
    "latin5": "windows-1254",
    "koi8-r": "koi8-r", "koi8": "koi8-r",
    "shift_jis": "shift_jis", "shift-jis": "shift_jis",
    "sjis": "shift_jis", "x-sjis": "shift_jis", "ms_kanji": "shift_jis",
    "euc-jp": "euc-jp", "x-euc-jp": "euc-jp",
    "gb2312": "gbk", "gbk": "gbk", "gb_2312": "gbk",
    "x-gbk": "gbk", "csgb2312": "gbk",
    "big5": "big5", "big5-hkscs": "big5",
    "euc-kr": "euc-kr", "korean": "euc-kr",
    "ks_c_5601-1987": "euc-kr", "ksc_5601": "euc-kr",
    "utf-16": "utf-16-le", "utf-16le": "utf-16-le",
    "utf-16be": "utf-16-be",
}

# One regex covers both declaration forms: <meta charset="..."> and
# <meta http-equiv="content-type" content="text/html; charset=...">,
# because in both the token sequence `charset = <label>` appears inside
# the meta tag. Bounded lookbehind via the {0,512} attr window keeps it
# linear on adversarial heads.
_META_RE = re.compile(
    r"<meta[^>]{0,512}?charset\s*=\s*[\"']?\s*([A-Za-z0-9_.:\-]+)",
    re.IGNORECASE,
)


def sniff_decode_pandas(
    html: pd.Series, transport_label: pd.Series | None = None
) -> pd.DataFrame:
    """Vectorized sniff + decode of a bytes Series. Returns a DataFrame
    (same index) with ``charset`` (python codec name), ``charset_src``
    ('bom' | 'http' | 'meta' | 'default'), and ``text`` (decoded,
    leading BOM character stripped). Null payloads decode to null text.

    ``transport_label``: optional per-row HTTP Content-Type charset
    label (e.g. from sources/warc.read_warc_pages_http) — the WHATWG
    layer between BOM and meta prescan: a resolvable transport label
    OVERRIDES any in-document declaration; an unknown/absent one falls
    through to the prescan."""
    b = html.fillna(b"")
    head = b.str.slice(0, PRESCAN_BYTES)
    p2, p3 = head.str.slice(0, 2), head.str.slice(0, 3)
    bom_utf8 = p3 == b"\xef\xbb\xbf"
    bom_le = (p2 == b"\xff\xfe") & ~bom_utf8
    bom_be = p2 == b"\xfe\xff"
    any_bom = bom_utf8 | bom_le | bom_be
    if transport_label is not None:
        http = (
            transport_label.reindex(b.index)
            .fillna("")
            .str.lower()
            .map(ENCODING_LABELS)
        )
    else:
        http = pd.Series(np.nan, index=b.index, dtype=object)
    http_known = http.notna() & ~any_bom
    label = (
        head.str.decode("latin-1")
        .str.extract(_META_RE, expand=False)
        .str.lower()
        .map(ENCODING_LABELS)
        # WHATWG prescan: an in-document utf-16/utf-16le/utf-16be label
        # must be treated as utf-8 — a label READABLE in the ASCII
        # prescan cannot be genuine UTF-16 (the bytes would be
        # null-interleaved). The utf-16 mapping stays live for the
        # transport layer above, where it is legitimate.
    )
    label = label.mask(label.isin(("utf-16-le", "utf-16-be")), "utf-8")
    meta_known = label.notna() & ~any_bom & ~http_known
    charset = np.select(
        [bom_utf8, bom_le, bom_be, http_known, meta_known],
        ["utf-8", "utf-16-le", "utf-16-be", http, label],
        default=DEFAULT_ENCODING,
    )
    src = np.select(
        [any_bom, http_known, meta_known],
        ["bom", "http", "meta"],
        default="default",
    )
    text = pd.Series(index=b.index, dtype=object)
    cs = pd.Series(charset, index=b.index)
    for enc in cs.unique():
        mask = cs == enc
        text[mask] = b[mask].str.decode(enc, errors="replace")
    text = text.str.replace("^\ufeff", "", n=1, regex=True)
    text[html.isna()] = None
    return pd.DataFrame(
        {"charset": charset, "charset_src": src, "text": text}, index=b.index
    )


def decode_pages(
    pages: DataFrame,
    passthrough: Sequence[str] = ("url",),
    http_charset_col: str | None = None,
) -> DataFrame:
    """pages(..., html:binary) -> (passthrough..., charset,
    charset_src, text). One Arrow pass, no shuffle; feeds the
    extraction kernel in place of the utf-8-only decode for corpora
    with legacy encodings. ``http_charset_col`` (e.g. from
    sources/warc.read_warc_pages_http) engages the full WHATWG
    priority chain: BOM > HTTP transport label > meta prescan >
    windows-1252."""
    cols = list(passthrough)
    schema_parts = [
        f"`{c}` {t}" for c, t in pages.select(*cols).dtypes
    ] + ["charset string", "charset_src string", "text string"]
    sel = [*cols, "html"] + ([http_charset_col] if http_charset_col else [])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out = sniff_decode_pandas(
                pdf["html"],
                pdf[http_charset_col] if http_charset_col else None,
            )
            yield pd.concat([pdf[cols], out], axis=1)

    return pages.select(*sel).mapInPandas(run, schema=", ".join(schema_parts))
