"""DXF (AutoCAD text drawing) group-code/value kernel.

The reference binder corpus carries three REAL drawings
(binder_test_no_refs/18066-G-302/305/307.dxf) beside its PDFs, parsed
by reference/src/parser/dxf_text_parser.cc:62-156: a DXF file is a
flat sequence of 2-line (group_code, value) pairs; ``0 SECTION`` /
``2 <name>`` ... ``0 ENDSEC`` frame sections; inside BLOCKS each
``0 BLOCK`` carries name (code 2) + handle (code 5) and owns the
entities up to ``0 ENDBLK``; inside ENTITIES every 0-code pair starts
an entity whose data runs to the next 0 code, with handle = code 5 and
layer = code 8 (ParseEntity, dxf_text_parser.cc:253-297). The
reference's parse_dxf tool then reports version ($ACADVER), per-type
entity counts and per-block entity counts — the parity surface the
tests pin against golden numbers computed from the real files.

Spark shape: the 2-line framing vectorizes the same way the HTML
kernel's segment splitter does — one ``str.split`` into a line array,
codes at even indices, values at odd, ``cumsum(code == 0)`` assigns
every pair to its entity segment, and first-per-segment lookups for
codes 2/5/8 come from one ``np.unique`` each. Only the walk over
0-code markers (hundreds per file, not pairs) is a Python loop. The
operator is an Arrow ``mapInPandas`` over binary payloads — one pass,
no shuffle; histograms aggregate JVM-side afterwards.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

#: record schema emitted per entity (plus the caller's id column)
DXF_RECORD_FIELDS = (
    "section string, block_name string, entity_type string, "
    "handle string, layer string, n_pairs long"
)


def parse_dxf_records(text: str) -> pd.DataFrame:
    """All entities of one DXF text as a DataFrame (section,
    block_name, entity_type, handle, layer, n_pairs). ``section`` is
    the enclosing section name (ENTITIES, BLOCKS, TABLES, ...);
    ``block_name`` is non-empty only for entities owned by a BLOCK.
    Section/BLOCK/ENDBLK markers themselves are not rows. Malformed
    group codes raise ValueError (mirroring the reference's
    InvalidArgumentError at dxf_text_parser.cc:147)."""
    lines = text.replace("\r\n", "\n").split("\n")
    while lines and lines[-1].strip() == "":
        lines.pop()
    if len(lines) % 2:
        lines.pop()  # dangling code with no value line: drop (EOF tail)
    codes_raw = pd.Series(lines[0::2], dtype=object).str.strip()
    vals = pd.Series(lines[1::2], dtype=object).str.strip()
    codes = pd.to_numeric(codes_raw, errors="coerce")
    if codes.isna().any():
        bad = codes_raw[codes.isna()].iloc[0]
        raise ValueError(f"invalid DXF group code {bad!r}")
    codes = codes.to_numpy(dtype=np.int64)
    v = vals.to_numpy(dtype=object)

    zero = codes == 0
    marker_vals = v[zero]
    n_seg = len(marker_vals)
    if n_seg == 0:
        return pd.DataFrame(
            columns=[
                "section", "block_name", "entity_type",
                "handle", "layer", "n_pairs",
            ]
        )
    seg = np.cumsum(zero) - 1  # pair -> segment of its 0-code marker
    pairs_per_seg = np.bincount(seg[seg >= 0], minlength=n_seg) - 1

    def first_per_seg(code: int) -> dict[int, str]:
        m = (codes == code) & (seg >= 0)
        if not m.any():
            return {}
        s = seg[m]
        u, fi = np.unique(s, return_index=True)
        vv = v[m]
        return {int(si): vv[fi[i]] for i, si in enumerate(u)}

    name2 = first_per_seg(2)
    handle5 = first_per_seg(5)
    layer8 = first_per_seg(8)

    rows = []
    section = ""
    block = ""
    for j in range(n_seg):
        mv = marker_vals[j]
        if mv == "SECTION":
            section = name2.get(j, "")
            block = ""
        elif mv == "ENDSEC":
            section = ""
            block = ""
        elif mv == "BLOCK":
            block = name2.get(j, "")
        elif mv == "ENDBLK":
            block = ""
        elif mv == "EOF":
            break
        else:
            rows.append(
                (
                    section,
                    block,
                    mv,
                    handle5.get(j, ""),
                    layer8.get(j, ""),
                    int(pairs_per_seg[j]),
                )
            )
    return pd.DataFrame(
        rows,
        columns=["section", "block_name", "entity_type", "handle", "layer", "n_pairs"],
    )


def parse_dxf_blocks(text: str) -> pd.DataFrame:
    """One row per BLOCK marker in the BLOCKS section (the reference's
    file.blocks, dxf_text_parser.cc ParseBlocks): (block_name, handle,
    n_entities). Duplicate names stay separate rows — the reference
    counts markers, not distinct names."""
    lines = text.replace("\r\n", "\n").split("\n")
    while lines and lines[-1].strip() == "":
        lines.pop()
    if len(lines) % 2:
        lines.pop()
    codes = pd.to_numeric(
        pd.Series(lines[0::2], dtype=object).str.strip(), errors="coerce"
    ).to_numpy()
    v = pd.Series(lines[1::2], dtype=object).str.strip().to_numpy(dtype=object)
    zero = codes == 0
    marker_vals = v[zero]
    seg = np.cumsum(zero) - 1
    m2 = (codes == 2) & (seg >= 0)
    s2 = seg[m2]
    u2, f2 = np.unique(s2, return_index=True)
    name2 = {int(si): v[m2][f2[i]] for i, si in enumerate(u2)}
    m5 = (codes == 5) & (seg >= 0)
    s5 = seg[m5]
    u5, f5 = np.unique(s5, return_index=True)
    handle5 = {int(si): v[m5][f5[i]] for i, si in enumerate(u5)}
    rows = []
    section = ""
    cur = None  # [name, handle, n_entities]
    for j, mv in enumerate(marker_vals):
        if mv == "SECTION":
            section = name2.get(j, "")
        elif mv == "ENDSEC":
            section = ""
            cur = None
        elif mv == "BLOCK" and section == "BLOCKS":
            cur = [name2.get(j, ""), handle5.get(j, ""), 0]
        elif mv == "ENDBLK":
            if cur is not None:
                rows.append(tuple(cur))
            cur = None
        elif mv == "EOF":
            break
        elif cur is not None:
            cur[2] += 1
    return pd.DataFrame(rows, columns=["block_name", "handle", "n_entities"])


def dxf_version(text: str) -> str:
    """$ACADVER from the HEADER (dxf_text_parser.cc ParseHeader: the
    pair following ``9 $ACADVER``), or '' when absent."""
    lines = text.replace("\r\n", "\n").split("\n")
    vals = [x.strip() for x in lines[1::2]]
    for i, x in enumerate(vals):
        if x == "$ACADVER" and i + 1 < len(vals):
            return vals[i + 1]
    return ""


def dxf_records(df: DataFrame, id_col: str = "url") -> DataFrame:
    """(id, payload) -> (id, section, block_name, entity_type, handle,
    layer, n_pairs) — one row per parsed entity, one Arrow pass, no
    shuffle. Undecodable payloads are skipped (corpus-kernel contract)."""
    id_type = dict(df.dtypes)[id_col]
    schema = f"`{id_col}` {id_type}, {DXF_RECORD_FIELDS}"
    sel = df.select(id_col, "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rid, payload in zip(pdf[id_col], pdf["payload"]):
                try:
                    text = bytes(payload).decode("ascii", "replace")
                    rec = parse_dxf_records(text)
                except (ValueError, UnicodeDecodeError):
                    continue
                if len(rec):
                    rec.insert(0, id_col, rid)
                    out.append(rec)
            if out:
                yield pd.concat(out, ignore_index=True)

    return sel.mapInPandas(run, schema=schema)


def make_dxf(i: int) -> bytes:
    """Deterministic synthetic drawing for doc ``i`` with CLOSED-FORM
    inventory: ENTITIES carries 1+i%4 LINEs, i%3 CIRCLEs and 1+i%2
    TEXTs (handles H<i>_<k>, layer L<i%5>); BLOCKS carries i%3 blocks
    of 1+(i+b)%2 LINEs each — so a SQL oracle recomputes every
    (doc, entity_type, n) row and block count without parsing a byte.
    CRLF line endings like the reference's real drawings."""
    p = []  # (code, value) pairs

    def ent(kind: str, k: int, extra=()):
        p.append((0, kind))
        p.append((5, f"H{i}_{k}"))
        p.append((8, f"L{i % 5}"))
        p.extend(extra)

    p += [(0, "SECTION"), (2, "HEADER"), (9, "$ACADVER"), (1, "AC1009"),
          (0, "ENDSEC")]
    p += [(0, "SECTION"), (2, "BLOCKS")]
    k = 0
    for b in range(i % 3):
        p += [(0, "BLOCK"), (2, f"BLK{b}"), (5, f"B{i}_{b}")]
        for _ in range(1 + (i + b) % 2):
            ent("LINE", k, [(10, "0.0"), (20, "0.0"), (11, "1.0"), (21, "1.0")])
            k += 1
        p.append((0, "ENDBLK"))
    p += [(0, "ENDSEC"), (0, "SECTION"), (2, "ENTITIES")]
    for _ in range(1 + i % 4):
        ent("LINE", k, [(10, "0.0"), (20, "0.0"), (11, "2.0"), (21, "3.0")])
        k += 1
    for _ in range(i % 3):
        ent("CIRCLE", k, [(10, "1.0"), (20, "1.0"), (40, "0.5")])
        k += 1
    for _ in range(1 + i % 2):
        ent("TEXT", k, [(10, "0.0"), (20, "0.0"), (1, f"label {i} {k}")])
        k += 1
    p += [(0, "ENDSEC"), (0, "EOF")]
    return "".join(f"{c:3d}\r\n{v}\r\n" for c, v in p).encode("ascii")
