"""The kernel's Arrow boundary, checked without Spark.

1. Schema: every batch ``mapInArrow`` hands back to Spark (the HTML
   extract batch, the charset-sniffed batch, the PDF batch, the blocks
   batch) has exactly ``to_arrow_schema`` of the Spark schema its query
   declares, nested field nullability included. Spark fails every task
   on a mismatch; this fails first.
2. Row gate: the entity unescape and the whitespace collapse run only on
   the rows they can change. The ungated expressions below are the
   oracle; gated and ungated outputs must be equal byte for byte.
"""

from __future__ import annotations

from unittest import mock

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from finetoo_sp_spark.extraction import kernel
from finetoo_sp_spark.extraction.extract import EXTRACT_SCHEMA, sniffed_batch
from finetoo_sp_spark.extraction.graph import BLOCKS_SCHEMA
from finetoo_sp_spark.extraction.pdf import extract_pdf_batch, make_fake_pdf

LONG = " ".join(["word"] * 12)
URLS = pd.Series(["u1", None, "u3"])  # a null url is kept
HTML = pd.Series([f"<title>T</title><h1>Head</h1><p>{LONG}</p>".encode(), b"<p>short</p>", b""])
NO_CONTENT = pd.Series([b"", b"<p>x</p>", b"<script>y</script>"])


def test_spark_schemas_keep_span_offsets_non_nullable():
    span = EXTRACT_SCHEMA["spans"].dataType.elementType
    assert not span["start"].nullable and not span["end"].nullable


@pytest.mark.parametrize("html", [HTML, NO_CONTENT], ids=["content", "no-content"])
def test_extract_batch_schema(html):
    assert kernel.extract_batch(URLS, html).schema == to_arrow_schema(EXTRACT_SCHEMA)


def test_sniffed_batch_schema():
    want = StructType(EXTRACT_SCHEMA.fields + [StructField("charset", StringType(), True)])
    assert sniffed_batch(URLS, HTML).schema == to_arrow_schema(want)


def test_pdf_batch_schema():
    payload = pd.Series([make_fake_pdf([(0, 10.0, 700.0, "hello pdf")]), b"%PDF-1.4 broken", b"not a pdf"])
    assert extract_pdf_batch(URLS, payload).schema == to_arrow_schema(EXTRACT_SCHEMA)


@pytest.mark.parametrize("html", [HTML, NO_CONTENT], ids=["content", "no-content"])
def test_blocks_batch_schema(html):
    assert kernel.blocks_arrow(URLS, html).schema == to_arrow_schema(BLOCKS_SCHEMA)


# --- row gate -----------------------------------------------------------


def _ungated_unescape(arr: pa.Array) -> pa.Array:
    for ent, ch in kernel._ENTITIES:
        arr = pc.replace_substring(arr, pattern=ent, replacement=ch)
    return arr


def _ungated_collapse(arr: pa.Array) -> pa.Array:
    return pc.replace_substring_regex(arr, pattern=r"\s+", replacement=" ")


def _ungated():
    return mock.patch.multiple(
        kernel, _unescape_arrow=_ungated_unescape, _collapse_ws=_ungated_collapse
    )


_piece = st.sampled_from(
    ["\t", "\n", "\v", "\f", "\r", " ", "  ", "\xa0", "\u2003", "&", "&amp;", "&lt;",
     "&gt;", "&quot;", "&#39;", "&apos;", "&nbsp;", "&amp;lt;", "word", "café"]
)
_text = st.lists(_piece, max_size=12).map("".join)


@settings(max_examples=200, deadline=None)
@given(st.lists(_text, max_size=20))
def test_norm_gate_matches_ungated(texts):
    arr = pa.array(texts, kernel._STR)
    want = pc.utf8_trim_whitespace(_ungated_collapse(_ungated_unescape(arr)))
    got = kernel._norm_arrow(arr)
    assert got.to_pylist() == want.to_pylist()
    assert got.type == want.type


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.sampled_from(["p", "h1", "a", "b", "li"]), _text), max_size=12))
def test_classify_gate_matches_ungated(parts):
    doc = "".join(f"<{tag}>{t}</{tag}>" for tag, t in parts)
    tf = kernel.tokenize_arrays(pd.Series([doc]))
    got = kernel.classify_arrays(tf)
    with _ungated():
        want = kernel.classify_arrays(tf)
    assert got.text.to_pylist() == want.text.to_pylist()
    assert (got.n_chars == want.n_chars).all() and (got.link_chars == want.link_chars).all()
