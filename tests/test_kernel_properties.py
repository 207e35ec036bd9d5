"""Property-based kernel tests (hypothesis): the invariants that make
byte-identical extraction safe on arbitrary web input, not just the
synthetic corpus.

Invariants:
1. totality — the tokenizer partitions every input exactly (offsets
   contiguous, concatenation restores the comment-stripped input);
2. determinism — same input => same output, independent of batch
   composition;
3. span sanity — every span lies inside the document, start < end;
4. robustness — no exception on adversarial tag soup / truncated tags /
   binary garbage.
"""

from __future__ import annotations

import re

import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from finetoo_sp_spark.extraction.kernel import (
    _COMMENT_RE,
    extract_batch,
    tokenize_arrays,
)

# HTML-ish soup: fragments of tags (well-formed and broken), entities,
# text, whitespace — composed into documents.
_frag = st.one_of(
    st.sampled_from(
        [
            "<p>", "</p>", "<div class='x'>", "</div>", "<a href='/y'>", "</a>",
            "<script>", "</script>", "<h1>", "</h1>", "<br>", "<!-- c -->",
            "<!--", "-->", "<", ">", "</", "<p", "&amp;", "&lt;", "&nbsp;",
            "<ul><li>", "</li></ul>", "<title>", "</title>",
        ]
    ),
    st.text(alphabet="abz <>&;/'\"\n\té中", min_size=0, max_size=20),
)
_doc = st.lists(_frag, min_size=0, max_size=30).map("".join)


@settings(max_examples=150, deadline=None)
@given(_doc)
def test_tokenizer_partitions_any_input(doc):
    tf = tokenize_arrays(pd.Series([doc]))
    stripped = _COMMENT_RE.sub("", doc)
    assert "".join(tf.tok.to_pylist()) == stripped
    if len(tf.doc):
        assert tf.start[0] == 0
        assert tf.end[-1] == len(stripped)
        assert (tf.end[:-1] == tf.start[1:]).all()


@settings(max_examples=75, deadline=None)
@given(st.lists(_doc, min_size=1, max_size=6))
def test_batch_composition_independence(docs):
    urls = pd.Series([f"u{i}" for i in range(len(docs))])
    whole = pa.Table.from_batches([extract_batch(urls, pd.Series(docs))])
    parts = pa.Table.from_batches(
        [
            extract_batch(urls[i : i + 1].reset_index(drop=True), pd.Series([docs[i]]))
            for i in range(len(docs))
        ]
    )
    assert whole.equals(parts)


@settings(max_examples=100, deadline=None)
@given(_doc)
def test_spans_inside_document(doc):
    out = extract_batch(pd.Series(["u"]), pd.Series([doc])).to_pandas()
    stripped = _COMMENT_RE.sub("", doc)
    for span in out["spans"].iloc[0]:
        assert 0 <= span["start"] < span["end"] <= len(stripped)
        # the span's normalized slice equals the corresponding block text
        # joined into out.text (weak check: slice is non-empty text)
        assert stripped[span["start"] : span["end"]].strip() != ""


@settings(max_examples=50, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_binary_garbage_never_raises(payload):
    out = extract_batch(pd.Series(["u"]), pd.Series([payload])).to_pandas()
    assert len(out) == 1
    assert isinstance(out["text"].iloc[0], str)


@settings(max_examples=50, deadline=None)
@given(st.lists(_doc, min_size=1, max_size=4))
def test_counters_consistent(docs):
    out = extract_batch(pd.Series([f"u{i}" for i in range(len(docs))]), pd.Series(docs)).to_pandas()
    assert (out["n_content_blocks"] <= out["n_blocks"]).all()
    assert (out["n_content_blocks"] == out["spans"].map(len)).all()
    # text is the newline-join of n_content_blocks blocks
    nonempty = out["n_content_blocks"] > 0
    assert (
        out.loc[nonempty, "text"].str.count("\n") == out.loc[nonempty, "n_content_blocks"] - 1
    ).all()
    assert (out.loc[~nonempty, "text"] == "").all()
