"""Unit tests for the pure-pandas extraction kernels.

Mirrors the reference's test strategy (SURVEY.md §5): tokenizer framing,
region segmentation, density classification, determinism — on tiny
hand-computed fixtures, no Spark session needed.
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from finetoo_sp_spark.extraction.kernel import (
    MIN_CONTENT_WORDS,
    classify_arrays,
    extract_batch,
    tokenize_arrays,
)

LONG = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"  # 12 words

FIXTURE_HTML = (
    '<html lang="en"><head><title>My Title</title>'
    "<script>var hidden = 1;</script></head>"
    "<body><nav><ul>"
    '<li><a href="/a">Home</a></li><li><a href="/b">Shop now today</a></li>'
    "</ul></nav>"
    f"<h1>Big Headline</h1><p>{LONG}</p>"
    "<p>too short</p>"
    f'<p>{LONG} &amp; more <a href="/x">ref</a></p>'
    '<footer><a href="/t">terms</a> <a href="/p">privacy</a></footer>'
    "</body></html>"
)
# Hand-computed expectation: h1 + the two long paragraphs (the second long
# paragraph has a short link, link_density well under 1/3), entities decoded.
FIXTURE_EXPECTED = "Big Headline\n" + LONG + "\n" + LONG + " & more ref"


def _tokens(html: str):
    tf = tokenize_arrays(pd.Series([html]))
    return tf, tf.tok.to_pylist()


def _blocks(html: str) -> dict:
    bf = classify_arrays(tokenize_arrays(pd.Series([html])))
    return dict(zip(bf.text.to_pylist(), bf.is_content))


def test_tokenizer_partitions_input():
    html = "<p>hello <b>world</b></p>"
    tf, toks = _tokens(html)
    # every char accounted for, offsets contiguous
    assert "".join(toks) == html
    assert tf.start[0] == 0
    assert (tf.end - tf.start == [len(t) for t in toks]).all()
    assert (tf.start[1:] == tf.end[:-1]).all()


def test_tokenizer_tags_and_links():
    tf, toks = _tokens('<p><a href="/x">link</a> plain</p>')
    assert tf.in_link[toks.index("link")]
    assert not tf.in_link[toks.index(" plain")]


def test_script_region_excluded():
    tf, toks = _tokens("<script>var x=1;</script><p>keep</p>")
    assert tf.in_excluded[toks.index("var x=1;")]
    assert not tf.in_excluded[toks.index("keep")]


def test_comment_stripped():
    tf, toks = _tokens("<p>a<!-- hidden -->b</p>")
    assert "".join(t for t, tag in zip(toks, tf.is_tag) if not tag) == "ab"


def test_block_segmentation_cumsum():
    tf, _ = _tokens("<div>one</div><p>two</p>three")
    assert len(set(tf.block_id[~tf.is_tag])) == 3


def test_classify_density():
    is_content = _blocks(
        f"<p>{LONG}</p>" '<p><a href="/a">all link text here</a></p>' "<p>short</p>"
    )
    assert is_content[LONG]
    assert not is_content["all link text here"]  # link density 1.0
    assert not is_content["short"]  # < MIN_CONTENT_WORDS


def test_heading_rule():
    is_content = _blocks("<h2>Section</h2><h3><a href='/'>nav h</a></h3>")
    assert is_content["Section"]
    assert not is_content["nav h"]  # heading made of links


def test_fixture_extraction_byte_identical():
    out = extract_batch(pd.Series(["u1"]), pd.Series([FIXTURE_HTML.encode()])).to_pandas()
    assert out["text"].iloc[0] == FIXTURE_EXPECTED
    assert out["title"].iloc[0] == "My Title"
    assert out["h1"].iloc[0] == "Big Headline"
    assert out["lang_attr"].iloc[0] == "en"
    assert out["n_content_blocks"].iloc[0] == 3


def test_spans_point_into_decoded_html():
    out = extract_batch(pd.Series(["u1"]), pd.Series([FIXTURE_HTML])).to_pandas()
    spans = out["spans"].iloc[0]
    assert len(spans) == 3
    h1_span = spans[0]
    # the raw slice, whitespace-normalized + entity-decoded, equals the block text
    raw = FIXTURE_HTML[h1_span["start"] : h1_span["end"]]
    assert raw == "Big Headline"
    assert h1_span["tag"] == "h1"


def test_empty_and_degenerate_inputs():
    out = extract_batch(
        pd.Series(["a", "b", "c"]),
        pd.Series([b"", b"no tags at all plain text", b"<p></p>"]),
    ).to_pandas()
    assert list(out["url"]) == ["a", "b", "c"]
    assert (out["text"] == "").iloc[0]
    assert (out["text"] == "").iloc[2]


def test_batch_boundary_independence():
    """Same rows, different batch splits -> identical outputs (the
    partition-independence half of byte-identical determinism)."""
    htmls = [FIXTURE_HTML, "<p>" + LONG + "</p>", "<div><a href='/'>x</a></div>"]
    urls = [f"u{i}" for i in range(3)]
    whole = pa.Table.from_batches([extract_batch(pd.Series(urls), pd.Series(htmls))])
    parts = pa.Table.from_batches(
        [
            extract_batch(pd.Series(urls[:1]), pd.Series(htmls[:1])),
            extract_batch(pd.Series(urls[1:]), pd.Series(htmls[1:])),
        ]
    )
    assert whole.equals(parts)


def test_datagen_expected_matches_extractor():
    """The independently-computed expected_text equals the extractor output
    for every generated page — the core fixture invariant."""
    from finetoo_sp_spark.datagen import gen_pages_pandas

    pages = gen_pages_pandas(np.arange(200))
    out = extract_batch(pages["url"], pages["html"]).to_pandas()
    mismatches = (out["text"] != pages["expected_text"]).sum()
    assert mismatches == 0


def test_datagen_deterministic_and_skewed():
    from finetoo_sp_spark.datagen import gen_pages_pandas

    a = gen_pages_pandas(np.arange(50))
    b = gen_pages_pandas(np.arange(50))
    pd.testing.assert_frame_equal(a, b)
    # split generation must equal whole generation (distributed safety)
    c = pd.concat(
        [gen_pages_pandas(np.arange(0, 20)), gen_pages_pandas(np.arange(20, 50))],
        ignore_index=True,
    )
    pd.testing.assert_frame_equal(a, c)
    hosts = gen_pages_pandas(np.arange(2000))["url"].str.extract(r"https://(host\d+)")[0]
    assert hosts.value_counts().iloc[0] > 100  # real skew present
