"""Structure-preserving Markdown rendering of extracted main content.

Modern pretraining pipelines increasingly keep document STRUCTURE in
the extracted text — headings, list items, quotes — because flat
newline-joined paragraphs lose the cues LLMs use for long-range layout
(the trafilatura/resiliparse "markdown output" mode). This module adds
that second rendering over the SAME tokenizer + block classifier as
the flagship extractor (extraction/kernel.py): no second parse, no new
heuristics — the classifier decides WHAT is content, this module only
decides how a content block PRINTS:

    h1..h6      ->  '#'*level + ' ' + text
    li          ->  '- ' + text
    blockquote  ->  '> ' + text
    dt          ->  '- ' + text (definition term renders as a list head)
    everything else (p, div, td, ...) -> text unchanged

Blocks join with a blank line ('\\n\\n', Markdown's paragraph
separator) instead of the flat extractor's single '\\n'.

Vectorization: the prefix is a dictionary lookup on the block tag
column (pandas map on the per-batch block frame) and one string
concat; the per-doc assembly reuses the Arrow list-join pattern from
extract_batch. Plan shape: one mapInPandas, embarrassingly parallel,
no shuffle.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from finetoo_sp_spark.extraction.kernel import (
    _STR,
    classify_arrays,
    decode_html,
    tokenize_arrays,
)

MD_PREFIX = {
    "h1": "# ", "h2": "## ", "h3": "### ",
    "h4": "#### ", "h5": "##### ", "h6": "###### ",
    "li": "- ", "dt": "- ", "blockquote": "> ",
}

BLOCK_SEP = "\n\n"


def markdown_batch(urls: pd.Series, html: pd.Series) -> pd.DataFrame:
    """(url, html) -> one row per page: url, markdown (content blocks
    with structural prefixes, blank-line separated), n_content_blocks."""
    urls = urls.reset_index(drop=True)
    html_text = decode_html(html.reset_index(drop=True))
    n_docs = len(urls)
    b = classify_arrays(tokenize_arrays(html_text))

    content = np.flatnonzero(b.is_content)
    doc_c = b.doc[content]
    text_c = b.text.take(pa.array(content))
    tags_c = (
        b.block_tag.take(pa.array(content)).fill_null("").to_pandas().astype(object)
        if len(content)
        else pd.Series(dtype=object)
    )
    prefix = pa.array(
        tags_c.map(MD_PREFIX).fillna("").to_numpy(dtype=object)
        if len(content)
        else [],
        type=_STR,
    )
    md_c = pc.binary_join_element_wise(prefix, text_c, pa.scalar("", type=_STR))

    counts = np.bincount(doc_c, minlength=n_docs)
    offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int64)
    markdown = pc.binary_join(
        pa.LargeListArray.from_arrays(offsets, md_c),
        pa.scalar(BLOCK_SEP, type=_STR),
    )
    return pd.DataFrame(
        {
            "url": urls,
            "markdown": markdown.to_pandas().astype(object),
            "n_content_blocks": counts.astype(np.int64),
        }
    )


def extract_markdown(pages: DataFrame) -> DataFrame:
    """pages(url, html:binary, ...) -> (url, markdown,
    n_content_blocks). Same partition-parallel Arrow kernel shape as
    sources.extract_pages."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield markdown_batch(pdf["url"], pdf["html"])

    return pages.select("url", "html").mapInPandas(
        run, schema="url string, markdown string, n_content_blocks long"
    )
