"""Kernel-level decode regression: the decode path follows the first
non-null page, not the first row, so bytes always decode with
replacement and a null page still gives empty text."""

import pandas as pd

from finetoo_sp_spark.extraction.kernel import decode_html, extract_batch

WORDS = " ".join(["word"] * 12)


def test_null_first_batch_decodes_bytes_with_replacement():
    html = pd.Series([None, b"<p>caf\xe9 " + WORDS.encode() + b"</p>"])
    assert decode_html(html).iloc[1] == f"<p>caf� {WORDS}</p>"
    out = extract_batch(pd.Series(["u1", "u2"]), html).to_pandas()
    assert out["text"].tolist() == ["", f"caf� {WORDS}"]
    assert out["spans"].map(len).tolist() == [0, 1]
