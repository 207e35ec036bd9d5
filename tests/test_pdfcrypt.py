"""PDF Standard Security Handler: RC4 known-answer vector, rev 2/3
roundtrips, wrong-password and AES rejection, passthrough for plain
documents. The Spark-side value check is the pdf_encrypted_extract
oracle row."""

from __future__ import annotations

import pytest

from finetoo_sp_spark.extraction.pdfcrypt import (
    compute_key,
    compute_o,
    compute_u,
    decrypt_pdf,
    encrypt_pdf,
    object_key,
    rc4,
)
from finetoo_sp_spark.extraction.pdfmini import make_real_pdf, parse_pdf_fragments


def test_rc4_known_answer():
    # Classic published RC4 test vector (key "Key", plaintext "Plaintext").
    out = rc4(b"Key", b"Plaintext")
    assert out.hex() == "bbf316e8d940af0ad3"
    assert rc4(b"Key", out) == b"Plaintext"  # symmetric


def test_object_key_truncation():
    # 5-byte file key -> 10-byte object key; 16-byte key caps at 16.
    assert len(object_key(b"\x01" * 5, 1, 0)) == 10
    assert len(object_key(b"\x02" * 16, 1, 0)) == 16


@pytest.mark.parametrize("rev", [2, 3])
def test_roundtrip_empty_user_password(rev):
    plain = make_real_pdf([(0, 72.0, 700.0, "alpha"), (0, 72.0, 600.0, "beta")])
    enc = encrypt_pdf(plain, rev=rev)
    assert enc != plain
    # encrypted streams must NOT parse as text
    assert len(parse_pdf_fragments(enc)) == 0
    dec = decrypt_pdf(enc)
    assert list(parse_pdf_fragments(dec)["text"]) == ["alpha", "beta"]


def test_nonempty_user_password():
    plain = make_real_pdf([(0, 72.0, 700.0, "secret body")])
    enc = encrypt_pdf(plain, user_pw=b"hunter2", rev=3)
    with pytest.raises(ValueError, match="password"):
        decrypt_pdf(enc)
    dec = decrypt_pdf(enc, b"hunter2")
    assert list(parse_pdf_fragments(dec)["text"]) == ["secret body"]


def test_aes_rejected_not_crashed():
    plain = make_real_pdf([(0, 72.0, 700.0, "x")])
    enc = encrypt_pdf(plain, rev=3)
    # forge a V4 (/AESV2-era) dict: must raise NotImplementedError so
    # kernels skip rather than emit garbage
    forged = enc.replace(b"/V 2/R 3", b"/V 4/R 4")
    with pytest.raises(NotImplementedError, match="V=4"):
        decrypt_pdf(forged)


def test_plain_document_passthrough():
    plain = make_real_pdf([(0, 72.0, 700.0, "y")])
    assert decrypt_pdf(plain) == plain


def test_key_derivation_is_rev_sensitive():
    o2 = compute_o(b"owner", b"", 2, 5)
    o3 = compute_o(b"owner", b"", 3, 16)
    assert o2 != o3[: len(o2)]
    k2 = compute_key(b"", o2, -44, b"\x00" * 16, 2, 5)
    k3 = compute_key(b"", o3, -44, b"\x00" * 16, 3, 16)
    assert len(k2) == 5 and len(k3) == 16
    assert compute_u(k2, b"\x00" * 16, 2) != compute_u(k3, b"\x00" * 16, 3)


def test_failed_decrypt_falls_back_to_original_bytes():
    """A document whose decryption fails is parsed as stored, not
    dropped: a trailer /Encrypt naming a missing object leaves the plain
    streams readable."""
    import pandas as pd

    from finetoo_sp_spark.extraction.pdf import extract_pdf_batch

    plain = make_real_pdf([(0, 72.0, 700.0, "kept")])
    forged = plain.replace(b"trailer<<", b"trailer<</Encrypt 99 0 R")
    with pytest.raises(ValueError, match="not found"):
        decrypt_pdf(forged)
    out = extract_pdf_batch(pd.Series(["u"]), pd.Series([forged])).to_pandas()
    assert out.iloc[0]["text"] == "kept"
