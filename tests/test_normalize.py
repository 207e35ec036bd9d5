"""Mojibake repair + unicode cleanup (operators/normalize.py)."""

import duckdb

from finetoo_sp_spark.operators.normalize import (
    MOJIBAKE_TABLE,
    _mojibake,
    normalize_text,
    oracle_sql_chain,
)


def test_repair_table_is_derived_correctly():
    # the classic artifact: one curly apostrophe -> 3 chars via CP1252
    assert _mojibake("’") == "â€™"
    # the right-double-quote artifact carries the raw C1 control 0x9D
    assert _mojibake("”") == "â€\x9d"
    # longest-first ordering so digraphs never shadow trigraphs
    lens = [len(b) for b, _ in MOJIBAKE_TABLE]
    assert lens == sorted(lens, reverse=True)


def test_repair_fold_and_strip(spark):
    rows = [
        (1, "it" + _mojibake("’") + "s caf" + _mojibake("é") + " time"),
        (2, "a b​c"),       # NBSP -> space, zero-width removed
        (3, "plain ascii"),
        (4, "curly “quote”"),  # already-proper curly -> folded
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["id"]: (r["text"], r["changed"]) for r in normalize_text(df, "doc_id", "text").collect()}
    assert got[1] == ("it's café time", True)
    assert got[2] == ("a bc", True)
    assert got[3] == ("plain ascii", False)
    assert got[4] == ('curly "quote"', True)


def test_oracle_chain_is_byte_identical(spark):
    texts = [
        "it" + _mojibake("’") + "s caf" + _mojibake("é"),
        "w x​y “z” " + _mojibake("…"),
        "untouched",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    spark_out = {
        r["id"]: r["text"] for r in normalize_text(df, "doc_id", "text").collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, '{s}')" for i, s in enumerate(texts))
        + ") v(i, text)"
    )
    duck_out = dict(
        con.execute(f"SELECT i, {oracle_sql_chain('text')} FROM t").fetchall()
    )
    assert spark_out == duck_out


# Hand-written input -> expected-bytes table; every non-ascii
# codepoint is an explicit \uXXXX escape (nothing invisible in this
# file). Each input was derived BY HAND from the UTF-8-read-as-CP1252
# definition: RIGHT SINGLE QUOTE U+2019 encodes as E2 80 99, and
# CP1252 reads E2 as a-circumflex U+00E2, 80 as euro U+20AC, 99 as
# trade-mark U+2122. None of these strings touch _mojibake() or
# oracle_sql_chain(), so a generator bug cannot satisfy both sides.
HAND_FIXTURES = [
    ("It\u00e2\u20ac\u2122s", "It's"),  # U+2019 artifact (99->trade-mark)
    ("\u00e2\u20ac\u02dcq\u00e2\u20ac\u2122", "'q'"),  # U+2018 (98->small tilde) + U+2019
    ("\u00e2\u20ac\u0153x\u00e2\u20ac\u009d", "\u0022x\u0022"),  # U+201C (9C->oe), U+201D (9D sloppy C1)
    ("a\u00e2\u20ac\u201cb", "a-b"),  # en dash U+2013 (93->U+201C)
    ("a\u00e2\u20ac\u201db", "a-b"),  # em dash U+2014 (94->U+201D)
    ("wait\u00e2\u20ac\u00a6done", "wait...done"),  # ellipsis U+2026 (A6->broken bar)
    ("caf\u00c3\u00a9", "caf\u00e9"),  # e-acute: C3 A9 -> A-tilde, copyright
    ("ma\u00c3\u00b1ana", "ma\u00f1ana"),  # n-tilde: C3 B1 -> A-tilde, plus-minus
    ("f\u00c3\u00bcr", "f\u00fcr"),  # u-umlaut: C3 BC -> A-tilde, 1/4
    ("gar\u00c3\u00a7on", "gar\u00e7on"),  # c-cedilla: C3 A7 -> A-tilde, section
    ("a\u2019b \u201cc\u201d", "a'b \u0022c\u0022"),  # proper typography folds to ascii
    ("x\u00a0y\u202fz\u2009w", "x y z w"),  # NBSP family -> plain space
    ("a\u200bb\u200cc\u200dd\ufeffe", "abcde"),  # zero-width family removed
    ("plain ascii unchanged", "plain ascii unchanged"),  # no-op row
]


def test_hand_written_byte_fixtures_duckdb():
    """Independent anchor for the generated-oracle operators
    (normalize_mojibake, curation_v2's repair stage): exact expected
    bytes, hand-derived, asserted against the generated DuckDB chain --
    a generator bug cannot pass this AND the Spark twin below."""
    con = duckdb.connect()
    for i, (raw, want) in enumerate(HAND_FIXTURES):
        (got,) = con.execute(f"SELECT {oracle_sql_chain(chr(63))}", [raw]).fetchone()
        assert got == want, f"duckdb case {i}: {got!r} != {want!r}"


def test_hand_written_byte_fixtures_spark(spark):
    from finetoo_sp_spark.operators.normalize import normalize_text_col

    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(HAND_FIXTURES)], "i int, text string"
    )
    got = {
        r["i"]: r["fixed"]
        for r in df.select("i", normalize_text_col("text").alias("fixed")).collect()
    }
    for i, (_, want) in enumerate(HAND_FIXTURES):
        assert got[i] == want, f"spark case {i}: {got[i]!r} != {want!r}"


def test_nfc_normalize_fixture(spark):
    # Hand-pinned decomposed -> precomposed pairs (UAX #15), plus a
    # no-op row and a singleton-exclusion check (NFC keeps U+212B out:
    # ANGSTROM SIGN normalizes to U+00C5).
    from finetoo_sp_spark.operators.normalize import nfc_normalize_text

    rows = [
        (0, "cafe\u0301"),
        (1, "plain ascii"),
        (2, "A\u030angstro\u0308m"),
        (3, "\u212b"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_nfc"], r["changed"])
        for r in nfc_normalize_text(df).collect()
    }
    assert got[0] == ("caf\u00e9", True)
    assert got[1] == ("plain ascii", False)
    assert got[2] == ("\u00c5ngstr\u00f6m", True)
    assert got[3] == ("\u00c5", True)
    assert got[4] == (None, False)
