"""URL canonicalization — RFC 3986 normalization cases pinned by hand."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from finetoo_sp_spark.operators.urlnorm import canonicalize_urls

CASES = [
    # scheme + host case, trailing host dot
    ("HTTP://WWW.Example.COM./a", "http://www.example.com/a"),
    # default ports dropped, non-default kept
    ("http://h.example.com:80/a", "http://h.example.com/a"),
    ("https://h.example.com:443/a", "https://h.example.com/a"),
    ("http://h.example.com:8080/a", "http://h.example.com:8080/a"),
    ("https://h.example.com:80/a", "https://h.example.com:80/a"),
    # dot segments + doubled slashes
    ("http://h/a//b/./c", "http://h/a/b/c"),
    ("http://h/a/skip/../b", "http://h/a/b"),
    ("http://h/../a", "http://h/a"),  # .. above root dropped
    ("http://h", "http://h/"),  # empty path -> '/'
    # fragment stripped
    ("http://h/a#sec-2", "http://h/a"),
    # tracking params dropped (case-insensitive), survivors sorted
    ("http://h/a?b=2&utm_source=x&a=1", "http://h/a?a=1&b=2"),
    ("http://h/a?UTM_Campaign=c&fbclid=z&ref=home", "http://h/a"),
    ("http://h/a?z=9&y=8", "http://h/a?y=8&z=9"),
    # empty query dropped
    ("http://h/a?", "http://h/a"),
    # query on authority directly (no path)
    ("http://h?a=1", "http://h/?a=1"),
]


@pytest.mark.parametrize("raw,expected", CASES)
def test_canonical_cases(spark, raw, expected):
    df = spark.createDataFrame([Row(url=raw)])
    out = canonicalize_urls(df).collect()[0]
    assert out["url_canon"] == expected, raw


def test_non_url_passthrough(spark):
    df = spark.createDataFrame([Row(url="not a url at all"), Row(url="mailto:x@y")])
    rows = {r["url"]: r["url_canon"] for r in canonicalize_urls(df).collect()}
    assert rows["not a url at all"] == "not a url at all"
    # mailto: has no '://' -> passthrough
    assert rows["mailto:x@y"] == "mailto:x@y"


def test_idempotent(spark):
    raws = [c[0] for c in CASES]
    df = spark.createDataFrame([Row(url=u) for u in raws])
    once = canonicalize_urls(df).select(F.col("url_canon").alias("url"))
    for r in canonicalize_urls(once).collect():
        assert r["url_canon"] == r["url"]


def test_narrow_plan_no_exchange(spark):
    df = spark.createDataFrame([Row(url="http://h/a?b=2&a=1")])
    plan = canonicalize_urls(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------- reference resolution


def test_resolve_refs_rfc3986_hand_cases(spark):
    from finetoo_sp_spark.operators.urlnorm import resolve_refs

    base = "https://h.example.com/a/b/c?q=1#top"
    cases = [
        ("http://other.com/x", "http://other.com/x"),
        ("mailto:x@y.z", "mailto:x@y.z"),
        ("//cdn.com/lib.js", "https://cdn.com/lib.js"),
        ("/root/./x/../y?z=2", "https://h.example.com/root/y?z=2"),
        ("", "https://h.example.com/a/b/c?q=1"),
        ("#sec", "https://h.example.com/a/b/c?q=1"),
        ("?new=3", "https://h.example.com/a/b/c?new=3"),
        ("page.html", "https://h.example.com/a/b/page.html"),
        ("../up.html", "https://h.example.com/a/up.html"),
        ("../../../over.html", "https://h.example.com/over.html"),  # .. above root drops
        ("sub/dir/x?k=v#f", "https://h.example.com/a/b/sub/dir/x?k=v"),
    ]
    df = spark.createDataFrame([(base, r) for r, _ in cases], ["base", "ref"])
    out = {r["ref"]: r["resolved"] for r in resolve_refs(df, "base", "ref").collect()}
    for ref, exp in cases:
        assert out[ref] == exp, (ref, out[ref], exp)


def test_resolve_refs_pathless_base(spark):
    from finetoo_sp_spark.operators.urlnorm import resolve_refs

    df = spark.createDataFrame(
        [("https://h.com", "p.html"), ("https://h.com", "?q=1")], ["base", "ref"]
    )
    out = {r["ref"]: r["resolved"] for r in resolve_refs(df, "base", "ref").collect()}
    assert out == {"p.html": "https://h.com/p.html", "?q=1": "https://h.com/?q=1"}


def test_resolved_links_base_tag(spark):
    from finetoo_sp_spark.extraction.meta import resolved_links

    html1 = (
        '<html><head><base href="https://cdn.example.net/mirror/dir/"></head>'
        '<body><a href="page.html">x</a><a href="/root.html">y</a>'
        '<a href="http://abs.com/z">z</a></body></html>'
    )
    html2 = '<html><body><A HREF="../up.html">u</A><a href="#frag">f</a></body></html>'
    df = spark.createDataFrame(
        [
            ("https://site.com/a/b/c.html", html1.encode()),
            ("https://site.com/a/b/c.html", html2.encode()),
        ],
        "url string, html binary",
    )
    out = {r["href"]: r["target"] for r in resolved_links(df).collect()}
    assert out == {
        "page.html": "https://cdn.example.net/mirror/dir/page.html",
        "/root.html": "https://cdn.example.net/root.html",
        "http://abs.com/z": "http://abs.com/z",
        "../up.html": "https://site.com/a/up.html",
        "#frag": "https://site.com/a/b/c.html",
    }
