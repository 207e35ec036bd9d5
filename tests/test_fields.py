"""Schema-rule typed-field mapping tests."""

from __future__ import annotations

import datetime as dt

from finetoo_sp_spark.extraction.fields import (
    WEB_FIELD_RULES,
    FieldRule,
    field_expr,
    map_fields,
    register_field_schema,
)

HTML = (
    '<html lang="fr"><head><title> My Doc </title>'
    '<meta name="description" content="a short summary">'
    '<link rel="canonical" href="https://x.example.com/a">'
    '</head><body><time datetime="2025-06-01T12:30:00"></time>'
    '<a rel="author" href="/u">Jo Writer</a></body></html>'
)


def test_map_fields_all_rules(spark):
    pages = spark.createDataFrame([("u1", bytearray(HTML.encode()))], ["url", "html"])
    r = map_fields(pages).collect()[0]
    assert r["title"] == "My Doc"  # trimmed
    assert r["meta_description"] == "a short summary"
    assert r["canonical_url"] == "https://x.example.com/a"
    assert r["published_at"] == dt.datetime(2025, 6, 1, 12, 30)
    assert r["author"] == "Jo Writer"
    assert r["lang_attr"] == "fr"


def test_missing_and_malformed_fields_are_null(spark):
    pages = spark.createDataFrame(
        [
            ("u1", bytearray(b"<html><body>no metadata</body></html>")),
            ("u2", bytearray(b'<time datetime="not-a-date"></time>')),
        ],
        ["url", "html"],
    )
    rows = {r["url"]: r for r in map_fields(pages).collect()}
    assert rows["u1"]["title"] is None
    assert rows["u1"]["published_at"] is None
    assert rows["u2"]["published_at"] is None  # malformed -> null, not error


def test_custom_rule_and_schema_registration(spark):
    from finetoo_sp_spark.schema.registry import Schema

    from pyspark.sql import functions as F

    og = FieldRule("og_image", r'(?is)property=["\']og:image["\'][^>]*content=["\']([^"\']*)')
    rules = WEB_FIELD_RULES + [og]
    pages = spark.createDataFrame(
        [("u", bytearray(b'<meta property="og:image" content="https://img/x.png">'))],
        ["url", "html"],
    )
    r = pages.select(field_expr(og, F.decode("html", "UTF-8"))).collect()[0]
    assert r["og_image"] == "https://img/x.png"

    s = Schema("web")
    register_field_schema(s, "page", rules)
    assert "og_image" in s.filterable_properties("page")
    assert "published_at" in s.comparable_properties("page")
