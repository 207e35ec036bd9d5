"""Schema-rule-driven typed-field mapping: DOM regions -> typed columns.

The reference maps parsed regions to *typed* fields via schema rules —
per-property type + operational metadata drives what is extracted and
how it may be queried (proto/graph.proto:213-298 typed CAD messages;
schema_analyzer.cc capability discovery). The web analogue: a rule set
declaring (field name, extraction pattern, dtype); the mapper compiles
the rules into pure Catalyst column expressions — `regexp_extract` +
`cast` — so typed-field extraction is JVM-side, pushdown-friendly, and
needs no Python at all.

Rules are data, not code: adding a field = adding a rule, exactly the
reference's "extensibility = add a schema" stance (README.md:266-279).
Numeric/timestamp casts are `try_`-style (malformed content -> null,
never a task failure).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class FieldRule:
    """One typed field: extract `pattern` group 1 from the raw html and
    cast to `dtype` (string|long|double|timestamp|boolean)."""

    name: str
    pattern: str
    dtype: str = "string"
    # operational metadata (drives schema-registry gating downstream)
    indexed: bool = True
    comparable: bool = False
    aggregable: bool = False


# Built-in web rule set (the hand-declared schema, CreateDXFSchema-style)
WEB_FIELD_RULES: list[FieldRule] = [
    FieldRule("title", r"(?is)<title[^>]*>(.*?)</title>"),
    FieldRule(
        "meta_description",
        r'(?is)<meta\s[^>]*name=["\']description["\'][^>]*content=["\']([^"\']*)',
    ),
    FieldRule(
        "canonical_url",
        r'(?is)<link\s[^>]*rel=["\']canonical["\'][^>]*href=["\']([^"\']*)',
    ),
    FieldRule(
        "published_at",
        r'(?is)<time\s[^>]*datetime=["\']([^"\']*)',
        dtype="timestamp",
        comparable=True,
    ),
    FieldRule(
        "author",
        r'(?is)<a\s[^>]*rel=["\']author["\'][^>]*>([^<]*)',
    ),
    FieldRule("lang_attr", r'(?i)<html[^>]*\blang\s*=\s*["\']?([a-zA-Z-]+)'),
]


def parse_double_with_fallback(col: Column | str) -> Column:
    """Numeric parse with fallback (reference: GetDouble,
    dxf_text_parser.cc:31-49 + graph_builder.cc:124-130 — std::stod with
    fallback to the string/default on failure). try_cast keeps malformed
    content from ever failing a task under ANSI mode."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.try_cast("double"), F.lit(0.0))


def _typed(col: Column, dtype: str) -> Column:
    if dtype == "string":
        return F.trim(col)
    if dtype == "timestamp":
        # try_: malformed content -> null, never an ANSI-mode task failure
        return F.try_to_timestamp(col)
    return col.try_cast(dtype) if hasattr(col, "try_cast") else col.cast(dtype)


def field_expr(rule: FieldRule, html_col: Column) -> Column:
    raw = F.regexp_extract(html_col, rule.pattern, 1)
    return _typed(F.when(raw != "", raw), rule.dtype).alias(rule.name)


def map_fields(pages: DataFrame) -> DataFrame:
    """pages(url, html) -> (url, <one typed column per WEB_FIELD_RULES
    rule>). Pure Catalyst plan. The decoded html is staged as a bound
    attribute so the N rules share ONE decode instead of embedding (and
    re-evaluating) the decode expression once per rule."""
    staged = pages.select("url", F.decode(F.col("html"), "UTF-8").alias("_html"))
    return staged.select("url", *[field_expr(r, F.col("_html")) for r in WEB_FIELD_RULES])


def register_field_schema(schema, node_type: str, rules: list[FieldRule]) -> None:
    """Install the rules' operational metadata into a schema registry so
    operator discovery gates queries on these fields (MATCH/FILTER/...)."""
    from finetoo_sp_spark.schema.registry import PropertyMeta

    nt = schema.node_types.get(node_type)
    props = [
        PropertyMeta(
            r.name,
            "timestamp" if r.dtype == "timestamp" else ("double" if r.dtype == "double" else "string"),
            indexed=r.indexed,
            comparable=r.comparable,
            aggregable=r.aggregable,
        )
        for r in rules
    ]
    if nt is None:
        schema.add_node_type(node_type, props)
    else:
        for p in props:
            nt.properties[p.name] = p
