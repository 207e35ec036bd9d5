"""Asset-discovery surfaces: SVG metadata, srcset candidates, CSS urls.

Three declarative lifts that complete the media-fetch frontier beside
anchors (extraction/meta.py), sitemap media extensions and HLS
playlists — the places a multimodal crawl actually finds asset URLs:

- ``svg_meta``: SVG is XML, not a binary codec — per document the
  root ``width``/``height`` attributes (integer px; other units NULL),
  the ``viewBox`` geometry, and the visible text mass (characters in
  ``<text>``/``<tspan>`` plus the accessible ``<title>``) — the
  dimension + text signals SVG curation filters on.
- ``srcset_candidates``: every candidate of every ``srcset`` attribute
  (responsive images, the now-dominant multi-asset form of <img>):
  (url, img_idx, cand_idx, asset_url, descriptor kind 'x'/'w'/'',
  density_centi / width_px) — resolved RFC 3986-absolute against the
  page.
- ``css_asset_urls``: ``url(...)`` references and ``@import`` targets
  inside stylesheet bodies (fonts, background images — fetches the
  HTML never mentions), quote styles normalized, data: URIs excluded
  (inline payloads, not fetches), resolved absolute against the sheet.

All three are regexp lift + posexplode + column math: no UDF; the only
non-narrow step is nothing at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def svg_meta(df: DataFrame) -> DataFrame:
    """(url, width, height, vb_width, vb_height, text_chars) per SVG
    document in the ``body`` column (module docstring). Non-SVG bodies
    yield no row."""
    root = F.regexp_extract(F.col("body"), r"(?is)<svg\b[^>]*>", 0)

    def dim(name: str):
        # integer pixel values only; '42px' parses, '3em'/'50%' -> NULL
        return (
            F.nullif(
                F.regexp_extract(
                    root, rf"""(?i)\b{name}\s*=\s*["'](\d+)(?:px)?["']""", 1
                ),
                F.lit(""),
            )
        ).cast("long")

    vb_w = F.nullif(
        F.regexp_extract(
            root,
            r"""(?i)\bviewBox\s*=\s*["']\s*-?[\d.]+[\s,]+-?[\d.]+[\s,]+(\d+)(?:\.\d+)?[\s,]+[\d.]+""",
            1,
        ),
        F.lit(""),
    ).cast("long")
    vb_h = F.nullif(
        F.regexp_extract(
            root,
            r"""(?i)\bviewBox\s*=\s*["']\s*-?[\d.]+[\s,]+-?[\d.]+[\s,]+[\d.]+[\s,]+(\d+)(?:\.\d+)?""",
            1,
        ),
        F.lit(""),
    ).cast("long")
    texts = F.expr(
        "regexp_extract_all(body, '(?is)<(?:text|tspan|title)\\\\b[^>]*>([^<]*)<', 1)"
    )
    text_chars = F.aggregate(
        texts, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return (
        df.select(
            "url",
            root.alias("_r"),
            dim("width").alias("width"),
            dim("height").alias("height"),
            vb_w.alias("vb_width"),
            vb_h.alias("vb_height"),
            text_chars.alias("text_chars"),
        )
        .filter(F.col("_r") != "")
        .drop("_r")
    )


def srcset_candidates(pages: DataFrame) -> DataFrame:
    """(url, img_idx, cand_idx, asset_url, descriptor, density_centi,
    width_px) per srcset candidate (module docstring). descriptor is
    'x' (density_centi = 100*density, integer), 'w' (width_px) or ''
    (the default 1x candidate: density_centi 100)."""
    from finetoo_sp_spark.operators.urlnorm import resolve_refs

    sets = F.expr(
        """regexp_extract_all(CAST(html AS STRING),
            '(?is)srcset\\\\s*=\\\\s*["\\']([^"\\']+)["\\']', 1)"""
    )
    e = pages.select("url", F.posexplode(sets).alias("img_idx", "_s"))
    cands = F.transform(
        F.split(F.col("_s"), r"\s*,\s*"), lambda c: F.trim(c)
    )
    c = e.select(
        "url", "img_idx", F.posexplode(cands).alias("cand_idx", "_c")
    ).filter(F.col("_c") != "")
    ref = F.regexp_extract("_c", r"^(\S+)", 1)
    desc = F.regexp_extract("_c", r"\s+([\d.]+[xw])\s*$", 1)
    kind = F.when(desc.endswith("x"), F.lit("x")).when(
        desc.endswith("w"), F.lit("w")
    ).otherwise(F.lit(""))
    density = F.when(
        kind == "x",
        F.round(
            F.regexp_extract(desc, r"^([\d.]+)", 1).cast("decimal(10,2)") * 100
        ).cast("long"),
    ).when(kind == "", F.lit(100))
    width_px = F.when(
        kind == "w", F.regexp_extract(desc, r"^(\d+)", 1).cast("long")
    )
    rows = c.select(
        "url",
        F.col("img_idx").cast("long").alias("img_idx"),
        F.col("cand_idx").cast("long").alias("cand_idx"),
        ref.alias("_ref"),
        kind.alias("descriptor"),
        density.alias("density_centi"),
        width_px.alias("width_px"),
    )
    return resolve_refs(rows, "url", "_ref", "asset_url").select(
        "url", "img_idx", "cand_idx", "asset_url", "descriptor",
        "density_centi", "width_px",
    )


def css_asset_urls(sheets: DataFrame) -> DataFrame:
    """(url, ref_idx, asset_url, via) per external reference in a
    stylesheet (the ``body`` column): via = 'url' for url(...) tokens, 'import' for bare
    string @import forms. data: URIs are excluded (inline payloads)."""
    from finetoo_sp_spark.operators.urlnorm import resolve_refs

    urls = F.expr(
        """regexp_extract_all(body,
            'url\\\\(\\\\s*["\\']?([^"\\')\\\\s]+)["\\']?\\\\s*\\\\)', 1)"""
    )
    imports = F.expr(
        """regexp_extract_all(body,
            '@import\\\\s+["\\']([^"\\']+)["\\']', 1)"""
    )
    both = F.concat(
        F.transform(
            # exclude data: URIs BEFORE indexing so ref_idx stays the
            # contiguous order of actual fetch targets
            F.filter(urls, lambda u: ~u.startswith("data:")),
            lambda u: F.struct(u.alias("r"), F.lit("url").alias("via")),
        ),
        F.transform(
            imports, lambda u: F.struct(u.alias("r"), F.lit("import").alias("via"))
        ),
    )
    e = (
        sheets.select("url", F.posexplode(both).alias("ref_idx", "_s"))
        .select("url", F.col("ref_idx").cast("long").alias("ref_idx"),
                F.col("_s.r").alias("_ref"), F.col("_s.via").alias("via"))
    )
    return resolve_refs(e, "url", "_ref", "asset_url").select(
        "url", "ref_idx", "asset_url", "via"
    )


def link_icons(pages: DataFrame) -> DataFrame:
    """(url, idx, icon_url, rel, size_w, size_h) per icon declaration —
    the favicon/touch-icon fetch frontier that feeds the ICO/PNG
    decoders: ``<link rel="icon|shortcut icon|apple-touch-icon">``
    elements in document order, href resolved RFC 3986-absolute, the
    FIRST ``WxH`` of a ``sizes`` attribute parsed to integers (``any``
    and absent -> NULL). Stylesheet/alternate links never lift."""
    from finetoo_sp_spark.operators.urlnorm import resolve_refs

    tags = F.expr(
        """regexp_extract_all(CAST(html AS STRING),
            '(?is)<link\\\\s[^>]*>', 0)"""
    )
    e = pages.select("url", F.posexplode(tags).alias("_pos", "_t"))
    rel = F.lower(
        F.regexp_extract("_t", r"""(?i)\brel\s*=\s*["']([^"']+)["']""", 1)
    )
    href = F.regexp_extract("_t", r"""(?i)\bhref\s*=\s*["']([^"']+)["']""", 1)
    size_w = F.nullif(
        F.regexp_extract("_t", r"""(?i)\bsizes\s*=\s*["'](\d+)[xX]\d+""", 1),
        F.lit(""),
    ).cast("long")
    size_h = F.nullif(
        F.regexp_extract("_t", r"""(?i)\bsizes\s*=\s*["']\d+[xX](\d+)""", 1),
        F.lit(""),
    ).cast("long")
    rows = (
        e.select(
            "url", F.col("_pos").alias("_pos"), rel.alias("rel"),
            href.alias("_ref"), size_w.alias("size_w"), size_h.alias("size_h"),
        )
        .filter(
            F.col("rel").rlike(r"(^|\s)(icon|apple-touch-icon)(\s|$)")
            & (F.col("_ref") != "")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy("_pos")
    rows = rows.select(
        "url",
        (F.row_number().over(w) - 1).cast("long").alias("idx"),
        "_ref", "rel", "size_w", "size_h",
    )
    return resolve_refs(rows, "url", "_ref", "icon_url").select(
        "url", "idx", "icon_url", "rel", "size_w", "size_h"
    )
