"""URL canonicalization (RFC 3986 §6 normalization for crawl dedup).

The single highest-leverage *cheap* dedup in a web pipeline: a large
fraction of crawl duplicates are the same resource under trivially
different URLs (case-mangled scheme/host, default port, dot-segments,
doubled slashes, tracking params, fragments). Canonicalizing before
any content hash collapses them for free.

Everything here is pure JVM column expressions — regexp splits, one
``aggregate`` fold over path segments for dot-segment resolution
(RFC 3986 §5.2.4), ``array_sort`` for query params. No UDF, no
shuffle: a narrow map over the URL column that composes with any scan.

Reference analogue: the reference canonicalizes entity handles before
hash joins (src/graph/block_analyzer.cc); this is the web-URL
generalization a Common-Crawl pipeline needs in front of exact dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# query parameters that never change the resource (tracking/session ids);
# names ending in '_' are prefix rules (utm_source, utm_medium, ...)
DEFAULT_DROP_PARAMS = (
    "utm_",
    "fbclid",
    "gclid",
    "msclkid",
    "ref",
    "sessionid",
    "phpsessid",
)


def _resolve_dot_segments(path: Column) -> Column:
    """RFC 3986 §5.2.4 remove_dot_segments over an absolute path, as one
    ``aggregate`` fold: '' and '.' segments vanish (collapsing doubled
    slashes), '..' pops the previous segment ('..' above root is
    dropped, per the RFC's absolute-path behavior). Empty path -> '/'."""
    segs = F.split(path, "/")
    folded = F.aggregate(
        segs,
        F.array().cast("array<string>"),
        lambda acc, s: (
            F.when((s == "") | (s == "."), acc)
            .when(s == "..", F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))))
            .otherwise(F.concat(acc, F.array(s)))
        ),
    )
    return F.concat(F.lit("/"), F.array_join(folded, "/"))


def _keep_param(p: Column, drop_params: tuple[str, ...]) -> Column:
    """True iff the 'k=v' param survives the drop rules."""
    name = F.lower(F.split(p, "=")[0])
    cond = F.length(p) > 0
    for d in drop_params:
        if d.endswith("_"):
            cond = cond & ~name.startswith(d)
        else:
            cond = cond & (name != d)
    return cond


def _clean_query(query: Column, drop_params: tuple[str, ...]) -> Column:
    """Drop tracking params, sort the rest, reassemble ('' if none left)."""
    kept = F.array_sort(F.filter(F.split(query, "&"), lambda p: _keep_param(p, drop_params)))
    return F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))


def canonicalize_urls(df: DataFrame) -> DataFrame:
    """Append ``url_canon``: the RFC-3986-normalized form of ``url``.

    Normalizations applied (each a pure column expression):

    - scheme + host lowercased; trailing host dot stripped
    - fragment removed
    - default port removed (:80 for http, :443 for https)
    - path dot-segments resolved, doubled slashes collapsed,
      empty path -> '/'
    - tracking query params dropped (prefix rules like 'utm_' and exact
      names, case-insensitive), survivors sorted bytewise, '?' dropped
      when none survive

    URLs that don't parse as scheme://... pass through unchanged
    (canonicalization must never lose a row). Plan stays a narrow
    projection — the staged temp columns below exist for readability
    and collapse in Catalyst's projection folding.
    """
    u = F.trim(F.col("url"))
    no_frag = F.regexp_replace(u, "#.*", "")
    scheme = F.lower(F.regexp_extract(no_frag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(no_frag, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    stage = (
        df.withColumn("_scheme", scheme)
        .withColumn("_rest", rest)
        .withColumn("_auth", F.regexp_extract("_rest", r"^([^/?]*)", 1))
        .withColumn(
            "_after", F.expr("substring(_rest, length(_auth) + 1, 1073741824)")
        )
        .withColumn(
            "_hostname",
            F.regexp_replace(
                F.lower(F.regexp_extract("_auth", r"^([^:]*)", 1)), r"\.$", ""
            ),
        )
        .withColumn("_port", F.regexp_extract("_auth", r":(\d+)$", 1))
        .withColumn(
            "_portout",
            F.when(
                (F.col("_port") == "")
                | ((F.col("_scheme") == "http") & (F.col("_port") == "80"))
                | ((F.col("_scheme") == "https") & (F.col("_port") == "443")),
                F.lit(""),
            ).otherwise(F.concat(F.lit(":"), F.col("_port"))),
        )
        .withColumn("_path", F.regexp_extract("_after", r"^([^?]*)", 1))
        .withColumn(
            "_query",
            F.when(
                F.col("_after").contains("?"),
                F.regexp_replace("_after", r"^[^?]*\?", ""),
            ).otherwise(F.lit("")),
        )
    )
    canon = F.concat(
        F.col("_scheme"),
        F.lit("://"),
        F.col("_hostname"),
        F.col("_portout"),
        _resolve_dot_segments(F.col("_path")),
        _clean_query(F.col("_query"), DEFAULT_DROP_PARAMS),
    )
    out = stage.withColumn(
        "url_canon", F.when(F.col("_scheme") != "", canon).otherwise(u)
    )
    return out.drop(
        "_scheme", "_rest", "_auth", "_after", "_hostname", "_port", "_portout",
        "_path", "_query",
    )


def resolve_refs(
    df: DataFrame, base_col: str, ref_col: str, out_col: str = "resolved"
) -> DataFrame:
    """RFC 3986 §5 reference resolution: absolute-ize a link reference
    against its page's base URL — the step a link graph needs before
    path-relative hrefs (``page.html``, ``../up/x``) can join anything.

    Handles, per the spec's cases: absolute references (pass through),
    protocol-relative ``//host/p`` (base scheme), root-relative ``/p``
    (base origin + dot-segment removal), query-only ``?q`` (base path
    swapped query), empty and fragment-only references (the base
    itself), and path-relative references merged onto the base path's
    directory then dot-resolved (§5.2.4 via the same ``aggregate`` fold
    canonicalize_urls uses). Fragments are stripped from the output —
    link-graph semantics, where #section never names a new document.
    Pure JVM column ops; narrow, no shuffle.
    """
    base = F.col(base_col)
    # strip fragment from the reference first (never part of the target)
    ref = F.substring_index(F.col(ref_col), "#", 1)
    b_scheme = F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    b_origin = F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    b_path = F.regexp_extract(base, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    b_nofrag = F.substring_index(base, "#", 1)
    b_dir = F.regexp_replace(b_path, r"[^/]*$", "")
    r_path = F.substring_index(ref, "?", 1)
    r_query = F.when(
        F.instr(ref, "?") > 0, F.expr(f"substring(substring_index({ref_col}, '#', 1), instr(substring_index({ref_col}, '#', 1), '?'))")
    ).otherwise(F.lit(""))
    resolved = (
        # absolute: has a scheme of its own
        F.when(ref.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:"), ref)
        # protocol-relative
        .when(ref.startswith("//"), F.concat(b_scheme, F.lit(":"), ref))
        # root-relative: origin + dot-resolved path
        .when(
            ref.startswith("/"),
            F.concat(b_origin, _resolve_dot_segments(r_path), r_query),
        )
        # empty or fragment-only: the base document
        .when(ref == "", b_nofrag)
        # query-only: base path, new query
        .when(
            ref.startswith("?"),
            F.concat(
                b_origin,
                F.when(b_path == "", F.lit("/")).otherwise(b_path),
                ref,
            ),
        )
        # path-relative: merge onto the base directory, then dot-resolve
        .otherwise(
            F.concat(
                b_origin,
                _resolve_dot_segments(
                    F.concat(
                        F.when(b_dir == "", F.lit("/")).otherwise(b_dir), r_path
                    )
                ),
                r_query,
            )
        )
    )
    return df.withColumn(out_col, resolved)
