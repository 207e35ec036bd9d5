"""Contract queries: crawl-side URL hygiene (canonicalization, sitemaps).

New in round 4 — the crawl-frontier companions to the robots family:
URL canonicalization feeds exact dedup (same resource under trivially
different URLs), sitemap parsing feeds the frontier itself.
"""

from __future__ import annotations

from finetoo_sp_spark.contract._core import (
    DataFrame,
    SparkSession,
    F,
    T,
    _q,
)


@_q(
    "url_canonicalize",
    """
SELECT doc_id AS id,
  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
  || '://'
  || (CASE WHEN doc_id % 3 = 0 THEN upper(source) || '.Example.COM.'
           ELSE source || '.example.com' END)
  || (CASE WHEN doc_id % 4 = 0 THEN
             (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
           WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END)
  || (CASE CAST(doc_id % 5 AS INT)
        WHEN 0 THEN '/dir//sub/./page' || doc_id
        WHEN 1 THEN '/dir/skip/../page' || doc_id
        WHEN 2 THEN '/../page' || doc_id
        WHEN 3 THEN ''
        ELSE '/page' || doc_id END)
  || (CASE CAST(doc_id % 3 AS INT)
        WHEN 0 THEN '?b=2&utm_source=x&a=1'
        WHEN 1 THEN '?UTM_Campaign=c&fbclid=z&ref=home'
        ELSE '' END)
  || (CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END) AS url,
  (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
  || '://' || lower(source) || '.example.com'
  || (CASE WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END)
  || (CASE CAST(doc_id % 5 AS INT)
        WHEN 0 THEN '/dir/sub/page' || doc_id
        WHEN 1 THEN '/dir/page' || doc_id
        WHEN 2 THEN '/page' || doc_id
        WHEN 3 THEN '/'
        ELSE '/page' || doc_id END)
  || (CASE WHEN doc_id % 3 = 0 THEN '?a=1&b=2' ELSE '' END) AS url_canon
FROM documents""",
    audit=[
        ("fully narrow plan: no shuffle at all", r"!Exchange"),
        ("whole-stage codegen", r"codegen id : "),
        ("NO join", r"!Join"),
    ],
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 3986 URL canonicalization: messy URLs synthesized from
    documents (case-mangled scheme/host, trailing host dot, default and
    non-default ports, doubled slashes, ./ and ../ segments, tracking
    params in mixed case, fragments) run through the real operator; the
    oracle reconstructs the expected canonical form RELATIONALLY from
    the same synthesis parameters — the operator's fold/sort/strip
    logic is never consulted by the oracle. Narrow JVM-only plan."""
    from finetoo_sp_spark.operators.urlnorm import canonicalize_urls

    d = T(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.upper("source"), F.lit(".Example.COM.")),
        ).otherwise(F.concat("source", F.lit(".example.com"))),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.when(F.col("doc_id") % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        )
        .when(F.col("doc_id") % 4 == 1, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("/dir//sub/./page"), F.col("doc_id").cast("string")),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.lit("/dir/skip/../page"), F.col("doc_id").cast("string")),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(F.lit("/../page"), F.col("doc_id").cast("string")),
        )
        .when(F.col("doc_id") % 5 == 3, F.lit(""))
        .otherwise(F.concat(F.lit("/page"), F.col("doc_id").cast("string"))),
        F.when(F.col("doc_id") % 3 == 0, F.lit("?b=2&utm_source=x&a=1"))
        .when(F.col("doc_id") % 3 == 1, F.lit("?UTM_Campaign=c&fbclid=z&ref=home"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 2 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    messy = d.select(F.col("doc_id").alias("id"), url.alias("url"))
    return canonicalize_urls(messy)


@_q(
    "sitemap_parse",
    """
SELECT source AS host,
  'https://' || source || '.example.com/doc/' || doc_id AS loc,
  CASE WHEN doc_id % 4 = 0 THEN
    CAST('2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS DATE)
  END AS lastmod,
  CASE CAST(doc_id % 3 AS INT)
    WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly' END AS changefreq,
  CASE WHEN doc_id % 5 <> 4 THEN (doc_id % 10) * 100000 END AS priority_ppm
FROM documents""",
    audit=[
        # tree lines render as '+- Exchange (n)': two tree occurrences
        # means two shuffles, one is the per-host assembly groupBy
        ("one shuffle only (the per-host assembly groupBy; parse side narrow)",
         r"!\+- Exchange[\s\S]*\+- Exchange"),
        ("partial aggregation before the host shuffle", r"HashAggregate|ObjectHashAggregate"),
        ("NO join", r"!Join"),
    ],
)
def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sitemaps.org parsing: per-host <urlset> bodies synthesized from
    documents (lastmod only on every 4th entry, changefreq on 2/3,
    priority absent on every 5th — every NULL branch executes), grouped
    with a deterministic sort, then parsed back by the declarative
    regexp pipeline. lastmod is a typed DATE (try-parse), priority an
    integer-ppm decimal parse. Oracle relational from the same
    synthesis parameters."""
    from finetoo_sp_spark.sources.sitemap import parse_sitemaps

    d = T(spark, sf_dir, "documents")
    did = F.col("doc_id")
    entry = F.concat(
        F.lit("<url><loc>https://"),
        F.col("source"),
        F.lit(".example.com/doc/"),
        did.cast("string"),
        F.lit("</loc>"),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit("<lastmod>2026-01-"),
                F.lpad((did % 28 + 1).cast("string"), 2, "0"),
                F.lit("</lastmod>"),
            ),
        ).otherwise(F.lit("")),
        F.when(did % 3 == 0, F.lit("<changefreq>daily</changefreq>"))
        .when(did % 3 == 1, F.lit("<changefreq>weekly</changefreq>"))
        .otherwise(F.lit("")),
        F.when(
            did % 5 != 4,
            F.concat(
                F.lit("<priority>0."), (did % 10).cast("string"), F.lit("</priority>")
            ),
        ).otherwise(F.lit("")),
        F.lit("</url>"),
    )
    sitemaps = (
        d.select(F.col("source").alias("host"), did.alias("doc_id"), entry.alias("_e"))
        .groupBy("host")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "_e"))),
                        lambda s: s["_e"],
                    ),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("sitemap_xml")
        )
    )
    return parse_sitemaps(sitemaps)


@_q(
    "robots_sitemaps",
    """
WITH h AS (SELECT DISTINCT source AS host FROM documents)
SELECT host, 'https://' || host || '.example.com/sitemap.xml' AS sitemap_url
FROM h
UNION ALL
SELECT host, 'https://cdn.example.com/' || host || '/sitemap-news.xml'
FROM h WHERE length(host) % 2 = 0""",
)
def q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from robots.txt: per-host robots bodies carry a
    group-independent 'Sitemap:' directive buried between User-agent
    groups (plus a second, mixed-case 'SITEMAP:' one on even-length
    hosts, and a decoy 'sitemap.xml' path inside a Disallow rule that
    must NOT match); the flat line scan recovers exactly the directive
    URLs. Oracle relational."""
    from finetoo_sp_spark.sources.robots import sitemap_directives

    d = T(spark, sf_dir, "documents")
    hosts = d.select(F.col("source").alias("host")).distinct()
    robots = hosts.select(
        "host",
        F.concat(
            F.lit("User-agent: *\nDisallow: /private/sitemap.xml\n"),
            F.lit("Sitemap: https://"),
            F.col("host"),
            F.lit(".example.com/sitemap.xml\n"),
            F.when(
                F.length("host") % 2 == 0,
                F.concat(
                    F.lit("User-agent: gptbot\nDisallow: /\n"),
                    F.lit("SITEMAP:   https://cdn.example.com/"),
                    F.col("host"),
                    F.lit("/sitemap-news.xml\n"),
                ),
            ).otherwise(F.lit("")),
        ).alias("robots_txt"),
    )
    return sitemap_directives(robots)


@_q(
    "blocklist_gate",
    """
WITH u AS (
  SELECT doc_id,
    CASE CAST(doc_id % 5 AS INTEGER)
      WHEN 0 THEN 'www.spam' || (doc_id % 3) || '.example'
      WHEN 1 THEN 'sub.a.blocked' || (doc_id % 3) || '.net'
      WHEN 2 THEN 'ok' || (doc_id % 3) || '.org'
      WHEN 3 THEN 'blocked' || (doc_id % 3) || '.net'
      ELSE 'deep.x.notspam' || (doc_id % 3) || '.example' END AS host
  FROM documents
),
bl AS (
  SELECT 'spam' || g.k || '.example' AS domain FROM UNNEST(generate_series(0, 2)) g(k)
  UNION ALL
  SELECT 'blocked' || g.k || '.net' FROM UNNEST(generate_series(0, 2)) g(k)
),
p AS (SELECT doc_id, host, string_split(host, '.') AS parts FROM u),
s AS (
  SELECT doc_id, host, array_to_string(parts[CAST(g.i AS BIGINT):len(parts)], '.') AS suf
  FROM p, UNNEST(generate_series(1, len(parts))) AS g(i)
),
hits AS (
  SELECT s.doc_id, max(length(suf)) AS l
  FROM s JOIN bl ON s.suf = bl.domain GROUP BY 1
),
best AS (
  SELECT s.doc_id, s.suf AS matched_domain
  FROM s JOIN hits ON s.doc_id = hits.doc_id AND length(s.suf) = hits.l
  JOIN bl ON s.suf = bl.domain
)
SELECT u.doc_id AS id, u.host,
  best.matched_domain IS NOT NULL AS blocked,
  coalesce(best.matched_domain, '') AS matched_domain
FROM u LEFT JOIN best ON u.doc_id = best.doc_id""",
    audit=[
        ("blocklist dimension broadcast", r"BroadcastHashJoin"),
        ("suffix explode stays JVM-side", r"Generate"),
    ],
)
def q_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist gate: hosts synthesized from documents (spam
    subdomain / nested blocked / clean / exact blocked / decoy whose
    label is a SUPERSTRING of a blocked domain — must NOT match),
    blocked-domain dimension of 6 rows, suffix-at-label-boundary
    semantics via the dot-suffix explode + broadcast equi-join. The
    oracle restates the same suffix algebra relationally."""
    from finetoo_sp_spark.operators.blocklist import blocklist_gate

    d = T(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 5).cast("int")
    k = F.col("doc_id") % 3
    u = d.select(
        "doc_id",
        F.when(m == 0, F.concat(F.lit("www.spam"), k, F.lit(".example")))
        .when(m == 1, F.concat(F.lit("sub.a.blocked"), k, F.lit(".net")))
        .when(m == 2, F.concat(F.lit("ok"), k, F.lit(".org")))
        .when(m == 3, F.concat(F.lit("blocked"), k, F.lit(".net")))
        .otherwise(F.concat(F.lit("deep.x.notspam"), k, F.lit(".example")))
        .alias("host"),
    )
    bl = spark.createDataFrame(
        [(f"spam{i}.example",) for i in range(3)]
        + [(f"blocked{i}.net",) for i in range(3)],
        "domain string",
    )
    return blocklist_gate(u, bl)


@_q(
    "trap_urls",
    """
WITH u AS (
  SELECT doc_id, CAST(doc_id % 6 AS INTEGER) AS m,
    'https://' || source || '.example' ||
    CASE CAST(doc_id % 6 AS INTEGER)
      WHEN 0 THEN '/page/' || doc_id
      WHEN 1 THEN '/a/b/c/d/e/f/g/h/i/' || doc_id
      WHEN 2 THEN '/x/y/x/y/x/' || doc_id
      WHEN 3 THEN '/blog/2024/03/15/p' || doc_id
      WHEN 4 THEN '/s?a=1&b=2&c=3&d=4&e=5&f=6&g=' || doc_id
      ELSE '/blog/2024/p' || doc_id END AS url
  FROM documents
)
SELECT doc_id, url,
  CAST(CASE m WHEN 0 THEN 2 WHEN 1 THEN 10 WHEN 2 THEN 6 WHEN 3 THEN 5
       WHEN 4 THEN 1 ELSE 3 END AS INTEGER) AS path_depth,
  CAST(CASE WHEN m = 4 THEN 7 ELSE 0 END AS INTEGER) AS n_params,
  m = 1 AS deep_path,
  m = 2 AS repeated_segment,
  m = 3 AS calendar,
  m = 4 AS query_explosion,
  m IN (1, 2, 3, 4) AS is_trap
FROM u""",
)
def q_trap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap detection from URL shape alone (Heritrix
    path-repetition / IRLbot budget-cap lineage): six synthesized URL
    classes — clean, deep path, self-similar loop, calendar walk,
    faceted-query explosion, and a year-without-month decoy that must
    NOT flag. Four narrow JVM column checks, no UDF, no shuffle; the
    oracle states every flag per class."""
    from finetoo_sp_spark.operators.traps import flag_trap_urls

    d = T(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 6).cast("int")
    u = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example"),
            F.when(m == 0, F.concat(F.lit("/page/"), F.col("doc_id")))
            .when(m == 1, F.concat(F.lit("/a/b/c/d/e/f/g/h/i/"), F.col("doc_id")))
            .when(m == 2, F.concat(F.lit("/x/y/x/y/x/"), F.col("doc_id")))
            .when(m == 3, F.concat(F.lit("/blog/2024/03/15/p"), F.col("doc_id")))
            .when(m == 4, F.concat(F.lit("/s?a=1&b=2&c=3&d=4&e=5&f=6&g="), F.col("doc_id")))
            .otherwise(F.concat(F.lit("/blog/2024/p"), F.col("doc_id"))),
        ).alias("url"),
    )
    return flag_trap_urls(u)


@_q(
    "feed_parse",
    """
WITH d AS (
  SELECT doc_id, source,
    lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS mm
  FROM documents
)
SELECT source AS host, 'rss' AS kind,
  'https://' || source || '.example/r/' || doc_id AS link,
  'R' || doc_id AS title,
  CASE WHEN doc_id % 5 = 4 THEN NULL
       ELSE CAST('2026-01-05 10:' || mm || ':00' AS TIMESTAMP) END AS published
FROM d
UNION ALL
SELECT source, 'atom', 'https://' || source || '.example/a/' || doc_id,
  'A' || doc_id, CAST('2026-02-11 08:' || mm || ':00' AS TIMESTAMP)
FROM d WHERE doc_id % 2 = 0""",
    audit=[
        ("item/entry explode stays JVM-side", r"Generate"),
        ("NO shuffle (per-feed parse is embarrassingly parallel)", r"!Exchange"),
    ],
)
def q_feed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS 2.0 + Atom feed parsing (the freshness-discovery surface next
    to sitemaps): one synthesized feed per doc carrying an RSS item
    (RFC 822 pubDate, unparseable on every 5th -> NULL, never a crash)
    and, on evens, an Atom entry (href-attribute link, ISO updated).
    One regexp lift per dialect + per-element tag extracts, all JVM,
    no shuffle; oracle relational."""
    from finetoo_sp_spark.sources.feeds import parse_feeds

    d = T(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    mm = F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0")
    rss = F.concat(
        F.lit("<rss><channel><item><title>R"), did, F.lit("</title><link>https://"),
        F.col("source"), F.lit(".example/r/"), did, F.lit("</link><pubDate>"),
        F.when(F.col("doc_id") % 5 == 4, F.lit("not a date")).otherwise(
            F.concat(F.lit("Mon, 05 Jan 2026 10:"), mm, F.lit(":00 GMT"))
        ),
        F.lit("</pubDate></item></channel></rss>"),
    )
    atom = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit('<feed><entry><title>A'), did, F.lit('</title><link href="https://'),
            F.col("source"), F.lit(".example/a/"), did,
            F.lit('"/><updated>2026-02-11T08:'), mm, F.lit(":00Z</updated></entry></feed>"),
        ),
    ).otherwise(F.lit(""))
    feeds = d.select(
        F.col("source").alias("host"), F.concat(rss, atom).alias("feed_xml")
    )
    return parse_feeds(feeds)


@_q(
    "resolve_references",
    """
WITH t AS (
  SELECT doc_id AS id,
    'https://' || source || '.example.com' AS pre,
    CAST(doc_id % 8 AS INT) AS m
  FROM documents
)
SELECT id,
  CASE m
    WHEN 0 THEN 'page' || id || '.html'
    WHEN 1 THEN '../up' || id
    WHEN 2 THEN '/abs/./x/../p' || id
    WHEN 3 THEN '//cdn.example.net/l' || id || '.js'
    WHEN 4 THEN ''
    WHEN 5 THEN '?s=' || id
    WHEN 6 THEN 'http://ext.example.org/e' || id
    ELSE 'sub/dir' || id || '/x?k=1#f' END AS ref,
  CASE m
    WHEN 0 THEN pre || '/d1/d2/page' || id || '.html'
    WHEN 1 THEN pre || '/d1/up' || id
    WHEN 2 THEN pre || '/abs/p' || id
    WHEN 3 THEN 'https://cdn.example.net/l' || id || '.js'
    WHEN 4 THEN pre || '/d1/d2/f?b=1'
    WHEN 5 THEN pre || '/d1/d2/f?s=' || id
    WHEN 6 THEN 'http://ext.example.org/e' || id
    ELSE pre || '/d1/d2/sub/dir' || id || '/x?k=1' END AS resolved
FROM t""",
    audit=[
        ("narrow plan: NO shuffle at all", r"!Exchange"),
        ("whole-stage codegen", r"codegen id : "),
        ("NO join", r"!Join"),
    ],
)
def q_resolve_references(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 3986 §5 reference resolution: eight reference shapes per
    page (path-relative, dot-climbing, root-relative with ./..
    noise, protocol-relative, empty, query-only, absolute, and a
    deep relative with query+fragment) resolved against a real base
    URL; the oracle restates every resolved form from the synthesis
    parameters — the operator's merge/fold logic is never consulted.
    The step that makes path-relative hrefs (the majority of real
    on-site links, which extract_links documents as out of scope)
    joinable in a link graph. Narrow JVM-only plan."""
    from finetoo_sp_spark.operators.urlnorm import resolve_refs

    d = T(spark, sf_dir, "documents")
    pre = F.concat(F.lit("https://"), "source", F.lit(".example.com"))
    i = F.col("doc_id").cast("string")
    m = (F.col("doc_id") % 8).cast("int")
    ref = (
        F.when(m == 0, F.concat(F.lit("page"), i, F.lit(".html")))
        .when(m == 1, F.concat(F.lit("../up"), i))
        .when(m == 2, F.concat(F.lit("/abs/./x/../p"), i))
        .when(m == 3, F.concat(F.lit("//cdn.example.net/l"), i, F.lit(".js")))
        .when(m == 4, F.lit(""))
        .when(m == 5, F.concat(F.lit("?s="), i))
        .when(m == 6, F.concat(F.lit("http://ext.example.org/e"), i))
        .otherwise(F.concat(F.lit("sub/dir"), i, F.lit("/x?k=1#f")))
    )
    rows = d.select(
        F.col("doc_id").alias("id"),
        F.concat(pre, F.lit("/d1/d2/f?b=1#top")).alias("base"),
        ref.alias("ref"),
    )
    return resolve_refs(rows, "base", "ref").select("id", "ref", "resolved")


@_q(
    "recrawl_plan",
    """
WITH snap AS (
  SELECT 'https://' || source || '/p' || doc_id AS url,
    1000000 + doc_id AS fetched_at,
    CASE WHEN doc_id % 3 = 0 THEN 'W/"' || doc_id || '"' END AS etag,
    CASE WHEN doc_id % 3 = 1 THEN 'Mon, 01 Jan 2024 00:00:' || doc_id % 60 END
      AS last_modified
  FROM documents
), lm AS (
  SELECT 'https://' || source || '/p' || doc_id AS url,
    1000000 + doc_id + CASE WHEN doc_id % 8 = 0 THEN 500 ELSE -500 END AS lastmod
  FROM documents WHERE doc_id % 4 = 0
), j AS (
  SELECT s.*, lm.lastmod FROM snap s LEFT JOIN lm ON s.url = lm.url
)
SELECT url,
  CASE WHEN lastmod IS NOT NULL AND lastmod > fetched_at THEN 'fetch'
       WHEN etag IS NOT NULL THEN 'revalidate'
       WHEN last_modified IS NOT NULL THEN 'revalidate'
       WHEN 2000000 - fetched_at > 999800 THEN 'fetch'
       ELSE 'skip' END AS action,
  CASE WHEN lastmod IS NOT NULL AND lastmod > fetched_at THEN ''
       WHEN etag IS NOT NULL THEN 'if-none-match'
       WHEN last_modified IS NOT NULL THEN 'if-modified-since'
       ELSE '' END AS cond_header,
  CASE WHEN lastmod IS NOT NULL AND lastmod > fetched_at THEN ''
       WHEN etag IS NOT NULL THEN etag
       WHEN last_modified IS NOT NULL THEN last_modified
       ELSE '' END AS cond_value
FROM j""",
    audit=[
        ("lastmod dimension joins by url equi-join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
        ("NO window", r"!Window"),
    ],
)
def q_recrawl_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-GET recrawl planning: a synthetic snapshot where a
    third of URLs hold ETags, a third Last-Modified, and every fourth
    has a sitemap lastmod signal that is newer (stale -> fetch, beats
    any validator) or older (falls through to revalidation) than our
    fetch; an age budget splits the validator-less rest into fetch vs
    skip. The oracle restates the whole decision table relationally.
    One dimension left-join + narrow CASE chain, no window."""
    from finetoo_sp_spark.operators.recrawl import recrawl_plan

    d = T(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://"), "source", F.lit("/p"), F.col("doc_id"))
    snap = d.select(
        url.alias("url"),
        (F.lit(1000000) + F.col("doc_id")).alias("fetched_at"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit('W/"'), F.col("doc_id"), F.lit('"')),
        ).alias("etag"),
        F.when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("Mon, 01 Jan 2024 00:00:"), F.col("doc_id") % 60),
        ).alias("last_modified"),
    )
    lm = d.filter(F.col("doc_id") % 4 == 0).select(
        url.alias("url"),
        (
            F.lit(1000000)
            + F.col("doc_id")
            + F.when(F.col("doc_id") % 8 == 0, F.lit(500)).otherwise(F.lit(-500))
        ).alias("lastmod"),
    )
    return recrawl_plan(snap, lm, now_epoch_s=2000000, max_age_s=999800)


@_q(
    "resolved_links",
    """
WITH t AS (
  SELECT doc_id AS id, source AS src,
    'https://' || source || '/d/p' || doc_id || '.html' AS url,
    doc_id % 2 = 0 AS has_base
  FROM documents
)
SELECT url, 'r' || id || '.html' AS href,
  CASE WHEN has_base THEN 'https://b' || src || '/bb/r' || id || '.html'
       ELSE 'https://' || src || '/d/r' || id || '.html' END AS target
FROM t
UNION ALL
SELECT url, '/a' || id AS href,
  CASE WHEN has_base THEN 'https://b' || src || '/a' || id
       ELSE 'https://' || src || '/a' || id END AS target
FROM t""",
    audit=[
        ("narrow plan: NO shuffle at all", r"!Exchange"),
        ("NO join", r"!Join"),
    ],
)
def q_resolved_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base-aware link extraction: pages alternate between declaring a
    <base href> (pointing at a DIFFERENT host+directory, the
    CDN-mirror case) and not; each carries a path-relative and a
    root-relative anchor. The oracle restates both targets per page
    from the synthesis parameters — base redirection must change the
    relative AND root-relative results, and its absence must fall back
    to the page URL's directory. One regexp lift + posexplode + the
    RFC 3986 resolver, all JVM, no shuffle."""
    from finetoo_sp_spark.extraction.meta import resolved_links

    d = T(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    url = F.concat(F.lit("https://"), "source", F.lit("/d/p"), i, F.lit(".html"))
    base_tag = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit('<base href="https://b'), "source", F.lit('/bb/">')),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"), base_tag,
        F.lit('</head><body><a href="r'), i, F.lit('.html">x</a>'),
        F.lit('<a href="/a'), i, F.lit('">y</a></body></html>'),
    )
    pages = d.select(url.alias("url"), html.cast("binary").alias("html"))
    return resolved_links(pages).select("url", "href", "target")


@_q(
    "sitemap_media",
    """
SELECT * FROM (
  SELECT source AS host,
    'https://' || source || '.example.com/doc/' || doc_id AS loc,
    'image' AS media_type,
    'https://cdn.example.com/img/' || doc_id || '.jpg' AS media_loc,
    CAST(NULL AS BIGINT) AS duration_s,
    CASE WHEN doc_id % 4 <> 0 THEN 'img ' || doc_id END AS title,
    CAST(NULL AS DATE) AS pub_date
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT source, 'https://' || source || '.example.com/doc/' || doc_id,
    'image', 'https://cdn.example.com/img/' || doc_id || '.png',
    CAST(NULL AS BIGINT), 'alt ' || doc_id, CAST(NULL AS DATE)
  FROM documents WHERE doc_id % 6 = 0
  UNION ALL
  SELECT source, 'https://' || source || '.example.com/doc/' || doc_id,
    'video', 'https://cdn.example.com/vid/' || doc_id || '.mp4',
    CAST(30 + doc_id % 60 AS BIGINT), 'vid ' || doc_id, CAST(NULL AS DATE)
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT source, 'https://' || source || '.example.com/doc/' || doc_id,
    'news', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), 'news ' || doc_id,
    CAST('2026-02-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS DATE)
  FROM documents WHERE doc_id % 5 = 0
)""",
    audit=[
        ("media blocks explode JVM-side", r"Generate"),
    ],
)
def q_sitemap_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Google sitemap media extensions (image/video/news namespaces):
    per-host <urlset> bodies synthesized with 0-2 image blocks per url
    (title absent on every 4th image — the NULL branch), video blocks
    with integer durations, and news blocks with typed publication
    dates, parsed back by the two-level regexp-explode pipeline into
    one typed row per media item — the fetch frontier a MULTIMODAL
    crawl plans image/video downloads from. Oracle relational from the
    same synthesis parameters."""
    from finetoo_sp_spark.sources.sitemap import media_entries

    d = T(spark, sf_dir, "documents")
    did = F.col("doc_id")
    img = F.when(
        did % 2 == 0,
        F.concat(
            F.lit("<image:image><image:loc>https://cdn.example.com/img/"),
            did.cast("string"),
            F.lit(".jpg</image:loc>"),
            F.when(
                did % 4 != 0,
                F.concat(
                    F.lit("<image:title>img "), did.cast("string"),
                    F.lit("</image:title>"),
                ),
            ).otherwise(F.lit("")),
            F.lit("</image:image>"),
        ),
    ).otherwise(F.lit(""))
    img2 = F.when(
        did % 6 == 0,
        F.concat(
            F.lit("<image:image><image:loc>https://cdn.example.com/img/"),
            did.cast("string"),
            F.lit(".png</image:loc><image:title>alt "),
            did.cast("string"),
            F.lit("</image:title></image:image>"),
        ),
    ).otherwise(F.lit(""))
    vid = F.when(
        did % 3 == 0,
        F.concat(
            F.lit("<video:video><video:content_loc>https://cdn.example.com/vid/"),
            did.cast("string"),
            F.lit(".mp4</video:content_loc><video:duration>"),
            (30 + did % 60).cast("string"),
            F.lit("</video:duration><video:title>vid "),
            did.cast("string"),
            F.lit("</video:title></video:video>"),
        ),
    ).otherwise(F.lit(""))
    news = F.when(
        did % 5 == 0,
        F.concat(
            F.lit("<news:news><news:publication_date>2026-02-"),
            F.lpad((did % 28 + 1).cast("string"), 2, "0"),
            F.lit("</news:publication_date><news:title>news "),
            did.cast("string"),
            F.lit("</news:title></news:news>"),
        ),
    ).otherwise(F.lit(""))
    entry = F.concat(
        F.lit("<url><loc>https://"),
        F.col("source"),
        F.lit(".example.com/doc/"),
        did.cast("string"),
        F.lit("</loc>"),
        img, img2, vid, news,
        F.lit("</url>"),
    )
    sitemaps = (
        d.select(F.col("source").alias("host"), did.alias("doc_id"), entry.alias("_e"))
        .groupBy("host")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "_e"))),
                        lambda s: s["_e"],
                    ),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("sitemap_xml")
        )
    )
    return media_entries(sitemaps)


@_q(
    "hls_playlist",
    """
WITH m AS (
  SELECT doc_id, 'https://hls.example/' || doc_id || '.m3u8' AS url
  FROM documents
)
SELECT url, 'variant' AS kind, CAST(g.j AS BIGINT) AS pos,
  'v' || g.j || '/index.m3u8' AS item_uri,
  CAST(500000 + g.j * 250000 AS BIGINT) AS bandwidth,
  CAST(640 + g.j * 320 AS BIGINT) AS width,
  CAST(360 + g.j * 180 AS BIGINT) AS height,
  CAST(NULL AS BIGINT) AS duration_ms
FROM m, UNNEST(generate_series(0, CAST(doc_id % 3 AS BIGINT) + 1)) AS g(j)
WHERE doc_id % 2 = 0
UNION ALL
SELECT url, 'segment', CAST(g.j AS BIGINT), 'seg' || g.j || '.ts',
  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
  CAST(4000 + g.j * 500 AS BIGINT)
FROM m, UNNEST(generate_series(0, CAST(doc_id % 4 AS BIGINT) + 1)) AS g(j)
WHERE doc_id % 2 = 1""",
    audit=[
        ("tag->URI pairing is a hash equi-join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
    ],
)
def q_hls_playlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLS manifest parsing (RFC 8216) — the video-segment fetch
    frontier: even ids are MASTER playlists (STREAM-INF bandwidth +
    resolution attributes, variant URIs), odd ids MEDIA playlists
    (EXTINF decimal durations parsed to integer ms without a float
    round-trip, ENDLIST footer). The tag->next-line URI pairing runs
    as an equi-join on (url, line+1); pos ranks items with one
    partition-local window. Oracle relational from the synthesis
    parameters."""
    from finetoo_sp_spark.sources.hls import parse_hls

    d = T(spark, sf_dir, "documents")
    did = F.col("doc_id")
    nv = (did % 3).cast("int") + 1
    ns = (did % 4).cast("int") + 1
    variants = F.array_join(
        F.transform(
            F.sequence(F.lit(0), nv),
            lambda j: F.concat(
                F.lit("#EXT-X-STREAM-INF:BANDWIDTH="),
                (500000 + j * 250000).cast("string"),
                F.lit(",RESOLUTION="),
                (640 + j * 320).cast("string"),
                F.lit("x"),
                (360 + j * 180).cast("string"),
                F.lit("\nv"), j.cast("string"), F.lit("/index.m3u8"),
            ),
        ),
        "\n",
    )
    segments = F.array_join(
        F.transform(
            F.sequence(F.lit(0), ns),
            lambda j: F.concat(
                F.lit("#EXTINF:"),
                ((4000 + j * 500) / 1000).cast("long").cast("string"),
                F.lit("."),
                (((4000 + j * 500) % 1000) / 100).cast("long").cast("string"),
                F.lit(",\nseg"), j.cast("string"), F.lit(".ts"),
            ),
        ),
        "\n",
    )
    body = F.when(
        did % 2 == 0,
        F.concat(F.lit("#EXTM3U\n#EXT-X-VERSION:4\n"), variants, F.lit("\n")),
    ).otherwise(
        F.concat(
            F.lit("#EXTM3U\n#EXT-X-TARGETDURATION:8\n"),
            segments,
            F.lit("\n#EXT-X-ENDLIST\n"),
        )
    )
    pages = d.select(
        F.concat(F.lit("https://hls.example/"), did.cast("string"), F.lit(".m3u8")).alias("url"),
        body.alias("body"),
    )
    return parse_hls(pages)
