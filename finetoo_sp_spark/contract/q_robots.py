"""Contract queries: robots.txt parsing and URL gating.

Split from the round-3 contract.py monolith (VERDICT r03 item 7);
every query keeps its original name, Spark plan, and DuckDB twin.
"""

from __future__ import annotations

from finetoo_sp_spark.contract._core import (
    DataFrame,
    SparkSession,
    F,
    T,
    _WORDS_SQL,
    _q,
    _STOP_LIST_SQL,
)


@_q(
    "crawl_delays",
    """
SELECT DISTINCT source AS host, '*' AS agent,
  CAST(length(source) % 5 + 1 AS BIGINT) AS delay_s
FROM documents""",
)
def q_crawl_delays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay extraction: per-host robots.txt synthesized with a
    host-dependent delay (length(host)%5+1), recovered through the
    declarative parse; the politeness input for the streaming
    crawl-rate limiter. Oracle relational."""
    from finetoo_sp_spark.sources.robots import crawl_delays

    d = T(spark, sf_dir, "documents")
    hosts = d.select(F.col("source").alias("host")).distinct()
    robots = hosts.select(
        "host",
        F.concat(
            F.lit("User-agent: *\nCrawl-delay: "),
            (F.length("host") % 5 + 1).cast("string"),
            F.lit("\nDisallow: /tmp"),
        ).alias("robots_txt"),
    )
    return crawl_delays(robots)


@_q(
    "robots_gate",
    """
SELECT source AS host,
  CASE CAST(doc_id % 4 AS INT)
    WHEN 0 THEN '/private/' || doc_id
    WHEN 1 THEN '/private/ok/' || doc_id
    WHEN 2 THEN '/public/' || doc_id
    ELSE '/private' || doc_id END AS path,
  doc_id % 4 IN (1, 2) AS allowed
FROM documents""",
    audit=[
        ("rule join is host-keyed (equi + prefix filter, no theta-only join)", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
    ],
)
def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end robots.txt policy gate: one synthesized robots.txt per
    host (Disallow /private, Allow /private/ok, plus a gptbot group the
    '*' gate must ignore), candidate paths fanned out from documents by
    doc_id%4, then the full parse -> longest-prefix-match pipeline. The
    oracle states the expected verdicts relationally — prefix semantics
    (/privateN blocked), override semantics (/private/ok/N allowed) and
    the no-match default all verify per URL."""
    from finetoo_sp_spark.sources.robots import gate_urls, parse_robots

    d = T(spark, sf_dir, "documents")
    hosts = d.select(F.col("source").alias("host")).distinct()
    robots = hosts.select(
        "host",
        F.lit(
            "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"
            "\nUser-agent: GPTBot\nDisallow: /"
        ).alias("robots_txt"),
    )
    m = (F.col("doc_id") % 4).cast("int")
    urls = d.select(
        F.col("source").alias("host"),
        F.when(m == 0, F.concat(F.lit("/private/"), F.col("doc_id")))
        .when(m == 1, F.concat(F.lit("/private/ok/"), F.col("doc_id")))
        .when(m == 2, F.concat(F.lit("/public/"), F.col("doc_id")))
        .otherwise(F.concat(F.lit("/private"), F.col("doc_id")))
        .alias("path"),
    )
    return gate_urls(urls, parse_robots(robots), agent="*")


@_q(
    "robots_gate_wildcard",
    """
SELECT source AS host,
  CASE CAST(doc_id % 6 AS INT)
    WHEN 0 THEN '/file' || doc_id || '.tmp'
    WHEN 1 THEN '/file' || doc_id || '.tmpx'
    WHEN 2 THEN '/tmp-ok/f' || doc_id || '.tmp'
    WHEN 3 THEN '/media/' || doc_id || '/raw'
    WHEN 4 THEN '/tie/a' || doc_id
    ELSE '/pub/' || doc_id END AS path,
  doc_id % 6 IN (1, 2, 4, 5) AS allowed
FROM documents""",
    audit=[
        ("rule join stays a host equi-join (join keyed on host)",
         r"Left keys \[1\]: \[host#"),
        ("wildcard match rides as the join condition, not the key",
         r"Join condition: CASE WHEN _wild.* THEN RLIKE"),
        ("NO nested-loop join (wildcard match is a join filter, not the key)",
         r"!BroadcastNestedLoopJoin"),
    ],
)
def q_robots_gate_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 wildcard/anchor gate end-to-end: robots rules carrying
    '*' (any-sequence) and trailing-'$' (end anchor) patterns, compiled
    declaratively to anchored rlike regexes (literal rules keep the
    startswith fast path). Six path shapes per doc exercise the anchor
    (.tmp vs .tmpx), the longer-wildcard override (/tmp-ok/*.tmp$ beats
    /*.tmp$ on written length), a mid-path wildcard, the Allow-wins
    length tie (/tie/a vs /tie/*), and the no-match default — the
    oracle states every expected verdict relationally."""
    from finetoo_sp_spark.sources.robots import gate_urls, parse_robots

    d = T(spark, sf_dir, "documents")
    hosts = d.select(F.col("source").alias("host")).distinct()
    robots = hosts.select(
        "host",
        F.lit(
            "User-agent: *\nDisallow: /*.tmp$\nAllow: /tmp-ok/*.tmp$\n"
            "Disallow: /media/*/raw\nAllow: /tie/a\nDisallow: /tie/*\n"
            "\nUser-agent: GPTBot\nDisallow: /"
        ).alias("robots_txt"),
    )
    m = (F.col("doc_id") % 6).cast("int")
    urls = d.select(
        F.col("source").alias("host"),
        F.when(m == 0, F.concat(F.lit("/file"), F.col("doc_id"), F.lit(".tmp")))
        .when(m == 1, F.concat(F.lit("/file"), F.col("doc_id"), F.lit(".tmpx")))
        .when(m == 2, F.concat(F.lit("/tmp-ok/f"), F.col("doc_id"), F.lit(".tmp")))
        .when(m == 3, F.concat(F.lit("/media/"), F.col("doc_id"), F.lit("/raw")))
        .when(m == 4, F.concat(F.lit("/tie/a"), F.col("doc_id")))
        .otherwise(F.concat(F.lit("/pub/"), F.col("doc_id")))
        .alias("path"),
    )
    return gate_urls(urls, parse_robots(robots), agent="*")


@_q(
    "robots_gate_agent",
    """
SELECT a.agent, d.source AS host,
  CASE CAST(d.doc_id % 3 AS INT)
    WHEN 0 THEN '/ab/' || d.doc_id
    WHEN 1 THEN '/gpt/' || d.doc_id
    ELSE '/all/' || d.doc_id END AS path,
  CASE a.agent
    WHEN 'botb' THEN d.doc_id % 3 IN (1, 2)
    ELSE d.doc_id % 3 IN (0, 1) END AS allowed
FROM documents d, (VALUES ('botb'), ('newbot')) a(agent)""",
)
def q_robots_gate_agent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 group semantics end-to-end: a multi-agent group
    (User-agent: BotA + BotB sharing Disallow /ab), a decoy GPTBot
    group, and a '*' group (Disallow /all). Gating as BotB must apply
    the shared group and IGNORE the star group (agent has its own);
    gating as NewBot (no group anywhere) must fall back to the star
    group. The oracle states both agents' verdict matrices
    relationally."""
    from finetoo_sp_spark.sources.robots import gate_urls, parse_robots

    d = T(spark, sf_dir, "documents")
    hosts = d.select(F.col("source").alias("host")).distinct()
    robots = hosts.select(
        "host",
        F.lit(
            "User-agent: BotA\nUser-agent: BotB\nDisallow: /ab\n"
            "\nUser-agent: GPTBot\nDisallow: /gpt\n"
            "\nUser-agent: *\nDisallow: /all"
        ).alias("robots_txt"),
    )
    m = (F.col("doc_id") % 3).cast("int")
    urls = d.select(
        F.col("source").alias("host"),
        F.when(m == 0, F.concat(F.lit("/ab/"), F.col("doc_id")))
        .when(m == 1, F.concat(F.lit("/gpt/"), F.col("doc_id")))
        .otherwise(F.concat(F.lit("/all/"), F.col("doc_id")))
        .alias("path"),
    )
    rules = parse_robots(robots)
    out = None
    for agent in ("botb", "newbot"):
        g = gate_urls(urls, rules, agent).select(
            F.lit(agent).alias("agent"), "host", "path", "allowed"
        )
        out = g if out is None else out.unionByName(g)
    return out


@_q(
    "frontier_schedule",
    """
WITH f AS (
  SELECT 'https://' || source || '/doc/' || doc_id AS url,
         source AS host, doc_id % 7 AS priority
  FROM documents
), d AS (
  SELECT DISTINCT source AS host,
         CAST(length(source) % 5 + 1 AS BIGINT) AS delay_s
  FROM documents WHERE length(source) % 2 = 0
), r AS (
  SELECT f.url, f.host, f.priority,
    row_number() OVER (PARTITION BY f.host ORDER BY f.priority DESC, f.url ASC)
      AS rank_in_host,
    coalesce(d.delay_s, 1) AS delay_s
  FROM f LEFT JOIN d USING (host)
)
SELECT url, host, CAST(priority AS BIGINT) AS priority,
  CAST(rank_in_host AS BIGINT) AS rank_in_host,
  CAST(delay_s AS BIGINT) AS delay_s,
  CAST((rank_in_host - 1) * delay_s AS BIGINT) AS scheduled_t_s,
  (rank_in_host - 1) * delay_s < 120 AS within_budget
FROM r""",
    audit=[
        ("host-partitioned window (politeness key)", r"Window"),
        ("delay dimension joins by host equi-join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
    ],
)
def q_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware frontier scheduling: per-host serial fetch
    slots (priority desc, url asc) spaced by the host's Crawl-delay —
    the delay dimension is recovered through the REAL robots parse
    (crawl_delays over synthesized robots.txt) for even-length hosts
    only, so both the declared-delay and default-delay branches
    execute; a 120 s round budget marks the dispatchable subset. One
    host equi-join + one host-partitioned window — the partition key
    politeness forces."""
    from finetoo_sp_spark.operators.frontier import frontier_schedule
    from finetoo_sp_spark.sources.robots import crawl_delays

    d = T(spark, sf_dir, "documents")
    frontier = d.select(
        F.concat(F.lit("https://"), "source", F.lit("/doc/"), "doc_id").alias("url"),
        F.col("source").alias("host"),
        (F.col("doc_id") % 7).alias("priority"),
    )
    hosts = d.select(F.col("source").alias("host")).distinct().filter(
        F.length("host") % 2 == 0
    )
    robots = hosts.select(
        "host",
        F.concat(
            F.lit("User-agent: *\nCrawl-delay: "),
            (F.length("host") % 5 + 1).cast("string"),
            F.lit("\nDisallow: /tmp"),
        ).alias("robots_txt"),
    )
    delays = crawl_delays(robots).filter(F.col("agent") == "*")
    out = frontier_schedule(frontier, delays, budget_s=120)
    return out.select(
        "url", "host",
        F.col("priority").cast("long").alias("priority"),
        F.col("rank_in_host").cast("long").alias("rank_in_host"),
        F.col("delay_s").cast("long").alias("delay_s"),
        F.col("scheduled_t_s").cast("long").alias("scheduled_t_s"),
        "within_budget",
    )


@_q(
    "registrable_domains",
    """
WITH hosts AS (
  SELECT DISTINCT CASE CAST(doc_id % 6 AS INT)
    WHEN 0 THEN source || '.example.com'
    WHEN 1 THEN source || '.co.uk'
    WHEN 2 THEN 'www.' || source || '.co.uk'
    WHEN 3 THEN source || '.nom.ck'
    WHEN 4 THEN 'www.ck'
    ELSE source END AS host
  FROM documents
),
rules(key, match_on, ps_labels, is_exc) AS (
  VALUES ('com','cand',1,FALSE), ('co.uk','cand',2,FALSE), ('uk','cand',1,FALSE),
         ('ck','parent',2,FALSE), ('www.ck','cand',1,TRUE)
),
h AS (
  SELECT host, string_split(host, '.') AS labs,
         len(string_split(host, '.')) AS nlab
  FROM hosts
),
c AS (
  SELECT host, nlab,
    array_to_string(labs[k:nlab], '.') AS cand,
    CASE WHEN nlab - k >= 1 THEN array_to_string(labs[k+1:nlab], '.')
         ELSE '' END AS cand_parent
  FROM h, UNNEST(generate_series(1, nlab)) AS t(k)
),
m AS (
  SELECT host, nlab,
    (CASE WHEN r.is_exc THEN 100 ELSE 0 END) + r.ps_labels AS prio
  FROM c JOIN rules r ON (r.match_on = 'cand' AND c.cand = r.key)
  UNION ALL
  SELECT host, nlab,
    (CASE WHEN r.is_exc THEN 100 ELSE 0 END) + r.ps_labels
  FROM c JOIN rules r ON (r.match_on = 'parent' AND c.cand_parent = r.key)
),
b AS (SELECT host, nlab, max(prio) AS prio FROM m GROUP BY host, nlab),
res AS (
  SELECT h.host, h.nlab, h.labs,
    coalesce(CASE WHEN b.prio >= 100 THEN b.prio - 100 ELSE b.prio END, 1) AS pl
  FROM h LEFT JOIN b ON h.host = b.host
)
SELECT host,
  array_to_string(labs[nlab - pl + 1 : nlab], '.') AS public_suffix,
  CASE WHEN nlab > pl THEN array_to_string(labs[nlab - pl : nlab], '.')
  END AS registrable_domain
FROM res""",
    audit=[
        ("PSL rule dimension broadcast to both matchers", r"BroadcastHashJoin"),
    ],
)
def q_registrable_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eTLD+1 extraction under publicsuffix.org semantics: six host
    shapes exercise plain rules at two depths, the wildcard rule
    (*.ck makes nom.ck a suffix), the exception rule (!www.ck beats
    the wildcard), the implicit-* default (bare hosts) and the
    suffix-with-nothing-registered NULL. The oracle re-runs the whole
    prevailing-rule algorithm relationally — candidates, two rule
    joins, exception-beats-length priority — against the same rule
    list. The rule dimension broadcasts (the real PSL is ~9k rows);
    hosts never shuffle beyond the suffix-candidate groupBy."""
    from finetoo_sp_spark.operators.psl import registrable_domain

    d = T(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 6).cast("int")
    host = (
        F.when(m == 0, F.concat("source", F.lit(".example.com")))
        .when(m == 1, F.concat("source", F.lit(".co.uk")))
        .when(m == 2, F.concat(F.lit("www."), "source", F.lit(".co.uk")))
        .when(m == 3, F.concat("source", F.lit(".nom.ck")))
        .when(m == 4, F.lit("www.ck"))
        .otherwise(F.col("source"))
    )
    hosts = d.select(host.alias("host")).distinct()
    rules = ["com", "co.uk", "uk", "*.ck", "!www.ck"]
    return registrable_domain(hosts, "host", rules)


@_q(
    "domain_quality_report",
    f"""
WITH docs AS (
  SELECT doc_id, text,
    CASE CAST(doc_id % 3 AS INT)
      WHEN 0 THEN 'www.' || source || '.co.uk'
      WHEN 1 THEN source || '.co.uk'
      ELSE 'cdn.' || source || '.com' END AS host,
    CASE CAST(doc_id % 3 AS INT)
      WHEN 0 THEN source || '.co.uk'
      WHEN 1 THEN source || '.co.uk'
      ELSE source || '.com' END AS domain
  FROM documents
), q AS (
  SELECT doc_id, host, domain, {{QUALITY_KEEP}} AS keep
  FROM (
    SELECT doc_id, host, domain, text, {_WORDS_SQL} AS ws,
      length(text) AS n_chars, CAST(len({_WORDS_SQL}) AS INTEGER) AS n_words
    FROM docs
  )
)
SELECT domain AS registrable_domain,
  count(*) AS n_docs,
  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
  CAST((sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT)
    AS keep_ppm
FROM q GROUP BY domain""".replace(
        "{QUALITY_KEEP}",
        f"""(n_words >= 10
   AND round(length(regexp_replace(lower(text), '\\s+', '', 'g')) / greatest(n_words, 1), 4) BETWEEN 2 AND 12
   AND round(len(list_filter(ws, x -> list_contains({_STOP_LIST_SQL}, x))) / greatest(n_words, 1), 4) >= 0.01)""",
    ),
    audit=[
        ("PSL dimension broadcast", r"BroadcastHashJoin"),
        ("single partial-agg rollup", r"HashAggregate"),
    ],
)
def q_domain_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-domain curation rollup (the RefinedWeb move: filter
    DOMAINS, not pages, when a site is systematically low-quality):
    per-page C4-style keep flags aggregate to the REGISTRABLE domain —
    www.X.co.uk and X.co.uk collapse onto one X.co.uk row through the
    PSL operator, which is the point of grouping by eTLD+1 instead of
    host — yielding docs, distinct hosts, keeps and an exact integer
    keep-ppm per domain. Composition: registrable_domain (column-
    preserving) x quality_scores x one partial agg; the oracle
    composes the two HAND-WRITTEN SQL texts relationally and restates
    the domain mapping from the synthesis parameters."""
    from finetoo_sp_spark.operators.psl import registrable_domain
    from finetoo_sp_spark.operators.textstats import quality_scores

    d = T(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 3).cast("int")
    host = (
        F.when(m == 0, F.concat(F.lit("www."), "source", F.lit(".co.uk")))
        .when(m == 1, F.concat("source", F.lit(".co.uk")))
        .otherwise(F.concat(F.lit("cdn."), "source", F.lit(".com")))
    )
    pages = d.select("doc_id", "text", host.alias("host"))
    with_dom = registrable_domain(pages, "host", ["com", "co.uk", "uk"])
    keeps = quality_scores(d, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "keep"
    )
    j = with_dom.join(keeps, "doc_id")
    return j.groupBy("registrable_domain").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("host").alias("n_hosts"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_keep"),
        F.expr(
            "CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000 div count(*) AS BIGINT)"
        ).alias("keep_ppm"),
    )
