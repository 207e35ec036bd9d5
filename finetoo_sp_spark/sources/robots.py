"""robots.txt parsing + URL gating (crawl-policy tier).

Training-pipeline extension (no reference analogue): the corpus-build
side of politeness — parse each host's robots.txt into typed rules and
gate candidate URLs by longest-prefix match (RFC 9309 semantics:
most-specific rule wins; on a length tie Allow wins; no matching rule
means allowed).

Parsing is declarative end to end: lines -> posexplode -> typed
(kind, value) columns -> the group id of each line is a running count
of preceding ``User-agent:`` lines (one window over (host, pos)) ->
the group's agent name joins back on (host, group). No Python per row.
The gate is an equi-join on host, a startswith filter, and a
row_number over (url) ordered by prefix length / allow — URL-side work
stays proportional to |urls| x matching-rules, never a cross join.

Path rules support RFC 9309 §2.2.3 wildcards: ``*`` matches any
character sequence and a trailing ``$`` anchors the rule to the end of
the path (a ``$`` anywhere else is literal, matching the reference
google/robotstxt behavior). Wildcard rules compile — declaratively, as
a column-expression replace chain — to an anchored Java regex checked
with ``rlike``; literal rules keep the cheaper ``startswith`` fast
path. Specificity for the most-specific-match rule is the rule path's
written length (wildcards included), ties broken Allow-first.

Group semantics follow RFC 9309 §2.1: consecutive ``User-agent`` lines
share the rule block that follows (each rule row is emitted once per
member agent via the group join), and a crawler with no group of its
own falls back to the ``*`` group per host (``gate_urls`` drops ``*``
rules only for hosts where an agent-specific group exists).

Simplifications (documented): agent matching is exact-token (the RFC's
longest-prefix product-token match is not implemented), and empty
``Disallow:`` (the RFC allow-all idiom) is dropped at parse time —
equivalent to the default-allow verdict it encodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def parse_robots(robots: DataFrame) -> DataFrame:
    """(host, robots_txt) -> (host, agent, rule_idx, allow, path_prefix):
    one row per Allow/Disallow rule, rule_idx = 0-based line position, agent = the
    group's User-agent value (lowercased)."""
    lines = robots.select(
        "host",
        F.posexplode(F.split("robots_txt", "\n")).alias("pos", "line"),
    ).select("host", "pos", F.trim("line").alias("line"))

    kind = (
        F.when(F.lower("line").startswith("user-agent:"), F.lit("ua"))
        .when(F.lower("line").startswith("disallow:"), F.lit("dis"))
        .when(F.lower("line").startswith("allow:"), F.lit("allow"))
    )
    value = F.trim(F.substring_index("line", ":", -1))
    typed = lines.select("host", "pos", kind.alias("kind"), value.alias("value")).filter(
        F.col("kind").isNotNull()
    )

    grouped = _group_lines(typed)
    agents = (
        grouped.filter(F.col("kind") == "ua")
        .select("host", "grp", F.lower("value").alias("agent"))
    )
    rules = (
        grouped.filter(F.col("kind") != "ua")
        .select(
            "host",
            "grp",
            F.col("pos").alias("rule_idx"),
            (F.col("kind") == "allow").alias("allow"),
            F.col("value").alias("path_prefix"),
        )
        # 'Disallow:' with no path is the RFC allow-all idiom — dropping
        # the rule is exactly equivalent to the default-allow verdict
        .filter(F.length("path_prefix") > 0)
    )
    # multi-agent groups: the join fans each rule out to every member
    return rules.join(agents, ["host", "grp"]).select(
        "host", "agent", "rule_idx", "allow", "path_prefix"
    )


def _group_lines(typed: DataFrame) -> DataFrame:
    """Assign RFC 9309 §2.1 group ids over typed directive lines: a
    group STARTS at a ``User-agent`` line not immediately preceded by
    another ``User-agent`` line (consecutive UA lines share the rule
    block that follows), so grp = running count of group starts."""
    seq = Window.partitionBy("host").orderBy("pos")
    run = seq.rowsBetween(Window.unboundedPreceding, 0)
    is_start = (F.col("kind") == "ua") & (
        F.coalesce(F.lag("kind").over(seq), F.lit("")) != "ua"
    )
    return typed.withColumn(
        "grp", F.sum(is_start.cast("int")).over(run)
    )


# Java-regex metacharacters escaped when a rule path compiles to a
# pattern; backslash must go first, '*' is escaped then rewritten to
# '.*' (the only wildcard RFC 9309 defines inside a path).
_RX_META = ["\\", ".", "+", "?", "(", ")", "[", "]", "{", "}", "|", "^", "$", "*"]


def _rule_regex(body):
    """Column expr: the anchored-at-start Java regex for a rule path
    ``body`` (trailing-$ already stripped by the caller)."""
    out = body
    for m in _RX_META:
        out = F.replace(out, F.lit(m), F.lit("\\" + m))
    return F.concat(F.lit("^"), F.replace(out, F.lit("\\*"), F.lit(".*")))


# rules kept per host, in file order (RFC 9309 truncation guidance)
MAX_RULES_PER_HOST = 2048


def compile_gate_rules(rules: DataFrame, agent: str) -> DataFrame:
    """The compiled rule side of ``gate_urls``: agent-group fallback
    resolved, per-host cap applied, wildcard/`$` paths lifted to
    anchored Java regexes."""
    r_agent = rules.filter(F.lower(F.col("agent")) == agent.lower())
    if agent != "*":
        star = rules.filter(F.col("agent") == "*")
        agent_hosts = r_agent.select("host").distinct()
        r_agent = r_agent.unionByName(star.join(agent_hosts, "host", "left_anti"))
    r = r_agent.select(
        F.col("host").alias("_rh"), "allow", "path_prefix", "rule_idx"
    )
    cap_w = Window.partitionBy("_rh").orderBy("rule_idx")
    r = (
        r.withColumn("_cap_rn", F.row_number().over(cap_w))
        .filter(F.col("_cap_rn") <= MAX_RULES_PER_HOST)
        .drop("_cap_rn", "rule_idx")
    )
    anchored = F.col("path_prefix").endswith("$")
    body = F.when(
        anchored, F.expr("substring(path_prefix, 1, length(path_prefix) - 1)")
    ).otherwise(F.col("path_prefix"))
    wild = anchored | F.col("path_prefix").contains("*")
    r = r.select(
        "_rh",
        "allow",
        "path_prefix",
        wild.alias("_wild"),
        F.when(
            wild,
            F.concat(_rule_regex(body), F.when(anchored, F.lit("$")).otherwise(F.lit(""))),
        ).alias("_rx"),
    )
    return r


def gate_urls(urls: DataFrame, rules: DataFrame, agent: str = "*") -> DataFrame:
    """(host, path, allowed) — most-specific-match verdict per (host,
    path) URL row for ``agent``'s rule group; URLs with no matching rule are allowed.

    Rule paths follow RFC 9309 §2.2.3: ``*`` matches any sequence, a
    trailing ``$`` anchors to the path end, specificity is the written
    rule length with Allow winning ties. Per §2.1, a host where
    ``agent`` has no group of its own falls back to that host's ``*``
    group (an anti-join on the dimension-sized rules table). Rules
    beyond ``MAX_RULES_PER_HOST`` (in file order, per RFC truncation
    guidance) are dropped before the join, bounding per-URL fanout on
    adversarial robots files; the join itself stays a host equi-join.
    """
    r = compile_gate_rules(rules, agent)
    u = urls.select("host", "path")
    match = F.when(F.col("_wild"), F.expr("rlike(path, _rx)")).otherwise(
        F.col("path").startswith(F.col("path_prefix"))
    )
    joined = u.join(r, (F.col("host") == F.col("_rh")) & match, "left")
    w = Window.partitionBy("host", "path").orderBy(
        F.length("path_prefix").desc(), F.col("allow").desc()
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("host", "path", F.coalesce("allow", F.lit(True)).alias("allowed"))
    )


def crawl_delays(robots: DataFrame) -> DataFrame:
    """(host, agent, delay_s) — the ``Crawl-delay:`` directive per
    User-agent group (non-numeric or missing values yield no row),
    feeding the per-host politeness rate limiting that the streaming
    crawl-rate operator enforces. Same declarative parse shape as
    parse_robots: one running-count window + group-agent join back."""
    lines = robots.select(
        "host",
        F.posexplode(F.split("robots_txt", "\n")).alias("pos", "line"),
    ).select("host", "pos", F.trim("line").alias("line"))

    kind = (
        F.when(F.lower("line").startswith("user-agent:"), F.lit("ua"))
        .when(F.lower("line").startswith("crawl-delay:"), F.lit("delay"))
    )
    value = F.trim(F.substring_index("line", ":", -1))
    typed = lines.select("host", "pos", kind.alias("kind"), value.alias("value")).filter(
        F.col("kind").isNotNull()
    )
    grouped = _group_lines(typed)
    agents = grouped.filter(F.col("kind") == "ua").select(
        "host", "grp", F.lower("value").alias("agent")
    )
    delays = grouped.filter(F.col("kind") == "delay").select(
        "host", "grp", F.expr("try_cast(value AS LONG)").alias("delay_s")
    )
    return (
        delays.filter(F.col("delay_s").isNotNull())
        .join(agents, ["host", "grp"])
        .select("host", "agent", "delay_s")
    )


def sitemap_directives(robots: DataFrame) -> DataFrame:
    """(host, sitemap_url) — ``Sitemap:`` directives from robots.txt.

    Per sitemaps.org's robots extension (and RFC 9309 §2.3 "other
    records"), Sitemap lines are group-INDEPENDENT: they apply to every
    crawler regardless of surrounding User-agent groups, so extraction
    is a flat line scan, not a group join. The URL is taken with a
    single anchored regexp (``substring_index(':')`` would split inside
    ``https://``). Feeds sources/sitemap.py's fetch-and-parse loop.
    """
    lines = robots.select(
        "host",
        F.explode(F.split("robots_txt", "\n")).alias("line"),
    )
    url = F.regexp_extract(F.trim("line"), r"(?i)^sitemap:\s*(\S+)", 1)
    return (
        lines.select("host", url.alias("sitemap_url"))
        .filter(F.col("sitemap_url") != "")
    )
