"""robots.txt parsing + URL gating (sources/robots.py)."""

from finetoo_sp_spark.sources.robots import gate_urls, parse_robots

TXT = (
    "User-agent: *\nDisallow: /private\nAllow: /private/ok\n\n"
    "User-agent: GPTBot\nDisallow: /"
)


def _rules(spark, txt=TXT, host="h1"):
    robots = spark.createDataFrame([(host, txt)], "host string, robots_txt string")
    return parse_robots(robots)


def test_parse_groups_and_rules(spark):
    got = sorted(map(tuple, _rules(spark).collect()))
    assert got == [
        ("h1", "*", 1, False, "/private"),
        ("h1", "*", 2, True, "/private/ok"),
        ("h1", "gptbot", 5, False, "/"),
    ]


def test_gate_longest_prefix_and_default(spark):
    urls = spark.createDataFrame(
        [
            ("h1", "/private/x"),     # blocked by /private
            ("h1", "/private/ok/y"),  # longer Allow overrides
            ("h1", "/privateX"),      # prefix semantics: still blocked
            ("h1", "/pub"),           # no matching rule -> allowed
            ("h2", "/anything"),      # host without robots -> allowed
        ],
        "host string, path string",
    )
    rules = _rules(spark)
    got = {(r["host"], r["path"]): r["allowed"] for r in gate_urls(urls, rules, "*").collect()}
    assert got == {
        ("h1", "/private/x"): False,
        ("h1", "/private/ok/y"): True,
        ("h1", "/privateX"): False,
        ("h1", "/pub"): True,
        ("h2", "/anything"): True,
    }
    # the gptbot group blocks everything on h1, touches nothing on h2
    bot = {(r["host"], r["path"]): r["allowed"] for r in gate_urls(urls, rules, "GPTBot").collect()}
    assert all(not v for (h, _), v in bot.items() if h == "h1")
    assert bot[("h2", "/anything")] is True


def test_allow_wins_length_ties_and_empty_disallow(spark):
    txt = "User-agent: *\nAllow: /a\nDisallow: /a\nDisallow:"
    urls = spark.createDataFrame(
        [("h1", "/a/x"), ("h1", "/b")], "host string, path string"
    )
    rules = _rules(spark, txt)
    # the empty Disallow (allow-all idiom) is dropped at parse time
    assert rules.count() == 2
    got = {r["path"]: r["allowed"] for r in gate_urls(urls, rules, "*").collect()}
    # RFC tie rule: Allow wins at equal length; /b matches nothing
    assert got == {"/a/x": True, "/b": True}


def test_gate_wildcard_and_anchor_rules(spark):
    """RFC 9309 §2.2.3: '*' matches any sequence, trailing '$' anchors
    to the path end, mid-path '$' is literal, regex metachars in rule
    paths are inert, and wildcard-rule specificity is written length."""
    txt = (
        "User-agent: *\n"
        "Disallow: /*.tmp$\n"          # anchored wildcard
        "Allow: /tmp-ok/*.tmp$\n"      # longer wildcard overrides
        "Disallow: /media/*/raw\n"     # mid-path wildcard, unanchored
        "Disallow: /do$lar\n"          # mid-path $ is literal
        "Disallow: /re(gex)+[chars]\n"  # metachars must not become regex
    )
    urls = spark.createDataFrame(
        [
            ("h1", "/file1.tmp"),          # blocked by /*.tmp$
            ("h1", "/file1.tmpx"),         # $ anchor: no match -> allowed
            ("h1", "/a/b/file2.tmp"),      # '*' spans slashes
            ("h1", "/tmp-ok/file3.tmp"),   # longer Allow wins
            ("h1", "/media/x/raw/f"),      # unanchored wildcard is prefix-ish
            ("h1", "/media/x/cooked"),     # no match
            ("h1", "/do$lar/page"),        # literal mid-path $
            ("h1", "/re(gex)+[chars]/y"),  # literal metachars
        ],
        "host string, path string",
    )
    rules = _rules(spark, txt)
    got = {r["path"]: r["allowed"] for r in gate_urls(urls, rules, "*").collect()}
    assert got == {
        "/file1.tmp": False,
        "/file1.tmpx": True,
        "/a/b/file2.tmp": False,
        "/tmp-ok/file3.tmp": True,
        "/media/x/raw/f": False,
        "/media/x/cooked": True,
        "/do$lar/page": False,
        "/re(gex)+[chars]/y": False,
    }


def test_gate_rules_per_host_cap(spark):
    """An adversarial host is truncated to the first MAX_RULES_PER_HOST
    rules in file order (RFC truncation guidance): a Disallow past the
    cap must not affect verdicts."""
    from finetoo_sp_spark.sources.robots import MAX_RULES_PER_HOST

    n = MAX_RULES_PER_HOST + 10
    txt = "User-agent: *\n" + "\n".join(f"Disallow: /blocked{i}/" for i in range(n))
    last_kept, past_cap = MAX_RULES_PER_HOST - 1, MAX_RULES_PER_HOST + 5
    urls = spark.createDataFrame(
        [("h1", f"/blocked{last_kept}/x"), ("h1", f"/blocked{past_cap}/x")],
        "host string, path string",
    )
    got = {r["path"]: r["allowed"] for r in gate_urls(urls, _rules(spark, txt), "*").collect()}
    assert got == {f"/blocked{last_kept}/x": False, f"/blocked{past_cap}/x": True}


def test_multi_agent_groups_share_rules(spark):
    """RFC 9309 §2.1: consecutive User-agent lines form ONE group whose
    rule block applies to every member."""
    txt = (
        "User-agent: bota\nUser-agent: botb\nDisallow: /ab\n\n"
        "User-agent: *\nDisallow: /all"
    )
    rules = _rules(spark, txt)
    got = {(r["agent"], r["path_prefix"]) for r in rules.collect()}
    assert got == {("bota", "/ab"), ("botb", "/ab"), ("*", "/all")}
    urls = spark.createDataFrame([("h1", "/ab/x"), ("h1", "/all/x")], "host string, path string")
    for agent in ("BotA", "botb"):
        verdicts = {r["path"]: r["allowed"] for r in gate_urls(urls, rules, agent).collect()}
        # own group blocks /ab; star group does NOT apply (agent has a group)
        assert verdicts == {"/ab/x": False, "/all/x": True}, agent


def test_agent_without_group_falls_back_to_star(spark):
    """RFC 9309 §2.1: a crawler with no matching group obeys the '*'
    group — per host (h1 has a newbot group, h2 only star)."""
    r1 = _rules(spark, "User-agent: newbot\nDisallow: /own\n\nUser-agent: *\nDisallow: /star", "h1")
    r2 = _rules(spark, "User-agent: *\nDisallow: /star", "h2")
    rules = r1.unionByName(r2)
    urls = spark.createDataFrame(
        [("h1", "/own/x"), ("h1", "/star/x"), ("h2", "/star/x"), ("h2", "/free")],
        "host string, path string",
    )
    got = {(r["host"], r["path"]): r["allowed"] for r in gate_urls(urls, rules, "NewBot").collect()}
    assert got == {
        ("h1", "/own/x"): False,   # own group applies on h1
        ("h1", "/star/x"): True,   # star ignored where own group exists
        ("h2", "/star/x"): False,  # no newbot group on h2 -> star applies
        ("h2", "/free"): True,
    }


def test_crawl_delays_per_group_and_dirty_values(spark):
    from finetoo_sp_spark.sources.robots import crawl_delays

    txt = (
        "User-agent: *\nCrawl-delay: 3\nDisallow: /x\n\n"
        "User-agent: SlowBot\nCrawl-delay: 10\n\n"
        "User-agent: BadBot\nCrawl-delay: soon"  # non-numeric -> no row
    )
    robots = spark.createDataFrame([("h1", txt)], "host string, robots_txt string")
    got = {(r["host"], r["agent"]): r["delay_s"] for r in crawl_delays(robots).collect()}
    assert got == {("h1", "*"): 3, ("h1", "slowbot"): 10}


def test_gate_wildcards_across_many_hosts(spark):
    """Wildcard and ``$``-anchored rules on 40 hosts of 52 rules each
    give each (host, path) its own most-specific verdict."""
    hosts = [f"h{i}.example.com" for i in range(40)]
    robots = spark.createDataFrame(
        [
            (h, "User-agent: *\nDisallow: /private*\nAllow: /private/ok$\n"
                + "\n".join(f"Disallow: /x{j}" for j in range(50)))
            for h in hosts
        ],
        "host string, robots_txt string",
    )
    from finetoo_sp_spark.sources.robots import parse_robots

    rules = parse_robots(robots)
    urls = spark.createDataFrame(
        [(hosts[i % 40], p) for i, p in enumerate(
            ["/private/a", "/private/ok", "/public", "/x7/y"] * 40)],
        "host string, path string",
    )

    got = {(r["host"], r["path"]): r["allowed"] for r in gate_urls(urls, rules).collect()}
    assert len(got) == 40
    assert got[(hosts[0], "/private/a")] is False
    assert got[(hosts[1], "/private/ok")] is True
    assert got[(hosts[2], "/public")] is True
    assert got[(hosts[3], "/x7/y")] is False
