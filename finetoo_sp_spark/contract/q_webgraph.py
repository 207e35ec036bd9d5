"""Contract queries: host/url analytics and outlink stats.

Split from the round-3 contract.py monolith (VERDICT r03 item 7);
every query keeps its original name, Spark plan, and DuckDB twin.
"""

from __future__ import annotations

from finetoo_sp_spark.contract._core import (
    DataFrame,
    SparkSession,
    F,
    documents_to_pages,
    ts,
    T,
    _q,
    _hits_oracle,
    _rank_oracle,
)


@_q(
    "outlink_stats",
    """
SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
  CAST(8 AS BIGINT) AS n_links,
  CAST(6
    + CASE WHEN CAST(CAST(floor(doc_id / 2) AS BIGINT) % 20 AS VARCHAR) = replace(source, 'src', '') THEN 1 ELSE 0 END
    + CASE WHEN CAST(CAST(floor(doc_id / 3) AS BIGINT) % 20 AS VARCHAR) = replace(source, 'src', '') THEN 1 ELSE 0 END
    AS BIGINT) AS n_internal
FROM documents""",
)
def q_outlink_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page outlink statistics over REAL extracted anchors: total
    resolved links and same-host (internal) links — the link-graph
    features domain-level spam/quality policies consume. The oracle
    derives the expectation from the template's 8-anchor layout and the
    parent-link host rule."""
    from finetoo_sp_spark.extraction.graph import extract_link_pairs

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    links = extract_link_pairs(pages)
    host = F.regexp_extract("url", r"https?://([^/]+)", 1)
    thost = F.regexp_extract("target", r"https?://([^/]+)", 1)
    return (
        links.groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.sum(F.when(host == thost, 1).otherwise(0)).alias("n_internal"),
        )
    )


@_q(
    "canonical_urls",
    """
SELECT doc_id,
  'https://src' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/doc/' || doc_id
    || '?id=' || doc_id AS canonical_url
FROM documents""",
)
def q_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (dedup-key normalization): mixed-case
    scheme/host, default port, tracking params and fragment are all
    normalized away. The oracle recomputes the EXPECTED canonical form
    independently from the components — not by mirroring the regex
    chain — so it checks the semantics, not the implementation."""
    messy = F.concat(
        F.lit("HTTPS://SRC"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".Example.COM:443/doc/"),
        F.col("doc_id"),
        F.lit("?utm_source=x&id="),
        F.col("doc_id"),
        F.lit("&utm_campaign=y#frag"),
    )
    return T(spark, sf_dir, "documents").select(
        "doc_id", ts.canonicalize_url(messy).alias("canonical_url")
    )


@_q(
    "host_page_stats",
    """
WITH u AS (
  SELECT 'src' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS host,
    n_chars, doc_id
  FROM documents
)
SELECT host, count(*) AS n_pages, CAST(sum(n_chars) AS BIGINT) AS total_chars,
  min(doc_id) AS first_doc
FROM u GROUP BY host""",
)
def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host rollup through the salted two-phase aggregation
    (operators/skew.py) — identical results to a naive groupBy, but the
    reduce-side hot key is split N_SALTS (16) ways."""
    from finetoo_sp_spark.operators.skew import salted_agg

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    per_page = pages.select(
        F.regexp_extract("url", r"https?://([^/]+)", 1).alias("host"),
        F.col("doc_id"),
    ).join(
        T(spark, sf_dir, "documents").select("doc_id", "n_chars"), "doc_id"
    )
    return salted_agg(
        per_page,
        "host",
        {
            "n_pages": (F.count(F.lit(1)), "sum"),
            "total_chars": (F.sum("n_chars"), "sum"),
            "first_doc": (F.min("doc_id"), "min"),
        },
        salt_on="doc_id",
    )


@_q(
    "url_analytics",
    """
WITH u AS (
  SELECT doc_id,
    'https://' || source || '.example.com/doc/' || doc_id AS url
  FROM documents
)
SELECT doc_id,
  regexp_extract(url, 'https?://([^/]+)', 1) AS host,
  regexp_extract(url, '\\.([a-z]+)(/|$)', 1) AS tld,
  CAST(length(regexp_replace(regexp_replace(url, 'https?://[^/]+', ''), '[^/]', '', 'g')) AS INTEGER) AS path_depth,
  url LIKE 'https://%' AS is_https
FROM u""",
)
def q_url_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition as pure column regexps (host / tld / path depth /
    scheme) — the per-URL feature set for domain-level corpus policies."""
    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    path = F.regexp_replace("url", r"https?://[^/]+", "")
    return pages.select(
        "doc_id",
        F.regexp_extract("url", r"https?://([^/]+)", 1).alias("host"),
        F.regexp_extract("url", r"\.([a-z]+)(/|$)", 1).alias("tld"),
        F.length(F.regexp_replace(path, r"[^/]", "")).alias("path_depth"),
        F.col("url").startswith("https://").alias("is_https"),
    )


@_q(
    "host_cap_sources",
    """
SELECT doc_id, source FROM documents
QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 10""",
)
def q_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-domination domain cap (C4/RefinedWeb rule): at most 10 docs
    per source, deterministic priority = doc_id asc."""
    from finetoo_sp_spark.operators.packing import host_cap

    return host_cap(
        T(spark, sf_dir, "documents").select("doc_id", "source"),
        "source", "doc_id", max_per_host=10,
    )


@_q(
    "trustrank_scores",
    # seed hosts src0..src3 <=> doc_id % 20 < 4, the set the Spark query
    # selects by URL prefix
    _rank_oracle("SELECT url AS id FROM u WHERE doc_id % 20 < 4", "trust_fp"),
    audit=[
        ("seed membership folded in via broadcast join", r"BroadcastHashJoin"),
        ("per-iteration partial aggregation", r"HashAggregate"),
    ],
)
def q_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spam-demotion prior (Gyongyi et al., VLDB'04): 5 rounds of
    seed-biased fixed-point PageRank over the REAL extracted LINKS_TO
    graph, seeds = the src0..src3 hosts (by URL prefix; the oracle
    expresses the same set as doc_id % 20 < 4). Pages reachable only
    outside the trusted neighborhoods end with near-zero trust even
    when their raw PageRank is high — the (rank, trust) pair yields
    spam mass. Integer fixed point keeps every round exactly portable."""
    from finetoo_sp_spark.extraction.graph import build_web_graph
    from finetoo_sp_spark.operators.pagerank import pagerank_fixed_point

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    g = build_web_graph(pages)
    edges = g.edges.filter(F.col("edge_type") == "LINKS_TO")
    seeds = pages.where(
        F.regexp_extract("url", r"^https://src(\d+)\.", 1).cast("int") < 4
    ).select(F.col("url").alias("id"))
    return pagerank_fixed_point(edges, seeds).select(
        F.col("id").alias("url"), F.col("rank_fp").alias("trust_fp")
    )


@_q(
    "hits_scores",
    _hits_oracle(4),
    audit=[
        # The per-half-round sum aggregates sit BEFORE the localCheckpoint
        # lineage cut (same situation as pagerank_links), so only the final
        # score-assembly joins are visible in the returned plan.
        ("final score assembly is a hash equi-join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
    ],
)
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub/authority prior for corpus curation: 4 rounds of fixed-point
    HITS over the REAL extracted LINKS_TO graph (same edge set as
    pagerank_links). Integer fixed-point with L-infinity normalization
    (score 1.0 = 1e6, integer div, scalar max per half-round) keeps the
    whole power iteration order-independent and hence exactly
    reproducible by the unrolled SQL oracle; the hub side flags
    portal/navigation pages, the authority side is the quality prior."""
    from finetoo_sp_spark.extraction.graph import build_web_graph
    from finetoo_sp_spark.operators.hits import hits_fixed_point

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    g = build_web_graph(pages)
    edges = g.edges.filter(F.col("edge_type") == "LINKS_TO")
    return hits_fixed_point(edges).select(
        F.col("id").alias("url"), "hub_fp", "auth_fp"
    )


@_q(
    "redirect_resolve",
    """
WITH RECURSIVE u AS (
  SELECT doc_id AS i,
    'https://src' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
e AS (
  SELECT a.url AS src, b.url AS dst
  FROM u a JOIN u b ON b.i = CASE
      WHEN a.i % 100 = 98 THEN a.i + 1
      WHEN a.i % 100 = 99 THEN a.i - 1
      WHEN a.i % 3 = 0 AND a.i % 81 <> 0 AND a.i > 0 THEN a.i - 3
      ELSE NULL END
),
walk(src, cur, hops) AS (
  SELECT src, dst, 1 FROM e
  UNION ALL
  SELECT w.src, e.dst, w.hops + 1
  FROM walk w JOIN e ON e.src = w.cur WHERE w.hops < 40
),
last AS (SELECT src, max(hops) AS mh FROM walk GROUP BY src),
fin AS (
  SELECT w.src, w.cur, w.hops
  FROM walk w JOIN last l ON l.src = w.src AND l.mh = w.hops
)
SELECT src AS url,
  CASE WHEN hops >= 40 THEN NULL ELSE cur END AS final_url,
  CAST(CASE WHEN hops >= 40 THEN NULL ELSE hops END AS BIGINT) AS hops,
  hops >= 40 AS is_loop
FROM fin""",
    audit=[
        # Pointer jumping: the final plan is post-checkpoint (lineage cut
        # per round), so only the loop-flag join is visible here.
        ("loop-flag membership is a hash equi-join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
    ],
)
def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution by pointer jumping (operators/
    redirects.py): chains up to 27 hops (multiples of 3 between
    multiples of 81), 2-cycles every hundred ids (98<->99), and chains
    that FEED INTO a cycle all resolve in 6 self-join rounds —
    O(log chain), not O(chain). Exact hop counts; cyclic sources flag
    is_loop with NULL final. The oracle walks the same edge rule with
    a hop-capped recursive CTE (the cap only classifies loops — every
    acyclic chain terminates well under it)."""
    from finetoo_sp_spark.operators.redirects import resolve_redirects

    docs = T(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    tgt = (
        F.when(i % 100 == 98, i + 1)
        .when(i % 100 == 99, i - 1)
        .when((i % 3 == 0) & (i % 81 != 0) & (i > 0), i - 3)
    )

    def _url(col):
        return F.concat(
            F.lit("https://src"),
            (col % 20).cast("string"),
            F.lit(".example.com/doc/"),
            col.cast("string"),
        )

    a = docs.select(_url(i).alias("src"), tgt.alias("tgt")).where(
        F.col("tgt").isNotNull()
    )
    b = docs.select(i.alias("tid"), _url(i).alias("dst"))
    edges = a.join(b, a.tgt == b.tid).select("src", "dst")
    return resolve_redirects(edges)


def _lpa_oracle(rounds: int) -> str:
    """Unrolled synchronous label-propagation twin over the docpages
    parent-link edge rule (symmetrized, self-loops dropped). Each round
    is one join + a (node, label) count with the arg-max taken by
    row_number ordered (cnt DESC, label ASC) — exactly the
    min(struct(-cnt, label)) rule the Spark operator applies, so every
    round is value-portable with no float anywhere. CTEs are
    MATERIALIZED: each round references the previous one once but the
    optimizer would otherwise inline the whole chain into 2^rounds edge
    scans."""
    ctes = [
        """de AS (
  SELECT DISTINCT s.url AS src, t.url AS dst
  FROM u s JOIN u t
    ON t.doc_id IN (CAST(floor(s.doc_id / 2) AS BIGINT), CAST(floor(s.doc_id / 3) AS BIGINT)))""",
        """e AS MATERIALIZED (
  SELECT src AS uu, dst AS v FROM de WHERE src <> dst
  UNION
  SELECT dst AS uu, src AS v FROM de WHERE src <> dst)""",
        "l0 AS MATERIALIZED (SELECT DISTINCT uu, uu AS lab FROM e)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""l{i} AS MATERIALIZED (
  SELECT uu, lab FROM (
    SELECT e.uu, p.lab,
      row_number() OVER (
        PARTITION BY e.uu ORDER BY count(*) DESC, p.lab ASC) AS rn
    FROM e JOIN l{i - 1} p ON p.uu = e.v
    GROUP BY e.uu, p.lab) WHERE rn = 1)"""
        )
    return f"""
WITH u AS (
  SELECT doc_id,
    'https://src' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
{",".join(ctes)}
SELECT uu AS url, lab AS community FROM l{rounds}"""


@_q(
    "community_labels",
    _lpa_oracle(4),
    audit=[
        # every round ends in a localCheckpoint lineage cut (same
        # situation as hits/pagerank), so the returned plan is the final
        # label scan; the per-round join+aggregate shape is pinned by
        # the operator's code and the value oracle
        ("final labels come off the checkpointed round", r"ExistingRDD"),
    ],
)
def q_community_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection for link-farm/neighborhood curation: 4
    synchronous label-propagation rounds (Raghavan 2007, deterministic
    majority-vote variant with a smallest-label tie-break) over the
    REAL extracted LINKS_TO graph, symmetrized. The Spark side's
    per-round plan is one equi-join + a two-level partial aggregate
    (min over struct(-cnt, label) — no window); the oracle unrolls the
    identical rounds as chained CTEs, so any slip in symmetrization,
    vote counting or tie-breaking shifts labels and breaks the hash."""
    from finetoo_sp_spark.extraction.graph import build_web_graph
    from finetoo_sp_spark.operators.communities import label_propagation

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    g = build_web_graph(pages)
    edges = g.edges.filter(F.col("edge_type") == "LINKS_TO")
    return label_propagation(edges).select(
        F.col("id").alias("url"), "community"
    )
