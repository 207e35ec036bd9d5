"""Domain-blocklist gate with registrable-suffix matching.

Crawl-policy extension (no reference analogue): curation pipelines drop
URLs whose host falls under a blocked domain (UT1/adult/malware lists,
opt-out registries) — where "under" means suffix-at-a-label-boundary:
``ads.x.spam.example`` is blocked by ``spam.example`` but
``notspam.example`` is not. Regex-per-rule is the naive shape; this
gate instead explodes each host into its dot-suffixes (bounded by the
label count, ~4-6 for real hosts) and equi-joins the broadcast
blocklist — the corpus side stays a map-side hash probe regardless of
blocklist size, and the only shuffle is the per-URL partial-aggregating
collapse of multi-rule matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def blocklist_gate(pages: DataFrame, blocklist: DataFrame) -> DataFrame:
    """(id, host, blocked, matched_domain) per (doc_id, host) input row.

    ``blocklist``: one column ``domain`` of blocked registrable domains
    (dimension-sized; broadcast). ``matched_domain`` is the most
    specific (longest) matching rule, '' when not blocked.
    """
    staged = pages.select(
        F.col("doc_id").alias("id"),
        "host",
        F.split(F.col("host"), r"\.").alias("_parts"),
    )
    sufs = staged.select(
        "id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(_parts)),"
                " i -> array_join(slice(_parts, i, size(_parts) - i + 1), '.'))"
            )
        ).alias("domain"),
    )
    hits = (
        sufs.join(F.broadcast(blocklist.select("domain")), "domain")
        .groupBy("id")
        .agg(
            F.max(
                F.struct(F.length("domain").alias("l"), F.col("domain").alias("d"))
            ).alias("_best")
        )
        .select("id", F.col("_best.d").alias("matched_domain"))
    )
    return (
        staged.select("id", "host")
        .join(hits, "id", "left")
        .select(
            "id",
            "host",
            F.col("matched_domain").isNotNull().alias("blocked"),
            F.coalesce("matched_domain", F.lit("")).alias("matched_domain"),
        )
    )
