"""CLI entry points mirroring the reference's tools/ binaries.

Reference surface -> subcommand:
- ``parse_dxf <file>``  (tools/parse_dxf.cc: parse + entity-type
  histogram + samples)                  -> ``report <pages_parquet>``
- ``generate_full_bom <dir>`` (tools/generate_full_bom.cc: corpus ->
  graph -> BOM + dimensions -> JSON/CSV) -> ``graph <pages> <out_dir>``
- QueryService::ProcessQuery (NL -> plan -> result; LLM step replaced by
  an explicit plan JSON file)            -> ``query <pages> <plan.json>``
- the extraction job itself              -> ``extract <pages> <out_dir>``

Run under spark-submit or plain python:
    python tools/finetoo_cli.py report /root/testdata/sf0.001  # docpages demo
    python tools/finetoo_cli.py extract <pages.parquet> /tmp/out
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, ".")


def _load_pages(spark, path: str):
    """Accept either a pages parquet dir or a driver sf dir (documents
    get wrapped via the deterministic docpages template)."""
    import os

    from finetoo_sp_spark.extraction.docpages import documents_to_pages

    if os.path.exists(os.path.join(path, "documents.parquet")):
        return documents_to_pages(spark.read.parquet(os.path.join(path, "documents.parquet")))
    return spark.read.parquet(path)


def cmd_report(spark, args: list[str]) -> None:
    """EP1: parse + block-type histogram + samples."""
    from pyspark.sql import functions as F

    from finetoo_sp_spark.extraction.graph import extract_blocks

    pages = _load_pages(spark, args[0])
    blocks = extract_blocks(pages).cache()
    n_pages = pages.count()
    n_blocks = blocks.count()
    print(f"pages: {n_pages}   blocks: {n_blocks}")
    print("\nblock-type histogram (reference: entity-type histogram):")
    for r in blocks.groupBy("tag").count().orderBy(F.desc("count")).collect():
        print(f"  {r['tag'] or '<none>':12s} {r['count']}")
    print("\nfirst 5 content blocks:")
    for r in blocks.filter("is_content").orderBy("url", "block_id").limit(5).collect():
        print(f"  {r['url']}#b{r['block_id']}: {r['text'][:70]}")
    blocks.unpersist()


def cmd_graph(spark, args: list[str]) -> None:
    """EP2: corpus -> property graph -> divergence + link-BOM -> JSON/CSV."""
    from finetoo_sp_spark.extraction.graph import build_web_graph
    from finetoo_sp_spark.operators.divergence import (
        bom_report,
        bom_totals,
        divergence_report,
        divergence_totals,
    )
    from finetoo_sp_spark.operators.sinks import write_csv, write_json

    pages, out = _load_pages(spark, args[0]), args[1]
    g = build_web_graph(pages)
    print("graph stats:")
    for r in g.stats().collect():
        print(f"  {r['kind']:10s} {r['entity']:5s} {r['n']}")
    rep = divergence_report(g.nodes["block"], "tag", "url", "content_hash")
    tot = divergence_totals(rep).collect()[0]
    print(f"divergence: {tot['divergent']}/{tot['total_names']} block tags divergent")
    bom = bom_report(g)
    write_json(rep.drop("versions"), f"{out}/divergence_json")
    write_csv(bom, f"{out}/bom_csv")
    print(f"BOM totals: {bom_totals(bom).collect()[0].asDict()}")
    print(f"exports under {out}/")


def cmd_query(spark, args: list[str]) -> None:
    """EP3 minus the LLM: plan JSON -> QueryResponse (plan, steps,
    answer, timing — reference: query_service.cc:208-268 ProcessQuery)."""
    from finetoo_sp_spark.extraction.graph import build_web_graph
    from finetoo_sp_spark.plans.frontend import process_plan

    pages = _load_pages(spark, args[0])
    plan = open(args[1]).read()
    resp = process_plan(build_web_graph(pages), plan)
    print("steps:", " -> ".join(resp.steps))
    print(f"elapsed_ms: {resp.elapsed_ms:.1f}")
    print(resp.answer)


def cmd_prompt(spark, args: list[str]) -> None:
    """EP3's BuildPrompt surface (reference: query_service.cc:18-101):
    the deterministic planner prompt for the web-graph schema."""
    from finetoo_sp_spark.plans.frontend import build_prompt
    from finetoo_sp_spark.schema.registry import web_graph_schema

    print(build_prompt(web_graph_schema()))


def cmd_bom_text(spark, args: list[str]) -> None:
    """FormatBOM text table (reference: query_service.cc:181-206)."""
    from finetoo_sp_spark.extraction.graph import build_web_graph
    from finetoo_sp_spark.operators.divergence import bom_report
    from finetoo_sp_spark.operators.sinks import format_bom_lines

    pages = _load_pages(spark, args[0])
    bom = bom_report(build_web_graph(pages))
    lines = format_bom_lines(bom).orderBy("line_no").limit(30).collect()
    print("\n".join(r["line"] for r in lines))


def cmd_ask(spark, args: list[str]) -> None:
    """The full demo_llm_bom loop (tools/demo_llm_bom.cc /
    query_service.cc:208-268 ProcessQuery) with a pluggable planner:
    ``ask <pages> "<question>" <planner_response.txt>`` — the third arg
    is either the planner's canned reply file (possibly fenced JSON with
    prose, as a real LLM would return) or ``http(s)://...`` — an
    HttpPlannerClient endpoint (token from $FINETOO_PLANNER_TOKEN);
    nothing else in the loop changes."""
    import os

    from finetoo_sp_spark.extraction.graph import build_web_graph
    from finetoo_sp_spark.plans.client import HttpPlannerClient, StaticPlanner, answer_query
    from finetoo_sp_spark.schema.registry import web_graph_schema

    pages, question = _load_pages(spark, args[0]), args[1]
    if args[2].startswith(("http://", "https://")):
        client = HttpPlannerClient(
            args[2], lambda: os.environ.get("FINETOO_PLANNER_TOKEN", "")
        )
    else:
        client = StaticPlanner(default=open(args[2]).read())
    resp = answer_query(build_web_graph(pages), web_graph_schema(), question, client)
    print("question:", question)
    print("steps:", " -> ".join(resp.steps))
    print(f"elapsed_ms: {resp.elapsed_ms:.1f}")
    print(resp.answer)


def cmd_extract(spark, args: list[str]) -> None:
    """The flagship job: resumable extraction with lineage manifests."""
    from finetoo_sp_spark.sources.lineage import run_resumable_extraction

    pages = _load_pages(spark, args[0])
    metrics = run_resumable_extraction(pages, args[1])
    print(json.dumps(metrics))


def cmd_extract_warc(spark, args: list[str]) -> None:
    """The Common-Crawl path end to end: ``extract-warc <warc_dir>
    <out_dir>`` — WARC archives -> pages -> resumable extraction with
    lineage manifests (mixed HTML/PDF routing included)."""
    from finetoo_sp_spark.extraction.pdf import extract_pages_any
    from finetoo_sp_spark.sources.lineage import run_resumable_extraction
    from finetoo_sp_spark.sources.warc import read_warc_pages

    pages = read_warc_pages(spark, args[0])
    metrics = run_resumable_extraction(pages, args[1], extractor=extract_pages_any)
    print(json.dumps(metrics))


def main() -> None:
    if len(sys.argv) < 2 or (sys.argv[1] != "prompt" and len(sys.argv) < 3):
        print(__doc__)
        raise SystemExit(2)
    from finetoo_sp_spark.session import get_spark

    spark = get_spark(app_name=f"finetoo_{sys.argv[1]}")
    spark.sparkContext.setLogLevel("ERROR")
    {
        "report": cmd_report,
        "graph": cmd_graph,
        "query": cmd_query,
        "ask": cmd_ask,
        "prompt": cmd_prompt,
        "bom-text": cmd_bom_text,
        "extract": cmd_extract,
        "extract-warc": cmd_extract_warc,
    }[sys.argv[1]](spark, sys.argv[2:])


if __name__ == "__main__":
    main()
