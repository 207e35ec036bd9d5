"""NL-front-end scaffolding: prompt content + QueryResponse assembly
(reference: query_service.cc:18-101 BuildPrompt, :208-268 ProcessQuery)."""

from __future__ import annotations

import json

from finetoo_sp_spark.plans.frontend import build_prompt, process_plan
from finetoo_sp_spark.schema.registry import web_graph_schema


def test_prompt_contains_schema_surface():
    p = build_prompt(web_graph_schema())
    # node types, properties, capability flags
    assert "- page:" in p and "- block:" in p
    assert "url (string) [unique, indexed]" in p
    assert "n_words (int64) [indexed, comparable, aggregable]" in p
    # edges with endpoints
    assert "- CONTAINS: page -> block" in p
    assert "- LINKS_TO: page -> page" in p
    # op templates as valid JSON lines + format instruction
    assert '{"operations":' in p
    tmpl_lines = [ln for ln in p.splitlines() if ln.startswith('{"type"')]
    assert len(tmpl_lines) == 3
    for ln in tmpl_lines:
        json.loads(ln)


def test_prompt_deterministic():
    assert build_prompt(web_graph_schema()) == build_prompt(web_graph_schema())


def test_process_plan_assembles_response(spark):
    from finetoo_sp_spark.contract import tpch_graph

    g = tpch_graph(spark, "/root/testdata/sf0.001")
    raw = """```json
{"operations": [
  {"type": "FILTER", "target_type": "orders", "property": "o_orderpriority",
   "predicate": "EQUALS", "value": "1-URGENT"},
  {"type": "GROUP_BY", "target_type": "orders", "property": "o_orderstatus"}
]}
```"""
    resp = process_plan(g, raw)
    assert resp.steps == ["FILTER(orders)", "GROUP_BY(orders)"]
    assert resp.plan[0]["type"] == "FILTER"
    assert resp.elapsed_ms > 0
    # answer header carries the result columns; at least one data row
    header, *rows = resp.answer.splitlines()
    assert header == "o_orderstatus | count_nodes"
    assert rows


def test_answer_query_end_to_end_with_fake_client(spark):
    """The full NL loop through the pluggable client seam: question ->
    StaticPlanner (prose + fenced JSON, like a real LLM reply) -> fence
    strip -> plan -> fused execution -> QueryResponse with timing."""
    from finetoo_sp_spark.contract import tpch_graph
    from finetoo_sp_spark.plans.client import StaticPlanner, answer_query

    g = tpch_graph(spark, "/root/testdata/sf0.001")
    fake = StaticPlanner(
        responses={
            "urgent orders": (
                "Here is the plan you asked for:\n```json\n"
                '{"operations": [\n'
                '  {"type": "FILTER", "target_type": "orders",\n'
                '   "property": "o_orderpriority", "predicate": "EQUALS",\n'
                '   "value": "1-URGENT"},\n'
                '  {"type": "GROUP_BY", "target_type": "orders",\n'
                '   "property": "o_orderstatus"}\n'
                "]}\n```\nLet me know if you need changes."
            )
        }
    )
    resp = answer_query(g, web_graph_schema(), "count urgent orders by status", fake)
    assert resp.steps == ["FILTER(orders)", "GROUP_BY(orders)"]
    assert resp.elapsed_ms > 0
    assert resp.answer.splitlines()[0] == "o_orderstatus | count_nodes"
    # the prompt the client saw carries the schema AND the question
    assert "Question: count urgent orders by status" in fake.calls[0]
    assert "Node types and properties" in fake.calls[0]


def test_answer_query_retries_with_error_feedback(spark):
    """A malformed first reply triggers one re-ask whose prompt carries
    the reference's error-message shape; the corrected second reply
    succeeds (ParseOperationPlan error surface, query_service.cc:172-175)."""
    from finetoo_sp_spark.contract import tpch_graph
    from finetoo_sp_spark.plans.client import answer_query

    g = tpch_graph(spark, "/root/testdata/sf0.001")

    class FlakyPlanner:
        def __init__(self):
            self.calls = []

        def generate(self, prompt: str) -> str:
            self.calls.append(prompt)
            if len(self.calls) == 1:
                return "Sure! The plan is: {operations: [not json"
            return (
                '{"operations": [{"type": "AGGREGATE", "target_type": "orders",'
                ' "aggregation": "COUNT"}]}'
            )

    flaky = FlakyPlanner()
    resp = answer_query(g, web_graph_schema(), "how many orders", flaky)
    assert len(flaky.calls) == 2
    assert "Failed to parse operation plan:" in flaky.calls[1]
    assert resp.steps == ["AGGREGATE(orders)"]

    # retries exhausted -> ValueError with the reference's message shape
    class AlwaysBad:
        def generate(self, prompt: str) -> str:
            return "no json here"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="Failed to parse operation plan"):
        answer_query(g, web_graph_schema(), "q", AlwaysBad())


def test_strip_fences_matches_reference_find_semantics():
    from finetoo_sp_spark.plans.interpreter import strip_fences

    assert strip_fences('```json\n{"a": 1}\n```') == '{"a": 1}'
    assert strip_fences('prose before ```json\n{"a": 1}\n``` prose after') == '{"a": 1}'
    assert strip_fences('```\n{"a": 1}\n```') == '{"a": 1}'
    assert strip_fences('{"a": 1}') == '{"a": 1}'
