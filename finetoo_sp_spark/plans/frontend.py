"""Deterministic NL-front-end scaffolding: prompt builder + response assembly.

Reference surface: query_service.cc:18-101 ``BuildPrompt`` — serializes
the schema's node/edge types with per-property capability flags plus the
operator templates into the planner prompt — and :208-268
``ProcessQuery`` — parse the returned plan, execute it, format the
result, record timing.

The LLM call itself (vertex_ai_client.cc popen'd curl) is OUT of the v0
engine (SURVEY §3 EP3): plans arrive as deterministic JSON strings. This
module keeps the deterministic 90%:

- ``build_prompt(schema)`` is a pure function of the schema registry —
  the exact text an LLM planner would receive, byte-stable, so adding a
  node type or flag changes the prompt in a tested way;
- ``process_plan`` assembles the reference's QueryResponse shape
  (plan + per-op provenance steps + answer text + elapsed time) around
  the fused plan interpreter.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from finetoo_sp_spark.operators.primitives import PropertyGraphFrames
from finetoo_sp_spark.plans.interpreter import execute_plan, parse_plan_json
from finetoo_sp_spark.schema.registry import Schema

_FLAG_NAMES = ("unique", "indexed", "comparable", "aggregable")

# The operator templates shown to the planner (reference: the three op
# examples embedded in BuildPrompt, query_service.cc:60-95).
OP_TEMPLATES = [
    {
        "type": "FILTER",
        "target_type": "<node type>",
        "property": "<indexed property>",
        "predicate": "EQUALS|NOT_EQUALS|GT|LT|GE|LE|CONTAINS|STARTS_WITH|ENDS_WITH|REGEX",
        "value": "<literal>",
    },
    {
        "type": "TRAVERSE",
        "edge_type": "<edge type>",
        "max_depth": 1,
    },
    {
        "type": "AGGREGATE",
        "target_type": "<node type>",
        "aggregation": "COUNT|SUM|AVG|MIN|MAX|STDDEV",
        "property": "<aggregable property>",
        "group_by": "<optional property>",
    },
]


def _flags(pm) -> str:
    on = [f for f in _FLAG_NAMES if getattr(pm, f)]
    return f" [{', '.join(on)}]" if on else ""


def build_prompt(schema: Schema) -> str:
    """Serialize the schema into the operator-plan prompt.

    Mirrors BuildPrompt's structure (query_service.cc:18-101): node types
    with typed, capability-flagged properties; traversable edge types
    with endpoints; the op templates; and the strict output-format
    instruction (JSON only, optionally fenced — the parser strips
    fences, interpreter.parse_plan_json). Deterministic: sorted types
    and declaration-ordered properties.
    """
    lines = [
        "You translate user questions into operation plans over a property graph.",
        f"Schema: {schema.name}",
        "",
        "Node types and properties (flags license operations:",
        "unique->MATCH, indexed->FILTER/GROUP_BY, comparable->COMPARE,",
        "aggregable->AGGREGATE):",
    ]
    for tname in sorted(schema.node_types):
        nt = schema.node_types[tname]
        lines.append(f"- {tname}:")
        for pm in nt.properties.values():
            lines.append(f"    {pm.name} ({pm.dtype}){_flags(pm)}")
    lines += ["", "Edge types (TRAVERSE/JOIN):"]
    for ename in sorted(schema.edge_types):
        et = schema.edge_types[ename]
        lines.append(f"- {ename}: {et.source_type} -> {et.target_type}")
    lines += [
        "",
        "Respond with ONLY a JSON object of the form",
        '{"operations": [<operation>, ...]} using these templates:',
    ]
    import json

    for t in OP_TEMPLATES:
        lines.append(json.dumps(t))
    lines += [
        "",
        "Operations run in sequence; each receives the previous result.",
        "Use only properties whose flags license the operation.",
    ]
    return "\n".join(lines)


@dataclass
class QueryResponse:
    """The reference's response assembly (query_service.cc:244-268 +
    proto/operations.proto:70-87 OperationResult): executed plan,
    result frame, per-op provenance, a short printable answer, timing."""

    plan: list[dict]
    df: DataFrame
    steps: list[str] = field(default_factory=list)
    answer: str = ""
    elapsed_ms: float = 0.0


def process_plan(g: PropertyGraphFrames, plan: str | list[dict]) -> QueryResponse:
    """Execute a plan (JSON string, possibly markdown-fenced, or a parsed
    op list) and assemble the QueryResponse. The answer renders only 10
    rows (plus one to detect more) on the driver (take(), never
    collect()); the lazy frame rides along for corpus-scale use.
    """
    ops = parse_plan_json(plan) if isinstance(plan, str) else plan
    t0 = time.time()
    result = execute_plan(g, ops)
    rows = result.df.take(11)  # the first 10 rows, plus one to detect more
    shown = rows[:10]
    cols = result.df.columns
    body = "\n".join(" | ".join(str(r[c]) for c in cols) for r in shown)
    suffix = "\n..." if len(rows) > 10 else ""
    answer = " | ".join(cols) + "\n" + body + suffix
    elapsed_ms = (time.time() - t0) * 1000.0
    return QueryResponse(
        plan=ops, df=result.df, steps=result.steps, answer=answer, elapsed_ms=elapsed_ms
    )
