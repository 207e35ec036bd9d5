"""HttpPlannerClient against an in-process http.server fake
(reference transport contract: vertex_ai_client.cc:21-80 — POST
generateContent body, Bearer token, candidates[0].content.parts[0].text)."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from finetoo_sp_spark.plans.client import HttpPlannerClient, answer_query
from finetoo_sp_spark.schema.registry import web_graph_schema

GOOD_PLAN = """Here is the plan:
```json
{"operations": [
  {"type": "FILTER", "target_type": "orders", "property": "o_orderpriority",
   "predicate": "EQUALS", "value": "1-URGENT"},
  {"type": "GROUP_BY", "target_type": "orders", "property": "o_orderstatus"}
]}
```"""


def _envelope(text: str) -> bytes:
    return json.dumps(
        {"candidates": [{"content": {"parts": [{"text": text}]}}]}
    ).encode()


class _FakePlanner(BaseHTTPRequestHandler):
    """Scripted responses: each element is ("ok", text) | ("status", code)
    | ("raw", bytes); the last element repeats. Records request bodies
    and auth headers for assertions."""

    script: list = [("ok", GOOD_PLAN)]
    seen: list = []

    def do_POST(self):  # noqa: N802 (http.server API)
        body = self.rfile.read(int(self.headers["Content-Length"]))
        type(self).seen.append(
            {"body": json.loads(body), "auth": self.headers.get("Authorization")}
        )
        step = self.script[min(len(self.seen) - 1, len(self.script) - 1)]
        if step[0] == "status":
            self.send_response(step[1])
            self.end_headers()
            self.wfile.write(b'{"error": {"code": %d}}' % step[1])
        elif step[0] == "raw":
            self.send_response(200)
            self.end_headers()
            self.wfile.write(step[1])
        else:
            self.send_response(200)
            self.end_headers()
            self.wfile.write(_envelope(step[1]))

    def log_message(self, *a):  # silence per-request stderr noise
        pass


@pytest.fixture()
def fake_server():
    srv = HTTPServer(("127.0.0.1", 0), _FakePlanner)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    _FakePlanner.script = [("ok", GOOD_PLAN)]
    _FakePlanner.seen = []
    yield f"http://127.0.0.1:{srv.server_port}/v1/models/fake:generateContent"
    srv.shutdown()
    srv.server_close()


def _client(endpoint, **kw):
    tokens = {"n": 0}

    def provider():
        tokens["n"] += 1
        return f"tok-{tokens['n']}\n"

    c = HttpPlannerClient(endpoint, provider, backoff_s=0.01, **kw)
    return c, tokens


def test_generate_request_shape_and_extraction(fake_server):
    c, tokens = _client(fake_server)
    out = c.generate("plan this")
    assert out == GOOD_PLAN
    req = _FakePlanner.seen[0]
    # generateContent body shape + Bearer header, token newline-stripped
    assert req["body"] == {"contents": [{"role": "user", "parts": [{"text": "plan this"}]}]}
    assert req["auth"] == "Bearer tok-1"
    # token cached across calls (reference caches after first fetch)
    c.generate("again")
    assert tokens["n"] == 1 and _FakePlanner.seen[1]["auth"] == "Bearer tok-1"


def test_nl_to_queryresponse_end_to_end(spark, fake_server):
    """The full loop over real transport: NL question -> HTTP POST ->
    fenced-JSON plan -> fence strip/parse -> fused Spark execution ->
    QueryResponse (same assertions as the StaticPlanner e2e test)."""
    from finetoo_sp_spark.contract import tpch_graph

    g = tpch_graph(spark, "/root/testdata/sf0.001")
    c, _ = _client(fake_server)
    resp = answer_query(g, web_graph_schema(), "count urgent orders by status", c)
    assert resp.steps == ["FILTER(orders)", "GROUP_BY(orders)"]
    header, *rows = resp.answer.splitlines()
    assert header == "o_orderstatus | count_nodes"
    assert rows and resp.elapsed_ms > 0


def test_plan_retry_feeds_error_back_over_http(spark, fake_server):
    """First response is unparseable plan text -> answer_query re-asks
    with the parse error appended; the fake's second reply is valid."""
    from finetoo_sp_spark.contract import tpch_graph

    _FakePlanner.script = [("ok", "not a plan {"), ("ok", GOOD_PLAN)]
    g = tpch_graph(spark, "/root/testdata/sf0.001")
    c, _ = _client(fake_server)
    resp = answer_query(g, web_graph_schema(), "count urgent orders by status", c)
    assert resp.steps == ["FILTER(orders)", "GROUP_BY(orders)"]
    assert len(_FakePlanner.seen) == 2
    second_prompt = _FakePlanner.seen[1]["body"]["contents"][0]["parts"][0]["text"]
    assert "Failed to parse operation plan" in second_prompt
    assert "not a plan {" in second_prompt  # raw reply attached, reference-style


def test_transport_retries_5xx_then_succeeds(fake_server):
    _FakePlanner.script = [("status", 503), ("ok", GOOD_PLAN)]
    c, _ = _client(fake_server)
    assert c.generate("q") == GOOD_PLAN
    assert len(_FakePlanner.seen) == 2


def test_4xx_and_bad_envelope_raise(fake_server):
    _FakePlanner.script = [("status", 403)]
    c, _ = _client(fake_server)
    with pytest.raises(RuntimeError, match="HTTP 403"):
        c.generate("q")
    _FakePlanner.script = [("raw", b'{"no_candidates": true}')]
    c2, _ = _client(fake_server)
    with pytest.raises(RuntimeError, match="Unexpected planner response"):
        c2.generate("q")
    _FakePlanner.script = [("raw", b"<html>gateway</html>")]
    c3, _ = _client(fake_server)
    with pytest.raises(RuntimeError, match="non-JSON envelope"):
        c3.generate("q")


def test_unreachable_endpoint_raises_after_retries():
    c, _ = _client("http://127.0.0.1:1/nope", max_http_retries=1)
    with pytest.raises(RuntimeError, match="unreachable"):
        c.generate("q")
