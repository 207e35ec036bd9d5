"""Pluggable NL-planner client: the seam that closes the reference's
NL -> plan -> execute -> response loop without baking in any one LLM.

Reference surface: query_service.cc:208-268 ``ProcessQuery`` (build
prompt -> client call -> ParseOperationPlan -> execute ops -> assemble
QueryResponse with timing) and src/cloud/vertex_ai_client.h:24-43
(``GenerateContent(prompt) -> string`` — the entire client contract is
one prompt-in/text-out method). This module keeps exactly that
contract as a Protocol so any backend (an HTTP LLM API, a local model,
a deterministic fake in tests) plugs in; the engine itself stays fully
deterministic and offline-testable (SURVEY §3 EP3 keeps the live LLM
out of v0 — the fake client in tests/test_frontend.py drives the loop
end-to-end).

Parse failures retry with error feedback: the reference surfaces the
parse error text with the raw response attached
(query_service.cc:172-175 "Failed to parse operation plan: ...
LLM Response: ..."); here that same message is appended to the re-ask
prompt so a capable planner can self-correct, bounded by ``retries``.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from typing import Callable, Protocol, runtime_checkable

from finetoo_sp_spark.operators.primitives import PropertyGraphFrames
from finetoo_sp_spark.plans.frontend import QueryResponse, build_prompt, process_plan
from finetoo_sp_spark.plans.interpreter import parse_plan_json
from finetoo_sp_spark.schema.registry import Schema


@runtime_checkable
class PlannerClient(Protocol):
    """prompt in, raw planner text out (possibly markdown-fenced JSON) —
    the vertex_ai_client.h GenerateContent contract."""

    def generate(self, prompt: str) -> str: ...


class StaticPlanner:
    """Deterministic offline client: returns canned responses keyed by a
    substring of the prompt's question line, falling back to a default.
    The test/CI backend — also a template for wrapping a real API client
    (implement ``generate`` with the HTTP call; nothing else changes)."""

    def __init__(self, responses: dict[str, str] | None = None, default: str = ""):
        self.responses = responses or {}
        self.default = default
        self.calls: list[str] = []  # prompts seen, for test inspection

    def generate(self, prompt: str) -> str:
        self.calls.append(prompt)
        for needle, resp in self.responses.items():
            if needle in prompt:
                return resp
        return self.default


class HttpPlannerClient:
    """Concrete HTTP PlannerClient over urllib (stdlib-only).

    Mirrors the reference's client behavior (vertex_ai_client.cc:21-80:
    ``generateContent``-shaped POST body, Bearer token, response text at
    ``candidates[0].content.parts[0].text``, token cached after first
    fetch) minus its popen-curl transport — the endpoint URL and the
    token provider are injected, so tests run it against an in-process
    ``http.server`` fake and a production caller points it at a real
    model endpoint with a real credential helper. Transient transport
    failures (HTTP 5xx / connection errors) retry up to
    ``max_http_retries`` with a short deterministic backoff; 4xx and
    malformed response envelopes raise immediately.
    """

    def __init__(
        self,
        endpoint: str,
        token_provider: Callable[[], str],
        timeout_s: float = 30.0,
        max_http_retries: int = 2,
        backoff_s: float = 0.2,
    ):
        self.endpoint = endpoint
        self._token_provider = token_provider
        self.timeout_s = timeout_s
        self.max_http_retries = max_http_retries
        self.backoff_s = backoff_s
        self._cached_token: str | None = None  # reference caches after first fetch

    def _token(self) -> str:
        if self._cached_token is None:
            tok = self._token_provider().strip()
            if not tok:
                raise PermissionError("No access token from token provider")
            self._cached_token = tok
        return self._cached_token

    def generate(self, prompt: str) -> str:
        body = json.dumps(
            {"contents": [{"role": "user", "parts": [{"text": prompt}]}]}
        ).encode("utf-8")
        req = urllib.request.Request(
            self.endpoint,
            data=body,
            method="POST",
            headers={
                "Authorization": f"Bearer {self._token()}",
                "Content-Type": "application/json",
            },
        )
        last_exc: Exception | None = None
        for attempt in range(self.max_http_retries + 1):
            try:
                with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                    payload = resp.read().decode("utf-8")
                break
            except urllib.error.HTTPError as e:
                if e.code < 500:  # client error: retrying won't help
                    raise RuntimeError(
                        f"Planner HTTP {e.code}: {e.read().decode('utf-8', 'replace')}"
                    ) from e
                last_exc = e
            except urllib.error.URLError as e:
                last_exc = e
            if attempt < self.max_http_retries:
                time.sleep(self.backoff_s * (attempt + 1))
        else:
            raise RuntimeError(f"Planner endpoint unreachable: {last_exc}") from last_exc
        try:
            doc = json.loads(payload)
        except json.JSONDecodeError as e:
            raise RuntimeError(f"Planner returned non-JSON envelope: {payload[:200]}") from e
        # reference extraction path: candidates[0].content.parts[0].text
        try:
            candidates = doc["candidates"]
            text = candidates[0]["content"]["parts"][0]["text"]
            if isinstance(text, str):
                return text
        except (KeyError, IndexError, TypeError):
            pass
        if isinstance(doc, dict) and "error" in doc:
            raise RuntimeError(f"Planner API error: {doc['error']}")
        raise RuntimeError(f"Unexpected planner response shape: {payload[:200]}")


def answer_query(
    g: PropertyGraphFrames,
    schema: Schema,
    question: str,
    client: PlannerClient,
) -> QueryResponse:
    """The full ProcessQuery loop: schema prompt + question -> client ->
    fence-strip/parse (retrying once with error feedback) -> fused plan
    execution -> QueryResponse with timing.

    Raises ValueError with the reference's error-message shape when the
    planner never produces a parseable plan.
    """
    prompt = build_prompt(schema) + f"\n\nQuestion: {question}"
    last_err = ""
    for _attempt in range(2):
        raw = client.generate(prompt)
        try:
            ops = parse_plan_json(raw)
        except (ValueError, KeyError, json.JSONDecodeError) as e:
            last_err = f"Failed to parse operation plan: {e}\nLLM Response: {raw}"
            prompt = prompt + "\n\n" + last_err + "\nRespond with ONLY valid JSON."
            continue
        return process_plan(g, ops)
    raise ValueError(last_err)
