"""Loopback-HTTP provider tests: the real urllib client paths end-to-end.

The reference's test philosophy is "assert output, not RUNNING state, or you
miss silent failures" (testing/e2e/test_lab1.py:262-288 in /root/reference).
These tests stand up an in-process ``http.server`` speaking the
chat-completions, embeddings, and Bedrock invoke-model JSON shapes and drive
``providers.py``'s openai/azureopenai/bedrock clients — plus the agent
loop's real-model branch — through actual HTTP, including error handling
(non-200, timeout) and the request fan-out's contract (reply order, width,
cancel on failure, bounded retry).
"""

from __future__ import annotations

import json
import socket
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from quickstart_streaming_agents_spark import providers
from quickstart_streaming_agents_spark.providers import (
    bedrock_embedding,
    bedrock_textgen,
    openai_compatible_embedding,
    openai_compatible_textgen,
    resolve_provider,
)
from quickstart_streaming_agents_spark.registries import Connection, Model


class _StubHandler(BaseHTTPRequestHandler):
    """Routes: /chat/completions, /embeddings, /model/<id>/invoke (textgen
    via anthropic "messages" body, embedding via "inputText"), /agent
    (stateful: TOOL_CALL first, then a verdict), /error500, /slow, and
    /paced (chat-completions; see :meth:`_paced`)."""

    server_version = "StubLLM/1"

    def log_message(self, *a):  # keep pytest output clean
        pass

    def _reply(self, code: int, obj: dict, headers=()):
        data = json.dumps(obj).encode()
        self.send_response(code)
        for k, v in headers:
            self.send_header(k, v)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _paced(self, entry: dict):
        """The prompt is ``<tag>|<delay ms>[|<status>|<times>|<retry-after>]``.
        The first ``<times>`` requests carrying that prompt get ``<status>``
        (with a ``Retry-After`` header when one is given) at once; the rest
        get ``ECHO:<prompt>`` after the delay. ``entry["end"]`` is stamped
        before the reply is written, so it precedes any request the client
        sends after reading it."""
        prompt = entry["body"]["messages"][-1]["content"]
        tag, delay, status, times, after = (prompt.split("|") + ["", "", "", ""])[:5]
        seen = sum(1 for r in self.server.request_log
                   if r["path"] == "/paced"
                   and r["body"]["messages"][-1]["content"] == prompt)
        if status and seen <= int(times):
            entry["end"] = time.monotonic()
            return self._reply(int(status), {"error": {"message": f"{status} {tag}"}},
                               [("Retry-After", after)] if after else ())
        time.sleep(int(delay) / 1000)
        entry["end"] = time.monotonic()
        return self._reply(200, {"choices": [{"message": {"content": f"ECHO:{prompt}"}}]})

    def do_POST(self):  # noqa: N802 — http.server API
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        log = self.server.request_log
        entry = {"path": self.path, "headers": dict(self.headers), "body": body,
                 "start": time.monotonic()}
        log.append(entry)
        if self.path == "/paced":
            return self._paced(entry)
        if self.path == "/error500":
            return self._reply(500, {"error": {"message": "backend exploded"}})
        if self.path == "/slow":
            time.sleep(2.0)
            return self._reply(200, {"choices": [{"message": {"content": "late"}}]})
        if self.path == "/chat/completions":
            prompt = body["messages"][-1]["content"]
            return self._reply(
                200, {"choices": [{"message": {"content": f"ECHO:{prompt}"}}]}
            )
        if self.path == "/embeddings":
            texts = body["input"]
            return self._reply(
                200,
                {"data": [
                    {"index": i, "embedding": [float(len(t)), float(i)]}
                    for i, t in enumerate(texts)
                ]},
            )
        if self.path.startswith("/model/") and self.path.endswith("/invoke"):
            if "inputText" in body:  # Titan-embeddings shape
                return self._reply(
                    200, {"embedding": [float(len(body["inputText"])), 7.0]}
                )
            prompt = body["messages"][0]["content"][0]["text"]
            return self._reply(
                200,
                {"content": [
                    {"type": "text", "text": "BEDROCK:"},
                    {"type": "text", "text": prompt[:32]},
                ]},
            )
        if self.path == "/agent":
            prompt = body["messages"][-1]["content"]
            n = sum(1 for r in log if r["path"] == "/agent")
            if "TOOL_RESULT[http_get]" not in prompt and n == 1:
                step = "TOOL_CALL " + json.dumps(
                    {"tool": "http_get", "args": {"url": "https://example.com/x"}}
                )
            else:
                step = "**Verdict:** MATCH\nReasoning: stub agent done."
            return self._reply(200, {"choices": [{"message": {"content": step}}]})
        return self._reply(404, {"error": "no route"})


@pytest.fixture(scope="module")
def stub_server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _StubHandler)
    srv.request_log = []
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()


def _base(srv) -> str:
    return f"http://127.0.0.1:{srv.server_address[1]}"


def _model(srv, path, *, provider, task="text_generation", conn_type=None,
           params=(), api_key="sk-test-123"):
    conn = Connection(
        name="loop", type=conn_type or provider, endpoint=_base(srv) + path,
        credentials=(("api_key", api_key),),
    )
    return Model(name="m", provider=provider, task=task, params=tuple(params),
                 connection=conn)


def test_openai_textgen_roundtrip(stub_server):
    stub_server.request_log.clear()
    model = _model(stub_server, "/chat/completions", provider="openai",
                   params=[("max_tokens", "64"), ("model_name", "test-model")])
    out = openai_compatible_textgen(["hello world", "second"], model)
    assert out == ["ECHO:hello world", "ECHO:second"]
    reqs = stub_server.request_log
    assert len(reqs) == 2
    # bearer-token branch + params surfaced in the request body
    assert reqs[0]["headers"]["Authorization"] == "Bearer sk-test-123"
    assert reqs[0]["body"]["max_tokens"] == 64
    assert reqs[0]["body"]["model"] == "test-model"


def test_azureopenai_header_branch(stub_server):
    stub_server.request_log.clear()
    model = _model(stub_server, "/chat/completions", provider="azureopenai",
                   conn_type="azureopenai")
    out = resolve_provider(model)(["azure prompt"], model)
    assert out == ["ECHO:azure prompt"]
    hdrs = stub_server.request_log[0]["headers"]
    assert hdrs["Api-Key"] == "sk-test-123" or hdrs.get("api-key") == "sk-test-123"
    assert "Authorization" not in hdrs


def test_openai_embedding_roundtrip(stub_server):
    stub_server.request_log.clear()
    model = _model(stub_server, "/embeddings", provider="openai", task="embedding",
                   params=[("model_name", "embed-small")])
    out = openai_compatible_embedding(["abc", "defgh"], model)
    assert out == [[3.0, 0.0], [5.0, 1.0]]
    body = stub_server.request_log[0]["body"]
    assert body["input"] == ["abc", "defgh"]
    assert body["model"] == "embed-small"


def test_bedrock_textgen_invoke_shape(stub_server):
    stub_server.request_log.clear()
    model = _model(stub_server, "", provider="bedrock",
                   params=[("model_name", "test.claude-shape")])
    out = bedrock_textgen(["price check"], model)
    assert out == ["BEDROCK:price check"]
    req = stub_server.request_log[0]
    assert req["path"] == "/model/test.claude-shape/invoke"
    assert req["body"]["anthropic_version"] == "bedrock-2023-05-31"
    assert req["headers"]["Authorization"] == "Bearer sk-test-123"


def test_bedrock_embedding_invoke_shape(stub_server):
    stub_server.request_log.clear()
    model = _model(stub_server, "", provider="bedrock", task="embedding",
                   params=[("model_name", "test.titan-shape")], api_key="")
    out = bedrock_embedding(["four", "sixsix"], model)
    assert out == [[4.0, 7.0], [6.0, 7.0]]
    reqs = stub_server.request_log
    assert [r["body"]["inputText"] for r in reqs] == ["four", "sixsix"]
    assert "Authorization" not in reqs[0]["headers"]  # no api_key → no header


def test_non_200_raises_with_status_and_detail(stub_server):
    model = _model(stub_server, "/error500", provider="openai")
    with pytest.raises(RuntimeError, match="HTTP 500.*backend exploded"):
        openai_compatible_textgen(["boom"], model)


def test_timeout_propagates(stub_server):
    model = _model(stub_server, "/slow", provider="openai",
                   params=[("timeout", "0.3")])
    with pytest.raises(Exception) as exc_info:
        openai_compatible_textgen(["too slow"], model)
    assert "timed out" in str(exc_info.value).lower()


def test_missing_endpoint_fails_fast():
    model = Model(name="m", provider="openai", connection=None)
    with pytest.raises(RuntimeError, match="no connection/endpoint"):
        openai_compatible_textgen(["x"], model)


def test_agent_loop_real_model_branch(stub_server):
    """run_agent_once through the provider path: the stub emits a TOOL_CALL,
    the loop executes the tool and re-prompts with TOOL_RESULT, the stub then
    emits a verdict → SUCCESS."""
    from quickstart_streaming_agents_spark.functions.agents import run_agent_once
    from quickstart_streaming_agents_spark.registries import Agent, Tool

    stub_server.request_log.clear()
    model = _model(stub_server, "/agent", provider="openai")
    agent = Agent(
        name="pricer", model=model, prompt="You check prices.",
        tools=(Tool(name="web", allowed_tools=("http_get",)),),
        max_iterations=5,
    )
    status, response = run_agent_once(agent, "is this price competitive?")
    assert status == "SUCCESS"
    assert "**Verdict:** MATCH" in response
    agent_reqs = [r for r in stub_server.request_log if r["path"] == "/agent"]
    assert len(agent_reqs) == 2
    # second model call must carry the executed tool's result in-transcript
    assert "TOOL_RESULT[http_get]" in agent_reqs[1]["body"]["messages"][-1]["content"]


def test_ml_predict_through_http_provider(stub_server, spark):
    """End-to-end: Spark pandas-UDF workers call the loopback endpoint."""
    from quickstart_streaming_agents_spark.functions.ml import ml_predict

    model = _model(stub_server, "/chat/completions", provider="openai")
    df = spark.createDataFrame([("p1",), ("p2",), ("p3",)], "prompt string")
    rows = df.withColumn("response", ml_predict(model, "prompt")).collect()
    assert sorted(r["response"] for r in rows) == ["ECHO:p1", "ECHO:p2", "ECHO:p3"]


def test_agent_real_model_receives_tool_contract(stub_server):
    """A real model can only call tools if the transcript TELLS it the
    TOOL_CALL wire format and the whitelist — assert the instruction
    header and tool names reach the provider."""
    from quickstart_streaming_agents_spark.functions.agents import run_agent_once
    from quickstart_streaming_agents_spark.registries import Agent, Tool

    stub_server.request_log.clear()
    model = _model(stub_server, "/agent", provider="openai")
    agent = Agent(
        name="pricer", model=model, prompt="You check prices.",
        tools=(Tool(name="web", allowed_tools=("http_get",)),),
        max_iterations=5,
    )
    run_agent_once(agent, "check this")
    first = [r for r in stub_server.request_log if r["path"] == "/agent"][0]
    sent = first["body"]["messages"][-1]["content"]
    assert 'TOOL_CALL {"tool"' in sent
    assert "Available tools: http_get" in sent


# --- request fan-out: order, width, cancel on failure, bounded retry -------

def _paced(srv, prompts, **params):
    """Send ``prompts`` to /paced; return the replies and this call's log."""
    srv.request_log.clear()
    model = _model(srv, "/paced", provider="openai",
                   params=[(k, str(v)) for k, v in params.items()])
    out = openai_compatible_textgen(prompts, model)
    return out, list(srv.request_log)


def _peak_inflight(log) -> int:
    # an end is stamped before its reply, so at equal times it sorts first
    edges = sorted([(r["start"], 1) for r in log] + [(r["end"], -1) for r in log])
    depth = peak = 0
    for _, d in edges:
        depth += d
        peak = max(peak, depth)
    return peak


def test_replies_keep_input_order_when_answered_in_reverse(stub_server):
    prompts = [f"rev{i}|{ms}" for i, ms in enumerate((45, 30, 15, 0))]
    out, log = _paced(stub_server, prompts, max_concurrency=4)
    assert out == [f"ECHO:{p}" for p in prompts]
    by_prompt = {r["body"]["messages"][-1]["content"]: r["end"] for r in log}
    ends = [by_prompt[p] for p in prompts]
    assert ends == sorted(ends, reverse=True)  # the stub did answer last-first


# n stays within the stub's listen backlog of 5: more connects at once can
# overflow it, and a dropped connect is retried 1 s later, after the others
# have finished
@pytest.mark.parametrize("params,n,width", [({}, 4, 2), ({"max_concurrency": 1}, 4, 1),
                                            ({"max_concurrency": 8}, 4, 4)])
def test_peak_inflight_is_min_of_width_and_batch(stub_server, params, n, width):
    prompts = [f"w{width}-{i}|50" for i in range(n)]
    out, log = _paced(stub_server, prompts, **params)
    assert out == [f"ECHO:{p}" for p in prompts]
    assert len(log) == n
    assert _peak_inflight(log) == width
    if width == 1:
        assert [r["body"]["messages"][-1]["content"] for r in log] == prompts


def test_failure_cancels_the_bodies_still_queued(stub_server):
    k, n, width = 4, 12, 2  # the 4th request (1-based) gets a 500
    prompts = [f"f{i}|30" for i in range(n)]
    prompts[k - 1] = "bad|30|500|9"
    with pytest.raises(RuntimeError, match="HTTP 500.*500 bad"):
        _paced(stub_server, prompts)
    sent = [r["body"]["messages"][-1]["content"] for r in stub_server.request_log]
    assert sent.count("bad|30|500|9") == 1  # a 500 is not retried
    assert k <= len(sent) <= k + width


def test_429_is_retried_until_answered(stub_server):
    t0 = time.monotonic()
    out, log = _paced(stub_server, ["busy|0|429|2"])
    assert out == ["ECHO:busy|0|429|2"]
    assert len(log) == 3
    assert time.monotonic() - t0 >= 0.5  # waited 0.1 s, then 0.4 s


def test_retry_after_is_honoured_up_to_the_cap(stub_server):
    t0 = time.monotonic()
    out, log = _paced(stub_server, ["soon|0|503|2|0"])
    assert out == ["ECHO:soon|0|503|2|0"] and len(log) == 3
    assert time.monotonic() - t0 < 0.4  # Retry-After: 0 replaced both waits

    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="HTTP 429"):
        _paced(stub_server, ["never|0|429|99|30"])
    assert len(stub_server.request_log) == 3
    assert time.monotonic() - t0 < 2.0  # Retry-After: 30 waited 0.4 s each


def test_refused_connection_is_retried_then_raised():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    conn = Connection(name="gone", type="openai", endpoint=f"http://127.0.0.1:{port}/x")
    model = Model(name="m", provider="openai", connection=conn)
    t0 = time.monotonic()
    with pytest.raises(OSError) as exc_info:
        openai_compatible_textgen(["x"], model)
    assert isinstance(exc_info.value.reason, ConnectionRefusedError)
    assert 0.5 <= time.monotonic() - t0 < 2.0


def test_every_http_provider_sends_through_post_all(stub_server, monkeypatch):
    calls = []
    real = providers._post_all

    def spy(url, headers, bodies, model):
        calls.append((url.rsplit("/", 1)[-1], len(bodies)))
        return real(url, headers, bodies, model)

    monkeypatch.setattr(providers, "_post_all", spy)
    stub_server.request_log.clear()
    oa = _model(stub_server, "/chat/completions", provider="openai")
    assert openai_compatible_textgen(["a", "b", "c"], oa) == ["ECHO:a", "ECHO:b", "ECHO:c"]
    emb = _model(stub_server, "/embeddings", provider="openai", task="embedding",
                 params=[("max_inputs_per_request", "2")])
    assert openai_compatible_embedding(["a", "bb", "ccc", "dddd", "e"], emb) == [
        [1.0, 0.0], [2.0, 1.0], [3.0, 0.0], [4.0, 1.0], [1.0, 0.0]]
    br = _model(stub_server, "", provider="bedrock", params=[("model_name", "x")])
    assert bedrock_textgen(["p", "q"], br) == ["BEDROCK:p", "BEDROCK:q"]
    bre = _model(stub_server, "", provider="bedrock", task="embedding",
                 params=[("model_name", "y")])
    assert bedrock_embedding(["four", "sixsix"], bre) == [[4.0, 7.0], [6.0, 7.0]]
    assert calls == [("completions", 3), ("embeddings", 3), ("invoke", 2), ("invoke", 2)]
    chunks = [r["body"]["input"] for r in stub_server.request_log
              if r["path"] == "/embeddings"]
    assert sorted(chunks) == [["a", "bb"], ["ccc", "dddd"], ["e"]]


@pytest.mark.parametrize("bad", ["0", "-1", "2.5", "two", ""])
def test_ml_predict_rejects_a_bad_width_on_the_driver(bad):
    from quickstart_streaming_agents_spark.functions.ml import ml_predict

    model = Model(name="wide_model", provider="openai",
                  params=(("max_concurrency", bad),))
    with pytest.raises(ValueError, match="'wide_model'.*max_concurrency"):
        ml_predict(model, "prompt")
