"""provider_http: a closed loop, one client, of ``ml_predict`` actions over
a seed-selected set of ``documents`` prompts, answered by an in-process
HTTP stub with a fixed service time.

Both openai-compatible providers are on the path: textgen sends one request
per row, embedding one request per Arrow batch. The stub answers
deterministically from the prompt, so every reply can be checked, and it
logs every request, which gives the provider-layer metrics.
"""

from __future__ import annotations

import hashlib
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from harness import Run, quantile

# Injected service time per request. Not a measured provider latency (none
# is available offline): a chosen value at which requests are in flight for
# most of an action, so the traffic stands for a slow provider only in that.
SERVICE_S = 0.1
PROMPTS = 48           # prompts per action
EMBED_DIM = 8


def expected_text(prompt: str) -> str:
    return "STUB:" + hashlib.sha1(prompt.encode()).hexdigest()[:16]


def expected_vec(text: str) -> list[float]:
    # multiples of 2**-8 survive the float32 round trip exactly
    return [b / 256.0 for b in hashlib.sha1(text.encode()).digest()[:EMBED_DIM]]


class Stub(ThreadingHTTPServer):
    """Chat-completions and embeddings routes with a request log."""

    daemon_threads = True

    def __init__(self, run: Run):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.run = run
        self.lock = threading.Lock()
        self.log: list[dict] = []
        self.thread = threading.Thread(target=self.serve_forever,
                                       name="perfbench-stub", daemon=True)
        self.thread.start()

    @property
    def base(self) -> str:
        return f"http://127.0.0.1:{self.server_address[1]}"

    def close(self) -> None:
        self.shutdown()
        self.thread.join()
        self.server_close()


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def do_POST(self):  # noqa: N802 — http.server API
        srv: Stub = self.server
        t0 = time.time()
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        time.sleep(SERVICE_S)
        if self.path == "/chat/completions":
            inputs = [body["messages"][-1]["content"]]
            reply = {"choices": [{"message": {"content": expected_text(inputs[0])}}]}
        else:
            inputs = list(body["input"])
            reply = {"data": [{"index": i, "embedding": expected_vec(t)}
                              for i, t in enumerate(inputs)]}
        data = json.dumps(reply).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)
        t1 = time.time()
        with srv.lock:
            srv.log.append({"route": self.path, "start": t0, "end": t1,
                            "inputs": inputs})
        parent = srv.run.current_exec
        if parent is not None:
            srv.run.tracer.add("providers.request", "providers", t0, t1, *parent)


def _models(base: str):
    from quickstart_streaming_agents_spark.registries import Connection, Model

    def model(name, task, route):
        conn = Connection(name="stub", type="openai", endpoint=base + route,
                          credentials=(("api_key", "bench"),))
        return Model(name=name, provider="openai", task=task, connection=conn,
                     params=(("timeout", "30"),))

    return (model("bench_textgen", "text_generation", "/chat/completions"),
            model("bench_embedding", "embedding", "/embeddings"))


def _frame(spark, docs, doc_ids, tag: str, textgen, embedding):
    """The ml_predict frame: one prompt per selected document, tagged with
    the execution so the stub can tell a re-billed prompt from a repeat."""
    from pyspark.sql import functions as F

    from quickstart_streaming_agents_spark.functions.ml import ml_predict
    from quickstart_streaming_agents_spark.sources.parquet import spread_scan

    picked = spread_scan(docs.filter(F.col("doc_id").isin(doc_ids)))
    prompts = picked.select(
        "doc_id",
        F.concat(F.lit(tag + ":"), F.substring("text", 1, 80)).alias("prompt"),
    )
    return prompts.select(
        "doc_id", "prompt",
        ml_predict(textgen, "prompt").alias("response"),
        ml_predict(embedding, "prompt").alias("embedding"),
    )


def run(r: Run) -> dict:
    import numpy as np

    from quickstart_streaming_agents_spark.sources.parquet import load_table

    spark = r.start_session()
    sf = str(r.data)
    holder = {}

    def setup_round(i):
        if "stub" in holder:
            holder["stub"].close()
        t0 = time.perf_counter()
        holder["stub"] = Stub(r)
        docs = load_table(spark, sf, "documents")
        t1 = time.perf_counter()
        docs.count()
        holder["docs"] = docs
        return {"sources.load_tables_s": t1 - t0}

    r.setup_rounds(setup_round)
    stub, docs = holder["stub"], holder["docs"]
    try:
        return _loop(r, spark, stub, docs, np)
    finally:
        stub.close()


def _loop(r: Run, spark, stub: Stub, docs, np) -> dict:
    rng = np.random.default_rng(r.seed)
    doc_ids = sorted(int(x) for x in rng.choice(5000, PROMPTS, replace=False))
    textgen, embedding = _models(stub.base)

    # untimed warm-up and check: every reply must be the stub's answer
    with r.tracer.span("check", "check"):
        rows = _frame(spark, docs, doc_ids, "check", textgen, embedding).collect()
    bad = sum(1 for x in rows if x.response != expected_text(x.prompt)
              or list(x.embedding) != expected_vec(x.prompt))
    r.check(len(rows) == PROMPTS, f"{len(rows)} replies for {PROMPTS} prompts")
    r.check(bad == 0, f"{bad} wrong replies", n=max(len(rows), 1))

    times: list[float] = []
    n_log = len(stub.log)
    t_start = time.perf_counter()
    w0 = time.time()
    deadline = t_start + r.seconds
    while not times or time.perf_counter() < deadline:
        tag = f"e{len(times)}"
        times.append(r.execute("ml_predict", lambda: _frame(
            spark, docs, doc_ids, tag, textgen, embedding)))
    window = time.perf_counter() - t_start
    w1 = time.time()
    log = stub.log[n_log:]
    r.trace_extra.update(window_s=window,
                         provider=_provider_metrics(log, w0, w1, len(times)))
    return {
        "latency_p50_ms": quantile(times, 0.5) * 1000,
        "latency_p90_ms": quantile(times, 0.9) * 1000,
        "throughput_per_s": len(times) * PROMPTS / window,
    }


def _provider_metrics(log: list[dict], w0: float, w1: float, n_exec: int) -> dict:
    """Metrics measured at the stub over the timed window; requests and
    duplicates are per timed execution."""
    if not log:
        return {}
    log = sorted(log, key=lambda x: x["start"])
    # in-flight count over time from the request intervals
    edges = sorted([(x["start"], 1) for x in log] + [(x["end"], -1) for x in log])
    area, busy, depth, prev, peak = 0.0, 0.0, 0, w0, 0
    for t, d in edges:
        t = min(max(t, w0), w1)
        area += depth * (t - prev)
        busy += (t - prev) if depth > 0 else 0.0
        depth += d
        peak = max(peak, depth)
        prev = t
    gaps, depth, last_end = [], 0, None
    for t, d in edges:
        if d == 1 and depth == 0 and last_end is not None:
            gaps.append((t - last_end) * 1000)
        if d == -1:
            last_end = t
        depth += d
    prompts = [p for x in log if x["route"] == "/chat/completions" for p in x["inputs"]]
    span = w1 - w0
    return {
        "providers.requests": len(log) / n_exec,
        "providers.inputs_per_request": sum(len(x["inputs"]) for x in log) / len(log),
        "providers.inflight_mean": area / span,
        "providers.inflight_max": peak,
        "providers.busy_share": busy / span,
        "providers.client_gap_ms_p50": quantile(gaps, 0.5) if gaps else 0.0,
        "providers.duplicate_requests": (len(prompts) - len(set(prompts))) / n_exec,
        "providers.service_ms_p50": quantile([(x["end"] - x["start"]) * 1000 for x in log], 0.5),
    }


def layers(r: Run, log) -> dict:
    from eventlog import exec_layers

    return {**r.trace_extra.get("provider", {}), **exec_layers(r, log)}
