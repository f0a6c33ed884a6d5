"""Inference providers behind ``ml_predict`` / agents.

The reference calls managed endpoints (Bedrock Claude Sonnet 4.5, Azure
OpenAI gpt-5-mini, Titan/ada-002 embeddings — terraform/core/main.tf:
308,346,386,423). This engine resolves a provider by name worker-side; the
``fake`` provider is fully deterministic so every AI query is reproducible
(and partially SQL-expressible for oracle checks). Real HTTP providers are
gated behind import-try + credentials and share the same batched interface.
"""

from __future__ import annotations

import hashlib
import json
import math
import re
import threading
import time
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

from quickstart_streaming_agents_spark.registries import Model

# ---------------------------------------------------------------------------
# fake provider — deterministic, dependency-free
# ---------------------------------------------------------------------------

def fake_textgen(prompts: list[str], model: Model) -> list[str]:
    """Deterministic completion.

    Three modes, tried in order:
    - If the prompt demands a multi-section labeled response (the lab3/lab4
      agent prompts: 'Respond with ONLY these four labeled sections'
      LAB4-Walkthrough.md:333, 'FORMAT your final response with these THREE
      sections' LAB3-Walkthrough.md:431), emit a compliant sectioned
      response so the walkthroughs' REGEXP_EXTRACT post-processing is
      exercised end to end — see :func:`compose_labeled_sections`.
    - If the prompt asks for a labeled-verdict format (the reference's agent
      prompts all do: 'Verdict:' LAB4-Walkthrough.md:339, 'Decision:'
      LAB1-Walkthrough.md:203), emit a compliant labeled response chosen by
      prompt hash so downstream REGEXP_EXTRACT parsing is exercised.
    - Otherwise a template: 'FAKE[<model>]:' + UPPER(first 48 chars) —
      expressible in ANSI SQL, so ml_predict is hash-checkable by the
      DuckDB oracle.
    """
    out = []
    for p in prompts:
        p = p or ""
        sections = compose_labeled_sections(p)
        if sections is not None:
            out.append(sections)
            continue
        pick = pick_verdict_choice(p)
        if pick is not None:
            out.append(f"**Verdict:** {pick}\nReasoning: deterministic fake assessment.")
            continue
        out.append(f"FAKE[{model.name}]:{p[:48].upper()}")
    return out


def pick_verdict_choice(text: str) -> str | None:
    """If the text demands a labeled verdict from an explicit choice list,
    pick one deterministically (md5 of the full text) — the ONE rule the
    fake textgen provider and the fake agent policy share, so their verdict
    shapes can never drift. Two corpus spellings are recognized:

    - "verdicts must be one of: [A, B]" (the engine's lab1-shaped prompts)
    - "The Verdict line must contain exactly one word: A, B, C, or D."
      (LAB4-Walkthrough.md:339 verbatim)
    """
    m = re.search(r"verdict[s]? must be one of:?\s*\[([^\]]+)\]", text, re.I)
    if m is None:
        # capture the whole choice list up to the sentence end, then split:
        # a token-by-token pattern under re.I matched the literal "or" as a
        # list item and silently DROPPED the final choice (lab4's
        # DENY_FRAUD was unreachable — r13 fix, pinned in
        # tests/test_ai_functions.py::test_pick_verdict_five_value_set)
        m = re.search(
            r"verdict line must contain exactly one word:\s*([^.\n]+)",
            text, re.I,
        )
        if m is None:
            return None
        raw = re.sub(r"\bor\b", ",", m.group(1), flags=re.I)
        choices = [c.strip() for c in raw.split(",") if c.strip()]
        return choices[int(hashlib.md5(text.encode()).hexdigest(), 16) % len(choices)]
    choices = [c.strip().strip("'\"") for c in m.group(1).split(",")]
    return choices[int(hashlib.md5(text.encode()).hexdigest(), 16) % len(choices)]


_SECTIONS_RE = re.compile(
    r"(?:respond with only these|format your final response with these|"
    r"respond with these)\s+(\w+)\s+(?:labeled\s+)?sections",
    re.I,
)
_COUNT_WORDS = {
    "two": 2, "three": 3, "four": 4, "five": 5, "six": 6,
    "2": 2, "3": 3, "4": 4, "5": 5, "6": 6,
}
_LABEL_LINE_RE = re.compile(r"^\s*([A-Z][A-Za-z _]{1,30}):\s*$")


def compose_labeled_sections(text: str) -> str | None:
    """If the text demands an N-section labeled response ('Respond with
    ONLY these four labeled sections' / 'FORMAT your final response with
    these THREE sections' — LAB4-Walkthrough.md:333, LAB3-Walkthrough.md:431),
    build a deterministic compliant response.

    The section labels are the first N '<Label>:'-only lines AFTER the
    instruction phrase (both corpus prompts list them there). Per label:
    a verdict-ish label gets its one-word choice on the SAME line (lab4's
    'Verdict: APPROVE' shape); a JSON-ish label gets a small valid JSON
    object on the next line; anything else gets one deterministic plain
    sentence — free of the reference e2e suite's failure markers
    ('unable to dispatch', 'failed to', 'error:', 'could not' —
    /root/reference/testing/e2e/test_lab3.py:339). Sections are separated
    by blank lines, matching the walkthroughs' REGEXP_EXTRACT patterns."""
    m = _SECTIONS_RE.search(text)
    if m is None:
        return None
    n = _COUNT_WORDS.get(m.group(1).lower())
    if n is None:
        return None
    labels: list[str] = []
    for line in text[m.end():].splitlines():
        lm = _LABEL_LINE_RE.match(line)
        if lm:
            labels.append(lm.group(1).strip())
            if len(labels) == n:
                break
    if len(labels) < n:
        return None
    parts = []
    for label in labels:
        if "verdict" in label.lower():
            pick = pick_verdict_choice(text) or "APPROVE"
            parts.append(f"{label}: {pick}")
        elif "json" in label.lower():
            parts.append(
                f"{label}:\n" + json.dumps({"action": "fake_deterministic",
                                            "items": []})
            )
        else:
            parts.append(
                f"{label}:\nDeterministic fake {label.lower()} content "
                "produced by the offline provider."
            )
    return "\n\n".join(parts)


def fake_embedding(texts: list[str], model: Model) -> list[list[float]]:
    """Deterministic unit vector per text, built from per-dimension md5s.

    Component i of the raw vector is ``md5(text + '#' + i)`` first 16 hex
    chars as uint64, scaled to [-1, 1); the vector is then L2-normalized
    (sequential float64 sum of squares). Every step is plain IEEE-double
    arithmetic that DuckDB reproduces bit-for-bit —
    ``('0x' || substr(md5(t || '#' || i), 1, 16))::UBIGINT /
    18446744073709551616.0 * 2.0 - 1.0`` — which is what makes the
    embedding-bearing queries (ml_predict_embedding, rag_pipeline)
    hash-checkable against the SQL oracle. Division by 2^64 is an exact
    exponent shift, so Python's correctly-rounded int/int division and
    DuckDB's cast-then-divide agree to the last bit.

    Mirrors the reference's fixture advice of seeded hash → unit vector
    (FIXTURES.md §4).
    """
    dim = model.embedding_dim
    out = []
    for t in texts:
        t = t or ""
        u = [
            int(hashlib.md5(f"{t}#{i}".encode()).hexdigest()[:16], 16)
            / 2**64 * 2.0 - 1.0
            for i in range(dim)
        ]
        s = 0.0
        for x in u:
            s += x * x
        n = math.sqrt(s) or 1.0
        out.append([x / n for x in u])
    return out


# ---------------------------------------------------------------------------
# real providers — same batched signature, gated on deps/credentials
# ---------------------------------------------------------------------------

# HTTP 429 and 503 say the provider did not do the work, and so does a
# refused connection; those are retried. The waits before the 2nd and 3rd
# attempts, and the longest wait a Retry-After header can ask for.
_RETRY_STATUS = frozenset({429, 503})
_BACKOFF_S = (0.1, 0.4)
# How long a request waits for the one before it to be written. Far below
# a 1-s SYN retransmit, so a stalled connect delays no other request.
_ORDER_WAIT_S = 0.05


def request_width(model: Model) -> int:
    """The model's ``max_concurrency`` param: the most requests one provider
    call keeps in flight (default 2). Raises ``ValueError`` naming the model
    unless it is an integer >= 1."""
    raw = model.param("max_concurrency", "2")
    try:
        width = int(raw)
    except ValueError:
        width = 0
    if width < 1:
        raise ValueError(
            f"model {model.name!r}: max_concurrency must be an integer >= 1, "
            f"got {raw!r}"
        )
    return width


class _SentBody:
    """A request body that sets ``sent`` once its bytes are written."""

    def __init__(self, data: bytes, sent: threading.Event):
        self.data, self.sent = data, sent

    def __iter__(self):
        yield self.data
        self.sent.set()


def _http_post_json(url: str, headers: dict, payload: dict, timeout: float,
                    sent: threading.Event) -> dict:
    """POST one JSON body and return the JSON reply; ``sent`` is set once
    the body has been written.

    Only a reply that says the work was not done is retried: HTTP 429 or
    503, or a refused connection. There are at most 3 attempts, with waits
    of 0.1 s then 0.4 s; a ``Retry-After`` of N seconds replaces the wait,
    capped at 0.4 s. A timeout, a reset or any other status raises at once,
    because the provider may already have served, and billed, the request.
    """
    import urllib.error
    import urllib.request

    data = json.dumps(payload).encode()
    req = urllib.request.Request(
        url, data=_SentBody(data, sent),
        headers={"Content-Type": "application/json", "Content-Length": str(len(data)),
                 **headers},
    )
    for backoff in (*_BACKOFF_S, None):
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:  # noqa: S310
                return json.loads(resp.read())
        except urllib.error.HTTPError as exc:
            detail = exc.read().decode(errors="replace")[:500]
            if backoff is None or exc.code not in _RETRY_STATUS:
                raise RuntimeError(f"HTTP {exc.code} from {url}: {detail}") from exc
            # delay-seconds only: an HTTP-date Retry-After keeps the fixed wait
            after = re.fullmatch(r"\s*(\d+)\s*", exc.headers.get("Retry-After", ""),
                                 re.ASCII)
            if after:
                backoff = min(int(after.group(1)), _BACKOFF_S[-1])
        except urllib.error.URLError as exc:
            if backoff is None or not isinstance(exc.reason, ConnectionRefusedError):
                raise
        time.sleep(backoff)


def _post_all(url: str, headers: dict, bodies: list[dict], model: Model) -> list[dict]:
    """POST every body to ``url`` and return the replies in input order.

    A thread pool made for this call keeps ``min(len(bodies),
    request_width(model))`` requests in flight. A body is written after
    the one before it, so the provider receives them in input order,
    unless the one before has waited more than ``_ORDER_WAIT_S`` to be
    written (a stalled connect). On the first failure the bodies still
    queued are cancelled, so none is sent (or billed) after it, and the
    failure is re-raised as it was; requests already in flight finish
    first. Each request retries as :func:`_http_post_json` says.
    """
    if not bodies:
        return []
    timeout = float(model.param("timeout", "30"))
    sent = [threading.Event() for _ in bodies]

    def post(i: int) -> dict:
        try:
            if i:
                sent[i - 1].wait(_ORDER_WAIT_S)
            return _http_post_json(url, headers, bodies[i], timeout, sent[i])
        finally:
            sent[i].set()  # a failed request must not hold up the next

    pool = ThreadPoolExecutor(min(len(bodies), request_width(model)))
    try:
        futures = [pool.submit(post, i) for i in range(len(bodies))]
        wait(futures, return_when=FIRST_EXCEPTION)
        for f in futures:
            if f.done() and f.exception() is not None:
                raise f.exception()
        return [f.result() for f in futures]
    finally:
        pool.shutdown(cancel_futures=True)


def _openai_headers(conn) -> dict:
    # Azure rejects Bearer for plain api keys
    key = dict(conn.credentials).get("api_key", "")
    return {"api-key": key} if conn.type == "azureopenai" else {
        "Authorization": f"Bearer {key}"
    }


def openai_compatible_textgen(prompts: list[str], model: Model) -> list[str]:
    """Chat-completions-shaped endpoint (Azure OpenAI / OpenAI-compatible).

    Reference model params: azureopenai.PARAMS.max_completion_tokens=16384
    (terraform/core/main.tf:495). One request per prompt, sent through
    :func:`_post_all`: up to ``max_concurrency`` in flight per call, replies
    in prompt order.
    """
    conn = model.connection
    if conn is None or not conn.endpoint:
        raise RuntimeError(f"model {model.name!r}: no connection/endpoint configured")
    # gpt-5/o-series endpoints reject 'max_tokens'; the reference's Azure
    # model sets max_completion_tokens (terraform/core/main.tf:495) — honor
    # whichever the model declares
    mct = model.param("max_completion_tokens", "")
    limit = (
        {"max_completion_tokens": int(mct)}
        if mct
        else {"max_tokens": int(model.param("max_tokens", "1024"))}
    )
    name = {"model": model.param("model_name")} if model.param("model_name") else {}
    bodies = [{"messages": [{"role": "user", "content": p}], **limit, **name}
              for p in prompts]
    return [
        resp["choices"][0]["message"]["content"]
        for resp in _post_all(conn.endpoint, _openai_headers(conn), bodies, model)
    ]


def openai_compatible_embedding(texts: list[str], model: Model) -> list[list[float]]:
    conn = model.connection
    if conn is None or not conn.endpoint:
        raise RuntimeError(f"model {model.name!r}: no connection/endpoint configured")
    # OpenAI-compatible endpoints cap `input` items per request; an Arrow
    # batch can exceed it, so chunk
    chunk = int(model.param("max_inputs_per_request", "2048"))
    bodies = [
        {"input": texts[lo:lo + chunk], "model": model.param("model_name", "")}
        for lo in range(0, len(texts), chunk)
    ]
    return [
        d["embedding"]
        for resp in _post_all(conn.endpoint, _openai_headers(conn), bodies, model)
        for d in resp["data"]
    ]


def _bedrock_url(model: Model) -> tuple[str, dict]:
    """invoke-model URL + auth headers for a Bedrock-shaped endpoint.

    ``connection.endpoint`` is the runtime base (``…/model/{id}/invoke`` is
    appended unless the endpoint already ends in ``/invoke``). Auth: a
    long-lived API key sent as a bearer token when configured; full SigV4
    request signing is out of scope for this engine (deploy-time concern,
    reference terraform/core/main.tf:308 wires IAM instead).
    """
    conn = model.connection
    if conn is None or not conn.endpoint:
        raise RuntimeError(f"model {model.name!r}: no connection/endpoint configured")
    creds = dict(conn.credentials)
    headers = {}
    if creds.get("api_key"):
        headers["Authorization"] = f"Bearer {creds['api_key']}"
    url = conn.endpoint
    if not url.rstrip("/").endswith("/invoke"):
        model_id = model.param("model_name", model.name)
        url = f"{url.rstrip('/')}/model/{model_id}/invoke"
    return url, headers


def bedrock_textgen(prompts: list[str], model: Model) -> list[str]:
    """Bedrock invoke-model, Anthropic messages body shape.

    The reference's primary text-generation path is Bedrock Claude
    (terraform/core/main.tf:308,461); request/response shapes follow the
    public Bedrock Runtime InvokeModel contract for Anthropic models:
    ``{"anthropic_version": "bedrock-2023-05-31", "max_tokens", "messages"}``
    → ``{"content": [{"type": "text", "text": …}, …]}``.
    """
    url, headers = _bedrock_url(model)
    max_tokens = int(model.param("max_tokens", "1024"))
    bodies = [
        {
            "anthropic_version": "bedrock-2023-05-31",
            "max_tokens": max_tokens,
            "messages": [{"role": "user", "content": [{"type": "text", "text": p}]}],
        }
        for p in prompts
    ]
    return [
        "".join(
            block.get("text", "") for block in resp.get("content", [])
            if block.get("type") == "text"
        )
        for resp in _post_all(url, headers, bodies, model)
    ]


def bedrock_embedding(texts: list[str], model: Model) -> list[list[float]]:
    """Bedrock invoke-model, Titan-embeddings body shape (one text per call):
    ``{"inputText": …}`` → ``{"embedding": [float, …]}``
    (reference embedding model: terraform/core/main.tf:461).
    """
    url, headers = _bedrock_url(model)
    bodies = [{"inputText": t} for t in texts]
    return [resp["embedding"] for resp in _post_all(url, headers, bodies, model)]


PROVIDERS: dict[tuple[str, str], object] = {
    ("fake", "text_generation"): fake_textgen,
    ("fake", "embedding"): fake_embedding,
    ("openai", "text_generation"): openai_compatible_textgen,
    ("openai", "embedding"): openai_compatible_embedding,
    ("azureopenai", "text_generation"): openai_compatible_textgen,
    ("azureopenai", "embedding"): openai_compatible_embedding,
    ("bedrock", "text_generation"): bedrock_textgen,
    ("bedrock", "embedding"): bedrock_embedding,
}


def resolve_provider(model: Model):
    try:
        return PROVIDERS[(model.provider, model.task)]
    except KeyError:
        raise ValueError(
            f"no provider for ({model.provider!r}, {model.task!r}); "
            f"registered: {sorted(PROVIDERS)}"
        ) from None
