"""batch_jvm and batch_python: a closed loop, one client, over a frozen list
of registry queries in a warm session.

One execution is the ``QUERIES[name](spark, sf)`` call plus a ``noop``
write. The seed sets the order within each pass; passes repeat while the
timed window lasts, and only whole passes are measured, so every run
times the same mix. The warm-up pass before the window collects each
query once and checks it against its DuckDB oracle.
"""

from __future__ import annotations

import random
import re
import time

from harness import Run, quantile

# name → why it is on the list. Every one runs with no Python node
# (PLANS.md "python" column reads "none").
BATCH_JVM = {
    "pricing_summary": "TPC-H Q1: scan, filter and hash aggregate over lineitem",
    "shipping_priority": "TPC-H Q3: three-way join with a top-N",
    "tumble_6h_avg": "tumbling-window aggregate over events",
    "interval_join": "event-time interval join",
    "bpe_pair_freqs": "text functions: tokenise and count adjacent pairs",
    "dedup_exact": "JVM exact dedup over documents",
    "hll_distinct_sketch": "HyperLogLog distinct-count sketch",
}

# name → why. Every one has at least one Arrow Python node; all use the
# deterministic fake provider.
BATCH_PYTHON = {
    "rag_pipeline": "ml_predict embedding, vector_search and ml_predict textgen chained",
    "agent_price_match": "agent loop with tool calls per row",
    "anomaly_detect_ar": "ML_DETECT_ANOMALIES as a grouped pandas UDF",
    "semantic_dedup": "fused MapInPandas plus cluster-keyed FlatMapGroupsInPandas",
    "ann_pq_adc_topk": "ANN family: product-quantised ADC search (3 Python nodes)",
    "image_dhash": "multimodal decoder: synthesise and hash images",
    "lab3_chain": "lab3 walkthrough as one SQL script chain (4 Python nodes)",
}

LISTS = {"batch_jvm": BATCH_JVM, "batch_python": BATCH_PYTHON}
WARM_TABLES = ("lineitem",)  # the largest fact table


def plan_classes(plans_md: str) -> dict[str, str]:
    """query → PLANS.md "python" column ("none" or "arrow×N")."""
    out = {}
    for line in plans_md.splitlines():
        m = re.match(r"\| (\w+) \| \d+ \| \d+ \| ([^|]+) \|", line)
        if m:
            out[m.group(1)] = m.group(2).strip()
    return out


def self_check(queries: dict, plans_md: str) -> list[str]:
    """Problems with the frozen lists: unknown names, a query in the wrong
    class, or a query in both lists."""
    classes = plan_classes(plans_md)
    problems = []
    for workload, names in LISTS.items():
        for n in names:
            if n not in queries:
                problems.append(f"{workload}: {n} is not in QUERIES")
            elif n not in classes:
                problems.append(f"{workload}: {n} has no PLANS.md row")
            elif (classes[n] == "none") != (workload == "batch_jvm"):
                problems.append(f"{workload}: {n} is '{classes[n]}' in PLANS.md")
    if set(BATCH_JVM) & set(BATCH_PYTHON):
        problems.append("a query is in both lists")
    return problems


def run(r: Run) -> dict:
    from quickstart_streaming_agents_spark.queries import ORACLE, QUERIES

    problems = self_check(QUERIES, (r.root / "PLANS.md").read_text())
    r.check(not problems, "; ".join(problems))
    names = list(LISTS[r.workload])
    spark = r.start_session()
    sf = str(r.data)

    def setup_round(_i):
        from quickstart_streaming_agents_spark.sources import load_tables

        t0 = time.perf_counter()
        tables = load_tables(spark, sf)
        t1 = time.perf_counter()
        for name in WARM_TABLES:
            tables[name].count()
        return {"sources.load_tables_s": t1 - t0}

    r.setup_rounds(setup_round)
    _check_pass(r, spark, sf, names, QUERIES, ORACLE)
    # a second, untimed pass: the JIT is still compiling after the first
    with r.tracer.span("warmup", "warmup"):
        for n in names:
            QUERIES[n](spark, sf).write.format("noop").mode("overwrite").save()

    rng = random.Random(r.seed)
    times: list[float] = []
    t_start = time.perf_counter()
    deadline = t_start + r.seconds
    passes, pass_s = 0, 0.0
    # whole passes only, ending at the pass boundary nearest the deadline
    while passes == 0 or time.perf_counter() + pass_s / 2 < deadline:
        t_pass = time.perf_counter()
        for n in rng.sample(names, len(names)):
            times.append(r.execute(n, lambda n=n: QUERIES[n](spark, sf)))
        passes += 1
        pass_s = time.perf_counter() - t_pass
    window = time.perf_counter() - t_start
    r.trace_extra.update(passes=passes, window_s=window)
    return {
        "latency_p50_ms": quantile(times, 0.5) * 1000,
        "latency_p90_ms": quantile(times, 0.9) * 1000,
        "throughput_per_s": len(times) / window,
    }


def _check_pass(r: Run, spark, sf: str, names, queries, oracles) -> None:
    """Warm-up pass: collect each query once and compare it with its
    DuckDB oracle, canonicalised like the repository's oracle tests."""
    from tests.oracle_util import canon_rows

    from harness import digest

    for n in names:
        with r.tracer.span(f"check.{n}", "check"):
            want = r.oracle_digest(n, oracles[n])
            try:
                df = queries[n](spark, sf)
                rows = [tuple(x) for x in df.collect()]
                got = {"columns": sorted(df.columns), "rows": len(rows),
                       "sha256": digest(canon_rows(df.columns, rows))}
            except Exception as exc:  # a failed query is a wrong output
                got = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            r.check(got == want, f"{n} output vs oracle: {got} != {want}")


def layers(r: Run, log) -> dict:
    from eventlog import exec_layers

    return exec_layers(r, log)
