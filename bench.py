"""Registry sweep: time every registered query at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 fixtures) on local[$SPARK_GRAFT_CPUS].

    python bench.py

There is one path. ``sorted(QUERIES)`` is cut into chunks of ``CHUNK``
names, and each chunk runs in a fresh subprocess, so in a fresh JVM: in
one long-lived JVM the late sweep positions inherit the heap and JIT
state of every query before them and read up to 4x slow, and
``spark.stop()`` keeps the JVM. Inside a chunk, one warm-up action per
table runs first; then each query is timed end to end (plan, execute,
noop sink, nothing collected) as the min of 2 runs, with the cache and
the tracked broadcasts and persists released after every run.

- A query that raises is recorded in ``errors`` and the chunk goes on.
- A chunk subprocess that dies records its in-flight query as an error,
  and a fresh subprocess runs the rest of that chunk.
- ``BENCH_BUDGET_S`` (default 1500) is one wall-clock deadline. The
  running chunk is killed when it passes, and every name not yet timed
  is recorded as ``SKIPPED(budget)``.

After every query the full record is rewritten atomically to
``BENCH_FULL.json`` (``BENCH_FULL_c{N}.json`` when $SPARK_GRAFT_CPUS is
below the machine's core count) and a compact copy is printed as one
JSON line, so the last stdout line is always the freshest result, even
after a kill. The record's keys:

- ``metric``, ``unit``, ``sf``, ``cpus``;
- ``value``: the sum of the per-query seconds;
- ``queries``: {name: seconds};
- ``errors``: {name: message}, present only when a query failed;
- ``partial``: true until the sweep ends, then absent;
- ``elapsed_s`` and ``load_avg_1m`` {start, end}.

The compact line (see ``tail_line``) adds ``full`` (the file name) and
``total_queries``, and keeps only the costliest per-query entries, so
that it fits a 2000-byte tail capture.

``python bench.py --chunk START END`` is the chunk subprocess: it prints
one ``QRESULT {json}`` line per query as it completes, then
``CHUNKDONE``.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

CHUNK = 50  # queries per fresh-JVM chunk subprocess
TAIL_BUDGET = 1800  # bytes of the compact line, under the 2000-byte tail


def _sweep_names() -> list[str]:
    """The names the sweep times, in sweep order. Sorted, because the
    check-first rotation in queries.py reorders QUERIES, and chunk
    membership should not move with it."""
    from quickstart_streaming_agents_spark.queries import QUERIES

    return sorted(QUERIES)


def _release_broadcasts() -> None:
    """Free per-query tracked broadcasts (vector_search corpus matrices,
    pq_adc ADC LUTs, LSH planes, …) and persists between queries, so no
    query runs with the previous ones' artifacts still resident."""
    from quickstart_streaming_agents_spark.runtime import (
        release_tracked_broadcasts,
        release_tracked_persists,
    )

    release_tracked_broadcasts()
    release_tracked_persists()


def _chunk_main(start: int, end: int) -> None:
    """Chunk subprocess body: time sweep positions [start, end)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def _report(name, sec, err):
        rec = {"q": name}
        if sec is not None:
            rec["sec"] = sec
        if err is not None:
            rec["err"] = err
        print("QRESULT " + json.dumps(rec), flush=True)

    _run_chunk_inprocess(_sweep_names()[start:end], sf_dir, on_query=_report)
    print("CHUNKDONE", flush=True)


def _run_chunk_inprocess(names: list[str], sf_dir: str, spark=None,
                         on_query=None) -> tuple[dict, dict]:
    """Time ``names`` in sequence in this process at ``sf_dir`` and return
    (timings, errors). Runs on ``spark`` when given, else on a session of
    its own that it stops at the end. A query that raises, an unknown
    name included, is recorded in errors and the run goes on.
    ``on_query(name, sec_or_None, err_or_None)`` fires after every query."""
    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.session import get_spark, ship_package
    from quickstart_streaming_agents_spark.sources.parquet import load_tables

    own_session = spark is None
    if own_session:
        spark = get_spark("bench-chunk")
        ship_package(spark)
    # warm-up: touch every table once, outside every timing
    for df in load_tables(spark, sf_dir).values():
        df.limit(1).count()

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        sec = err = None
        try:
            fn = QUERIES[name]
            best = float("inf")
            # min of 2 runs: the first pays plan compilation and codegen
            # for this query shape, and the min filters host noise
            for _ in range(2):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
                spark.catalog.clearCache()
                _release_broadcasts()
            sec = timings[name] = round(best, 3)
        except Exception as e:  # noqa: BLE001 — report, don't die
            msg = str(e).splitlines() or [type(e).__name__]
            err = errors[name] = msg[0][:200]
            spark.catalog.clearCache()
            _release_broadcasts()
        if on_query:
            on_query(name, sec, err)
    if own_session:
        spark.stop()
    return timings, errors


def _stream_chunk(start: int, end: int, deadline: float, on_result) -> int:
    """Run sweep positions [start, end) in a chunk subprocess, passing each
    of its QRESULT records to ``on_result(rec)`` as it arrives. The
    subprocess is killed at ``deadline`` (a time.monotonic() stamp).
    Returns its exit code."""
    proc = subprocess.Popen(
        [sys.executable, __file__, "--chunk", str(start), str(end)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )

    def _reader() -> None:
        for ln in proc.stdout:  # type: ignore[union-attr]
            if ln.startswith("QRESULT "):
                try:
                    rec = json.loads(ln[len("QRESULT "):])
                except ValueError:  # a line torn by a kill
                    continue
                on_result(rec)

    reader = threading.Thread(target=_reader, daemon=True)
    reader.start()
    try:
        proc.wait(timeout=max(0.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # the chunk's JVM inherits the pipe and closes it only when it exits,
    # so the drain is bounded; every QRESULT line is already in the pipe
    reader.join(timeout=30)
    return proc.returncode


def tail_line(out: dict, total_queries: int, full_name: str) -> str:
    """The compact form of the record ``out`` for the last stdout line.

    The total stays exact. Per-query entries are rounded to 2 decimals and
    kept costliest first (ties broken by name) while the line fits in
    TAIL_BUDGET bytes; the dropped ones are counted in queries_omitted.
    Only when the errors alone overflow the budget are they cut to the
    first 5, at 40 characters each, and the rest counted in
    errors_omitted. So len(queries) + queries_omitted + len(errors) +
    errors_omitted == total_queries once the sweep is complete."""
    compact = dict(out, full=full_name, total_queries=total_queries)
    ranked = sorted(out["queries"].items(), key=lambda kv: (-kv[1], kv[0]))
    for keep in range(len(ranked), -1, -1):
        compact["queries"] = {k: round(v, 2) for k, v in ranked[:keep]}
        if keep < len(ranked):
            compact["queries_omitted"] = len(ranked) - keep
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) <= TAIL_BUDGET:
            return line
    if "errors" in out:
        compact["errors"] = {k: v[:40] for k, v in list(out["errors"].items())[:5]}
        compact["errors_omitted"] = len(out["errors"]) - len(compact["errors"])
    return json.dumps(compact, separators=(",", ":"))


def main() -> None:
    t_start = time.monotonic()
    deadline = t_start + float(os.environ.get("BENCH_BUDGET_S", "1500"))

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    load_at_start = os.getloadavg()[0]

    # a run at fewer cores than the machine has writes its own file, so a
    # scaling run never overwrites the full-core record
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    full_name = ("BENCH_FULL.json" if cpus >= (os.cpu_count() or cpus)
                 else f"BENCH_FULL_c{cpus}.json")

    names = _sweep_names()
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    out: dict = {
        "metric": "headline_queries_total_runtime",
        "value": 0.0,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
    }

    def emit(partial: bool) -> None:
        """Rewrite the full record (atomically) and print the compact
        line, both reflecting the current state."""
        out["value"] = round(sum(timings.values()), 3)
        if errors:
            out["errors"] = errors
        if partial:
            out["partial"] = True
        else:
            out.pop("partial", None)
        out["elapsed_s"] = round(time.monotonic() - t_start, 1)
        out["load_avg_1m"] = {
            "start": round(load_at_start, 2),
            "end": round(os.getloadavg()[0], 2),
        }
        tmp = REPO / (full_name + ".tmp")
        tmp.write_text(json.dumps(out, indent=1) + "\n")
        tmp.replace(REPO / full_name)
        print(tail_line(out, len(names), full_name), flush=True)

    def record(rec: dict) -> None:
        if "sec" in rec:
            timings[rec["q"]] = rec["sec"]
        else:
            errors[rec["q"]] = rec.get("err", "?")
        emit(partial=True)

    pos = 0  # the first sweep position with no result yet
    while pos < len(names) and time.monotonic() < deadline:
        end = min(pos - pos % CHUNK + CHUNK, len(names))
        rc = _stream_chunk(pos, end, deadline, record)
        # a chunk reports in sweep order, so its first unrecorded name is
        # the one it was running when it died or was killed
        pos = next((i for i in range(pos, end)
                    if names[i] not in timings and names[i] not in errors), end)
        if pos < end and time.monotonic() < deadline:
            record({"q": names[pos], "err": f"chunk process died (exit {rc})"})
            pos += 1
    for name in names[pos:]:
        errors[name] = "SKIPPED(budget)"
    emit(partial=False)


if __name__ == "__main__":
    if len(sys.argv) > 3 and sys.argv[1] == "--chunk":
        _chunk_main(int(sys.argv[2]), int(sys.argv[3]))
    else:
        main()
