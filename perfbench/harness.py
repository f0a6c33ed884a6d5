"""Run context shared by every workload: session start, repeated set-up,
spans, the /proc sampler, oracle checks and the result line.

Everything here observes the program from outside: it times calls into
the public modules (``session``, ``sources``, ``queries``, ``functions``,
``streaming``, ``providers``) and reads what Spark and the OS already
expose. No program code is changed or patched.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

SETUP_ROUNDS = 3

# Every per-layer metric the traced run emits, with its unit. A metric a
# workload does not exercise reads 0 (e.g. providers.* off provider_http).
PER_LAYER: dict[str, str] = {
    "session.get_spark_s": "s",
    "session.ship_package_s": "s",
    "sources.load_tables_s": "s",
    "sources.scan_ms": "ms",
    "sources.bytes_read": "bytes",
    "queries.build_ms": "ms",
    "queries.build_jobs": "count",
    "spark.plan_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.core_busy_share": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_write_ms": "ms",
    "spark.shuffle_fetch_wait_ms": "ms",
    "spark.max_task_skew": "ratio",
    "spark.gc_ms": "ms",
    "spark.spill_bytes": "bytes",
    "python.nodes": "count",
    "python.worker_start_ms": "ms",
    "python.worker_init_ms": "ms",
    "python.run_ms": "ms",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "python.init_share": "ratio",
    "python.workers_spawned": "count",
    "providers.requests": "count",
    "providers.inputs_per_request": "count",
    "providers.inflight_mean": "count",
    "providers.inflight_max": "count",
    "providers.busy_share": "ratio",
    "providers.client_gap_ms_p50": "ms",
    "providers.duplicate_requests": "count",
    "providers.service_ms_p50": "ms",
    "streaming.batches": "count",
    "streaming.empty_batches": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_p90": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.hop_ms_p50": "ms",
    "streaming.state_rows": "rows",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "streaming.backlog_files_max": "files",
    "streaming.backlog_files_end": "files",
    "streaming.catalog.create_table_as_ms": "ms",
    "gen.late_ms_max": "ms",
    "gen.slices": "count",
    "trace.overhead_ratio": "ratio",
    "peak_rss_mb": "MB",
}

END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput_per_s": "1/s",
}


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile (q in (0, 1)): a weighted
    mean of all order statistics, with Beta((n+1)q, (n+1)(1-q)) weights.
    On the small samples of a short run it varies much less from run to
    run than picking one or two order statistics."""
    import numpy as np

    v = np.sort(np.asarray(values, dtype=float))
    n = len(v)
    if n == 1:
        return float(v[0])
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    x = np.linspace(0.0, 1.0, 200_001)[1:-1]
    logpdf = (a - 1) * np.log(x) + (b - 1) * np.log1p(-x)
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate([[0.0], np.cumsum(pdf)])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, len(cdf)), cdf)
    return float(np.dot(np.diff(edges), v))


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    exec_id: str | None = None


class Tracer:
    """In-memory spans; written out once, when the run ends. Spans opened
    by one thread nest under that thread's open span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, layer: str, exec_id: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            s = Span(len(self.spans), name, layer, time.time(),
                     parent=parent.id if parent else None,
                     exec_id=exec_id or (parent.exec_id if parent else None))
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, exec_id: str | None) -> None:
        """Record a finished span measured elsewhere (e.g. at the stub)."""
        if not self.enabled:
            return
        with self._lock:
            self.spans.append(Span(len(self.spans), name, layer, start, end,
                                   parent, exec_id))

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the union of its children's intervals,
        summed per layer (seconds)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


# ---------------------------------------------------------------------------
# /proc sampler
# ---------------------------------------------------------------------------

class ProcSampler(threading.Thread):
    """One thread that sums the memory of this process and all of its
    descendants (the JVM and the Python workers it forks) every
    ``interval`` seconds, and records the distinct Python worker PIDs: a
    worker is a Python process whose parent is another Python process
    under the JVM (the PySpark daemon forks workers).

    Memory is the proportional set size (``Pss`` in smaps_rollup): forked
    workers share most pages with the daemon, and summing plain RSS would
    count those pages once per worker. Reading it walks each process's
    page tables under its memory-map lock, so only the traced run, which
    reports memory, reads it; the untraced run tracks the process tree
    alone, to wait for every process to exit."""

    def __init__(self, memory: bool, interval: float = 0.2):
        super().__init__(name="perfbench-proc-sampler", daemon=True)
        self.memory = memory
        self.interval = interval
        self.root = os.getpid()
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}
        self.workers: set[int] = set()
        self.descendants: set[int] = set()
        self._halt = threading.Event()

    @staticmethod
    def _stat(pid: str) -> tuple[int, str] | None:
        try:
            with open(f"/proc/{pid}/stat") as f:
                s = f.read()
        except OSError:
            return None
        comm = s[s.index("(") + 1:s.rindex(")")]
        return int(s[s.rindex(")") + 2:].split()[1]), comm

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        procs = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                st = self._stat(pid)
                if st is not None:
                    procs[int(pid)] = st
        tree = {self.root}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _) in procs.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        total, parts = 0, {}
        for pid in tree:
            pss = self._pss(pid) if self.memory else 0
            total += pss
            ppid, comm = procs[pid]
            kind = "main" if pid == self.root else comm if comm == "java" else "python"
            parts[kind] = parts.get(kind, 0) + pss
            if (pid != self.root and comm.startswith("python")
                    and ppid != self.root and ppid in procs
                    and procs[ppid][1].startswith("python")):
                self.workers.add(pid)
        self.descendants |= tree - {self.root}
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_parts = total, parts

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.sample()


# ---------------------------------------------------------------------------
# run context
# ---------------------------------------------------------------------------

@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    trace: bool
    root: Path          # repository checkout
    work: Path          # cache + scratch root (ignored by git)
    run_dir: Path       # this run's scratch directory
    data: Path          # generated fixture directory
    t_process: float    # time.perf_counter() at process start
    tracer: Tracer = None
    sampler: ProcSampler = None
    spark: object = None
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    spark_cores: int = 1
    executions: list[dict] = field(default_factory=list)
    current_exec: tuple[int, str] | None = None  # (span id, exec id)
    setup_once_s: float = 0.0
    setup_round_s: list[float] = field(default_factory=list)
    trace_extra: dict = field(default_factory=dict)

    def __post_init__(self):
        self.tracer = Tracer(self.trace)
        self.sampler = ProcSampler(memory=self.trace)

    # -- session ---------------------------------------------------------

    def start_session(self):
        """Import the engine and start its session; counts toward setup_s
        once (a JVM launch is not repeatable inside one process)."""
        self.sampler.start()
        with self.tracer.span("session", "session"):
            t0 = time.perf_counter()
            from quickstart_streaming_agents_spark.session import get_spark, ship_package

            spark = get_spark("perfbench")
            t1 = time.perf_counter()
            ship_package(spark)
            t2 = time.perf_counter()
        self.layer["session.get_spark_s"] = t1 - t0
        self.layer["session.ship_package_s"] = t2 - t1
        # process start → session ready, including the engine import
        self.setup_once_s += t2 - self.t_process
        self.spark = spark
        return spark

    def setup_rounds(self, round_fn) -> None:
        """Run a repeatable set-up step SETUP_ROUNDS times; setup_s takes
        the median. ``round_fn(i)`` returns per-layer timings to median."""
        per: dict[str, list[float]] = {}
        for i in range(SETUP_ROUNDS):
            with self.tracer.span(f"setup.round{i}", "setup"):
                t0 = time.perf_counter()
                parts = round_fn(i) or {}
                self.setup_round_s.append(time.perf_counter() - t0)
            for k, v in parts.items():
                per.setdefault(k, []).append(v)
        for k, v in per.items():
            self.layer[k] = statistics.median(v)

    def setup_s(self) -> float:
        rounds = statistics.median(self.setup_round_s) if self.setup_round_s else 0.0
        return self.setup_once_s + rounds

    def set_job_group(self, gid: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(gid, gid)

    def execute(self, label: str, build) -> float:
        """One timed execution: ``build()`` is the build call returning a
        DataFrame, then a ``noop`` write runs it (the action). A raised
        error is a counted failure. Returns the execution's seconds."""
        eid = f"exec{len(self.executions):04d}"
        rec = {"id": eid, "what": label}
        with self.tracer.span(eid, "exec", exec_id=eid) as sp:
            self.current_exec = (sp.id, eid) if sp is not None else None
            t0 = time.perf_counter()
            ok = True
            try:
                self.set_job_group(eid + ":build")
                with self.tracer.span("queries.build", "queries"):
                    df = build()
                t1 = time.perf_counter()
                rec["action_ms"] = time.time() * 1000
                self.set_job_group(eid + ":run")
                with self.tracer.span("spark.action", "spark"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failed stage or request is counted
                self.notes.append(f"{label}: {type(exc).__name__}: {exc}"[:300])
                ok, t1 = False, time.perf_counter()
            t2 = time.perf_counter()
        self.current_exec = None
        if self.trace:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.check(ok, f"{label} execution")
        rec["build_ms"] = (t1 - t0) * 1000
        rec["total_ms"] = (t2 - t0) * 1000
        self.executions.append(rec)
        return t2 - t0

    # -- correctness -------------------------------------------------------

    def check(self, ok: bool, what: str, n: int = 1) -> bool:
        """Count one checked operation; a failed check is a failure."""
        self.attempted += n
        if not ok:
            self.failed += n
            self.notes.append(f"check failed: {what}")
        return ok

    def oracle_digest(self, name: str, sql: str) -> dict:
        """Canonical digest of a query's DuckDB oracle over the generated
        fixtures, cached under the fixture version and a hash of the ORACLE
        SQL and the canonicalisation code, so a corrected oracle is rerun."""
        import tests.oracle_util as oracle_util
        from tests.oracle_util import canon_rows, duckdb_conn

        from gen import VERSION

        h = hashlib.sha256(sql.encode())
        h.update(Path(oracle_util.__file__).read_bytes())
        path = self.work / "oracle" / VERSION / f"{name}-{h.hexdigest()[:16]}.json"
        if path.exists():
            return json.loads(path.read_text())
        con = duckdb_conn(str(self.data))
        try:
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
        finally:
            con.close()
        out = {"columns": sorted(cols), "rows": len(rows),
               "sha256": digest(canon_rows(cols, rows))}
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".{os.getpid()}.tmp")
        tmp.write_text(json.dumps(out))
        os.replace(tmp, path)
        return out

    # -- result ------------------------------------------------------------

    def finish(self, e2e: dict[str, float], layer: dict[str, float]) -> dict:
        """Assemble the result object; in a traced run the metrics are the
        per-layer ones and the end-to-end figures go to the trace file."""
        peak_mb = self.sampler.peak_bytes / 2**20
        e2e = {"setup_s": self.setup_s(), **e2e}
        # the untraced twin of a traced run: same workload, seed and code
        last = self.work / "last" / f"{self.workload}-seed{self.seed}-{code_id(self.root)}.json"
        if self.trace:
            base = json.loads(last.read_text()) if last.exists() else {}
            base = {k: v for k, v in base.items() if k in END_TO_END}
            overhead = {k: v / base[k] for k, v in e2e.items() if base.get(k)}
            if not overhead:
                self.notes.append("tracing overhead unverified: no untraced run "
                                  "of this workload, seed and code in the checkout")
            layer = {**self.layer, **layer, "peak_rss_mb": peak_mb,
                     "python.workers_spawned": len(self.sampler.workers),
                     "trace.overhead_ratio": overhead.get("latency_p50_ms", 0.0)}
            metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                       for k, u in PER_LAYER.items()}
            trace_file = self.work / "traces" / f"{self.workload}-seed{self.seed}.json"
            trace_file.parent.mkdir(parents=True, exist_ok=True)
            trace_file.write_text(json.dumps({
                "workload": self.workload, "seed": self.seed,
                "end_to_end_traced": e2e, "end_to_end_untraced": base,
                "overhead_ratio": overhead,
                "self_time_s_by_layer": self.tracer.self_time_by_layer(),
                "per_layer": layer, "peak_bytes_by_process": self.sampler.peak_parts,
                **self.trace_extra,
                "spans": self.tracer.dump(),
            }, indent=1, default=str))
            print(f"trace written to {trace_file}")
        else:
            last.parent.mkdir(parents=True, exist_ok=True)
            last.write_text(json.dumps(e2e))
            metrics = {k: {"value": float(e2e[k]), "unit": u}
                       for k, u in END_TO_END.items()}
        return {"correct": self.failed == 0 and self.attempted > 0,
                "attempted": self.attempted, "failed": self.failed,
                "metrics": metrics}


def code_id(root: Path) -> str:
    """Hash of the program's and the benchmark's Python sources."""
    h = hashlib.sha256()
    for f in sorted([*(root / "quickstart_streaming_agents_spark").rglob("*.py"),
                     *(root / "perfbench").glob("*.py")]):
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def digest(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()
