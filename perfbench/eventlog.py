"""Reduce a Spark event log to per-layer metrics.

The traced run starts the JVM with the event log on (``--conf`` flags
passed from outside the program) and tags every execution with a job
group. Each job is attributed to a *unit*: its job group (one timed
execution), or for streaming jobs its ``(query id, batch id)`` micro-batch.
Task metrics and SQL-metric accumulator updates (scan and Python-node
metrics) are summed per unit; the workload averages them over its units.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

PY_RUN = "time to run Python workers"
PY_METRICS = {
    "time to start Python workers": "python.worker_start_ms",
    "time to initialize Python workers": "python.worker_init_ms",
    PY_RUN: "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
SCAN_METRICS = {"scan time": "sources.scan_ms", "size of files read": "sources.bytes_read"}


def _metric_value(v: float, mtype: str) -> float:
    """SQL metric update in the unit PER_LAYER uses (ms for timings)."""
    return v / 1e6 if mtype == "nsTiming" else float(v)


class EventLog:
    def __init__(self, path: Path):
        self.stage_unit: dict[int, str] = {}
        self.exec_unit: dict[int, str] = {}       # sql execution id → unit
        self.accums: dict[int, tuple[str, str, str]] = {}  # id → (node, metric, type)
        self.units: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        self.task_times: dict[tuple[str, int], list[float]] = defaultdict(list)
        self.py_nodes: dict[str, set[int]] = defaultdict(set)
        self._pending_updates: list[tuple[int, list]] = []
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))
        for exec_id, updates in self._pending_updates:
            unit = self.exec_unit.get(exec_id)
            if unit is not None:
                for acc_id, value in updates:
                    self._accum(unit, acc_id, value)

    @staticmethod
    def unit_of(props: dict) -> str:
        # streaming sets its own job group (the run id), so test it first
        if props.get("sql.streaming.queryId"):
            return f"stream:{props['sql.streaming.queryId']}:{props.get('streaming.sql.batchId')}"
        return props.get("spark.jobGroup.id") or "other"

    def _plan(self, info: dict) -> None:
        for m in info.get("metrics", []):
            self.accums[m["accumulatorId"]] = (info["nodeName"], m["name"], m["metricType"])
        for c in info.get("children", []):
            self._plan(c)

    def _accum(self, unit: str, acc_id: int, value) -> None:
        meta = self.accums.get(acc_id)
        if meta is None:
            return
        node, name, mtype = meta
        key = PY_METRICS.get(name)
        if key is None and node.startswith("Scan"):
            key = SCAN_METRICS.get(name)
        if key is None:
            return
        self.units[unit][key] += _metric_value(float(value), mtype)
        if name == PY_RUN:
            self.py_nodes[unit].add(acc_id)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            unit = self.unit_of(props)
            for sid in e["Stage IDs"]:
                self.stage_unit[sid] = unit
            if "spark.sql.execution.id" in props:
                self.exec_unit[int(props["spark.sql.execution.id"])] = unit
            u = self.units[unit]
            u["spark.jobs"] += 1
            u["first_job_ms"] = min(u.get("first_job_ms") or 1e18, e["Submission Time"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            unit = self.stage_unit.get(info["Stage ID"], "other")
            self.units[unit]["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            self._pending_updates.append((e["executionId"], e["accumUpdates"]))

    def _task(self, e: dict) -> None:
        sid = e["Stage ID"]
        unit = self.stage_unit.get(sid, "other")
        u = self.units[unit]
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        u["spark.tasks"] += 1
        u["spark.executor_run_ms"] += m.get("Executor Run Time", 0)
        u["spark.executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        u["spark.gc_ms"] += m.get("JVM GC Time", 0)
        u["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        u["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        u["spark.shuffle_write_ms"] += sw.get("Shuffle Write Time", 0) / 1e6
        u["spark.shuffle_fetch_wait_ms"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
        self.task_times[(unit, sid)].append(info["Finish Time"] - info["Launch Time"])
        for acc in info.get("Accumulables", []):
            if "Update" in acc:
                self._accum(unit, acc["ID"], acc["Update"])

    def unit_metrics(self, unit: str) -> dict[str, float]:
        """Metrics of one unit; max_task_skew is the worst stage's max over
        median task duration."""
        out = {k: v for k, v in self.units.get(unit, {}).items()}
        skew = 1.0
        for (u, _), times in self.task_times.items():
            if u == unit and len(times) > 1:
                med = statistics.median(times)
                skew = max(skew, max(times) / med if med > 0 else 1.0)
        out["spark.max_task_skew"] = skew if unit in self.units else 0.0
        out["python.nodes"] = len(self.py_nodes.get(unit, ()))
        return out

    def units_matching(self, prefix: str) -> list[str]:
        return [u for u in self.units if u.startswith(prefix)]


def mean_over(units: list[dict[str, float]], keys) -> dict[str, float]:
    """Mean per unit of each key (0 when there are no units)."""
    if not units:
        return {k: 0.0 for k in keys}
    return {k: sum(u.get(k, 0.0) for u in units) / len(units) for k in keys}


SPARK_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.shuffle_write_bytes", "spark.shuffle_write_ms",
    "spark.shuffle_fetch_wait_ms", "spark.max_task_skew", "spark.gc_ms",
    "spark.spill_bytes", "sources.scan_ms", "sources.bytes_read",
    "python.nodes", *PY_METRICS.values(),
)


def python_share(m: dict[str, float]) -> float:
    init, run = m.get("python.worker_init_ms", 0.0), m.get("python.run_ms", 0.0)
    return init / (init + run) if init + run > 0 else 0.0


def find_log(log_dir: Path) -> Path | None:
    logs = sorted(p for p in log_dir.glob("*") if p.is_file() and not p.name.endswith(".inprogress"))
    return logs[-1] if logs else None


def exec_layers(r, log: EventLog | None) -> dict[str, float]:
    """Per-layer metrics of a closed-loop workload, averaged per timed
    execution: the build call's jobs plus the action's jobs."""
    execs = r.executions
    out = {"queries.build_ms": sum(e["build_ms"] for e in execs) / len(execs)}
    if log is None:
        return out
    per_exec, plan_ms = [], []
    for e in execs:
        build = log.unit_metrics(e["id"] + ":build")
        run = log.unit_metrics(e["id"] + ":run")
        m = {k: build.get(k, 0.0) + run.get(k, 0.0) for k in SPARK_KEYS}
        m["spark.max_task_skew"] = max(build["spark.max_task_skew"], run["spark.max_task_skew"])
        m["queries.build_jobs"] = build.get("spark.jobs", 0.0)
        per_exec.append(m)
        if run.get("first_job_ms"):
            plan_ms.append(run["first_job_ms"] - e["action_ms"])
    out.update(mean_over(per_exec, [*SPARK_KEYS, "queries.build_jobs"]))
    out["spark.plan_ms"] = sum(plan_ms) / len(plan_ms) if plan_ms else 0.0
    busy = sum(m["spark.executor_run_ms"] for m in per_exec)
    out["spark.core_busy_share"] = busy / (r.spark_cores * r.trace_extra["window_s"] * 1000)
    out["python.init_share"] = python_share(out)
    return out
