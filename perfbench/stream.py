"""lab_stream: the lab3 chain run live over an open-loop event generator.

One generator thread replays the ``events`` fixture as chronological
parquet slices onto a file-backed source topic. The chain starts on a
topic that holds one slice; when the last stage has started, a fixed
backlog lands on the topic at once and the chain drains it, at most
``MAX_FILES_PER_TRIGGER`` slices per micro-batch (catch-up, which gives the
throughput). After that one slice lands every ``INTERVAL`` seconds (the live
phase, which gives the latency). The chain is four
``StreamCatalog.create_table_as`` stages with a processing-time trigger,
built from the public functions the lab3 ``surge_pipeline`` uses:

    events → window_counts (tumble count per event_type, watermarked)
           → scored (ml_detect_anomalies_stream)
           → anomalies (is_anomaly filter)
           → enriched (ml_predict embedding, vector_search, ml_predict textgen)

Result latency is read from outside, like a topic consumer would: each
``scored`` row's batch is found in the file sink's ``_spark_metadata`` log,
whose commit file time is when the row became visible.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import threading
import time
from pathlib import Path

import numpy as np

from harness import Run, quantile

SLICE = 100                 # events per slice (~43 min of event time)
BACKLOG_SLICES = 100        # slices 1..100; slice 0 is on the topic from the start
MAX_FILES_PER_TRIGGER = 34  # the backlog drains over three batches
INTERVAL = 0.5              # seconds between live slices
LIVE_WARMUP = 0.3           # share of the live phase before latency counts
WINDOW_S = 300
WINDOW = "5 minutes"
WATERMARK_S = 5
TRIGGER = "100 milliseconds"
CATCHUP_TIMEOUT_S = 60
DRAIN_TIMEOUT_S = 30


class SinkReader:
    """Reads a parquet file sink's committed batches through its
    ``_spark_metadata`` log, newest first seen; remembers each row's
    commit time (the log file's mtime)."""

    def __init__(self, path: Path, columns: list[str]):
        self.log_dir = path / "_spark_metadata"
        self.columns = columns
        self.seen_batches: set[int] = set()
        self.seen_files: set[str] = set()
        self.rows: list[tuple] = []     # (*columns, commit_time)

    def poll(self) -> int:
        import pyarrow.parquet as pq

        if not self.log_dir.is_dir():
            return 0
        new = 0
        entries = sorted(
            (int(n.split(".")[0]), n) for n in os.listdir(self.log_dir)
            if not n.startswith(".") and n.split(".")[0].isdigit()
        )
        for batch, name in entries:
            if batch in self.seen_batches:
                continue
            f = self.log_dir / name
            commit = f.stat().st_mtime
            lines = f.read_text().splitlines()[1:]
            for line in lines:
                path = json.loads(line)["path"].removeprefix("file://")
                if path in self.seen_files:
                    continue
                self.seen_files.add(path)
                t = pq.read_table(path, columns=self.columns).to_pydict()
                for i in range(len(t[self.columns[0]])):
                    self.rows.append((*(t[c][i] for c in self.columns), commit))
                    new += 1
            self.seen_batches.add(batch)
        return new


class Generator(threading.Thread):
    """Writes live slices on a fixed schedule and records due and write
    times. Each slice is written under a hidden name and renamed, so the
    file source never lists a partial file."""

    def __init__(self, slices, first: int, src: Path, t0: float):
        super().__init__(name="perfbench-generator", daemon=True)
        self.slices, self.first, self.src, self.t0 = slices, first, src, t0
        self.due: dict[int, float] = {}
        self.written: dict[int, float] = {}

    def run(self) -> None:
        for j, k in enumerate(range(self.first, len(self.slices))):
            due = self.t0 + j * INTERVAL
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            write_slice(self.src, k, self.slices[k])
            self.due[k], self.written[k] = due, time.time()


def write_slice(src: Path, k: int, table) -> None:
    import pyarrow.parquet as pq

    tmp = src / f".slice-{k:05d}.tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, src / f"slice-{k:05d}.parquet")


class ProgressLog:
    """StreamingQueryListener records (traced run only)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self.records = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.append((time.time(), json.loads(event.progress.json)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()


def _ms(ts) -> int:
    """Epoch milliseconds of a naive UTC datetime (pyarrow timestamp)."""
    return int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)


def run(r: Run) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quickstart_streaming_agents_spark.sources.parquet import load_table

    live_slices = int(r.seconds / INTERVAL)
    events = pq.read_table(r.data / "events.parquet")
    n_slices = 1 + BACKLOG_SLICES + live_slices
    offset = int(np.random.default_rng(r.seed).integers(0, events.num_rows - n_slices * SLICE + 1))
    events = events.slice(offset, n_slices * SLICE)
    slices = [events.slice(k * SLICE, SLICE) for k in range(n_slices)]
    ts_ms = np.asarray(events.column("ts").cast(pa.int64())) // 1000
    slice_max = ts_ms.reshape(-1, SLICE).max(axis=1)
    etypes = events.column("event_type").to_pylist()

    spark = r.start_session()
    holder = {}

    def setup_round(i):
        t0 = time.perf_counter()
        vectors = load_table(spark, str(r.data), "embeddings")
        t1 = time.perf_counter()
        vectors.count()
        # the backlog is staged beside the topic and renamed onto it at once
        src, staged = r.run_dir / f"src{i}", r.run_dir / f"staged{i}"
        for d in (src, staged):
            shutil.rmtree(d, ignore_errors=True)
            d.mkdir(parents=True)
        write_slice(src, 0, slices[0])
        for k in range(1, 1 + BACKLOG_SLICES):
            write_slice(staged, k, slices[k])
        holder.update(vectors=vectors, src=src, staged=staged)
        return {"sources.load_tables_s": t1 - t0}

    r.setup_rounds(setup_round)
    src, staged, vectors = holder["src"], holder["staged"], holder["vectors"]
    progress = ProgressLog() if r.trace else None
    if progress:
        spark.streams.addListener(progress.listener)
    cat = None
    try:
        tc = time.perf_counter()
        cat = _chain(r, spark, src, vectors)
        r.layer["streaming.catalog.create_table_as_ms"] = (time.perf_counter() - tc) * 1000
        r.setup_once_s += time.perf_counter() - tc
        return _measure(r, spark, cat, src, staged, slices, slice_max, ts_ms, etypes,
                        progress)
    finally:
        if cat is not None:
            cat.stop_all()
        if progress:
            spark.streams.removeListener(progress.listener)


def _chain(r: Run, spark, src: Path, vectors):
    from pyspark.sql import functions as F

    from quickstart_streaming_agents_spark.functions.ml import ml_predict
    from quickstart_streaming_agents_spark.functions.vector import vector_search
    from quickstart_streaming_agents_spark.operators.windows import tumble
    from quickstart_streaming_agents_spark.registries import Model
    from quickstart_streaming_agents_spark.streaming.catalog import StreamCatalog
    from quickstart_streaming_agents_spark.streaming.ops import ml_detect_anomalies_stream

    cat = StreamCatalog(spark, str(r.run_dir / "topics"))
    for name in ("window_counts", "scored", "anomalies"):
        (r.run_dir / "topics" / name).mkdir(parents=True, exist_ok=True)
    cat.register_events_source("events", str(src))

    with r.tracer.span("ctas.window_counts", "streaming"):
        agg = tumble(
            cat.read_stream("events", max_files_per_trigger=MAX_FILES_PER_TRIGGER),
            "ts", WINDOW, keys=["event_type"],
            aggs=[F.count("*").alias("event_count")],
            watermark=f"{WATERMARK_S} seconds",
        ).select("window_start", "window_end", "window_time", "event_type", "event_count")
        cat.create_table_as("window_counts", agg, processing_time=TRIGGER)
    with r.tracer.span("ctas.scored", "streaming"):
        scored = ml_detect_anomalies_stream(
            cat.read_stream("window_counts"), metric="event_count",
            ts="window_time", keys=["event_type"],
        ).select(
            "window_time", "event_type", "event_count",
            F.col("anomaly_result.forecast_value").alias("forecast_value"),
            F.col("anomaly_result.upper_bound").alias("upper_bound"),
            F.col("anomaly_result.is_anomaly").alias("is_anomaly"),
        )
        cat.create_table_as("scored", scored, processing_time=TRIGGER)
    with r.tracer.span("ctas.anomalies", "streaming"):
        cat.create_table_as(
            "anomalies", cat.read_stream("scored").filter(F.col("is_anomaly")),
            processing_time=TRIGGER)
    with r.tracer.span("ctas.enriched", "streaming"):
        emb = Model(name="bench_embedding", task="embedding")
        gen = Model(name="bench_textgen", task="text_generation")
        a = cat.read_stream("anomalies").withColumn(
            "prompt", F.concat_ws(" ", F.lit("surge"), "event_type",
                                  F.col("event_count").cast("string"),
                                  F.col("window_time").cast("string")))
        a = a.withColumn("embedding", ml_predict(emb, "prompt"))
        hits = vector_search(a, vectors, query_col="embedding", k=3)
        enriched = hits.withColumn(
            "response", ml_predict(gen, F.concat_ws(
                " ", "prompt", F.expr("concat_ws(',', transform(search_results, x -> cast(x.vec_id AS string)))")))
        ).select("window_time", "event_type", "event_count", "response")
        cat.create_table_as("enriched", enriched, processing_time=TRIGGER)
    return cat


def _closing_slice(slice_max: np.ndarray, window_end_ms: int) -> int:
    """First slice whose event time passes the window end plus the
    watermark delay: the slice whose arrival lets the window close."""
    return int(np.searchsorted(slice_max, window_end_ms + WATERMARK_S * 1000, side="left"))


def _expected_windows(ts_ms, etypes, upto_ms: int) -> dict[tuple[int, str], int]:
    """(window_end_ms, event_type) → count, for windows the watermark at
    ``upto_ms`` (max event time seen) has closed."""
    out: dict[tuple[int, str], int] = {}
    for t, e in zip(ts_ms.tolist(), etypes):
        end = (t // (WINDOW_S * 1000) + 1) * WINDOW_S * 1000
        if end + WATERMARK_S * 1000 <= upto_ms:
            out[(end, e)] = out.get((end, e), 0) + 1
    return out


def _measure(r: Run, spark, cat, src, staged, slices, slice_max, ts_ms, etypes,
             progress) -> dict:
    t_start = time.time()
    topics = r.run_dir / "topics"
    scored = SinkReader(topics / "scored", ["window_time", "event_type", "is_anomaly"])
    counts = SinkReader(topics / "window_counts", ["window_time", "event_type"]) if r.trace else None
    backlog_windows = _expected_windows(ts_ms[:(1 + BACKLOG_SLICES) * SLICE],
                                        etypes, int(slice_max[BACKLOG_SLICES]))

    def wait_for(n_rows: int, timeout: float) -> bool:
        deadline = time.time() + timeout
        while len(scored.rows) < n_rows and time.time() < deadline:
            if not scored.poll():
                time.sleep(0.02)
            if counts:
                counts.poll()
        return len(scored.rows) >= n_rows

    with r.tracer.span("catchup", "streaming"):
        t_land = time.time()
        for k in range(1, 1 + BACKLOG_SLICES):
            os.replace(staged / f"slice-{k:05d}.parquet", src / f"slice-{k:05d}.parquet")
        caught_up = wait_for(len(backlog_windows), CATCHUP_TIMEOUT_S)
    r.check(caught_up, "catch-up did not drain the backlog")
    t_caught = max((x[-1] for x in scored.rows), default=time.time())

    gen = Generator(slices, 1 + BACKLOG_SLICES, src, time.time() + INTERVAL)
    with r.tracer.span("live", "streaming"):
        gen.start()
        live_end = gen.t0 + r.seconds
        while time.time() < live_end:
            if not scored.poll():
                time.sleep(0.02)
            if counts:
                counts.poll()
        gen.join()
    all_windows = _expected_windows(ts_ms, etypes, int(slice_max[-1]))
    with r.tracer.span("drain", "streaming"):
        drained = wait_for(len(all_windows), DRAIN_TIMEOUT_S)
        n_anom = sum(1 for x in scored.rows if x[2])
        deadline = time.time() + DRAIN_TIMEOUT_S
        while _committed_rows(topics / "enriched") < n_anom and time.time() < deadline:
            time.sleep(0.05)
    t_drained = time.time()
    r.check(drained, "live windows did not all reach scored")
    backlog = [b for t, b in _source_backlog(cat.tables["window_counts"].query, gen, t_land)
               if gen.t0 <= t <= live_end]
    r.check(bool(backlog) and backlog[-1] == 0,
            f"the chain fell behind: source backlog {backlog[-1:]} at the last live trigger")

    lat, hops, by_slice = [], [], {}
    first_counted = 1 + BACKLOG_SLICES + int(len(gen.due) * LIVE_WARMUP)
    commit_counts = {(_ms(w), e): c for w, e, c in counts.rows} if counts else {}
    for w, e, _anom, commit in scored.rows:
        end = _ms(w) + 1
        k = _closing_slice(slice_max, end)
        if k >= first_counted and k in gen.due:
            lat.append((commit - gen.due[k]) * 1000)
            by_slice.setdefault(k, []).append(lat[-1])
            if (_ms(w), e) in commit_counts:
                hops.append((commit - commit_counts[(_ms(w), e)]) * 1000)
    r.check(len(lat) > 0, "no live window results")
    cat.stop_all()
    _check_topics(r, spark, cat, src, all_windows, n_anom)

    r.trace_extra.update(
        stream={"latency_samples": len(lat), "live_slices": len(gen.due),
                "catchup_s": t_caught - t_land, "backlog_windows": len(backlog_windows),
                "windows": len(all_windows), "anomalies": n_anom,
                "latency_ms_by_slice": {k: quantile(v, 0.5) for k, v in sorted(by_slice.items())},
                "gen_late_ms": [(gen.written[k] - gen.due[k]) * 1000 for k in sorted(gen.due)]},
    )
    r.layer.update({
        "gen.slices": len(gen.due),
        "gen.late_ms_max": max((gen.written[k] - gen.due[k]) * 1000 for k in gen.due),
        "streaming.hop_ms_p50": quantile(hops, 0.5) if hops else 0.0,
        "streaming.backlog_files_max": max(backlog, default=0),
        "streaming.backlog_files_end": backlog[-1] if backlog else 0,
    })
    if progress:
        r.layer.update(_progress_metrics(progress.records))
        r.trace_extra["progress"] = [
            {"name": p.get("name"), "batch": p.get("batchId"), "at": t,
             "rows": p.get("numInputRows"), "ms": p.get("durationMs")}
            for t, p in progress.records]
    r.trace_extra["window_s"] = t_drained - t_start
    return {
        "latency_p50_ms": quantile(lat, 0.5) if lat else 0.0,
        "latency_p90_ms": quantile(lat, 0.9) if lat else 0.0,
        "throughput_per_s": BACKLOG_SLICES * SLICE / (t_caught - t_land),
    }


def _source_backlog(query, gen: Generator, t_land: float) -> list[tuple[float, int]]:
    """(trigger start, slices on the source topic at that moment which the
    trigger did not take) for every window_counts micro-batch. A trigger
    takes at most MAX_FILES_PER_TRIGGER slices, so a chain that keeps up
    leaves none behind and one that falls behind leaves more each trigger.
    The query keeps its last 100 progress updates, more than a run makes."""
    consumed, out = 0, []
    for p in sorted((json.loads(x.json) for x in query.recentProgress),
                    key=lambda p: (p["batchId"], p["timestamp"])):
        t = _iso(p["timestamp"])
        consumed += p.get("numInputRows", 0) // SLICE
        written = 1 + (BACKLOG_SLICES if t >= t_land else 0) + \
            sum(1 for w in gen.written.values() if w <= t)
        out.append((t, max(0, written - consumed)))
    return out


def _committed_rows(path: Path) -> int:
    reader = SinkReader(path, ["event_type"])
    reader.poll()
    return len(reader.rows)


def _check_topics(r: Run, spark, cat, src: Path, expected, n_anom: int) -> None:
    """window_counts must equal a batch tumble over the same slices (the
    windows the final watermark closed); scored must hold one row per
    window, and enriched one row per anomaly."""
    from pyspark.sql import functions as F

    from quickstart_streaming_agents_spark.operators.windows import tumble
    from quickstart_streaming_agents_spark.sources.parquet import normalize_event_ts

    with r.tracer.span("check", "check"):
        batch = tumble(normalize_event_ts(spark.read.parquet(str(src))), "ts", WINDOW,
                       keys=["event_type"], aggs=[F.count("*").alias("event_count")])
        got_batch = {(_ms(x.window_end), x.event_type): x.event_count
                     for x in batch.collect()}
        got_batch = {k: v for k, v in got_batch.items() if k in expected}
        topic = {(_ms(x.window_end), x.event_type): x.event_count
                 for x in cat.read_batch("window_counts").collect()}
        n_scored = cat.read_batch("scored").count()
        n_enriched = cat.read_batch("enriched").count()
    r.check(got_batch == expected, "batch tumble differs from the generated slices")
    bad = sum(1 for k in expected.keys() | topic.keys() if expected.get(k) != topic.get(k))
    r.check(bad == 0, f"{bad} window_counts rows differ from the batch tumble",
            n=max(len(expected), 1))
    r.check(n_scored == len(topic), f"scored has {n_scored} rows for {len(topic)} windows")
    r.check(n_enriched == n_anom, f"enriched has {n_enriched} rows for {n_anom} anomalies")


def _progress_metrics(records) -> dict:
    """Per-stage StreamingQueryProgress, summed or pooled over stages."""
    by_stage: dict[str, list[dict]] = {}
    for _t, p in records:
        by_stage.setdefault(p.get("name") or "?", []).append(p)
    busy = [p for ps in by_stage.values() for p in ps if p.get("numInputRows", 0) > 0]
    dur = lambda p, k: float((p.get("durationMs") or {}).get(k, 0))  # noqa: E731
    mean = lambda k: sum(dur(p, k) for p in busy) / len(busy) if busy else 0.0  # noqa: E731
    trig = [dur(p, "triggerExecution") for p in busy]
    state = [p for ps in by_stage.values() for p in ps if p.get("stateOperators")]
    last_state = {}
    for p in state:
        last_state[p["name"]] = p["stateOperators"]
    commits = [op.get("commitTimeMs", 0) for p in state if p.get("numInputRows", 0) > 0
               for op in p["stateOperators"]]
    return {
        "streaming.batches": sum(len(ps) for ps in by_stage.values()),
        "streaming.empty_batches": sum(1 for ps in by_stage.values() for p in ps
                                       if p.get("numInputRows", 0) == 0),
        "streaming.trigger_ms_p50": quantile(trig, 0.5) if trig else 0.0,
        "streaming.trigger_ms_p90": quantile(trig, 0.9) if trig else 0.0,
        "streaming.add_batch_ms": mean("addBatch"),
        "streaming.query_planning_ms": mean("queryPlanning"),
        "streaming.latest_offset_ms": mean("latestOffset"),
        "streaming.get_batch_ms": mean("getBatch"),
        "streaming.wal_commit_ms": mean("walCommit"),
        "streaming.commit_offsets_ms": mean("commitOffsets"),
        "streaming.state_rows": sum(op.get("numRowsTotal", 0) for ops in last_state.values() for op in ops),
        "streaming.state_memory_bytes": sum(op.get("memoryUsedBytes", 0) for ops in last_state.values() for op in ops),
        "streaming.state_commit_ms": sum(commits) / len(commits) if commits else 0.0,
    }


def _iso(s: str) -> float:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def layers(r: Run, log) -> dict:
    """Spark and Python-node metrics averaged per streaming micro-batch."""
    from eventlog import SPARK_KEYS, mean_over, python_share

    if log is None:
        return {}
    units = [log.unit_metrics(u) for u in log.units_matching("stream:")]
    out = mean_over(units, SPARK_KEYS)
    busy = sum(u.get("spark.executor_run_ms", 0.0) for u in units)
    out["spark.core_busy_share"] = busy / (r.spark_cores * r.trace_extra["window_s"] * 1000)
    out["python.init_share"] = python_share(out)
    return out
