"""Bounded-state contracts of the streaming operators and pipelines.

A stateful query holds one row per key (bucket, cell, register), and a
watermark-keyed one drains once the watermark passes — Structured
Streaming's core guarantee. Each test reads ``StreamingQueryProgress``
and asserts its bound per micro-batch, on inputs sized so the bound
binds: at least ``MIN_BATCHES`` data micro-batches (``SLICES``
chronological parquet files, one per ``availableNow`` trigger), far
fewer keys than rows, and drains spanning many times their horizon plus
watermark delay. Progress comes from the test's own query handles or,
for pipelines (which await and drop theirs), a test-local listener.
"""

from __future__ import annotations

import json
import threading
from collections import defaultdict
from datetime import datetime
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from quickstart_streaming_agents_spark.operators.hll import hll_registers
from quickstart_streaming_agents_spark.operators.kmv import kmins_signature
from quickstart_streaming_agents_spark.operators.sampling import (
    hash_unit,
    hashed_linear_classifier_score,
)
from quickstart_streaming_agents_spark.operators.windows import tumble
from quickstart_streaming_agents_spark.session import ship_package
from quickstart_streaming_agents_spark.streaming import pipelines
from quickstart_streaming_agents_spark.streaming.catalog import (
    StreamCatalog,
    StreamTable,
)
from quickstart_streaming_agents_spark.streaming.ops import (
    interval_join_stream,
    ml_detect_anomalies_stream,
    pack_sequences_stream,
    preference_pairs_stream,
    token_bucket_gate_stream,
)

from .conftest import SF_DIR

SLICES = 6
MIN_BATCHES = 4
EPOCH_US = 1_700_000_000_000_000
DOCS = f"{SF_DIR}/documents.parquet"
EMBEDDINGS = f"{SF_DIR}/embeddings.parquet"
_WORDS = ("data stream table window join the of and to in model vector "
          "agent anomaly query plan shuffle state topic schema").split()


# -- sources, runs and progress -------------------------------------------------


def _write_slices(df, path: str) -> None:
    """One parquet file per ``slc`` value, written in order, so the file
    stream replays them as chronological micro-batches."""
    for k in range(SLICES):
        df.filter(F.col("slc") == k).drop("slc").coalesce(1) \
            .write.mode("append").parquet(path)


def _read(spark, path: str, files_per_trigger: int | None = 1):
    reader = spark.readStream.schema(spark.read.parquet(path).schema)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(files_per_trigger))
    return reader.parquet(path)


def _run(df, out: str, mode: str = "append", topic: bool = False) -> list[dict]:
    """Drain ``df`` under ``availableNow`` into a noop sink, or into the
    parquet topic ``out``; its progress."""
    w = df.writeStream.outputMode(mode).option("checkpointLocation", out + "_ckpt")
    if topic:
        w = w.format("parquet").option("path", out)
    else:
        w = w.foreachBatch(lambda b, _: b.write.format("noop").mode("overwrite").save())
    q = w.trigger(availableNow=True).start()
    assert q.awaitTermination(600), "availableNow run did not finish"
    return [json.loads(p.json) for p in q.recentProgress]


def _state_rows(p: dict) -> int | None:
    ops = p.get("stateOperators") or []
    return sum(op["numRowsTotal"] for op in ops) if ops else None


def _triggers(prog: list[dict]) -> list[dict]:
    """Triggers that read rows or hold state, in batch order."""
    prog = sorted(prog, key=lambda p: p["batchId"])
    return [p for p in prog if p.get("numInputRows") or _state_rows(p) is not None]


def _data_batches(prog: list[dict]) -> list[dict]:
    data = [p for p in _triggers(prog) if p.get("numInputRows")]
    assert len(data) >= MIN_BATCHES, f"only {len(data)} data micro-batches"
    return data


# -- contracts ------------------------------------------------------------------


def _assert_stateless(prog: list[dict]) -> None:
    _data_batches(prog)
    assert all(not p.get("stateOperators") for p in prog), "state operator present"


def _assert_capped(prog: list[dict], cap: int) -> None:
    """Never above ``cap``; full at the end (enough keys or values flowed
    to fill it)."""
    peaks = [_state_rows(p) for p in _data_batches(prog)]
    assert max(peaks) <= cap and peaks[-1] == cap, (peaks, cap)


def _assert_drains(prog: list[dict], bound: int) -> None:
    """Never above ``bound``, and smaller at the end than at the peak —
    a final peak means the watermark never evicted."""
    _data_batches(prog)
    peaks = [_state_rows(p) for p in _triggers(prog)]
    assert None not in peaks and max(peaks) <= bound, (peaks, bound)
    assert peaks[-1] < max(peaks), f"watermark never evicted: {peaks}"


# -- operators: one state row per key, bucket or register -----------------------


def _events(spark, n: int, n_keys: int = 8, step_s: int = 60):
    """``n`` events sliced by id, round-robin over ``n_keys`` keys, one
    every ``step_s`` per key: key, sequence number (and as a string ``v``),
    event time (timestamp and ms), a wobbling metric, a rating and a
    20-49 word text."""
    i = F.col("id")
    words = F.array(*[F.lit(w) for w in _WORDS])
    step = (i / n_keys).cast("long") * step_s
    return spark.range(n).select(
        F.least(F.lit(SLICES - 1), (i / -(-n // SLICES)).cast("int")).alias("slc"),
        F.concat(F.lit("k"), i % n_keys).alias("key"),
        i.alias("seq"),
        i.cast("string").alias("v"),
        F.timestamp_micros(F.lit(EPOCH_US) + step * 1_000_000).alias("ts"),
        (F.lit(EPOCH_US // 1000) + step * 1000 + (i % 7) * 13).alias("ts_ms"),
        (50 + (i * 7 + (i % n_keys) * 13) % 11).cast("double").alias("metric"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("rating"),
        F.array_join(F.transform(
            F.sequence(F.lit(0), F.lit(19) + (i % 30).cast("int")),
            lambda j: F.element_at(words, ((i * 31 + j * 7) % len(_WORDS) + 1).cast("int")),
        ), " ").alias("text"),
    )


@pytest.mark.parametrize("op", [
    lambda s: ml_detect_anomalies_stream(s, metric="metric", ts="ts", keys=["key"],
                                         min_training_size=4, max_training_size=16),
    lambda s: pack_sequences_stream(s, id_col="seq", seq_len=64, num_buckets=8),
    lambda s: token_bucket_gate_stream(s, host_col="key", id_col="seq"),
    lambda s: preference_pairs_stream(s, prompt_col="key", doc_col="seq"),
], ids=["anomaly", "packing", "token_bucket", "preference_pairs"])
def test_state_is_one_row_per_key(spark, tmp_path, op):
    """Anomaly ring buffers per key, packing offsets per bucket, token
    buckets per host, preference pairs per prompt: 8 each, 10 events per
    key per slice."""
    ship_package(spark)
    _write_slices(_events(spark, 480), str(tmp_path / "src"))
    prog = _run(op(_read(spark, str(tmp_path / "src"))), str(tmp_path / "out"))
    _assert_capped(prog, 8)


@pytest.mark.parametrize("sketch", [
    lambda s: hll_registers(s, "v", strata=["key"], p=4),
    lambda s: kmins_signature(s, "v", strata=["key"], k=16),
], ids=["hll", "kmins"])
def test_sketch_state_is_capped_at_strata_times_registers(spark, tmp_path, sketch):
    """1200 distinct values over 8 strata against 8 x 16 registers."""
    _write_slices(_events(spark, 1200), str(tmp_path / "src"))
    prog = _run(sketch(_read(spark, str(tmp_path / "src"))), str(tmp_path / "out"),
                "update")
    _assert_capped(prog, 8 * 16)


def test_map_only_gate_holds_no_state(spark, tmp_path):
    _write_slices(_events(spark, 480), str(tmp_path / "src"))
    gated = hashed_linear_classifier_score(
        _read(spark, str(tmp_path / "src")), text_col="text"
    ).filter(F.col("keep") & (hash_unit(["seq"], salt="temp-mix") < 0.5))
    _assert_stateless(_run(gated, str(tmp_path / "out")))


# -- pipelines: sliced raw topics and a test-local progress listener -------------


class _SlicedCatalog(StreamCatalog):
    """A catalog that writes every arrival-stamped raw topic (a batch
    frame with a ``ts`` column) as ``SLICES`` chronological files and
    streams every topic one file per trigger."""

    def create_table_as(self, name, df, key=None, **kw):
        if df.isStreaming or "ts" not in df.columns:
            return super().create_table_as(name, df, key=key, **kw)
        us = F.unix_micros("ts")
        lo, hi = df.agg(F.min(us), F.max(us)).first()
        path = str(self._dir(name))
        _write_slices(df.withColumn("slc", ((us - lo) / ((hi - lo) // SLICES + 1))
                                    .cast("int")), path)
        self.tables[name] = StreamTable(name=name, path=path, schema=df.schema)
        return self.tables[name]

    def read_stream(self, name, watermark=None, max_files_per_trigger=None):
        return super().read_stream(name, watermark, max_files_per_trigger or 1)


class _ProgressTap(StreamingQueryListener):
    """Progress events by query name. ``of(name)`` waits until the query's
    termination is delivered: the listener bus is asynchronous but
    ordered per query, so all its progress has arrived by then."""

    def __init__(self):
        self.progress, self.names, self.ended = defaultdict(list), {}, set()
        self.cv = threading.Condition()

    def onQueryStarted(self, event):
        self.names[str(event.id)] = event.name

    def onQueryProgress(self, event):
        d = json.loads(event.progress.json)
        self.progress[d["name"]].append(d)

    def onQueryTerminated(self, event):
        with self.cv:
            self.ended.add(self.names.get(str(event.id)))
            self.cv.notify_all()

    def of(self, name: str) -> list[dict]:
        with self.cv:
            assert self.cv.wait_for(lambda: name in self.ended, 120), name
        return self.progress[name]


@pytest.fixture()
def sliced(spark, tmp_path):
    ship_package(spark)
    cat = _SlicedCatalog(spark, str(tmp_path))
    tap = _ProgressTap()
    spark.streams.addListener(tap)
    try:
        yield cat, tap
    finally:
        spark.streams.removeListener(tap)
        cat.stop_all()


@pytest.mark.parametrize("pipeline,topic", [
    (pipelines.contamination_fraction_stream_pipeline, "contamination_graded"),
    (pipelines.crawl_frontier_stream_pipeline, "frontier_verdicts"),
], ids=["contamination_fraction", "crawl_frontier"])
def test_per_row_state_drains(sliced, pipeline, topic):
    """500 docs stamped a second apart: each trigger carries about 80 s of
    event time against the 10 s watermark delay. In flight are the
    current batch and the previous batch's rows the watermark has not
    passed yet — at most two batches."""
    cat, tap = sliced
    pipeline(cat, DOCS)
    prog = tap.of(topic)
    _assert_drains(prog, 2 * max(p["numInputRows"] for p in prog))


def test_twin_gates_hold_no_state_and_route_every_row(spark, sliced):
    cat, tap = sliced
    pipelines.charset_gate_stream_pipeline(cat, DOCS)
    _assert_stateless(tap.of("cs_declared"))
    _assert_stateless(tap.of("cs_defaulted"))
    n_dec = cat.read_batch("cs_declared").count()
    n_def = cat.read_batch("cs_defaulted").count()
    assert n_dec and n_def and n_dec + n_def == spark.read.parquet(DOCS).count()

    pipelines.bitext_stream_pipeline(cat, EMBEDDINGS, k=4)
    _assert_stateless(tap.of("bitext_verdicts"))
    n_src = spark.read.parquet(EMBEDDINGS).filter("label < 5").count()
    assert cat.read_batch("bitext_verdicts").count() == n_src


def test_ivf_monitor_state_is_capped_at_cells(sliced):
    cat, tap = sliced
    pipelines.ivf_upsert_stream_pipeline(cat, EMBEDDINGS)
    _assert_capped(tap.of("iu_cell_totals"), 16)
    verdicts = cat.read_batch("iu_verdicts").collect()
    assert len(verdicts) == 16 and {r.align_degraded for r in verdicts} - {None}


# -- the lab chain: tumble -> anomaly state -> interval join ----------------------


def _epoch_s(v: str | None) -> float:
    return datetime.fromisoformat(v.replace("Z", "+00:00")).timestamp() if v else 0.0


def test_lab_chain_state_bounded_and_drained(spark, tmp_path):
    """The lab3/lab4 shape as three chained queries over parquet topics,
    each run to completion before the next reads its topic:

    * Q1 tumble: window state <= zones x open windows, and drains;
    * Q2 anomaly: one ring buffer per zone;
    * Q3 interval join: state within what the watermark still permits
      to match, at every batch, and drains.

    4 zones emit one event a second for 30 minutes; a slice is 300 s of
    event time against a 60 s horizon plus 30 s delay. Two sentinel
    slices of far-future outliers close the last windows, then the first
    sentinel's (anomalous) windows, which move the join's watermark past
    every event."""
    ship_package(spark)
    n_keys, window_s, delay_s, horizon_s = 4, 60, 30, 60
    span_s = 30 * window_s
    slice_span_s = span_s // SLICES
    n = n_keys * span_s
    raw, topic_a, topic_b, topic_c = (str(tmp_path / d) for d in "rabc")
    # a spike in every 7th window so is_anomaly fires
    spike = F.when((F.unix_seconds("ts") / window_s).cast("long") % 7 == 6, 40)
    _write_slices(_events(spark, n, n_keys, step_s=1).select(
        "slc", F.col("key").alias("zone"), "ts",
        (F.col("metric") + F.coalesce(spike, F.lit(0))).alias("amount"),
    ), raw)
    for later_s in (600, 1200):
        spark.range(n_keys).select(
            F.concat(F.lit("k"), "id").alias("zone"),
            F.timestamp_micros(F.lit(EPOCH_US + (span_s + later_s) * 1_000_000))
            .alias("ts"),
            F.lit(5000.0).alias("amount"),
        ).coalesce(1).write.mode("append").parquet(raw)

    # Q1: raw events -> per-zone tumbling windows -> topic A
    windows = tumble(
        _read(spark, raw), "ts", f"{window_s} seconds", ["zone"],
        [F.count("*").alias("n_events"), F.avg("amount").alias("avg_amount")],
        watermark=f"{delay_s} seconds",
    ).select("zone", "window_time", "n_events", "avg_amount")
    open_windows = (2 * slice_span_s + delay_s) // window_s + 3
    _assert_drains(_run(windows, topic_a, topic=True), n_keys * open_windows)

    # Q2: topic A -> per-zone anomaly ring buffers -> topic B
    scored = ml_detect_anomalies_stream(
        _read(spark, topic_a, -(-len(list(Path(topic_a).glob("*.parquet"))) // SLICES)),
        metric="avg_amount",
        ts="window_time", keys=["zone"], min_training_size=8, max_training_size=50,
    ).select("zone", "window_time", "avg_amount",
             F.col("anomaly_result.is_anomaly").alias("is_anomaly"))
    _assert_capped(_run(scored, topic_b, topic=True), n_keys)

    # Q3: raw events interval-joined to the anomalous windows. Topic B is
    # complete, so it is read whole in the first trigger. The optimizer
    # pushes the anomaly filter below the right watermark (the filter
    # does not read window_time), so that watermark moves only with
    # anomalous windows.
    joined = interval_join_stream(
        _read(spark, raw).withWatermark("ts", f"{delay_s} seconds"),
        _read(spark, topic_b, None)
        .withWatermark("window_time", f"{delay_s} seconds")
        .filter(F.col("is_anomaly")),
        on=["zone"], left_ts="ts", right_ts="window_time",
        lower=f"INTERVAL {horizon_s} SECONDS", upper="INTERVAL 0 SECONDS",
        right_suffix="_w",
    )
    q3 = _run(joined, topic_c, topic=True)
    # The join holds what the watermark still permits to match and one
    # slice more: rate x (frontier - watermark + horizon + delay + slice).
    frontier = 0.0
    for p in _triggers(q3):
        et = p.get("eventTime") or {}
        frontier = max(frontier, _epoch_s(et.get("max")))
        wm = _epoch_s(et.get("watermark"))
        if wm and _state_rows(p) is not None:  # skips the unset (epoch 0) one
            permitted = n_keys * (frontier - wm + horizon_s + delay_s + slice_span_s)
            assert _state_rows(p) <= permitted, (p["batchId"], _state_rows(p), permitted)
    _assert_drains(q3, n)

    assert spark.read.parquet(topic_b).filter("is_anomaly").count() > 0
    assert spark.read.parquet(topic_c).count() > 0, "no joined rows"
