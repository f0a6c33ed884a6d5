"""Streaming scale smoke: >=1M events through the stateful streaming
operators, recording per-micro-batch throughput and state-store size from
StreamingQuery progress, and ASSERTING state stays bounded (the streaming
analog of tools/scale_smoke.py's batch probe). Not part of CI — a manual
probe for "does the stateful plan hold when the stream grows":

    python tools/stream_scale_smoke.py                  # 1M events, 1M docs
    SMOKE_EVENTS=4000000 SMOKE_DOCS=2000000 python tools/stream_scale_smoke.py

Two pipelines, chosen for opposite state profiles:

  * ml_detect_anomalies_stream — per-KEY ring-buffer state
    (applyInPandasWithState). Bound: state rows == key cardinality,
    regardless of how many events flow through. A growing state row count
    here means keys are leaking.
  * pack_sequences_stream — per-BUCKET scalar state. Bound: state rows ==
    num_buckets (8), the strongest possible bounded-state contract.

Sources are written as N chronological parquet slices and streamed with
maxFilesPerTrigger=1 so the run is genuinely multi-micro-batch (state
crosses batch boundaries, exactly the production shape); sinks are noop
foreachBatch so sink I/O never pollutes the state/throughput figures.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SLICES = 10


def _iso_epoch(v) -> float | None:
    if not v:
        return None
    from datetime import datetime

    try:
        return datetime.fromisoformat(str(v).replace("Z", "+00:00")).timestamp()
    except ValueError:
        return None


def _progress_row(d: dict) -> dict | None:
    st = (d.get("stateOperators") or [{}])[0]
    if not d.get("numInputRows") and not st.get("numRowsTotal"):
        return None
    et = d.get("eventTime") or {}
    return {
        "batch": d["batchId"],
        "rows": d.get("numInputRows", 0),
        "sec": d.get("durationMs", {}).get("triggerExecution", 0) / 1e3,
        "state_rows": st.get("numRowsTotal"),
        "state_mb": round((st.get("memoryUsedBytes") or 0) / 1e6, 2),
        "wm": _iso_epoch(et.get("watermark")),
        "etmax": _iso_epoch(et.get("max")),
    }


def progress_rows(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        r = _progress_row(d)
        if r is not None:
            out.append(r)
    return out


class ProgressTap:
    """StreamingQueryListener that records every progress event by query
    name — the only way to read metrics for queries a pipeline awaits
    and releases internally (StreamCatalog.await_all drops handles)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        tap = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = json.loads(event.progress.json)
                tap.raw.setdefault(d.get("name") or d.get("id"), []).append(d)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.raw: dict[str, list[dict]] = {}
        self._listener = _L()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def rows(self, name: str) -> list[dict]:
        out = []
        for d in sorted(self.raw.get(name, []), key=lambda d: d["batchId"]):
            r = _progress_row(d)
            if r is not None:
                out.append(r)
        return out

    def close(self):
        self._spark.streams.removeListener(self._listener)


def report(name: str, prog: list[dict], state_bound: int, bound_desc: str,
           drains: bool = False) -> None:
    for p in prog:
        print(
            f"  batch {p['batch']:>3}  rows {p['rows']:>9,}  {p['sec']:7.2f}s"
            f"  state_rows {p['state_rows']}  state_mb {p['state_mb']}"
        )
    rows_total = sum(p["rows"] for p in prog)
    sec_total = sum(p["sec"] for p in prog) or 1e-9
    print(
        f"{name}: {rows_total:,} rows in {sec_total:.1f}s"
        f" = {rows_total / sec_total:,.0f} rows/s over {len(prog)} micro-batches"
    )
    peaks = [p["state_rows"] for p in prog if p["state_rows"] is not None]
    if state_bound == 0:
        # stateless contract: the plan must carry NO state operator at all
        assert not peaks, f"{name}: unexpected state operator: {peaks}"
        print(f"  stateless verified: no state store in any batch "
              f"({bound_desc})\n")
        return
    assert peaks, f"{name}: no state-operator progress recorded"
    assert max(peaks) <= state_bound, (
        f"{name}: state grew past its bound — {max(peaks):,} > {state_bound:,}"
    )
    if drains:
        # watermark-evicted profile: state must SHRINK once the stream
        # settles — a final peak means eviction never fired
        assert peaks[-1] < max(peaks), (
            f"{name}: watermark never evicted: {peaks}"
        )
    else:
        # no unbounded growth: once every key/bucket has been seen (first
        # batch — sources interleave keys round-robin), state must PLATEAU
        assert peaks[-1] == max(peaks), (
            f"{name}: state still growing at end: {peaks}"
        )
    print(f"  state bounded: peak {max(peaks):,} <= {state_bound:,} ({bound_desc})\n")


def write_slices(df, ts_col: str, slice_col, out_dir: str,
                 files: int = 2) -> None:
    """Write SLICES sequential parquet slices (increasing mtime) so the
    file stream replays them as ordered micro-batches — a file-backed
    stand-in for a Kafka topic's chronological partitions. ``files`` =
    files per slice = the micro-batch's scan parallelism (a Kafka topic's
    partition count analog) — map-only stages have no shuffle to re-fan,
    so their per-batch parallelism IS this number."""
    for k in range(SLICES):
        df.filter(slice_col == k).coalesce(files).write.mode("append").parquet(out_dir)
        time.sleep(0.05)  # distinct mtimes => deterministic file order


def smoke_anomaly(spark, events: int, workdir: str) -> None:
    from pyspark.sql import functions as F

    from quickstart_streaming_agents_spark.streaming.ops import (
        ml_detect_anomalies_stream,
    )

    nkeys = 1000
    src = f"{workdir}/events_src"
    per_slice = -(-events // SLICES)
    # JVM-side generation: round-robin keys, strictly increasing event time,
    # deterministic metric wobble; sliced by id (= by time) so the replayed
    # micro-batches are chronological (the ingest contract)
    gen = spark.range(events).select(
        F.concat(F.lit("zone_"), (F.col("id") % nkeys)).alias("zone"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000)
            + (F.col("id") / nkeys).cast("long") * 60_000_000
        ).alias("window_time"),
        (50 + ((F.col("id") * 7 + (F.col("id") % nkeys) * 13) % 11)).cast(
            "double"
        ).alias("event_count"),
        F.least(F.lit(SLICES - 1), (F.col("id") / per_slice).cast("int")).alias("slc"),
    )
    write_slices(gen, "window_time", F.col("slc"), src)

    schema = "zone string, window_time timestamp, event_count double"
    stream = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", "2").load(src)
    )
    scored = ml_detect_anomalies_stream(
        stream, metric="event_count", ts="window_time", keys=["zone"],
        min_training_size=8, max_training_size=50,
    )
    q = (
        scored.writeStream.outputMode("append")
        .foreachBatch(
            lambda df, _: df.write.format("noop").mode("overwrite").save()
        )
        .option("checkpointLocation", f"{workdir}/anom_ckpt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    report(
        f"ml_detect_anomalies_stream ({events:,} events, {nkeys} keys)",
        progress_rows(q), state_bound=nkeys,
        bound_desc="one ring buffer per key",
    )


def smoke_packing(spark, docs: int, workdir: str) -> None:
    from pyspark.sql import functions as F

    from quickstart_streaming_agents_spark.streaming.ops import pack_sequences_stream

    src = f"{workdir}/docs_src"
    per_slice = -(-docs // SLICES)
    words = ("data stream table window join the of and to in model vector "
             "agent anomaly query plan shuffle state topic schema").split()
    warr = F.array(*[F.lit(w) for w in words])
    gen = spark.range(docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(19) + (F.col("id") % 30).cast("int")),
                lambda i: F.element_at(
                    warr, ((F.col("id") * 31 + i * 7) % len(words) + 1).cast("int")
                ),
            ),
            " ",
        ).alias("text"),
        F.least(F.lit(SLICES - 1), (F.col("id") / per_slice).cast("int")).alias("slc"),
    )
    write_slices(gen, "doc_id", F.col("slc"), src)

    stream = (
        spark.readStream.schema("doc_id long, text string, slc int")
        .format("parquet").option("maxFilesPerTrigger", "2").load(src)
        .select("doc_id", "text")
    )
    packed = pack_sequences_stream(stream, seq_len=256, num_buckets=8)
    q = (
        packed.writeStream.outputMode("append")
        .foreachBatch(
            lambda df, _: df.write.format("noop").mode("overwrite").save()
        )
        .option("checkpointLocation", f"{workdir}/pack_ckpt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    report(
        f"pack_sequences_stream ({docs:,} docs, 8 buckets)",
        progress_rows(q), state_bound=8,
        bound_desc="one token-offset scalar per bucket",
    )


def smoke_maponly_gates(spark, docs: int, workdir: str) -> None:
    """The r8 stateless-gate tier at scale: ONE fused map-only stage
    chaining classifier scoring, the temperature-mix hash gate, and the
    PCA-style projection arithmetic — zero stateful operators (asserted:
    no state rows in any progress event), so throughput is pure codegen
    and restart is trivial."""
    from pyspark.sql import functions as F

    from quickstart_streaming_agents_spark.operators.sampling import (
        hash_unit,
        hashed_linear_classifier_score,
    )
    from quickstart_streaming_agents_spark.sources.synthetic import register

    register(spark)
    src = f"{workdir}/gate_src"
    gen = (
        spark.read.format("syntheticdocs")
        .option("rows", docs)
        .option("partitions", spark.sparkContext.defaultParallelism)
        .load()
        .withColumn("slc", F.least(
            F.lit(SLICES - 1),
            (F.col("doc_id") / (-(-docs // SLICES))).cast("int"),
        ))
    )
    # 16 files/slice: a map-only stage's batch parallelism equals its
    # input file count (no shuffle re-fans it) — 2 files would run the
    # fold on 2 of 32 cores and report starvation, not throughput
    write_slices(gen, "doc_id", F.col("slc"), src, files=16)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", "16").load(src)
    )
    scored = hashed_linear_classifier_score(
        stream.drop("slc"), text_col="text"
    )
    gated = scored.filter(
        F.col("keep") & (hash_unit(["doc_id"], salt="temp-mix") < 0.5)
    )
    q = (
        gated.writeStream.outputMode("append")
        .foreachBatch(
            lambda df, _: df.write.format("noop").mode("overwrite").save()
        )
        .option("checkpointLocation", f"{workdir}/gate_ckpt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    prog = progress_rows(q)
    report(
        f"fused map-only gate ({docs:,} docs)",
        prog, state_bound=0,
        bound_desc="stateless — classifier fold + hash gate, no state store",
    )


def smoke_hll_registers(spark, events: int, workdir: str) -> None:
    """Round-9 sketch tier: streaming HyperLogLog registers (update-mode
    max(rank) aggregate, operators/hll.py). THE bounded-state showcase —
    state rows are capped at strata × 2^p (5 × 256 = 1,280) no matter
    how many distinct values flow through; a cardinality-tracking job
    whose state grew with cardinality would defeat the sketch's whole
    point, so the bound is asserted, not hoped."""
    from pyspark.sql import functions as F

    from quickstart_streaming_agents_spark.operators.hll import hll_registers
    from quickstart_streaming_agents_spark.sources.synthetic import register

    register(spark)
    src = f"{workdir}/hll_src"
    gen = (
        spark.read.format("syntheticdocs")
        .option("rows", events)
        .option("partitions", spark.sparkContext.defaultParallelism)
        .load()
        .select(
            F.concat(F.lit("type"), (F.col("doc_id") % 5).cast("string"))
            .alias("event_type"),
            F.col("doc_id").cast("string").alias("v"),  # all-distinct ids
            F.col("doc_id"),
        )
        .withColumn("slc", F.least(
            F.lit(SLICES - 1),
            (F.col("doc_id") / (-(-events // SLICES))).cast("int"),
        ))
    )
    write_slices(gen, "doc_id", F.col("slc"), src, files=16)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", "16").load(src)
    )
    regs = hll_registers(stream.drop("slc", "doc_id"), "v",
                         strata=["event_type"], p=8)
    q = (
        regs.writeStream.outputMode("update")
        .foreachBatch(
            lambda df, _: df.write.format("noop").mode("overwrite").save()
        )
        .option("checkpointLocation", f"{workdir}/hll_ckpt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    prog = progress_rows(q)
    report(
        f"hll registers ({events:,} distinct values)",
        prog, state_bound=5 * 256,
        bound_desc="strata × 2^p registers — cardinality-independent",
    )


def smoke_kmins_registers(spark, events: int, workdir: str) -> None:
    """Round-10 sketch tier: streaming k-mins bottom-hash registers
    (update-mode min(h) aggregate, operators/kmv.py). Same bounded-state
    contract as the HLL twin — state rows capped at strata × k no
    matter how many distinct values flow."""
    from pyspark.sql import functions as F

    from quickstart_streaming_agents_spark.operators.kmv import (
        kmins_signature,
    )
    from quickstart_streaming_agents_spark.sources.synthetic import register

    register(spark)
    src = f"{workdir}/kmins_src"
    gen = (
        spark.read.format("syntheticdocs")
        .option("rows", events)
        .option("partitions", spark.sparkContext.defaultParallelism)
        .load()
        .select(
            F.concat(F.lit("type"), (F.col("doc_id") % 5).cast("string"))
            .alias("event_type"),
            F.col("doc_id").cast("string").alias("v"),
            F.col("doc_id"),
        )
        .withColumn("slc", F.least(
            F.lit(SLICES - 1),
            (F.col("doc_id") / (-(-events // SLICES))).cast("int"),
        ))
    )
    write_slices(gen, "doc_id", F.col("slc"), src, files=16)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", "16").load(src)
    )
    sig = kmins_signature(stream.drop("slc", "doc_id"), "v",
                          strata=["event_type"], k=64)
    q = (
        sig.writeStream.outputMode("update")
        .foreachBatch(
            lambda df, _: df.write.format("noop").mode("overwrite").save()
        )
        .option("checkpointLocation", f"{workdir}/kmins_ckpt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    prog = progress_rows(q)
    report(
        f"kmins registers ({events:,} distinct values)",
        prog, state_bound=5 * 64,
        bound_desc="strata × k registers — cardinality-independent",
    )


def smoke_contamination_fraction(spark, docs: int, workdir: str) -> None:
    """Round-10 graded contamination stream: broadcast benchmark set,
    per-doc agg with event time in the grouping key. State rows track
    in-flight docs per micro-batch (watermark-evicted), bounded by the
    docs per batch — asserted against the slice size."""
    from pyspark.sql import functions as F

    from quickstart_streaming_agents_spark.operators.decontamination import (
        _bench_shingle_set,
        _norm_shingle_hashes,
    )
    from quickstart_streaming_agents_spark.sources.synthetic import register
    from quickstart_streaming_agents_spark.streaming.ops import arrival_ts

    register(spark)
    src = f"{workdir}/cfrac_src"
    gen = (
        spark.read.format("syntheticdocs")
        .option("rows", docs)
        .option("partitions", spark.sparkContext.defaultParallelism)
        .load()
        .select(
            "doc_id", "text",
            arrival_ts("doc_id", "ms").alias("ts"),
        )
        .withColumn("slc", F.least(
            F.lit(SLICES - 1),
            (F.col("doc_id") / (-(-docs // SLICES))).cast("int"),
        ))
    )
    write_slices(gen, "doc_id", F.col("slc"), src, files=16)

    bench = _bench_shingle_set(
        spark.read.parquet(src).filter(F.col("doc_id") % 1009 == 0), "text", 8
    ).withColumn("__m", F.lit(1))

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", "16").load(src)
        .withWatermark("ts", "1 second")
    )
    shingled = _norm_shingle_hashes(
        stream, "doc_id", "text", 8, keep_cols=["ts"]
    ).select("doc_id", "ts", "h")
    per = (
        shingled.join(F.broadcast(bench), "h", "left")
        .groupBy("doc_id", "ts")
        .agg(F.count("*").alias("n_ngrams"), F.count("__m").alias("n_hits"))
    )
    q = (
        per.writeStream.outputMode("update")
        .foreachBatch(
            lambda df, _: df.write.format("noop").mode("overwrite").save()
        )
        .option("checkpointLocation", f"{workdir}/cfrac_ckpt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    prog = progress_rows(q)
    # the watermark evicts settled docs each batch, so in-flight state
    # is bounded by ~2 micro-batches of docs (current + not-yet-evicted
    # previous), NOT the corpus — the bound that matters at 100 TB
    max_batch = max((p["rows"] for p in prog), default=0)
    report(
        f"graded contamination ({docs:,} docs)",
        prog, state_bound=2 * max_batch,
        bound_desc="in-flight docs (watermark-evicted; <= 2 micro-batches)",
        drains=True,
    )


def smoke_crawl_frontier(spark, docs: int, workdir: str) -> None:
    """Round-11 robots-gate stream: static broadcast rules (997 hosts),
    per-URL min(struct) verdict with event time in the grouping key.
    Same state profile as the contamination stream — in-flight URLs per
    micro-batch, watermark-evicted."""
    from pyspark.sql import functions as F

    from quickstart_streaming_agents_spark.operators.web import (
        robots_rules_table,
    )
    from quickstart_streaming_agents_spark.sources.synthetic import register
    from quickstart_streaming_agents_spark.streaming.ops import arrival_ts

    register(spark)
    src = f"{workdir}/frontier_src"
    gen = (
        spark.read.format("syntheticdocs")
        .option("rows", docs)
        .option("partitions", spark.sparkContext.defaultParallelism)
        .load()
        .select(
            "doc_id",
            F.concat(F.lit("h"), F.col("doc_id") % 997,
                     F.lit(".example.com")).alias("host"),
            F.concat(F.lit("/p/"), F.col("doc_id") % 13,
                     F.when(F.col("doc_id") % 2 == 0, F.lit("/pub/x"))
                     .otherwise(F.lit("/y"))).alias("path"),
            arrival_ts("doc_id", "ms").alias("ts"),
        )
        .withColumn("slc", F.least(
            F.lit(SLICES - 1),
            (F.col("doc_id") / (-(-docs // SLICES))).cast("int"),
        ))
    )
    write_slices(gen, "doc_id", F.col("slc"), src, files=16)

    bodies = spark.createDataFrame(
        [(f"h{i}.example.com",
          f"User-agent: *\nDisallow: /p/{i % 4}\n"
          f"Allow: /p/{i % 4}/pub\n") for i in range(997)],
        "host string, robots_txt string",
    )
    rules = robots_rules_table(bodies).select(
        F.col("host").alias("__rhost"),
        F.col("prefix").alias("__prefix"),
        F.col("allow").alias("__allow"),
    )

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", "16").load(src)
        .withWatermark("ts", "1 second")
    )
    j = stream.join(
        F.broadcast(rules), stream["host"] == F.col("__rhost"), "left"
    ).withColumn(
        "__m",
        F.col("__prefix").isNotNull()
        & F.col("path").startswith(F.col("__prefix")),
    )
    per = (
        j.groupBy("doc_id", "host", "path", "ts")
        .agg(F.min(F.struct(
            (1 - F.col("__m").cast("int")).alias("k1"),
            (-F.coalesce(F.length("__prefix"), F.lit(0))).alias("k2"),
            (1 - F.coalesce(F.col("__allow"), F.lit(False)).cast("int"))
            .alias("k3"),
            F.col("__prefix").alias("k4"),
            F.col("__m").alias("m"),
            F.col("__allow").alias("allow"),
        )).alias("__p"))
    )
    q = (
        per.writeStream.outputMode("update")
        .foreachBatch(
            lambda df, _: df.write.format("noop").mode("overwrite").save()
        )
        .option("checkpointLocation", f"{workdir}/frontier_ckpt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    prog = progress_rows(q)
    max_batch = max((p["rows"] for p in prog), default=0)
    report(
        f"crawl frontier gate ({docs:,} urls)",
        prog, state_bound=2 * max_batch,
        bound_desc="in-flight urls (watermark-evicted; <= 2 micro-batches)",
        drains=True,
    )


def smoke_token_bucket(spark, events: int, workdir: str) -> None:
    """Round-11b politeness gate: per-host state is TWO scalars — the
    tightest bounded-state contract in the engine (state rows == host
    cardinality, bytes O(hosts), independent of event volume)."""
    from pyspark.sql import functions as F

    from quickstart_streaming_agents_spark.streaming.ops import (
        token_bucket_gate_stream,
    )

    nhosts = 1000
    src = f"{workdir}/tb_src"
    per_slice = -(-events // SLICES)
    # round-robin hosts, strictly increasing ms, deterministic jitter so
    # both verdicts fire (bursts within a host beat the refill rate)
    gen = spark.range(events).select(
        F.concat(F.lit("h"), (F.col("id") % nhosts)).alias("host"),
        F.col("id").alias("req_id"),
        (F.lit(1_700_000_000_000)
         + (F.col("id") / nhosts).cast("long") * 700
         + (F.col("id") % 7) * 13).alias("ts_ms"),
        F.least(F.lit(SLICES - 1),
                (F.col("id") / per_slice).cast("int")).alias("slc"),
    )
    write_slices(gen, "ts_ms", F.col("slc"), src)

    schema = "host string, req_id long, ts_ms long"
    stream = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", "2").load(src)
    )
    gated = token_bucket_gate_stream(
        stream, host_col="host", ts_ms_col="ts_ms", id_col="req_id",
        capacity=3, refill_mtok_per_sec=500,
    )
    q = (
        gated.writeStream.outputMode("append")
        .foreachBatch(
            lambda df, _: df.write.format("noop").mode("overwrite").save()
        )
        .option("checkpointLocation", f"{workdir}/tb_ckpt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    report(
        f"token_bucket_gate_stream ({events:,} requests, {nhosts} hosts)",
        progress_rows(q), state_bound=nhosts,
        bound_desc="two scalars per host",
    )


def smoke_preference_pairs(spark, docs: int, workdir: str) -> None:
    """Round-12 twin: DPO pair state is TWO packed BIGINTs per prompt
    (best/worst of rating*1e8+doc) — same bounded-state class as the
    token bucket, and order-insensitive (min/max), so no ingest-order
    contract at all."""
    from pyspark.sql import functions as F

    from quickstart_streaming_agents_spark.streaming.ops import (
        preference_pairs_stream,
    )

    nprompts = 10_000
    src = f"{workdir}/pp_src"
    per_slice = -(-docs // SLICES)
    gen = spark.range(docs).select(
        (F.col("id") % nprompts).alias("prompt_id"),
        F.col("id").alias("doc_id"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("rating"),
        F.least(F.lit(SLICES - 1),
                (F.col("id") / per_slice).cast("int")).alias("slc"),
    )
    write_slices(gen, "doc_id", F.col("slc"), src)

    schema = "prompt_id long, doc_id long, rating long"
    stream = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", "2").load(src)
    )
    paired = preference_pairs_stream(stream)
    q = (
        paired.writeStream.outputMode("append")
        .foreachBatch(
            lambda df, _: df.write.format("noop").mode("overwrite").save()
        )
        .option("checkpointLocation", f"{workdir}/pp_ckpt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    report(
        f"preference_pairs_stream ({docs:,} ratings, {nprompts:,} prompts)",
        progress_rows(q), state_bound=nprompts,
        bound_desc="two packed BIGINTs per prompt",
    )


def smoke_lab_chain(spark, events: int, workdir: str) -> None:
    """Round-13: the full lab3/lab4 walkthrough SHAPE as one continuous
    pipeline — tumble agg → AR anomaly state → event-time interval join
    — three CONCURRENT chained continuous queries (parquet topics
    between stages, exactly the reference's CTAS-per-stage topology)
    instead of the per-stage smokes above. What must hold, per stage,
    simultaneously while data flows end to end:

      * tumble (Q1): window-agg state ≤ zones × open windows — open =
        (per-trigger event-time span + watermark delay)/window + slack;
      * anomaly (Q2): exactly one ring buffer per zone (≤ nkeys rows),
        same bound as smoke_anomaly but now fed by a live upstream;
      * interval join (Q3): buffered rows ≤ event-rate × (join horizon
        + watermark delay + 2 trigger spans), and the state must DRAIN
        once the flush sentinel advances the watermark — a final peak
        means eviction never fired while the chain was live.

    A sentinel slice (one far-future event per zone) closes the last
    windows and drains the join buffers, so the end state is asserted,
    not hoped for.
    """
    from pyspark.sql import functions as F

    from quickstart_streaming_agents_spark.operators.windows import tumble
    from quickstart_streaming_agents_spark.streaming.ops import (
        interval_join_stream,
        ml_detect_anomalies_stream,
    )

    nkeys = 200
    window_s, delay_s, horizon_s = 60, 90, 120
    src = f"{workdir}/chain_src"
    per_slice = -(-events // SLICES)
    span_s = events // nkeys  # one event per zone per second
    slice_span_s = span_s // SLICES

    # per-window spike every 37th window so is_anomaly actually fires
    widx = (F.col("id") / nkeys).cast("long") / window_s
    gen = spark.range(events).select(
        F.concat(F.lit("zone_"), (F.col("id") % nkeys)).alias("zone"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000)
            + (F.col("id") / nkeys).cast("long") * 1_000_000
        ).alias("ts"),
        (
            50
            + ((F.col("id") * 7 + (F.col("id") % nkeys) * 13) % 11)
            + F.when(widx.cast("long") % 37 == 0, 40).otherwise(0)
        ).cast("double").alias("amount"),
        F.least(F.lit(SLICES - 1), (F.col("id") / per_slice).cast("int")).alias("slc"),
    )
    write_slices(gen, "ts", F.col("slc"), src)
    # flush sentinel: one far-future row per zone closes every window and
    # drains the join state once it reaches Q3 through the chain
    sentinel = spark.range(nkeys).select(
        F.concat(F.lit("zone_"), F.col("id")).alias("zone"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + (span_s + 600) * 1_000_000
        ).alias("ts"),
        F.lit(50.0).alias("amount"),
        F.lit(SLICES).alias("slc"),
    )
    time.sleep(0.05)
    sentinel.coalesce(1).write.mode("append").parquet(src)

    ev_schema = "zone string, ts timestamp, amount double, slc int"
    topic_a, topic_b = f"{workdir}/chain_windows", f"{workdir}/chain_anom"
    # file sources need the directory to exist before the query starts
    Path(topic_a).mkdir(parents=True, exist_ok=True)
    Path(topic_b).mkdir(parents=True, exist_ok=True)

    # Q1: raw events -> tumbling per-zone window aggregate (engine tumble,
    # window_time = end - 1ms) -> topic A
    raw1 = (
        spark.readStream.schema(ev_schema).format("parquet")
        .option("maxFilesPerTrigger", "2").load(src).drop("slc")
    )
    windows = tumble(
        raw1, "ts", f"{window_s} seconds", ["zone"],
        [F.count("*").alias("n_events"), F.avg("amount").alias("avg_amount")],
        watermark=f"{delay_s} seconds", window_time=True,
    ).select("zone", "window_time", "n_events", "avg_amount")
    q1 = (
        windows.writeStream.outputMode("append").format("parquet")
        .option("path", topic_a)
        .option("checkpointLocation", f"{workdir}/chain_q1_ckpt")
        .trigger(processingTime="1 second").queryName("chain_tumble").start()
    )

    # Q2: topic A -> per-zone AR anomaly state -> topic B
    win_schema = ("zone string, window_time timestamp, n_events long, "
                  "avg_amount double")
    astream = (
        spark.readStream.schema(win_schema).format("parquet").load(topic_a)
    )
    scored = ml_detect_anomalies_stream(
        astream, metric="avg_amount", ts="window_time", keys=["zone"],
        min_training_size=8, max_training_size=50,
    ).select(
        "zone", "window_time", "avg_amount",
        F.col("anomaly_result.is_anomaly").alias("is_anomaly"),
    )
    q2 = (
        scored.writeStream.outputMode("append").format("parquet")
        .option("path", topic_b)
        .option("checkpointLocation", f"{workdir}/chain_q2_ckpt")
        .trigger(processingTime="1 second").queryName("chain_anomaly").start()
    )

    # Q3: raw events interval-joined to anomalous windows (the lab4
    # rides-to-surge-window shape) -> noop
    raw3 = (
        spark.readStream.schema(ev_schema).format("parquet")
        .option("maxFilesPerTrigger", "2").load(src).drop("slc")
        .withWatermark("ts", f"{delay_s} seconds")
    )
    anom_schema = ("zone string, window_time timestamp, avg_amount double, "
                   "is_anomaly boolean")
    # watermark BEFORE the anomaly filter: the watermark must advance with
    # EVERY upstream window, not just the sparse anomalous ones — filtering
    # first would stall the right watermark and pin the whole left buffer
    # (observed: left state == entire stream at 120k before this ordering)
    bstream = (
        spark.readStream.schema(anom_schema).format("parquet").load(topic_b)
        .withWatermark("window_time", f"{delay_s} seconds")
        .filter(F.col("is_anomaly"))
    )
    joined = interval_join_stream(
        raw3, bstream, on=["zone"], left_ts="ts", right_ts="window_time",
        lower=f"INTERVAL {horizon_s} SECONDS", upper="INTERVAL 0 SECONDS",
        right_suffix="_w",
    )
    topic_c = f"{workdir}/chain_joined"
    q3 = (
        joined.writeStream.outputMode("append").format("parquet")
        .option("path", topic_c)
        .option("checkpointLocation", f"{workdir}/chain_q3_ckpt")
        .trigger(processingTime="1 second").queryName("chain_join").start()
    )

    # poll to drain: merge progress incrementally (recentProgress only
    # retains the last 100 events; idle 1 s ticks would evict the real
    # batches long before the cascade settles)
    queries = {"chain_tumble": q1, "chain_anomaly": q2, "chain_join": q3}
    merged: dict[str, dict[int, dict]] = {n: {} for n in queries}
    idle, deadline = 0, time.time() + 900
    while time.time() < deadline:
        fresh = 0
        for name, q in queries.items():
            for p in progress_rows(q):
                if p["rows"] and p["batch"] not in merged[name]:
                    fresh += 1
                merged[name][p["batch"]] = p
        idle = 0 if fresh else idle + 1
        if idle >= 10 and all(m for m in merged.values()):
            break
        time.sleep(2)
    for q in queries.values():
        q.stop()
    assert idle >= 10, "lab chain never drained within the 900s budget"

    def rows_of(name):
        return [merged[name][b] for b in sorted(merged[name])]

    open_windows = (2 * slice_span_s + delay_s) // window_s + 3
    report(
        f"lab chain Q1 tumble ({events:,} events, {nkeys} zones)",
        rows_of("chain_tumble"), state_bound=nkeys * open_windows,
        bound_desc=f"zones x {open_windows} open windows, drains",
        drains=True,
    )
    report(
        "lab chain Q2 anomaly (fed live by Q1)",
        rows_of("chain_anomaly"), state_bound=nkeys,
        bound_desc="one ring buffer per zone",
    )
    # Q3's buffer is governed by the GLOBAL watermark = min(left, right),
    # and the right (topic B) watermark structurally trails the raw
    # replay by the Q1->Q2 cascade lag — replay compresses event time
    # ~50x against wall clock, so a flat rows-bound would really assert
    # the machine's load, not the operator. The operator CONTRACT is:
    # retained rows <= rate x (ingest frontier - global watermark +
    # horizon + delay) at every batch — i.e. the join holds exactly what
    # the watermark still permits to match and not one slice more. A
    # broken eviction (the watermark-after-filter bug this smoke caught
    # in r13, or no eviction at all) fails this at the first batch where
    # the watermark has moved.
    q3_rows = rows_of("chain_join")
    frontier = None
    for pr in q3_rows:
        print(
            f"  batch {pr['batch']:>3}  rows {pr['rows']:>9,}  "
            f"{pr['sec']:7.2f}s  state_rows {pr['state_rows']}  "
            f"state_mb {pr['state_mb']}"
        )
        if pr["etmax"] is not None:
            frontier = max(frontier or pr["etmax"], pr["etmax"])
        if pr["state_rows"] is None or pr["wm"] is None or frontier is None:
            continue
        lag_s = max(0.0, frontier - pr["wm"])
        permitted = nkeys * (lag_s + horizon_s + delay_s + slice_span_s)
        assert pr["state_rows"] <= permitted, (
            f"lab chain Q3: state {pr['state_rows']:,} exceeds the "
            f"watermark-permitted {permitted:,.0f} rows at batch "
            f"{pr['batch']} (frontier-watermark lag {lag_s:.0f}s)"
        )
    q3_rows_total = sum(pr["rows"] for pr in q3_rows)
    q3_sec = sum(pr["sec"] for pr in q3_rows) or 1e-9
    peaks = [pr["state_rows"] for pr in q3_rows if pr["state_rows"] is not None]
    assert peaks and peaks[-1] < max(peaks), (
        f"lab chain Q3: watermark never evicted: {peaks}"
    )
    print(
        f"lab chain Q3 interval join (fed live by Q2): {q3_rows_total:,} "
        f"rows in {q3_sec:.1f}s = {q3_rows_total / q3_sec:,.0f} rows/s "
        f"over {len(q3_rows)} micro-batches"
    )
    print(
        f"  state == watermark-permitted at every batch "
        f"(rate x (frontier-watermark lag + horizon + delay)); "
        f"peak {max(peaks):,} drained to {peaks[-1]:,}\n"
    )
    # end-to-end semantic pulse: anomalous windows were produced AND
    # joined rows flowed (the chain actually carried data end to end)
    n_anom = spark.read.parquet(topic_b).filter("is_anomaly").count()
    n_join = spark.read.parquet(topic_c).count()
    assert n_anom > 0, "no anomalous windows emitted by the live chain"
    assert n_join > 0, "interval join emitted no matched rows"
    print(f"  end-to-end: {n_anom:,} anomalous windows -> {n_join:,} "
          f"joined event rows\n")


def smoke_twin_gates(spark, docs: int, workdir: str) -> None:
    """Round-13 twins at generated scale THROUGH the real pipelines
    (not re-implementations): WHATWG charset routing (pure-JVM map-only
    sniff over synthesized payloads) and margin-based bitext mining
    (frozen target corpus + backward averages, broadcast forward scorer
    per batch). Both are stateless by design — report() asserts NO
    state operator ever appears; throughput is the figure of merit."""
    from pyspark.sql import functions as F

    from quickstart_streaming_agents_spark.streaming.catalog import (
        StreamCatalog,
    )
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        bitext_stream_pipeline,
        charset_gate_stream_pipeline,
    )

    docs_path = f"{workdir}/twin_docs"
    spark.range(docs).select(F.col("id").alias("doc_id")) \
        .write.mode("overwrite").parquet(docs_path)
    cat = StreamCatalog(spark, f"{workdir}/twin_cat_cs")
    tap = ProgressTap(spark)
    t0 = time.perf_counter()
    charset_gate_stream_pipeline(cat, docs_path)
    wall = time.perf_counter() - t0
    time.sleep(2)  # listener events arrive on a background thread
    prog = tap.rows("cs_declared") + tap.rows("cs_defaulted")
    report(
        f"charset_gate_stream_pipeline ({docs:,} docs, wall {wall:.1f}s)",
        prog, state_bound=0,
        bound_desc="map-only sniff, no state by design",
    )
    n_dec = cat.read_batch("cs_declared").count()
    n_def = cat.read_batch("cs_defaulted").count()
    assert n_dec + n_def == docs, f"routing lost rows: {n_dec}+{n_def}"
    print(f"  routed: {n_dec:,} declared / {n_def:,} defaulted\n")

    # bitext: tgt side broadcast-tiny (2k), src side = the stream
    tgt_n = 2000
    emb_path = f"{workdir}/twin_embeddings"
    emb = F.transform(
        F.sequence(F.lit(1), F.lit(16)),
        lambda i: (
            F.conv(F.substring(F.md5(F.concat_ws("|", "id", i)), 1, 15),
                   16, 10).cast("double") / F.lit(float(1 << 60))
        ),
    )
    spark.range(docs).select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") < tgt_n, F.lit(5) + F.col("id") % 5)
         .otherwise(F.col("id") % 5).cast("int").alias("label"),
        emb.alias("embedding"),
    ).write.mode("overwrite").parquet(emb_path)
    cat2 = StreamCatalog(spark, f"{workdir}/twin_cat_bt")
    t0 = time.perf_counter()
    bitext_stream_pipeline(cat2, emb_path, k=4)
    wall = time.perf_counter() - t0
    time.sleep(2)
    report(
        f"bitext_stream_pipeline ({docs - tgt_n:,} src x {tgt_n} frozen "
        f"tgt, wall {wall:.1f}s incl. profile)",
        tap.rows("bitext_verdicts"), state_bound=0,
        bound_desc="frozen-profile broadcast scorer, no state by design",
    )
    tap.close()
    n_v = cat2.read_batch("bitext_verdicts").count()
    assert n_v == docs - tgt_n, f"per-src verdicts: {n_v} != {docs - tgt_n}"
    n_m = cat2.read_batch("bitext_verdicts").filter("mined").count()
    print(f"  verdicts: {n_v:,} sources, {n_m:,} mined\n")


def smoke_ivf_monitor(spark, docs: int, workdir: str) -> None:
    """Round-13: the IVF index-freshness monitor at generated scale
    THROUGH the real pipeline — per-cell UPDATE-mode changelog whose
    state is n_centroids rows (16) of two BIGINTs REGARDLESS of how
    many vectors flow: the hardest bounded-state contract next to
    pack_sequences_stream. Vectors are d=16 hash embeddings; a quarter
    stream as the NEW epoch (the pipeline's %4 split)."""
    from pyspark.sql import functions as F

    from quickstart_streaming_agents_spark.streaming.catalog import (
        StreamCatalog,
    )
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        ivf_upsert_stream_pipeline,
    )

    emb_path = f"{workdir}/ivf_vectors"
    emb = F.transform(
        F.sequence(F.lit(1), F.lit(16)),
        lambda i: (
            F.conv(F.substring(F.md5(F.concat_ws("|", "id", i)), 1, 15),
                   16, 10).cast("double") / F.lit(float(1 << 60))
        ),
    )
    spark.range(docs).select(
        F.col("id").alias("vec_id"), emb.alias("embedding")
    ).write.mode("overwrite").parquet(emb_path)

    cat = StreamCatalog(spark, f"{workdir}/ivf_cat")
    tap = ProgressTap(spark)
    t0 = time.perf_counter()
    ivf_upsert_stream_pipeline(cat, emb_path)
    wall = time.perf_counter() - t0
    time.sleep(2)
    report(
        f"ivf_upsert_stream_pipeline ({docs:,} vectors, {docs // 4:,} "
        f"streamed, wall {wall:.1f}s incl. profile)",
        tap.rows("iu_cell_totals"), state_bound=16,
        bound_desc="n_centroids cells x two BIGINTs, stream-length-free",
    )
    tap.close()
    v = cat.read_batch("iu_verdicts").collect()
    assert len(v) == 16
    flags = {r.align_degraded for r in v if r.align_degraded is not None}
    assert len(flags) >= 1
    print(f"  verdicts: 16 cells, align_degraded classes {sorted(flags)}\n")


def main() -> None:
    events = int(os.environ.get("SMOKE_EVENTS", 1_000_000))
    docs = int(os.environ.get("SMOKE_DOCS", 1_000_000))

    from quickstart_streaming_agents_spark.session import get_spark, ship_package

    spark = get_spark("stream_scale_smoke")
    ship_package(spark)
    workdir = tempfile.mkdtemp(prefix="stream_smoke_")
    t0 = time.perf_counter()
    only = os.environ.get("SMOKE_ONLY")  # substring over smoke fn names

    def run(fn, n):
        if only and only not in fn.__name__:
            return
        fn(spark, n, workdir)

    try:
        run(smoke_anomaly, events)
        run(smoke_packing, docs)
        run(smoke_maponly_gates, docs)
        run(smoke_hll_registers, events)
        run(smoke_kmins_registers, events)
        run(smoke_contamination_fraction, docs)
        run(smoke_crawl_frontier, docs)
        run(smoke_token_bucket, events)
        run(smoke_preference_pairs, docs)
        run(smoke_lab_chain, events)
        run(smoke_twin_gates, docs)
        run(smoke_ivf_monitor, docs)
        print(f"total wall: {time.perf_counter() - t0:.1f}s")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
