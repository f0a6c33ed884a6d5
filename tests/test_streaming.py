"""Streaming layer tests: CTAS catalog, watermarked tumble append-mode
emission, stateful anomaly parity with the batch operator, interval join,
streaming LIMIT, and the lab-shaped end-to-end chains."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quickstart_streaming_agents_spark.operators.anomaly import ml_detect_anomalies
from quickstart_streaming_agents_spark.operators.windows import tumble
from quickstart_streaming_agents_spark.session import ship_package
from quickstart_streaming_agents_spark.streaming.catalog import StreamCatalog
from quickstart_streaming_agents_spark.streaming.pipelines import (
    fraud_pipeline,
    surge_pipeline,
)

from .conftest import SF_DIR

EVENTS = f"{SF_DIR}/events.parquet"


@pytest.fixture()
def catalog(spark, tmp_path):
    ship_package(spark)
    cat = StreamCatalog(spark, str(tmp_path))
    yield cat
    cat.stop_all()


def _emitted_windows_batch(spark, window, watermark_s=5, aggs=None):
    """Batch-compute the windows a watermarked append-mode stream emits:
    only windows whose end <= final watermark (max event time - delay)."""
    from quickstart_streaming_agents_spark.sources.parquet import load_table

    events = load_table(spark, SF_DIR, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    agg = tumble(
        events, "ts", window, keys=["event_type"],
        aggs=aggs or [F.count("*").alias("event_count")],
    )
    return agg.filter(
        F.col("window_end") <= F.lit(max_ts) - F.expr(f"INTERVAL {watermark_s} SECONDS")
    )


def test_ctas_roundtrip_batch(spark, catalog):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    catalog.create_table_as("t0", df)
    back = catalog.read_batch("t0")
    assert sorted((r.id, r.v) for r in back.collect()) == \
        sorted((r.id, r.v) for r in df.collect())
    assert "t0" in catalog.describe()


def test_streaming_tumble_matches_batch(spark, catalog):
    catalog.register_events_source("events", EVENTS)
    ev = catalog.read_stream("events")
    agg = tumble(
        ev, "ts", "1 hour", keys=["event_type"],
        aggs=[F.count("*").alias("event_count")],
        watermark="5 seconds",
    ).select("window_start", "event_type", "event_count")
    catalog.create_table_as("counts", agg, available_now=True)
    catalog.await_all()

    got = {(r.window_start, r.event_type): r.event_count
           for r in catalog.read_batch("counts").collect()}
    want = {(r.window_start, r.event_type): r.event_count
            for r in _emitted_windows_batch(spark, "1 hour")
            .select("window_start", "event_type", "event_count").collect()}
    assert got == want
    assert len(got) > 0


def test_stateful_anomaly_matches_batch_operator(spark, catalog):
    """Single availableNow pass: streaming AR detector must produce the
    identical flags/bounds as the batch applyInPandas operator on the same
    (chronologically fed) window series."""
    catalog.register_events_source("events", EVENTS)
    surge_pipeline(catalog, EVENTS, window="1 hour")

    got = catalog.read_batch("scored")
    emitted = _emitted_windows_batch(spark, "1 hour") \
        .select("window_time", "event_type", "event_count")
    want_scored = ml_detect_anomalies(
        emitted, metric="event_count", ts="window_time", keys=["event_type"],
        min_training_size=8, max_training_size=50, confidence_percentage=95.0,
        detector="ar",
    ).select(
        "window_time", "event_type", "event_count",
        F.col("anomaly_result.upper_bound").alias("upper_bound"),
        F.col("anomaly_result.is_anomaly").alias("is_anomaly"),
    )
    gm = {(r.window_time, r.event_type): (r.is_anomaly, r.upper_bound)
          for r in got.collect()}
    wm = {(r.window_time, r.event_type): (r.is_anomaly, r.upper_bound)
          for r in want_scored.collect()}
    assert set(gm) == set(wm)
    for k, (anom, up) in wm.items():
        g_anom, g_up = gm[k]
        assert g_anom == anom, k
        if up is None:
            assert g_up is None, k
        else:
            assert g_up == pytest.approx(up, rel=1e-9), k

    # anomalies topic = is_anomaly & above upper bound, subset of scored
    anoms = catalog.read_batch("anomalies").collect()
    for r in anoms:
        assert r.is_anomaly and r.event_count > r.upper_bound


def test_fraud_pipeline_interval_join_and_limit(spark, catalog):
    fraud_pipeline(catalog, EVENTS, window="6 hours", limit=7)
    inv = catalog.read_batch("to_investigate").collect()
    assert len(inv) <= 7
    anoms = {(r.window_time, r.event_type)
             for r in catalog.read_batch("anomalies6h").collect()}
    if anoms:  # investigation rows must come from anomalous (window, key)s
        assert len(inv) > 0
        for r in inv:
            assert (r.window_time, r.event_type) in anoms
            assert r.ts <= r.window_time


def test_streaming_limit_caps_across_batches(spark, catalog):
    # feed the same source twice through a 2-file-per-trigger stream; LIMIT 5
    # must cap the union across micro-batches, not per batch
    catalog.register_events_source("events", EVENTS)
    ev = catalog.read_stream("events", max_files_per_trigger=1)
    from quickstart_streaming_agents_spark.streaming.ops import StreamingLimit

    lim = StreamingLimit(5)
    catalog.create_table_foreach_batch("first5", ev, lim, schema=ev.schema,
                                       available_now=True)
    catalog.await_all()
    assert catalog.read_batch("first5").count() == 5


def test_rag_stream_pipeline_semantics(spark, catalog):
    """Lab-2 semantic assertions (testing/e2e/test_lab2.py:73-136 analog):
    every query gets an embedding, >=1 search result, non-empty response."""
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        rag_stream_pipeline,
    )

    rag_stream_pipeline(
        catalog,
        documents_path=f"{SF_DIR}/documents.parquet",
        embeddings_path=f"{SF_DIR}/embeddings.parquet",
        n_queries=10,
    )
    n_queries = catalog.read_batch("queries").count()
    assert n_queries == 10
    assert catalog.read_batch("queries_embed").count() == n_queries
    results = catalog.read_batch("search_results_response").collect()
    assert len(results) == n_queries
    for r in results:
        assert r.top_match_id is not None
        assert r.top_score is not None
        assert r.response  # non-empty RAG answer
        assert r.response.startswith("FAKE[fake_textgen]:")


def test_price_match_stream_pipeline_semantics(spark, catalog):
    """Lab-1 semantic assertions (testing/e2e/test_lab1.py:262-288 analog):
    price_match_results actually has messages, one per order, with a valid
    parsed verdict — 'agent RUNNING' alone would miss silent tool failures."""
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        price_match_stream_pipeline,
    )

    price_match_stream_pipeline(
        catalog,
        orders_path=f"{SF_DIR}/orders.parquet",
        customer_path=f"{SF_DIR}/customer.parquet",
        max_orders=20,
    )
    results = catalog.read_batch("price_match_results").collect()
    assert len(results) == 20  # exactly-once per order (append mode, ST4)
    for r in results:
        assert r.status == "SUCCESS"
        assert r.decision in ("PRICE_MATCH", "NO_MATCH")
        assert "TOOL_RESULT" not in r.decision

    # S12: drop the chain's head; re-register is then allowed
    catalog.drop_table("orders", delete_data=True)
    assert "orders" not in catalog.tables


def test_engine_catalog_drop_and_describe(spark):
    from quickstart_streaming_agents_spark.registries import EngineCatalog

    cat = EngineCatalog()
    cat.create_model("m", provider="fake", task="text_generation")
    cat.create_tool("t", allowed_tools=("http_get",))
    cat.create_agent("a", model="m", prompt="p", tools=())
    assert cat.describe()["agents"] == ["a"]
    cat.drop_agent("a")
    cat.drop_tool("t")
    cat.drop_model("m")
    assert cat.describe() == {"connections": [], "models": [], "tools": [],
                              "agents": []}


def test_stateful_anomaly_state_survives_restart(spark, catalog, tmp_path):
    """Feed the window series in two chronological halves through two
    availableNow runs sharing one checkpoint: the second run must restore
    the ring-buffer state and continue exactly where batch processing of
    the full series would be."""
    import shutil

    from quickstart_streaming_agents_spark.streaming.ops import (
        ml_detect_anomalies_stream,
    )

    # materialize the full window series, chronologically split in two
    emitted = _emitted_windows_batch(spark, "1 hour") \
        .select("window_time", "event_type", "event_count").cache()
    mid = emitted.selectExpr("percentile(CAST(window_time AS DOUBLE), 0.5) p") \
        .collect()[0].p
    src_dir = tmp_path / "wsrc"
    emitted.filter(F.unix_timestamp("window_time") <= mid) \
        .coalesce(1).write.mode("append").parquet(str(src_dir))

    def run_once():
        counts = (spark.readStream.schema(emitted.schema).format("parquet")
                  .load(str(src_dir)))
        scored = ml_detect_anomalies_stream(
            counts, metric="event_count", ts="window_time",
            keys=["event_type"], min_training_size=8, max_training_size=50,
            confidence_percentage=95.0,
        ).select(
            "window_time", "event_type", "event_count",
            F.col("anomaly_result.upper_bound").alias("upper_bound"),
            F.col("anomaly_result.is_anomaly").alias("is_anomaly"),
        )
        q = (scored.writeStream.format("parquet").outputMode("append")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()  # first half
    emitted.filter(F.unix_timestamp("window_time") > mid) \
        .coalesce(1).write.mode("append").parquet(str(src_dir))
    run_once()  # second half, state restored from checkpoint

    got = spark.read.parquet(str(tmp_path / "out"))
    want = ml_detect_anomalies(
        emitted, metric="event_count", ts="window_time", keys=["event_type"],
        min_training_size=8, max_training_size=50, confidence_percentage=95.0,
        detector="ar",
    ).select(
        "window_time", "event_type", "event_count",
        F.col("anomaly_result.upper_bound").alias("upper_bound"),
        F.col("anomaly_result.is_anomaly").alias("is_anomaly"),
    )
    gm = {(r.window_time, r.event_type): (r.is_anomaly, r.upper_bound)
          for r in got.collect()}
    wm = {(r.window_time, r.event_type): (r.is_anomaly, r.upper_bound)
          for r in want.collect()}
    emitted.unpersist()
    shutil.rmtree(src_dir, ignore_errors=True)
    assert set(gm) == set(wm)
    mismatch = [k for k in wm
                if gm[k][0] != wm[k][0]
                or (wm[k][1] is not None
                    and gm[k][1] != pytest.approx(wm[k][1], rel=1e-9))]
    assert not mismatch, mismatch[:5]


def test_streaming_session_window(spark, catalog):
    """session_window works in streaming append mode with a watermark;
    emitted sessions match the batch computation for sessions closed by
    the final watermark."""
    catalog.register_events_source("events", EVENTS)
    ev = catalog.read_stream("events", watermark=("ts", "5 seconds"))
    sess = (
        ev.groupBy(F.session_window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "event_type", "n",
        )
    )
    catalog.create_table_as("sessions", sess, available_now=True)
    catalog.await_all()
    got = {(r.session_start, r.event_type): r.n
           for r in catalog.read_batch("sessions").collect()}

    from quickstart_streaming_agents_spark.sources.parquet import load_table

    events = load_table(spark, SF_DIR, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    want_df = (
        events.groupBy(F.session_window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "event_type", "n")
        .filter(F.col("session_end")
                <= F.lit(max_ts) - F.expr("INTERVAL 5 SECONDS"))
    )
    want = {(r.session_start, r.event_type): r.n for r in want_df.collect()}
    assert got == want
    assert len(got) > 0


def test_streaming_dedup_matches_batch(spark, catalog):
    """dropDuplicatesWithinWatermark with a horizon covering the whole
    fixture must agree exactly with batch first-arrival dedup."""
    from quickstart_streaming_agents_spark.sources.parquet import load_table
    from quickstart_streaming_agents_spark.streaming.ops import dedup_exact_stream

    catalog.register_events_source("events", EVENTS)
    ev = catalog.read_stream("events")
    keys = ["event_type", "user_id"]
    deduped = dedup_exact_stream(ev, keys, "ts", delay="2 days")
    catalog.create_table_as("events_dedup", deduped, available_now=True)
    catalog.await_all()

    got = catalog.read_batch("events_dedup")
    want_n = load_table(spark, SF_DIR, "events").select(*keys).distinct().count()
    assert got.count() == want_n > 0
    # one row per key — no duplicate survived
    assert got.select(*keys).distinct().count() == want_n


def test_curation_stream_pipeline_matches_batch(spark, catalog):
    """Streaming curation (score → gate → watermark dedup) must emit the
    same curated set as the batch curation_pipeline query: fixtures arrive
    in doc_id order, so streaming first-arrival == batch min-doc_id."""
    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        curation_stream_pipeline,
    )

    curation_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet", watermark="1 day"
    )
    got = {
        (r.doc_id, r.lang_pred, r.quality, r.n_tokens)
        for r in catalog.read_batch("curated_docs").collect()
    }
    want = {
        (r.doc_id, r.lang_pred, r.quality, r.n_tokens)
        for r in QUERIES["curation_pipeline"](spark, SF_DIR).collect()
    }
    assert got == want
    assert len(got) > 0


def test_streaming_asof_join_matches_batch(spark, catalog):
    """Streaming as-of join (union + keyed state) must equal the batch
    asof_join on the chronologically-sorted events fixture."""
    from quickstart_streaming_agents_spark.operators.asof import asof_join
    from quickstart_streaming_agents_spark.sources.parquet import load_table
    from quickstart_streaming_agents_spark.streaming.ops import asof_join_stream

    catalog.register_events_source("events", EVENTS)
    ev_s = catalog.read_stream("events")
    probe_s = ev_s.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    build_s = ev_s.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_event_id"), "value"
    )
    joined = asof_join_stream(
        probe_s, build_s, on=["user_id"],
        right_cols=["view_event_id", "value"], suffix="_view",
    )
    catalog.create_table_as("asof_out", joined, available_now=True)
    catalog.await_all()
    got = {
        (r.event_id, r.view_event_id_view, r.value_view)
        for r in catalog.read_batch("asof_out").collect()
    }

    ev = load_table(spark, SF_DIR, "events")
    probe = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    build = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_event_id"), "value"
    )
    want = {
        (r.event_id, r.view_event_id_view, r.value_view)
        for r in asof_join(
            probe, build, on=["user_id"],
            right_cols=["view_event_id", "value"], suffix="_view",
            right_tiebreak="view_event_id",
        ).collect()
    }
    assert got == want
    assert len(got) > 0


def test_stateless_curation_ops_compose_with_streams(spark, catalog):
    """chunking / PII / sampling are pure expression chains, so the same
    operator code runs unchanged on a streaming DataFrame (map-only ops
    need no state, no watermark)."""
    from quickstart_streaming_agents_spark.functions.text import pii_redact
    from quickstart_streaming_agents_spark.operators.chunking import chunk_documents
    from quickstart_streaming_agents_spark.operators.sampling import (
        deterministic_sample,
    )
    from quickstart_streaming_agents_spark.sources.parquet import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    catalog.create_table_as("docs_topic", docs)

    stream = catalog.read_stream("docs_topic")
    chunked = chunk_documents(
        deterministic_sample(stream, ["doc_id"], 0.5, "s"),
        id_cols=["doc_id"],
    ).withColumn("chunk", pii_redact("chunk"))
    catalog.create_table_as("chunks_topic", chunked, available_now=True)
    catalog.await_all()

    got = {
        (r.doc_id, r.chunk_id, r.chunk)
        for r in catalog.read_batch("chunks_topic").collect()
    }
    want = {
        (r.doc_id, r.chunk_id, r.chunk)
        for r in chunk_documents(
            deterministic_sample(docs, ["doc_id"], 0.5, "s"), id_cols=["doc_id"]
        ).withColumn("chunk", pii_redact("chunk")).collect()
    }
    assert got == want and len(got) > 0


def test_keyword_search_stream_matches_batch(spark, catalog):
    """Streaming broadcast-BM25 (map-only, append) must equal the batch
    bm25_topk over the same seeded query set."""
    from quickstart_streaming_agents_spark.operators.retrieval import bm25_topk
    from quickstart_streaming_agents_spark.sources.parquet import load_table
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        keyword_search_stream_pipeline,
    )
    import pyspark.sql.functions as F

    keyword_search_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet", n_queries=12, k=4
    )
    got = {
        (r.query_id, r.doc_id, r.rank, r.score)
        for r in catalog.read_batch("keyword_results").collect()
    }
    docs = load_table(spark, SF_DIR, "documents")
    queries = docs.limit(12).select(
        F.col("doc_id").alias("query_id"),
        F.substring("text", 1, 40).alias("query_text"),
    )
    want = {
        (r.query_id, r.doc_id, r.rank, r.score)
        for r in bm25_topk(docs, queries, k=4).collect()
    }
    assert got == want
    assert len(got) > 0


def test_funnel_stream_matches_batch(spark, catalog):
    """Streaming funnel transition changelog must reconstruct the batch
    event_funnel snapshot: same max stage and same per-step timestamps."""
    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.streaming.ops import funnel_stream

    catalog.register_events_source("events", EVENTS)
    ev = catalog.read_stream("events")
    out = funnel_stream(ev, ["view", "click", "purchase"])
    catalog.create_table_as("funnel_transitions", out, available_now=True)
    catalog.await_all()

    trans = catalog.read_batch("funnel_transitions").collect()
    got: dict = {}
    for r in trans:
        cur = got.setdefault(r.user_id, {})
        assert r.stage not in cur, "duplicate transition emitted"
        cur[r.stage] = (r.step, r.step_ts)

    want = {r.user_id: r for r in QUERIES["event_funnel"](spark, SF_DIR).collect()}
    assert set(got) == set(want)
    for uid, w in want.items():
        g = got[uid]
        assert len(g) == w.stage
        assert g[1] == ("view", w.t_view)
        if w.stage >= 2:
            assert g[2] == ("click", w.t_click)
        if w.stage >= 3:
            assert g[3] == ("purchase", w.t_purchase)


def test_funnel_state_survives_restart(spark, tmp_path):
    """Two availableNow runs over chronological halves of the event stream,
    sharing one checkpoint: restored (stage, last_ts) state must yield the
    exact transition set of a single batch pass."""
    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.sources.parquet import load_table
    from quickstart_streaming_agents_spark.streaming.ops import funnel_stream

    events = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_type"
    ).cache()
    mid = events.selectExpr("percentile(CAST(ts AS DOUBLE), 0.5) p").collect()[0].p
    src_dir = tmp_path / "esrc"
    events.filter(F.unix_timestamp("ts") <= mid).coalesce(1) \
        .write.mode("append").parquet(str(src_dir))

    def run_once():
        ev = (spark.readStream.schema(events.schema).format("parquet")
              .load(str(src_dir)))
        out = funnel_stream(ev, ["view", "click", "purchase"])
        q = (out.writeStream.format("parquet").outputMode("append")
             .option("path", str(tmp_path / "fout"))
             .option("checkpointLocation", str(tmp_path / "fckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    events.filter(F.unix_timestamp("ts") > mid).coalesce(1) \
        .write.mode("append").parquet(str(src_dir))
    run_once()

    got = {
        (r.user_id, r.stage, r.step, r.step_ts)
        for r in spark.read.parquet(str(tmp_path / "fout")).collect()
    }
    want = set()
    for r in QUERIES["event_funnel"](spark, SF_DIR).collect():
        want.add((r.user_id, 1, "view", r.t_view))
        if r.stage >= 2:
            want.add((r.user_id, 2, "click", r.t_click))
        if r.stage >= 3:
            want.add((r.user_id, 3, "purchase", r.t_purchase))
    assert got == want and len(got) > 0


def test_decontamination_stream_matches_batch(spark, catalog):
    """The streaming quarantine feed must flag exactly the docs the batch
    contamination rule flags (stream side is map-only + broadcast; state
    is one watermark-bounded distinct on doc_id)."""
    from quickstart_streaming_agents_spark.operators.decontamination import (
        contamination_flags,
    )
    from quickstart_streaming_agents_spark.sources.parquet import load_table
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        decontamination_stream_pipeline,
    )

    decontamination_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet", watermark="1 day"
    )
    got = {
        r.doc_id for r in catalog.read_batch("contaminated_docs").collect()
    }
    docs = load_table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    want = {
        r.doc_id
        for r in contamination_flags(docs, bench, n=13)
        .filter("contaminated")
        .select("doc_id")
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_streaming_packing_matches_batch(spark, catalog):
    """Continuous packing must produce the identical (doc, sequence)
    assignment as the batch operator on chronologically-ingested docs —
    state is one offset scalar per bucket."""
    from quickstart_streaming_agents_spark.operators.packing import pack_sequences
    from quickstart_streaming_agents_spark.sources.parquet import load_table
    from quickstart_streaming_agents_spark.streaming.ops import (
        arrival_ts,
        pack_sequences_stream,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    stamped = docs.withColumn("ts", arrival_ts("doc_id", "ms"))
    catalog.create_table_as("pack_raw_docs", stamped)
    packed = pack_sequences_stream(
        catalog.read_stream("pack_raw_docs"), seq_len=64, num_buckets=4
    )
    catalog.create_table_as("packed_docs", packed, available_now=True)
    catalog.await_all()
    got = sorted(
        tuple(r) for r in catalog.read_batch("packed_docs").collect()
    )
    want = sorted(
        tuple(r)
        for r in pack_sequences(docs, seq_len=64, num_buckets=4).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_packing_state_survives_restart(spark, tmp_path):
    """Two availableNow runs over doc-id halves sharing one checkpoint:
    the restored per-bucket offsets must continue the token stream
    exactly, so the union equals one batch pass over all docs."""
    from quickstart_streaming_agents_spark.operators.packing import pack_sequences
    from quickstart_streaming_agents_spark.sources.parquet import load_table
    from quickstart_streaming_agents_spark.streaming.ops import pack_sequences_stream

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").cache()
    mid = docs.selectExpr("percentile(doc_id, 0.5) p").collect()[0].p
    src_dir = tmp_path / "dsrc"
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.mode("append") \
        .parquet(str(src_dir))

    def run_once():
        stream = (
            spark.readStream.schema(docs.schema).format("parquet")
            .load(str(src_dir))
        )
        packed = pack_sequences_stream(stream, seq_len=64, num_buckets=4)
        q = (
            packed.writeStream.format("parquet").outputMode("append")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    run_once()
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.mode("append") \
        .parquet(str(src_dir))
    run_once()

    got = sorted(tuple(r) for r in spark.read.parquet(str(tmp_path / "out")).collect())
    want = sorted(
        tuple(r) for r in pack_sequences(docs, seq_len=64, num_buckets=4).collect()
    )
    assert got == want and len(got) > 0


def test_interval_join_stream_rejects_silent_column_collisions(spark):
    from quickstart_streaming_agents_spark.streaming.ops import interval_join_stream

    l = spark.createDataFrame([(1, None, 1.0)], "k long, ts timestamp, value double") \
        .withColumn("ts", F.current_timestamp()).withWatermark("ts", "1 minute")
    r = spark.createDataFrame([(1, None, 2.0)], "k long, ts timestamp, value double") \
        .withColumn("ts", F.current_timestamp()).withWatermark("ts", "1 minute")
    import pytest
    with pytest.raises(ValueError, match="right_suffix"):
        interval_join_stream(l, r, on=["k"], left_ts="ts", right_ts="ts")
    out = interval_join_stream(
        l, r, on=["k"], left_ts="ts", right_ts="ts", right_suffix="_r"
    )
    assert set(out.columns) == {"k", "ts", "value", "ts_r", "value_r"}


def test_streaming_asof_null_probe_ts_gets_null_payload(spark, catalog):
    """A probe row with a null event time must flow through with a null
    match (the batch twin's null-first sort semantics), not crash the
    stateful operator."""
    from quickstart_streaming_agents_spark.streaming.ops import asof_join_stream

    probe = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00", 10.0), (1, None, 99.0)],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    build = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7.0), (1, None, -1.0)],
        "user_id long, ts string, quote double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    catalog.create_table_as("asof_np_probe", probe)
    catalog.create_table_as("asof_np_build", build)
    joined = asof_join_stream(
        catalog.read_stream("asof_np_probe"),
        catalog.read_stream("asof_np_build"),
        on=["user_id"],
    )
    catalog.create_table_as("asof_np_out", joined, available_now=True)
    catalog.await_all()
    rows = {r.value: r for r in catalog.read_batch("asof_np_out").collect()}
    assert rows[10.0].quote_asof == 7.0      # normal match
    assert rows[99.0].quote_asof is None     # null-ts probe: null payload
    assert len(rows) == 2                    # null-ts build row dropped


def test_ctas_key_partitions_the_sink(spark, catalog):
    """ST5: a keyed CTAS lays the topic out partitioned by the key, so a
    per-key read prunes directories (PartitionFilters on the scan)."""
    import os

    ev = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)],
        "event_id long, event_type string, value double",
    )
    t = catalog.create_table_as("keyed_topic", ev, key="event_type")
    subdirs = [d for d in os.listdir(t.path) if d.startswith("event_type=")]
    assert sorted(subdirs) == ["event_type=a", "event_type=b"]
    got = catalog.read_batch("keyed_topic").filter(F.col("event_type") == "a")
    assert got.count() == 2


def test_token_mix_stream_matches_batch(spark, catalog):
    """Streaming token-budget mixing (profiled rates + map-only filter)
    must keep exactly the batch token_budget_mix set: same rates, same
    identity hash, same accept/reject per row."""
    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        token_mix_stream_pipeline,
    )

    weights = {f"src{i}": (1.0 if i < 10 else 3.0) for i in range(20)}
    token_mix_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet",
        weights=weights, budget=6000,
    )
    got = {
        (r.doc_id, r.source, r.n_tokens)
        for r in catalog.read_batch("mixed_docs").collect()
    }
    want = {
        (r.doc_id, r.source, r.n_tokens)
        for r in QUERIES["token_budget_mix"](spark, SF_DIR).collect()
    }
    assert got == want
    assert len(got) > 0


def test_line_dedup_stream_matches_batch(spark, catalog):
    """Streaming line dedup (first arrival per line within the watermark +
    windowed reassembly) must equal the batch line_dedup_clean query on
    the doc_id-ordered fixture, where first arrival == min (doc_id, pos)."""
    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        line_dedup_stream_pipeline,
    )

    line_dedup_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet"
    )
    got = {
        (r.doc_id, r.text, r.n_lines_kept)
        for r in catalog.read_batch("line_deduped_docs").collect()
    }
    want = {
        (r.doc_id, r.text, r.n_lines_kept)
        for r in QUERIES["line_dedup_clean"](spark, SF_DIR).collect()
    }
    assert got == want
    assert len(got) > 0


def test_update_mode_changelog_vs_append(spark, catalog, tmp_path):
    """ST4, both halves: the reference's DEFAULT CTAS emission is
    changelog/update — ``changelog.mode=append`` is an override it applies
    to agent-feeding tables (LAB3-Walkthrough.md:226 in /root/reference).
    Drive the lab3-shaped tumble (1-day buckets — dense enough at this SF
    that the split-straddling window provably has events on both sides)
    through TWO availableNow runs over chronological halves of the events
    fixture, once per mode, and pin the emission-set distinction:

      * append + watermark: each window emitted AT MOST ONCE, and windows
        the final watermark has not closed are suppressed entirely;
      * update (changelog): a window RE-EMITS when a later batch changes
        its aggregate, no window is suppressed, and compacting the
        changelog (latest emission per window) reproduces the batch
        aggregate over ALL windows — including the tail windows append
        never shows.
    """
    from quickstart_streaming_agents_spark.sources.parquet import load_table

    events = load_table(spark, SF_DIR, "events") \
        .select("ts", "event_type").cache()
    # split point chosen INSIDE the densest (day, type) window, strictly
    # between its first and last event — that window is guaranteed events
    # on both sides of the split, so update-mode re-emission must occur
    dense = (events.groupBy(F.date_trunc("day", "ts").alias("d"), "event_type")
             .agg(F.count("*").alias("n"),
                  F.min(F.col("ts").cast("double")).alias("lo"),
                  F.max(F.col("ts").cast("double")).alias("hi"))
             .orderBy(F.desc("n"), "d", "event_type").first())
    assert dense.n >= 2 and dense.lo < dense.hi
    mid = (dense.lo + dense.hi) / 2.0
    src = tmp_path / "esrc"

    def agg_stream():
        ev = (spark.readStream.schema(events.schema).format("parquet")
              .load(str(src)))
        return tumble(
            ev, "ts", "1 day", keys=["event_type"],
            aggs=[F.count("*").alias("event_count")],
            watermark="5 seconds",
        )

    def run_both():
        catalog.create_table_as("counts_append", agg_stream(),
                                available_now=True)
        catalog.create_table_changelog("counts_changelog", agg_stream(),
                                       available_now=True)
        catalog.await_all()

    events.filter(F.col("ts").cast("double") <= mid) \
        .coalesce(1).write.mode("append").parquet(str(src))
    run_both()  # first half
    events.filter(F.col("ts").cast("double") > mid) \
        .coalesce(1).write.mode("append").parquet(str(src))
    run_both()  # second half: same checkpoints, watermark/state restored

    key = ("window_start", "event_type")
    append_rows = [((r.window_start, r.event_type), r.event_count)
                   for r in catalog.read_batch("counts_append").collect()]
    changelog = [((r.window_start, r.event_type), r.event_count, r.epoch)
                 for r in catalog.read_batch("counts_changelog")
                 .select("window_start", "event_type", "event_count",
                         F.col("__epoch").alias("epoch"))
                 .collect()]
    latest = {(r.window_start, r.event_type): r.event_count
              for r in catalog.read_batch_latest(
                  "counts_changelog", list(key)).collect()}

    full_batch = {(r.window_start, r.event_type): r.event_count
                  for r in tumble(
                      events, "ts", "1 day", keys=["event_type"],
                      aggs=[F.count("*").alias("event_count")],
                  ).collect()}
    closed = {(r.window_start, r.event_type): r.event_count
              for r in _emitted_windows_batch(spark, "1 day")
              .select("window_start", "event_type", "event_count").collect()}
    events.unpersist()

    # append: at-most-once per window, only watermark-closed windows
    append_keys = [k for k, _ in append_rows]
    assert len(append_keys) == len(set(append_keys))
    assert dict(append_rows) == closed

    # update: compacted view == full batch aggregate, nothing suppressed
    assert latest == full_batch
    assert set(latest) > set(dict(append_rows))  # strictly more windows

    # update: re-emission really happened — some window straddling the
    # split appears in BOTH runs' epochs with a growing count
    emissions: dict = {}
    for k, n, e in changelog:
        emissions.setdefault(k, []).append((e, n))
    multi = {k: sorted(v) for k, v in emissions.items() if len(v) > 1}
    assert multi, "no window re-emitted across batches"
    assert any(v[-1][1] > v[0][1] for v in multi.values())


def test_dsir_stream_matches_batch(spark, catalog):
    """Streaming DSIR scoring (profile-then-score, zero state, map-only)
    must equal the batch dsir_importance_weights query row for row —
    same profile aggregation (operators/sampling.dsir_bucket_llr), same
    hashed buckets, ROUND(4)-pinned weights."""
    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        dsir_stream_pipeline,
    )

    dsir_stream_pipeline(catalog, documents_path=f"{SF_DIR}/documents.parquet")
    got = {
        (r.doc_id, r.source, r.n_tokens, r.log_importance)
        for r in catalog.read_batch("dsir_scored_docs").collect()
    }
    want = {
        (r.doc_id, r.source, r.n_tokens, r.log_importance)
        for r in QUERIES["dsir_importance_weights"](spark, SF_DIR).collect()
    }
    assert got == want
    assert len(got) > 0


def test_ccnet_stream_matches_batch(spark, catalog):
    """Streaming CCNet bucketing (profile-then-score: frozen JVM LM +
    frozen per-language tercile boundary tuples, map-only) must equal
    the batch ccnet_ppl_buckets query row for row on the profile
    corpus — boundaries are exact (score, doc_id) pairs from the batch
    window, scores ROUND(6)-pinned like the batch column."""
    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        ccnet_stream_pipeline,
    )

    ccnet_stream_pipeline(catalog, documents_path=f"{SF_DIR}/documents.parquet")
    got = {
        (r.doc_id, r.lang, r.avg_logprob, r.ppl_bucket)
        for r in catalog.read_batch("ccnet_bucketed_docs").collect()
    }
    want = {
        (r.doc_id, r.lang, r.avg_logprob, r.ppl_bucket)
        for r in QUERIES["ccnet_ppl_buckets"](spark, SF_DIR).collect()
    }
    assert got == want
    assert len(got) > 0
    assert {b for *_, b in got} == {"head", "middle", "tail"}


def test_quality_filter_stream_matches_batch(spark, catalog):
    """Streaming classifier gate must EXACTLY partition the corpus the
    way the batch quality_classifier_score query does — integer margins,
    so parity is bit-exact with no rounding pin needed."""
    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        quality_filter_stream_pipeline,
    )

    quality_filter_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet"
    )
    kept = {
        (r.doc_id, r.source, r.n_features, r.raw_margin, r.score)
        for r in catalog.read_batch("qc_curated_docs").collect()
    }
    rejected = {
        r.doc_id
        for r in catalog.read_batch("qc_quarantine_docs").collect()
    }
    batch = QUERIES["quality_classifier_score"](spark, SF_DIR).collect()
    want_kept = {
        (r.doc_id, r.source, r.n_features, r.raw_margin, r.score)
        for r in batch if r.keep
    }
    want_rejected = {r.doc_id for r in batch if not r.keep}
    assert kept == want_kept
    assert rejected == want_rejected
    assert kept and rejected  # both sides of the gate exercised


def test_text_gate_stream_matches_batch_bit_exact(spark, catalog):
    """The fused normalize→blocklist→classifier streaming gate must
    partition the corpus EXACTLY as the batch composition of the same
    three operators — all-integer gate decisions, no rounding pin."""
    from quickstart_streaming_agents_spark.operators.compress import (
        normalize_text,
    )
    from quickstart_streaming_agents_spark.operators.sampling import (
        hashed_linear_classifier_score,
    )
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        text_gate_stream_pipeline,
    )

    text_gate_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet"
    )
    curated = {
        (r.doc_id, r.norm_text, r.changed, r.n_blocked_words,
         r.raw_margin, r.n_features)
        for r in catalog.read_batch("tg_curated_docs").collect()
    }
    quarantined = {
        (r.doc_id, r.reason)
        for r in catalog.read_batch("tg_quarantine_docs").collect()
    }

    # batch composition of the same operators over the same parquet
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    norm = normalize_text(docs, "doc_id", "text")
    toks = F.array_distinct(F.split(F.trim(F.lower("norm_text")), r"\s+"))
    n_blocked = F.size(
        F.array_intersect(
            toks, F.array(F.lit("dup"), F.lit("spill"), F.lit("leak"))
        )
    ).cast("long")
    scored = hashed_linear_classifier_score(norm, "norm_text").select(
        "doc_id", "norm_text", "changed",
        n_blocked.alias("n_blocked_words"),
        "raw_margin", "n_features", "keep",
    ).collect()
    want_curated = {
        (r.doc_id, r.norm_text, r.changed, r.n_blocked_words,
         r.raw_margin, r.n_features)
        for r in scored if r.n_blocked_words == 0 and r.keep
    }
    want_quarantined = {
        (r.doc_id, "blocklist" if r.n_blocked_words > 0 else "classifier")
        for r in scored if r.n_blocked_words > 0 or not r.keep
    }
    assert curated == want_curated
    assert quarantined == want_quarantined
    assert curated and quarantined  # both routes exercised
    # C4 order: a doc that trips BOTH gates must say 'blocklist'
    both = [r.doc_id for r in scored if r.n_blocked_words > 0 and not r.keep]
    if both:
        got_reasons = dict(quarantined)
        assert all(got_reasons[i] == "blocklist" for i in both)


def test_url_dedup_stream_keeps_one_page_per_canonical(spark, catalog):
    """dropDuplicatesWithinWatermark on the canonical key must keep
    EXACTLY one page per canonical URL — the canonical set matches the
    batch query's, every keeper belongs to its canonical group, and no
    canonical appears twice. (Batch keeps min doc_id; the stream keeps
    first-arrival, so keeper IDENTITY is not part of the contract.)"""
    from quickstart_streaming_agents_spark.functions.text import (
        url_canonicalize,
    )
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        url_dedup_stream_pipeline,
    )

    url_dedup_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet"
    )
    kept = catalog.read_batch("url_unique_pages").collect()
    kept_canon = [r.canonical_url for r in kept]
    assert len(kept_canon) == len(set(kept_canon))  # one keeper per page

    raw = catalog.read_batch("url_raw_pages").withColumn(
        "canonical_url", url_canonicalize(F.col("url"))
    )
    groups = {}
    for r in raw.collect():
        groups.setdefault(r.canonical_url, set()).add(r.doc_id)
    assert set(kept_canon) == set(groups)  # full canonical coverage
    for r in kept:
        assert r.doc_id in groups[r.canonical_url]  # keeper from group
    # the synth genuinely produces re-crawled pages to dedup
    assert len(raw.collect()) > len(kept)


def test_hll_sketch_stream_matches_batch_bit_exact(spark, catalog):
    """The compacted changelog view of the streaming HLL registers must
    equal the batch sketch EXACTLY (integer max-folds are order-free),
    and the derived estimates must match to the last bit."""
    from quickstart_streaming_agents_spark.operators.hll import (
        hll_estimate,
        hll_registers,
    )
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        hll_sketch_stream_pipeline,
    )

    hll_sketch_stream_pipeline(catalog, events_path=f"{SF_DIR}/events.parquet")
    live = catalog.read_batch_latest(
        "hll_registers_live", ["event_type", "bucket"]
    )
    got = {(r.event_type, r.bucket): r.r for r in live.collect()}

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", F.col("event_id").cast("string").alias("v")
    )
    batch = hll_registers(ev, "v", strata=["event_type"], p=8)
    want = {(r.event_type, r.bucket): r.r for r in batch.collect()}
    assert got == want

    est_live = {
        r.event_type: (r.harmonic_num, r.estimate)
        for r in hll_estimate(
            live, strata=["event_type"], p=8
        ).collect()
    }
    est_batch = {
        r.event_type: (r.harmonic_num, r.estimate)
        for r in hll_estimate(batch, strata=["event_type"], p=8).collect()
    }
    assert est_live == est_batch  # bit-exact incl. the IEEE division
    # the changelog genuinely re-emitted some register (update mode):
    # raw rows > compacted rows unless every key settled in one batch
    raw = catalog.read_batch("hll_registers_live").count()
    assert raw >= len(got)


def test_media_triage_stream_matches_batch(spark, catalog):
    """Streaming header-only triage must route every asset exactly as a
    batch probe of the same payloads would — byte-deterministic, so
    parity is exact, and the four routes partition the input."""
    from quickstart_streaming_agents_spark.operators.multimodal import (
        probe_media,
    )
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        media_triage_stream_pipeline,
    )

    media_triage_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet"
    )
    routed = {}
    for mt in ("image", "audio", "video"):
        for r in catalog.read_batch(f"media_{mt}_assets").collect():
            routed[r.doc_id] = (mt, r.container, r.width, r.height,
                                r.n_frames, r.duration_ms)
    quarantined = {
        r.doc_id for r in catalog.read_batch("media_quarantine").collect()
    }

    raw = catalog.read_batch("media_raw_assets")
    want_rows = probe_media(raw, "payload").collect()
    want, want_q = {}, set()
    for r in want_rows:
        if r.container is None:
            want_q.add(r.doc_id)
        else:
            m = r.media_meta
            want[r.doc_id] = (m.media_type, r.container, m.width, m.height,
                              m.n_frames, m.duration_ms)
    assert routed == want
    assert quarantined == want_q
    assert len(routed) + len(quarantined) == raw.count()  # a partition
    assert quarantined and len(routed) > 100
    # every container the batch generator emits is exercised (ADVICE r7:
    # the old synth mapping dropped JPEG entirely)
    assert {c for _, c, *_ in routed.values()} == {
        "png", "gif", "jpeg", "bmp", "wav", "mp3", "mp4", "webp"
    }


def test_streaming_cumulate_matches_batch(spark, catalog):
    """Streaming CUMULATE (watermark re-declared on the exploded
    window_end with delay+size — see operators/windows.cumulate) must
    emit exactly the batch operator's rows for every window whose end
    is at or before the conservative final watermark
    max(window_end) - delay - size, with identical counts. Closes the
    r7 'streaming CUMULATE excluded' gap."""
    import datetime

    from quickstart_streaming_agents_spark.operators.windows import cumulate
    from quickstart_streaming_agents_spark.sources.parquet import load_table

    catalog.register_events_source("events", EVENTS)
    ev = catalog.read_stream("events")
    agg = cumulate(
        ev, "ts", step="2 hours", size="6 hours", keys=["event_type"],
        aggs=[F.count("*").alias("event_count")], watermark="5 seconds",
    ).select("window_start", "window_end", "event_type", "event_count")
    catalog.create_table_as("cum", agg, available_now=True)
    catalog.await_all()
    got = {
        (r.window_start, r.window_end, r.event_type): r.event_count
        for r in catalog.read_batch("cum").collect()
    }

    batch = cumulate(
        load_table(spark, SF_DIR, "events"), "ts",
        step="2 hours", size="6 hours", keys=["event_type"],
        aggs=[F.count("*").alias("event_count")], window_time=False,
    )
    allb = {
        (r.window_start, r.window_end, r.event_type): r.event_count
        for r in batch.collect()
    }
    cutoff = (
        max(k[1] for k in allb)
        - datetime.timedelta(seconds=5) - datetime.timedelta(hours=6)
    )
    want = {k: v for k, v in allb.items() if k[1] <= cutoff}
    assert got == want
    assert len(got) > 100  # the fixture emits a real window population
    # the growing-window property survives streaming: within one
    # (bucket, key), counts are non-decreasing in window_end
    by_bucket: dict = {}
    for (ws, we, et), n in sorted(got.items(), key=lambda kv: kv[0][1]):
        prev = by_bucket.get((ws, et))
        assert prev is None or n >= prev, (ws, we, et)
        by_bucket[(ws, et)] = n


def test_streaming_cumulate_requires_watermark(spark, catalog):
    from quickstart_streaming_agents_spark.operators.windows import cumulate

    catalog.register_events_source("events2", EVENTS)
    ev = catalog.read_stream("events2")
    with pytest.raises(ValueError, match="watermark"):
        cumulate(ev, "ts", step="1 hour", size="2 hours", keys=[],
                 aggs=[F.count("*").alias("n")])


def test_media_dedup_stream_matches_batch(spark, catalog):
    """Streaming phash dedup gate (frozen reference index, per-batch
    banded join inside foreachBatch — zero streaming state) must agree
    with the batch image_phash_dedup verdict for every doc when the
    profile IS the corpus, and every reported near-dup must point at a
    smaller-id reference within the Hamming threshold."""
    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        media_dedup_stream_pipeline,
    )

    media_dedup_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet"
    )
    got = {r.doc_id: (r.dup_of, r.hamming, r.b0, r.b1, r.b2, r.b3)
           for r in catalog.read_batch("pdup_gated").collect()}
    want = {r.doc_id: (r.kept, r.b0, r.b1, r.b2, r.b3)
            for r in QUERIES["image_phash_dedup"](spark, SF_DIR).collect()}
    assert set(got) == set(want)
    n_dups = 0
    for doc_id, (dup_of, ham, *bands) in got.items():
        kept, *wbands = want[doc_id]
        assert bands == wbands, doc_id
        assert (dup_of is None) == kept, doc_id
        if dup_of is not None:
            n_dups += 1
            assert dup_of < doc_id
            assert 0 <= ham <= 3
    assert n_dups > 0 and n_dups < len(got)


def test_streaming_session_window_matches_batch(spark, catalog):
    """Streaming session windows (10-min gap, watermarked, append mode)
    must emit exactly the batch session_window_agg sessions whose end
    the final watermark passed — session merging handled by Spark's
    session state, values ROUND(2)-pinned like the batch query (ST7's
    streaming half)."""
    catalog.register_events_source("events", EVENTS)
    ev = catalog.read_stream("events")
    agg = (
        ev.withWatermark("ts", "5 seconds")
        .groupBy(F.session_window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("event_count"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "event_type", "event_count", "total_value",
        )
    )
    catalog.create_table_as("sessions", agg, available_now=True)
    catalog.await_all()
    got = {
        (r.session_start, r.session_end, r.event_type):
            (r.event_count, r.total_value)
        for r in catalog.read_batch("sessions").collect()
    }

    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.sources.parquet import load_table

    import datetime
    max_ts = load_table(spark, SF_DIR, "events").agg(
        F.max("ts")
    ).first()[0]
    cutoff = max_ts - datetime.timedelta(seconds=5)
    want = {
        (r.session_start, r.session_end, r.event_type):
            (r.event_count, r.total_value)
        for r in QUERIES["session_window_agg"](spark, SF_DIR).collect()
        if r.session_end <= cutoff
    }
    assert got == want
    assert len(got) > 50


def test_audio_dedup_stream_matches_batch(spark, catalog):
    """Streaming audio dedup gate (frozen reference band index,
    per-batch join inside foreachBatch — zero streaming state) must
    agree with the batch audio_near_dup verdict for every clip when
    the profile IS the corpus."""
    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        audio_dedup_stream_pipeline,
    )

    audio_dedup_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet"
    )
    got = {r.doc_id: (r.dup_of, r.sig)
           for r in catalog.read_batch("adup_gated").collect()}
    want = {r.doc_id: (r.kept, r.sig)
            for r in QUERIES["audio_near_dup"](spark, SF_DIR).collect()}
    assert set(got) == set(want)
    n_dups = 0
    for doc_id, (dup_of, sig) in got.items():
        kept, wsig = want[doc_id]
        assert sig == wsig, doc_id
        assert (dup_of is None) == kept, doc_id
        if dup_of is not None:
            n_dups += 1
            assert dup_of < doc_id
    assert 0 < n_dups < len(got)


def test_temperature_mix_stream_matches_batch_rule(spark, catalog):
    """The streaming temperature sampler (frozen allocation -> map-only
    hash gate) must keep EXACTLY the docs the batch rule keeps when the
    profile is the corpus, and must downsample the over-represented
    language while keeping small strata whole (epochs >= 1 -> rate 1)."""
    from quickstart_streaming_agents_spark.functions.text import token_count
    from quickstart_streaming_agents_spark.operators.sampling import (
        hash_unit,
        temperature_allocation,
    )
    from quickstart_streaming_agents_spark.sources.parquet import load_table
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        temperature_mix_stream_pipeline,
    )

    budget = 10_000
    temperature_mix_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet", budget=budget
    )
    got = {r.doc_id for r in catalog.read_batch("tmix_sampled_docs").collect()}

    docs = load_table(spark, SF_DIR, "documents")
    alloc = temperature_allocation(
        docs.select("lang", token_count("text").alias("nt")),
        "lang", "nt", budget=budget,
    ).collect()
    rates = {r.lang: min(1.0, r.target_tokens / r.n_tokens) for r in alloc}
    import pyspark.sql.functions as F

    want_rows = docs.select(
        "doc_id", "lang", hash_unit(["doc_id"], salt="temp-mix").alias("u")
    ).collect()
    want = {r.doc_id for r in want_rows if r.u < rates[r.lang]}
    assert got == want
    assert 0 < len(got) < docs.count()  # really sampled, really kept some
    # at a 10k budget every language downsamples; per-lang kept fraction
    # must track its rate within binomial noise
    per = {}
    for r in want_rows:
        per.setdefault(r.lang, [0, 0])
        per[r.lang][1] += 1
        if r.doc_id in got:
            per[r.lang][0] += 1
    for lang, (kept_n, n) in per.items():
        assert abs(kept_n / n - rates[lang]) < 0.15, (lang, kept_n / n)


def test_pca_stream_matches_batch_projection_bit_exact(spark, catalog):
    """The streaming PCA gate projects with the SAME frozen basis and the
    SAME JVM folds as batch pca_project — so outputs must be bit-exact
    equal (not merely close) row for row."""
    from quickstart_streaming_agents_spark.operators.pca import (
        pca_fit,
        pca_project,
    )
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        pca_stream_pipeline,
    )

    path = f"{SF_DIR}/embeddings.parquet"
    pca_stream_pipeline(catalog, embeddings_path=path, k=4)
    got = {
        r.vec_id: (r.pc1, r.pc2, r.pc3, r.pc4)
        for r in catalog.read_batch("pca_projected").collect()
    }

    emb = spark.read.parquet(path)
    mean, comps, _ = pca_fit(emb, "embedding", 4)
    want = {
        r.vec_id: (r.pc1, r.pc2, r.pc3, r.pc4)
        for r in pca_project(emb, "embedding", mean, comps)
        .select("vec_id", "pc1", "pc2", "pc3", "pc4")
        .collect()
    }
    assert len(got) == len(want) > 100
    # bit-exact: same frozen basis, same fold — tolerate NOTHING
    assert got == want


def test_decontamination_stream_bloom_tier_matches_exact(spark, catalog):
    """With bloom_m_bits set, the stream gate prefilters the shingle flow
    through the frozen bitset before the exact confirm join — and must
    quarantine EXACTLY the same docs as the exact tier (no false
    negatives; false positives die at the confirm join)."""
    from quickstart_streaming_agents_spark.operators.decontamination import (
        contamination_flags,
    )
    from quickstart_streaming_agents_spark.sources.parquet import load_table
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        decontamination_stream_pipeline,
    )

    decontamination_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet",
        watermark="1 day", bloom_m_bits=1 << 14,
    )
    got = {
        r.doc_id for r in catalog.read_batch("contaminated_docs").collect()
    }
    docs = load_table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    want = {
        r.doc_id
        for r in contamination_flags(
            docs.select("doc_id", "text"), bench, n=13
        ).collect()
        if r.contaminated
    }
    assert got == want and len(got) > 0


def test_cumulate_accepts_compound_and_millisecond_intervals(spark, catalog):
    """The interval parser must accept every spec withWatermark accepts
    on this surface: compound ('1 minute 30 seconds') and millisecond
    units — these previously crashed the streaming cumulate entry."""
    from quickstart_streaming_agents_spark.operators.windows import cumulate
    from quickstart_streaming_agents_spark.sources.parquet import load_table

    ev = load_table(spark, SF_DIR, "events").limit(200)
    out = cumulate(
        ev, "ts", step="45 seconds", size="1 minute 30 seconds",
        keys=["event_type"], aggs=[F.count("*").alias("n")],
        watermark="500 milliseconds",
    )
    assert out.count() > 0
    try:
        cumulate(ev, "ts", step="1 fortnight", size="2 fortnight",
                 keys=[], aggs=[F.count("*").alias("n")])
        raise AssertionError("bad unit accepted")
    except ValueError as e:
        assert "fortnight" in str(e)


def test_gzip_ingest_stream_matches_batch(spark, catalog):
    """The streaming ingest gate must decode exactly the rows the batch
    decode does (same operator), route torn payloads to quarantine, and
    the two topics must partition the input."""
    from quickstart_streaming_agents_spark.sources.parquet import load_table
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        gzip_ingest_stream_pipeline,
    )

    gzip_ingest_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet"
    )
    ok = {r.doc_id: (r.text, r.n_bytes, r.digest)
          for r in catalog.read_batch("ingested_texts").collect()}
    bad = {r.doc_id for r in catalog.read_batch("ingest_quarantine").collect()}

    docs = {r.doc_id: r.text
            for r in load_table(spark, SF_DIR, "documents")
            .select("doc_id", "text").collect()}
    assert set(ok) | bad == set(docs) and not (set(ok) & bad)
    assert bad == {d for d in docs if d % 23 == 0}
    import hashlib

    for d, (text, n, dig) in ok.items():
        raw = docs[d].encode("utf-8")
        assert text == docs[d] and n == len(raw)
        assert dig == hashlib.md5(raw).hexdigest()


def test_denoising_builder_stream_matches_batch_bit_exact(spark, catalog):
    """The continuous training-example builder shares the batch query's
    expression chain, so its output must equal the batch result row for
    row, string for string."""
    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        denoising_builder_stream_pipeline,
    )

    denoising_builder_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet"
    )
    got = {r.doc_id: (r.inputs, r.targets, r.n_corrupted, r.n_chunks)
           for r in catalog.read_batch("denoising_pairs").collect()}
    want = {r.doc_id: (r.inputs, r.targets, r.n_corrupted, r.n_chunks)
            for r in QUERIES["span_corruption_pairs"](
                spark, SF_DIR).collect()}
    assert got == want and len(got) > 100


def test_contamination_fraction_stream_matches_batch_bit_exact(spark, catalog):
    """The compacted changelog of the graded contamination stream must
    equal the batch operator bit-for-bit on every doc with >= 1 shingle
    (exact-integer arithmetic end to end), and the docs absent from the
    stream must be exactly the batch's n_ngrams = 0 short docs."""
    from quickstart_streaming_agents_spark.operators.decontamination import (
        contamination_fraction,
    )
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        contamination_fraction_stream_pipeline,
    )

    contamination_fraction_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet"
    )
    live = catalog.read_batch_latest("contamination_graded", ["doc_id"])
    got = {
        r.doc_id: (r.lang, r.n_ngrams, r.n_contaminated_ngrams,
                   r.frac_e6, r.contaminated)
        for r in live.collect()
    }

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    batch = contamination_fraction(
        docs, docs.filter(F.col("doc_id") % 17 == 0).select("text"),
        n=8, threshold_pct=70,
    )
    want_all = {
        r.doc_id: (r.lang, r.n_ngrams, r.n_contaminated_ngrams,
                   r.frac_e6, r.contaminated)
        for r in batch.collect()
    }
    want = {k: v for k, v in want_all.items() if v[1] > 0}
    assert got == want
    # absent docs are exactly the short ones (no shingles, never flagged)
    absent = set(want_all) - set(got)
    assert all(want_all[d][1] == 0 and not want_all[d][4] for d in absent)
    # the graded rule actually fires both ways at this SF
    assert any(v[4] for v in got.values())
    assert any(not v[4] for v in got.values())


def test_kmins_sketch_stream_matches_batch_bit_exact(spark, catalog):
    """The compacted changelog view of the streaming k-mins sketch must
    equal the batch sketch EXACTLY (integer min-folds are order-free),
    samples included, with state bounded at k rows per stratum."""
    from quickstart_streaming_agents_spark.operators.kmv import (
        kmins_signature,
    )
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        kmins_sketch_stream_pipeline,
    )

    kmins_sketch_stream_pipeline(
        catalog, events_path=f"{SF_DIR}/events.parquet", k=32
    )
    live = catalog.read_batch_latest(
        "kmins_sketch_live", ["event_type", "bucket"]
    )
    got = {(r.event_type, r.bucket): (r.min_h, r.sample_value)
           for r in live.collect()}

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", F.col("event_id").cast("string").alias("v")
    )
    batch = kmins_signature(ev, "v", strata=["event_type"], k=32)
    want = {(r.event_type, r.bucket): (r.min_h, r.sample_value)
            for r in batch.collect()}
    assert got == want
    per_stratum = {}
    for (et, _b) in got:
        per_stratum[et] = per_stratum.get(et, 0) + 1
    assert all(n <= 32 for n in per_stratum.values())


def test_webdataset_stream_matches_batch_exact(spark, catalog):
    """Streaming shard demux must equal a batch walk of the same
    payloads byte-for-byte (deterministic walk, no state), covering
    every member column including content md5."""
    from quickstart_streaming_agents_spark.operators.tar import tar_members
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        webdataset_stream_pipeline,
    )

    webdataset_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet"
    )
    live = catalog.read_batch("shard_members")
    got = sorted(
        (r.doc_id, r.member_idx, r.name, r.size, r.offset,
         r.content_offset, r.content_md5)
        for r in live.collect()
    )
    shards = catalog.read_batch("wds_raw_shards").select("doc_id", "payload")
    want = sorted(
        (r.doc_id, r.member_idx, r.name, r.size, r.offset,
         r.content_offset, r.content_md5)
        for r in tar_members(shards).collect()
    )
    assert got == want and len(got) > 0
    # every shard contributed exactly its two members
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(got) == 2 * n_docs


def test_crawl_frontier_stream_matches_batch_bit_exact(spark, catalog):
    """The frontier changelog must equal batch robots_verdicts
    bit-for-bit — allowed AND matched_prefix — proving the min(struct)
    streaming verdict is order-isomorphic to the batch argmax window
    (match > longest > allow > prefix-ASC)."""
    from quickstart_streaming_agents_spark.operators.web import (
        robots_rules_table,
        robots_verdicts,
    )
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        crawl_frontier_stream_pipeline,
    )

    crawl_frontier_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet"
    )
    live = catalog.read_batch_latest("frontier_verdicts", ["doc_id"])
    got = {r.doc_id: (r.host, r.path, r.allowed, r.matched_prefix)
           for r in live.collect()}

    d = F.col("doc_id")
    urls = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id",
        F.concat(F.lit("h"), (d % 7), F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit("/p/"), (d % 4),
            F.when(d % 2 == 0, F.lit("/pub/x")).otherwise(F.lit("/y")),
        ).alias("path"),
    )
    bodies = spark.createDataFrame(
        [
            (
                f"h{i}.example.com",
                f"User-agent: *\nDisallow: /p/{i % 4}\n"
                f"Allow: /p/{i % 4}/pub\n",
            )
            for i in range(7)
        ],
        "host string, robots_txt string",
    )
    batch = robots_verdicts(urls, robots_rules_table(bodies))
    want = {r.doc_id: (r.host, r.path, r.allowed, r.matched_prefix)
            for r in batch.collect()}
    assert got == want
    # both verdict polarities AND the no-matching-rule default-allow
    # path fire at this SF
    assert {v[2] for v in got.values()} == {True, False}
    assert any(v[3] is None for v in got.values())
    assert any(v[3] is not None for v in got.values())


def test_readability_gate_stream_matches_batch_bit_exact(spark, catalog):
    """Streaming Flesch gate must partition the corpus EXACTLY as the
    batch readability_scores query — the decision compares BIGINT
    milli-units, so parity is bit-exact with no rounding pin."""
    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        readability_gate_stream_pipeline,
    )

    lo, hi = 40_000, 206_835
    readability_gate_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet",
        min_flesch_e3=lo, max_flesch_e3=hi,
    )
    kept = {
        (r.doc_id, r.n_words, r.n_sentences, r.n_syllables, r.flesch_e3)
        for r in catalog.read_batch("rg_curated_docs").collect()
    }
    rejected = {
        r.doc_id for r in catalog.read_batch("rg_quarantine_docs").collect()
    }
    batch = QUERIES["readability_scores"](spark, SF_DIR).collect()
    want_kept = {
        (r.doc_id, r.n_words, r.n_sentences, r.n_syllables, r.flesch_e3)
        for r in batch if r.n_words > 0 and lo <= r.flesch_e3 <= hi
    }
    want_rejected = {
        r.doc_id for r in batch
        if not (r.n_words > 0 and lo <= r.flesch_e3 <= hi)
    }
    assert kept == want_kept
    assert rejected == want_rejected
    assert kept and rejected  # both sides of the gate exercised


def test_token_bucket_stream_matches_batch_bit_exact(spark, catalog):
    """Streaming token bucket must emit the SAME integer balances and
    verdicts as the batch recurrence when ingest is chronological —
    per-host state is two scalars, the recurrence is all-integer."""
    from quickstart_streaming_agents_spark.operators.politeness import (
        token_bucket_verdicts,
    )
    from quickstart_streaming_agents_spark.sources.parquet import load_table
    from quickstart_streaming_agents_spark.streaming.ops import (
        token_bucket_gate_stream,
    )

    ev = load_table(spark, SF_DIR, "events").select(
        F.concat(F.lit("h"), (F.col("user_id") % 50)).alias("host"),
        F.col("event_id"),
        F.unix_millis("ts").alias("ts_ms"),
        F.col("ts"),
    )
    # chronological multi-batch ingest (the window-aligned contract):
    # write ordered by ts so file-per-trigger replay keeps event order
    catalog.create_table_as("tb_requests", ev.orderBy("ts", "event_id"))
    stream = catalog.read_stream("tb_requests", max_files_per_trigger=1)
    gated = token_bucket_gate_stream(
        stream.select("host", "event_id", "ts_ms"),
        host_col="host", ts_ms_col="ts_ms", id_col="event_id",
        capacity=1, refill_mtok_per_sec=1,
    )
    catalog.create_table_as("tb_verdicts", gated, available_now=True)
    catalog.await_all()
    got = {
        (r.host, r.event_id, r.ts_ms, r.mtok_after, r.allowed)
        for r in catalog.read_batch("tb_verdicts").collect()
    }
    want = {
        (r.host, r.event_id, r.ts_ms, r.mtok_after, r.allowed)
        for r in token_bucket_verdicts(
            ev.select("host", "event_id", "ts_ms"),
            host_col="host", ts_ms_col="ts_ms", id_col="event_id",
            capacity=1, refill_mtok_per_sec=1,
        ).collect()
    }
    assert got == want
    assert len(got) > 0
    assert {v for *_, v in got} == {True, False}  # both verdicts fire


def test_token_bucket_stream_late_row_denied_balance_untouched(spark, tmp_path):
    """A cross-batch late row (ts < state's last_ms) must be DENIED
    with the balance untouched — the never-over-fetch direction."""
    from quickstart_streaming_agents_spark.streaming.ops import (
        token_bucket_gate_stream,
    )

    src = tmp_path / "tb_src"
    out = tmp_path / "tb_out"
    ckpt = tmp_path / "tb_ckpt"
    schema = "host string, event_id long, ts_ms long"
    spark.createDataFrame(
        [("h0", 1, 10_000), ("h0", 2, 10_100)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))

    def run_once():
        stream = (spark.readStream.schema(schema).format("parquet")
                  .load(str(src)))
        gated = token_bucket_gate_stream(
            stream, host_col="host", ts_ms_col="ts_ms", id_col="event_id",
            capacity=2, refill_mtok_per_sec=0,
        )
        q = (gated.writeStream.format("parquet")
             .option("path", str(out)).option("checkpointLocation", str(ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    spark.createDataFrame(
        [("h0", 3, 9_000)], schema  # LATE vs run-1's last_ms=10_100
    ).coalesce(1).write.mode("append").parquet(str(src))
    run_once()
    got = {r.event_id: (r.mtok_after, r.allowed)
           for r in spark.read.parquet(str(out)).collect()}
    # capacity 2, no refill: ids 1,2 drain the bucket; late id 3 denied
    assert got[1] == (1000, True)
    assert got[2] == (0, True)
    assert got[3] == (0, False)


def test_tfidf_stream_matches_batch_bit_exact(spark, catalog):
    """The streaming tf·idf extractor scores against the SAME frozen
    vocabulary with the SAME operator as batch — outputs must be
    bit-exact equal row for row (score included: frozen df/n_docs +
    identical JVM arithmetic)."""
    from quickstart_streaming_agents_spark.operators.retrieval import (
        postings,
        tfidf_top_terms,
    )
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        tfidf_stream_pipeline,
    )

    path = f"{SF_DIR}/documents.parquet"
    tfidf_stream_pipeline(catalog, documents_path=path, k=3)
    got = {
        (r.doc_id, r.rank): (r.term, r.tf, r.df, r.score)
        for r in catalog.read_batch("tfidf_top_terms").collect()
    }

    docs = spark.read.parquet(path).select("doc_id", "text")
    post = postings(docs)
    dfreq = post.groupBy("term").agg(F.count("*").alias("df"))
    stats = post.agg(F.countDistinct("doc_id").alias("n_docs"))
    want = {
        (r.doc_id, r.rank): (r.term, r.tf, r.df, r.score)
        for r in tfidf_top_terms(docs, k=3, frozen=(dfreq, stats)).collect()
    }
    assert len(got) == len(want) > 100
    assert got == want


def test_preference_pairs_stream_matches_batch_bit_exact(spark, catalog):
    """Per-prompt min/max-of-packed-BIGINT state is order-insensitive, so
    the FINAL emitted pair per prompt must equal the batch
    preference_pairs aggregate exactly — under multi-batch ingest in a
    deliberately non-chronological order."""
    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.sources.parquet import load_table
    from quickstart_streaming_agents_spark.streaming.ops import (
        preference_pairs_stream,
    )

    rating = (
        F.conv(F.substring(F.md5(F.concat(F.lit("rate:"), "doc_id")), 1, 15),
               16, 10).cast("long") % 1000
    )
    rated = load_table(spark, SF_DIR, "documents").select(
        (F.col("doc_id") % 100).alias("prompt_id"),
        "doc_id",
        rating.alias("rating"),
    )
    # adversarial ingest order: by rating, not by doc/prompt — the
    # state's min/max must not care
    catalog.create_table_as("pp_rated", rated.orderBy("rating", "doc_id"))
    stream = catalog.read_stream("pp_rated", max_files_per_trigger=1)
    paired = preference_pairs_stream(stream)
    catalog.create_table_as("pp_pairs", paired, available_now=True)
    catalog.await_all()

    pack = 100_000_000
    final: dict[int, tuple[int, int]] = {}
    for r in catalog.read_batch("pp_pairs").collect():
        b = r.chosen_rating * pack + r.chosen_doc
        w = r.rejected_rating * pack + r.rejected_doc
        fb, fw = final.get(r.prompt_id, (-1, 1 << 62))
        final[r.prompt_id] = (max(fb, b), min(fw, w))
    got = {
        p: (b % pack, w % pack, b // pack, w // pack, b // pack - w // pack)
        for p, (b, w) in final.items()
        if b // pack > w // pack  # the batch query's margin > 0 filter
    }
    want = {
        r.prompt_id: (r.chosen_doc, r.rejected_doc, r.chosen_rating,
                      r.rejected_rating, r.margin)
        for r in QUERIES["preference_pairs"](spark, SF_DIR).collect()
    }
    assert len(got) == len(want) > 10
    assert got == want


def test_bitext_stream_matches_batch_bit_exact(spark, catalog):
    """The streaming bitext miner scores against the SAME frozen target
    corpus + backward averages with the SAME fold/margin expressions as
    batch — mined pairs must be bit-exact equal (margin included: one
    division of bit-identical doubles)."""
    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        bitext_stream_pipeline,
    )

    bitext_stream_pipeline(
        catalog, embeddings_path=f"{SF_DIR}/embeddings.parquet", k=4
    )
    verdicts = catalog.read_batch("bitext_verdicts").collect()
    got_mined = {
        (r.src_id, r.tgt_id, r.cos_sim, r.margin)
        for r in verdicts if r.mined
    }
    want = {
        (r.src_id, r.tgt_id, r.cos_sim, r.margin)
        for r in QUERIES["bitext_mining_margin"](spark, SF_DIR).collect()
    }
    assert len(got_mined) == len(want) > 10
    assert got_mined == want
    # every source row gets exactly one best-candidate verdict, and the
    # under-threshold audit side actually fires at this SF
    n_src = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        "label < 5"
    ).count()
    assert len(verdicts) == n_src
    assert any(not r.mined for r in verdicts)


def test_charset_gate_stream_matches_batch_bit_exact(spark, catalog):
    """Streaming charset routing must sniff EXACTLY as the batch
    charset_sniff query (same synthesized bytes via the shared synth)
    and partition by declaration provenance."""
    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        charset_gate_stream_pipeline,
    )

    charset_gate_stream_pipeline(
        catalog, documents_path=f"{SF_DIR}/documents.parquet"
    )
    declared = catalog.read_batch("cs_declared").collect()
    defaulted = catalog.read_batch("cs_defaulted").collect()
    got = {
        (r.doc_id, r.bom, r.meta_charset, r.resolved)
        for r in declared + defaulted
    }
    want = {
        (r.doc_id, r.bom, r.meta_charset, r.resolved)
        for r in QUERIES["charset_sniff"](spark, SF_DIR).collect()
    }
    assert len(got) == len(want) > 100
    assert got == want
    # routing invariants: declared rows carry an explicit label, the
    # defaulted topic is exactly the utf-8 fallback class
    assert all(r.bom is not None or r.meta_charset is not None
               for r in declared)
    assert all(r.bom is None and r.meta_charset is None
               and r.resolved == "utf-8" for r in defaulted)
    assert declared and defaulted


def test_inference_cache_stream_matches_batch_bit_exact(spark, catalog):
    """The streaming cached-inference gate probes the SAME frozen cache
    with the SAME operator as batch — per-row (hit, response) must be
    bit-exact equal, with both hit polarities firing."""
    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        inference_cache_stream_pipeline,
    )

    inference_cache_stream_pipeline(
        catalog, events_path=f"{SF_DIR}/events.parquet"
    )
    got = {
        r.event_id: (r.prompt, r.cache_hit, r.response)
        for r in catalog.read_batch("ic_responses").collect()
    }
    want = {
        r.event_id: (r.prompt, r.cache_hit, r.response)
        for r in QUERIES["ml_predict_cached"](spark, SF_DIR).collect()
    }
    assert len(got) == len(want) > 500
    assert got == want
    hits = {v[1] for v in got.values()}
    assert hits == {True, False}


def test_ivf_upsert_stream_matches_batch_bit_exact(spark, catalog):
    """The streaming index-freshness monitor accumulates per-cell
    INTEGER sums (order-insensitive) against the same frozen quantizer
    and calibration stats as batch — the compacted verdict table must
    equal the batch ivf_index_upsert query exactly, and the changelog
    state is bounded by n_centroids cells."""
    from quickstart_streaming_agents_spark.queries import QUERIES
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        ivf_upsert_stream_pipeline,
    )

    ivf_upsert_stream_pipeline(
        catalog, embeddings_path=f"{SF_DIR}/embeddings.parquet"
    )
    got = {
        r.cell: (r.ref_count, r.new_count, r.ref_mean_align,
                 r.new_mean_align, r.align_degraded, r.drift)
        for r in catalog.read_batch("iu_verdicts").collect()
    }
    want = {
        r.cell: (r.ref_count, r.new_count, r.ref_mean_align,
                 r.new_mean_align, r.align_degraded, r.drift)
        for r in QUERIES["ivf_index_upsert"](spark, SF_DIR).collect()
    }
    assert len(got) == len(want) == 16
    assert got == want
    # both margin-0 polarities flowed through the stream
    flags = {v[4] for v in got.values() if v[4] is not None}
    assert flags == {True, False}
    # changelog discipline: at most one emission per cell per epoch
    log = catalog.read_batch("iu_cell_totals").collect()
    per_epoch = {}
    for r in log:
        key = (r["__epoch"], r.cell)
        per_epoch[key] = per_epoch.get(key, 0) + 1
    assert all(v == 1 for v in per_epoch.values())


def test_foreach_batch_topic_survives_restart(spark, catalog, tmp_path):
    """A ``foreachBatch`` topic is seeded empty only on a FRESH start: a
    restart from the checkpoint resumes from committed offsets and never
    re-emits, so re-seeding would wipe the first run's rows for good.
    Two availableNow runs over the two halves of a source, one
    checkpoint — the topic must hold the rows of both runs."""
    src = tmp_path / "fb_src"
    rows = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v")
    )

    def run():
        stream = spark.readStream.schema(rows.schema).parquet(str(src))
        catalog.create_table_foreach_batch(
            "fb_topic", stream, lambda b, _epoch: b, schema=rows.schema,
            available_now=True,
        )
        catalog.await_all()

    rows.filter("k < 20").coalesce(1).write.mode("append").parquet(str(src))
    run()
    assert sorted(r.k for r in catalog.read_batch("fb_topic").collect()) \
        == list(range(20))
    rows.filter("k >= 20").coalesce(1).write.mode("append").parquet(str(src))
    run()  # restart: same checkpoint, second half only
    got = sorted(tuple(r) for r in catalog.read_batch("fb_topic").collect())
    assert got == sorted(tuple(r) for r in rows.collect())


def _ckpt_partitions(topic_path):
    """(count in the newest offset-log entry, state/0 partition dirs) of
    the checkpoint beside ``topic_path``."""
    import json
    import os

    ckpt = f"{topic_path}_ckpt"
    newest = max((f for f in os.listdir(f"{ckpt}/offsets") if f.isdigit()),
                 key=int)
    with open(f"{ckpt}/offsets/{newest}") as fh:
        conf = json.loads(fh.read().splitlines()[1])["conf"]
    state = [d for d in os.listdir(f"{ckpt}/state/0") if d.isdigit()]
    return int(conf["spark.sql.shuffle.partitions"]), len(state)


def _tumble_slices(spark, src, slices):
    """Append chronological event slices (one file each) to ``src``."""
    for k in slices:
        spark.range(k * 60, (k + 1) * 60, 1, 1).select(
            F.timestamp_seconds(F.col("id") * 10).alias("ts"),
            (F.col("id") % 3).cast("string").alias("event_type"),
        ).write.mode("append").parquet(str(src))


def _start_tumble(cat, src):
    """A watermarked one-minute tumble CTAS, one source file per trigger."""
    stream = cat.spark.readStream.schema("ts timestamp, event_type string") \
        .option("maxFilesPerTrigger", "1").parquet(str(src))
    agg = tumble(stream, "ts", "1 minute", keys=["event_type"],
                 aggs=[F.count("*").alias("n")], watermark="5 seconds")
    cat.create_table_as("counts", agg.select("window_start", "event_type", "n"),
                        available_now=True)
    cat.await_all()
    return sorted(tuple(r) for r in cat.read_batch("counts").collect())


def test_restarted_stage_keeps_checkpointed_partitions(spark, tmp_path):
    """The partition count is fixed per checkpoint at first start: a stage
    started at 3 and restarted from a catalog at 1 keeps 3 in its offset
    log and its state, and its topic equals one uninterrupted run."""
    src, root = tmp_path / "src", str(tmp_path / "topics")
    _tumble_slices(spark, src, range(3))
    _start_tumble(StreamCatalog(spark, root, partitions=3), src)
    assert _ckpt_partitions(f"{root}/counts") == (3, 3)
    _tumble_slices(spark, src, [3])
    got = _start_tumble(StreamCatalog(spark, root, partitions=1), src)
    assert _ckpt_partitions(f"{root}/counts") == (3, 3)

    once = _start_tumble(StreamCatalog(spark, str(tmp_path / "once")), src)
    assert got == once
    assert len(once) > 3


def test_stream_start_contract(spark, catalog, tmp_path):
    """A fresh stage starts at the catalog's count (1): the offset log says
    1 and the state has one partition. The session's count is untouched
    after a start, after a start that raises, and is the count a batch
    CTAS runs with."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.types import StringType

    session = spark.conf.get("spark.sql.shuffle.partitions")
    assert session != "1"
    src = tmp_path / "src"
    _tumble_slices(spark, src, range(3))
    assert _start_tumble(catalog, src)
    assert _ckpt_partitions(catalog.tables["counts"].path) == (1, 1)
    assert spark.conf.get("spark.sql.shuffle.partitions") == session

    # append mode cannot emit an aggregation without a watermark
    no_wm = spark.readStream.schema("ts timestamp, event_type string") \
        .parquet(str(src)).groupBy("event_type").count()
    with pytest.raises(AnalysisException):
        catalog.create_table_as("no_wm", no_wm)
    assert spark.conf.get("spark.sql.shuffle.partitions") == session

    @F.udf(StringType())
    def shuffle_conf():
        from pyspark import TaskContext

        return TaskContext.get().getLocalProperty("spark.sql.shuffle.partitions")

    catalog.create_table_as("snap", spark.range(4).select(shuffle_conf().alias("p")))
    assert {r.p for r in catalog.read_batch("snap").collect()} == {session}


def test_surge_chain_restart_matches_uninterrupted_run(spark, tmp_path):
    """Exactly-once across a restart for the whole lab3 chain: run
    ``surge_pipeline`` over the first half of the events as chronological
    slices, append the rest and run it again on the same root, so every
    stage resumes from its checkpoint. Each topic holds exactly the rows
    of one uninterrupted run in a fresh root."""
    import pyarrow.parquet as pq

    ship_package(spark)
    events = pq.read_table(EVENTS).sort_by("ts")
    src = tmp_path / "events"
    src.mkdir()
    cuts = [events.num_rows * k // 4 for k in range(5)]

    def append(slices):
        for k in slices:
            pq.write_table(events.slice(cuts[k], cuts[k + 1] - cuts[k]),
                           src / f"slice-{k}.parquet")

    def topics(cat):
        return {t: sorted(map(repr, cat.read_batch(t).collect()))
                for t in ("window_counts", "scored", "anomalies")}

    root = str(tmp_path / "restarted")
    append(range(2))
    first = topics(surge_pipeline(StreamCatalog(spark, root), str(src)))
    append(range(2, 4))
    got = topics(surge_pipeline(StreamCatalog(spark, root), str(src)))
    once = topics(surge_pipeline(StreamCatalog(spark, str(tmp_path / "once")),
                                 str(src)))
    assert first["scored"] and len(got["scored"]) > len(first["scored"])
    assert got["anomalies"]
    for t in once:
        assert got[t] == once[t], t


def test_checkpoint_writes_go_through_filesystem_manager(spark, catalog,
                                                        tmp_path):
    """A catalog checkpoint is written through Spark's FileSystem-based
    manager, and an atomic write still refuses a second writer of a
    batch id: the existing log file keeps its bytes, and the refused
    write leaves only hidden files, which the log never lists."""
    import os

    from py4j.protocol import Py4JJavaError

    src = tmp_path / "src"
    _tumble_slices(spark, src, range(2))
    _start_tumble(catalog, src)
    offsets = f"{catalog.tables['counts'].path}_ckpt/offsets"
    log = f"{offsets}/0"
    written, listed = open(log, "rb").read(), set(os.listdir(offsets))

    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path
    fm = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(
            path(offsets), spark._jsparkSession.sessionState().newHadoopConf())
    assert fm.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"

    out = fm.createAtomic(path(log), False)
    out.write(bytearray(b"a second writer of batch 0"))
    with pytest.raises(Py4JJavaError) as err:
        out.close()
    exists = jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.FileAlreadyExistsException")
    assert exists.isInstance(err.value.java_exception)
    assert open(log, "rb").read() == written
    assert all(f.startswith(".") for f in set(os.listdir(offsets)) - listed)


@pytest.mark.parametrize("bad", [0, -1, 2.5, "2", True])
def test_catalog_rejects_bad_partition_count(spark, tmp_path, bad):
    import re

    with pytest.raises(ValueError, match=re.escape(repr(bad))):
        StreamCatalog(spark, str(tmp_path), partitions=bad)


def test_frozen_profile_scope_releases_on_raise(spark):
    """Frames tracked inside a pipeline's frozen-profile scope are
    unpersisted when its body raises, the exception propagates, and a
    persist tracked BEFORE the scope opened is left alone."""
    from pyspark import StorageLevel

    from quickstart_streaming_agents_spark.runtime import (
        persist_scope_mark,
        release_tracked_persists,
        track_persist,
    )
    from quickstart_streaming_agents_spark.streaming.pipelines import (
        _releases_frozen_profiles,
    )

    mark = persist_scope_mark()
    outer = track_persist(spark.range(5).persist())
    inner = []

    @_releases_frozen_profiles
    def body():
        df = track_persist(spark.range(10).persist())
        df.count()
        inner.append(df)
        assert df.storageLevel != StorageLevel.NONE
        raise RuntimeError("stage failed")

    try:
        with pytest.raises(RuntimeError, match="stage failed"):
            body()
        assert inner[0].storageLevel == StorageLevel.NONE
        assert outer.storageLevel != StorageLevel.NONE
    finally:
        release_tracked_persists(since=mark)


@pytest.mark.parametrize("pipeline,n_frozen", [
    ("tfidf_stream_pipeline", 2),
    ("inference_cache_stream_pipeline", 1),
])
def test_frozen_profiles_released_when_a_stage_raises(
    spark, catalog, monkeypatch, pipeline, n_frozen
):
    """A profile-then-stream pipeline whose ``await_all`` raises must
    still release its frozen profile (tfidf's vocabulary, the inference
    cache) instead of leaving it cached for the session's life."""
    from pyspark import StorageLevel

    from quickstart_streaming_agents_spark.streaming import pipelines

    frozen = []
    track = pipelines.track_persist

    def spy(df):
        frozen.append(df)
        return track(df)

    wait = catalog.await_all

    def failing_wait(timeout=None):
        wait(timeout)
        raise RuntimeError("stage failed")

    monkeypatch.setattr(pipelines, "track_persist", spy)
    monkeypatch.setattr(catalog, "await_all", failing_wait)
    path = f"{SF_DIR}/documents.parquet"
    kwargs = ({"documents_path": path} if pipeline.startswith("tfidf")
              else {"events_path": EVENTS})
    with pytest.raises(RuntimeError, match="stage failed"):
        getattr(pipelines, pipeline)(catalog, **kwargs)
    assert len(frozen) == n_frozen
    assert all(df.storageLevel == StorageLevel.NONE for df in frozen)
