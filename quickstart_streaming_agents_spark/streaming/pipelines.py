"""End-to-end streaming pipelines shaped like the reference's labs 3/4.

Lab 3 (LAB3-Walkthrough.md:99-230 in /root/reference):
    ride_requests → 5-min tumble agg → ML_DETECT_ANOMALIES OVER key →
    WHERE is_anomaly → anomalies_per_zone topic
Lab 4 (LAB4-Walkthrough.md:79-237):
    claims → 6-h tumble agg → anomaly → interval join back to raw rows →
    LIMIT 10 investigation queue.

Here the same chains run over the driver's ``events`` fixture (key =
``event_type``, metric = count per window). Each stage is a CTAS into the
StreamCatalog — every intermediate is an observable "topic", matching the
reference's test contract (results read from topics:
testing/helpers/kafka_helper.py:88-166).

Each stage runs with ``availableNow`` triggers so local runs terminate
deterministically; in production the same code runs with processing-time
triggers and all stages are live concurrently.
"""

from __future__ import annotations

import functools

from pyspark.sql import functions as F

from ..operators.dedup import cap_hot_buckets, explode_bands
from ..operators.payload import synth_payloads
from ..operators.windows import tumble
from ..runtime import persist_scope_mark, release_tracked_persists, track_persist
from .catalog import StreamCatalog
from .ops import (
    StreamingLimit,
    arrival_ts,
    interval_join_stream,
    ml_detect_anomalies_stream,
)


def _releases_frozen_profiles(pipeline):
    """Lifetime of a profile-then-stream pipeline's frozen profiles: every
    frame it persists is registered with ``runtime.track_persist`` and
    released when the pipeline returns OR raises — a failed stage must
    not leave the profile cached for the rest of the session."""

    @functools.wraps(pipeline)
    def run(*args, **kwargs):
        mark = persist_scope_mark()
        try:
            return pipeline(*args, **kwargs)
        finally:
            release_tracked_persists(since=mark)

    return run


def surge_pipeline(
    catalog: StreamCatalog,
    events_path: str,
    window: str = "1 hour",
    watermark: str = "5 seconds",
    min_training_size: int = 8,
    max_training_size: int = 50,
    confidence_percentage: float = 95.0,
) -> StreamCatalog:
    """Lab-3-shaped: events → tumble count per key → stateful anomaly →
    is_anomaly filter. Topics: window_counts, scored, anomalies."""
    catalog.register_events_source("events", events_path)

    # Stage 1: watermarked tumbling aggregation (A1/ST1/ST2), append mode —
    # a window emits exactly once, when the watermark passes its end.
    ev = catalog.read_stream("events")
    agg = tumble(
        ev, "ts", window, keys=["event_type"],
        aggs=[F.count("*").alias("event_count")],
        watermark=watermark,
    ).select("window_start", "window_end", "window_time", "event_type", "event_count")
    catalog.create_table_as("window_counts", agg, available_now=True)
    catalog.await_all()

    # Stage 2: streaming ML_DETECT_ANOMALIES (W1) keyed by event_type.
    counts = catalog.read_stream("window_counts")
    scored = ml_detect_anomalies_stream(
        counts, metric="event_count", ts="window_time", keys=["event_type"],
        min_training_size=min_training_size,
        max_training_size=max_training_size,
        confidence_percentage=confidence_percentage,
    )
    flat = scored.select(
        "window_time", "event_type", "event_count",
        F.col("anomaly_result.forecast_value").alias("forecast_value"),
        F.col("anomaly_result.upper_bound").alias("upper_bound"),
        F.col("anomaly_result.lower_bound").alias("lower_bound"),
        F.col("anomaly_result.is_anomaly").alias("is_anomaly"),
    )
    catalog.create_table_as("scored", flat, available_now=True)
    catalog.await_all()

    # Stage 3: W2 post-filter — upper-side spikes only
    # (LAB3-Walkthrough.md:196-197).
    sc = catalog.read_stream("scored")
    anomalies = sc.filter(
        (F.col("is_anomaly") == True)  # noqa: E712
        & (F.col("event_count") > F.col("upper_bound"))
    )
    catalog.create_table_as("anomalies", anomalies, available_now=True)
    catalog.await_all()
    return catalog


def price_match_stream_pipeline(
    catalog: StreamCatalog,
    orders_path: str,
    customer_path: str,
    max_orders: int = 50,
) -> StreamCatalog:
    """Lab-1-shaped chain (LAB1-Walkthrough.md:119-256 in /root/reference):
    orders stream ⋈ dimension tables → enriched_orders topic → agent stage
    (tool loop per row, append-only so each order fires the agent exactly
    once — the reference's changelog.mode=append, ST4) →
    price_match_results topic with the parsed verdict.

    The dimension join is stream-static: customers/products are
    slowly-changing compacted sides, so Spark broadcasts them per
    micro-batch — SURVEY §2.3 J1's faithful form, with no join state to
    TTL at all."""
    from ..functions.agents import ai_run_agent
    from ..registries import DEFAULT_CATALOG, Agent, Tool

    spark = catalog.spark
    customer = spark.read.parquet(customer_path)

    # bound the order stream (agents are per-row RPCs; the reference's lab1
    # feeds 1 order / 2 min for the same reason)
    orders_src = spark.read.parquet(orders_path).limit(max_orders)
    catalog.create_table_as("orders", orders_src)

    orders = catalog.read_stream("orders")
    enriched = (
        orders.join(F.broadcast(customer),
                    orders.o_custkey == customer.c_custkey)
        .select(
            F.col("o_orderkey").alias("order_id"),
            F.col("c_name").alias("customer_name"),
            F.col("o_totalprice").alias("order_price"),
            F.concat(
                F.lit("Order "), F.col("o_orderkey").cast("string"),
                F.lit(" for "), F.col("c_name"),
                F.lit(" at $"), F.round("o_totalprice", 2).cast("string"),
            ).alias("prompt"),
        )
    )
    catalog.create_table_as("enriched_orders", enriched, available_now=True)
    catalog.await_all()

    tool = Tool(name="web_tools", allowed_tools=("http_get", "send_email"))
    agent = Agent(
        name="price_match_agent",
        model=DEFAULT_CATALOG.models["fake_textgen"],
        prompt=("You are a price-match agent. Verify competitor pricing, "
                "then email the customer. Verdicts must be one of: "
                "[PRICE_MATCH, NO_MATCH]"),
        tools=(tool,),
        max_iterations=10,
        max_consecutive_failures=2,
    )

    eo = catalog.read_stream("enriched_orders")
    with_agent = eo.withColumn("agent_result", ai_run_agent(agent, "prompt"))
    results = with_agent.select(
        "order_id", "customer_name", "order_price",
        F.col("agent_result.status").alias("status"),
        F.trim(F.regexp_extract(
            F.col("agent_result.response"),
            r"\*{0,2}Verdict:\*{0,2}\s*([A-Z_]+)", 1)).alias("decision"),
        F.col("agent_result.response").alias("response"),
    )
    catalog.create_table_as("price_match_results", results, available_now=True)
    catalog.await_all()
    return catalog


def rag_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
    embeddings_path: str,
    k: int = 3,
    n_queries: int = 20,
) -> StreamCatalog:
    """Lab-2-shaped streaming RAG chain (terraform/lab2-vector-search/
    main.tf:253,292,331 in /root/reference): three chained continuous
    inserts — queries → +embedding → +top-k context → +LLM answer — each
    materializing a readable topic (queries_embed, search_results,
    search_results_response)."""
    from ..functions.ml import ml_predict
    from ..functions.vector import vector_search
    from ..registries import DEFAULT_CATALOG

    spark = catalog.spark
    emb_model = DEFAULT_CATALOG.models["fake_embedding"]
    gen_model = DEFAULT_CATALOG.models["fake_textgen"]
    emb_table = spark.read.parquet(embeddings_path)

    # seed the queries topic from the documents fixture (S4 INSERT VALUES)
    docs = spark.read.parquet(documents_path).limit(n_queries)
    catalog.create_table_as(
        "queries",
        docs.select(F.col("doc_id").alias("query_id"), F.col("text").alias("query")),
    )

    # INSERT INTO queries_embed SELECT …, ML_PREDICT(embedding_model, query)
    q = catalog.read_stream("queries")
    embedded = q.withColumn("query_embedding", ml_predict(emb_model, "query"))
    catalog.create_table_as("queries_embed", embedded, available_now=True)
    catalog.await_all()

    # INSERT INTO search_results SELECT …, VECTOR_SEARCH_AGG(tbl, …, k)
    qe = catalog.read_stream("queries_embed")
    searched = vector_search(qe, emb_table, "query_embedding", k=k)
    flat = searched.select(
        "query_id", "query",
        F.element_at("search_results", 1).getField("vec_id").alias("top_match_id"),
        F.round(F.element_at("search_results", 1).getField("score"), 6).alias("top_score"),
        F.concat(
            F.lit("Answer using context ids: "),
            F.element_at("search_results", 1).getField("vec_id").cast("string"),
            F.lit(" Q: "), F.substring("query", 1, 30),
        ).alias("prompt"),
    )
    catalog.create_table_as("search_results", flat, available_now=True)
    catalog.await_all()

    # INSERT INTO search_results_response SELECT …, ML_PREDICT(textgen, prompt)
    sr = catalog.read_stream("search_results")
    answered = sr.withColumn("response", ml_predict(gen_model, "prompt"))
    catalog.create_table_as("search_results_response", answered, available_now=True)
    catalog.await_all()
    return catalog


def fraud_pipeline(
    catalog: StreamCatalog,
    events_path: str,
    window: str = "6 hours",
    watermark: str = "5 seconds",
    limit: int = 10,
) -> StreamCatalog:
    """Lab-4-shaped: anomaly windows interval-joined back to the raw stream,
    then a streaming LIMIT investigation queue (J2 + L1).
    Topics: window_counts6h, scored6h, anomalies6h, to_investigate.

    Join-state contract: the join's right side is the anomalies-only
    topic ``anomalies6h``, so its watermark moves only when an anomalous
    window arrives. Spark also pushes the non-event-time ``is_anomaly``
    filter below ``withWatermark``, so watermarking before the filter
    would not help. Raw-event join state therefore drains only as far as
    the last anomaly's horizon; everything after it stays in state until
    the next anomaly (the sentinel slices of
    ``test_stream_state_bounds.py::test_lab_chain_state_bounded_and_drained``
    exist to close it)."""
    catalog.register_events_source("events", events_path)

    ev = catalog.read_stream("events")
    agg = tumble(
        ev, "ts", window, keys=["event_type"],
        aggs=[F.count("*").alias("event_count"),
              F.round(F.sum("value"), 2).alias("total_value")],
        watermark=watermark,
    ).select("window_time", "event_type", "event_count", "total_value")
    catalog.create_table_as("window_counts6h", agg, available_now=True)
    catalog.await_all()

    counts = catalog.read_stream("window_counts6h")
    scored = ml_detect_anomalies_stream(
        counts, metric="event_count", ts="window_time", keys=["event_type"],
        min_training_size=4, max_training_size=50, confidence_percentage=95.0,
    )
    flat = scored.select(
        "window_time", "event_type", "event_count",
        F.col("anomaly_result.upper_bound").alias("upper_bound"),
        F.col("anomaly_result.is_anomaly").alias("is_anomaly"),
    )
    catalog.create_table_as("scored6h", flat, available_now=True)
    catalog.await_all()

    sc = catalog.read_stream("scored6h")
    anomalies = sc.filter(F.col("is_anomaly") == True)  # noqa: E712
    catalog.create_table_as("anomalies6h", anomalies, available_now=True)
    catalog.await_all()

    # J2: raw events within the 6h window preceding each anomalous window,
    # LAB4-Walkthrough.md:231-235 analog. Both sides watermarked.
    raw = catalog.read_stream("events", watermark=("ts", watermark))
    anom = catalog.read_stream("anomalies6h",
                               watermark=("window_time", watermark))
    joined = interval_join_stream(
        raw, anom, on=["event_type"], left_ts="ts", right_ts="window_time",
        lower=f"INTERVAL {window.upper()}", upper="INTERVAL 0 SECONDS",
    ).select("event_id", "ts", "event_type", "value",
             "window_time", "event_count")

    # L1: streaming global LIMIT via foreachBatch counter.
    lim = StreamingLimit(limit, order_by=["ts", "event_id"])
    catalog.create_table_foreach_batch(
        "to_investigate", joined, lim, schema=joined.schema, available_now=True
    )
    catalog.await_all()
    return catalog


def curation_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
    watermark: str = "10 seconds",
    min_quality: float = 0.5,
    min_tokens: int = 20,
    lang: str = "en",
) -> StreamCatalog:
    """Continuous training-data curation: documents → score (map-only JVM
    expressions) → quality/language/length gate → watermark-bounded exact
    dedup on content fingerprint → curated topic.

    The batch twin is ``queries.curation_pipeline``; the only semantic
    delta is the dedup tier — batch keeps the smallest doc_id per
    fingerprint, streaming keeps the FIRST ARRIVAL per fingerprint within
    the watermark horizon (``dropDuplicatesWithinWatermark`` — bounded
    state, the only honest contract over an unbounded stream). With the
    chronologically-sorted fixtures the two agree (pinned by
    test_streaming.py).

    Documents carry no event time, so ingestion stamps a deterministic
    synthetic ``ts`` from doc_id order — stand-in for the Kafka ingestion
    timestamp a real feed provides.
    """
    from ..functions import text as tx
    from .ops import dedup_exact_stream

    spark = catalog.spark
    docs = spark.read.parquet(documents_path)
    stamped = docs.select("doc_id", "text", arrival_ts("doc_id").alias("ts"))
    catalog.create_table_as("raw_docs", stamped)

    scored = catalog.read_stream("raw_docs").select(
        "doc_id", "ts",
        tx.lang_id("text").alias("lang_pred"),
        tx.quality_score("text").alias("quality"),
        tx.token_count("text").alias("n_tokens"),
        tx.doc_fingerprint("text").alias("fingerprint"),
    )
    gated = scored.filter(
        (F.col("quality") >= min_quality)
        & (F.col("lang_pred") == lang)
        & (F.col("n_tokens") >= min_tokens)
    )
    catalog.create_table_as("gated_docs", gated, available_now=True)
    catalog.await_all()

    deduped = dedup_exact_stream(
        catalog.read_stream("gated_docs"),
        cols=["fingerprint"],
        event_time="ts",
        delay=watermark,
    ).select("doc_id", "lang_pred", "quality", "n_tokens")
    catalog.create_table_as("curated_docs", deduped, available_now=True)
    catalog.await_all()
    return catalog


def keyword_search_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
    n_queries: int = 20,
    k: int = 5,
) -> StreamCatalog:
    """Lab-2-shaped continuous search chain with keyword retrieval in
    place of vector retrieval (terraform/lab2-vector-search/main.tf:
    253,292 in /root/reference): queries topic → map-only broadcast-BM25
    scoring → keyword_results topic.

    The index is precomputed from the document corpus (one batch job);
    the per-row scorer is stateless, so the streaming stage is pure
    append — no shuffle, no state store, identical rows to the batch
    ``bm25_topk``.
    """
    from ..operators.retrieval import bm25_search_broadcast, build_bm25_index

    spark = catalog.spark
    docs = spark.read.parquet(documents_path)
    index = build_bm25_index(docs)

    seed = docs.limit(n_queries).select(
        F.col("doc_id").alias("query_id"),
        F.substring("text", 1, 40).alias("query_text"),
    )
    catalog.create_table_as("keyword_queries", seed)

    q = catalog.read_stream("keyword_queries")
    results = bm25_search_broadcast(q, index, k=k)
    catalog.create_table_as("keyword_results", results, available_now=True)
    catalog.await_all()
    return catalog


@_releases_frozen_profiles
def tfidf_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
    k: int = 3,
) -> StreamCatalog:
    """Continuous per-doc tf·idf keyword extraction — the streaming half
    of queries.tfidf_top_terms, the profile-then-stream shape
    (DSIR/CCNet/PCA recipe): the corpus vocabulary (term→df plus the
    1-row n_docs stat) is built ONCE from the profile corpus and frozen,
    then every arriving document is scored by the SAME operator
    (operators/retrieval.tfidf_top_terms with ``frozen=``) inside
    foreachBatch. A doc's top-k depends only on its own tokens and the
    frozen vocabulary, so the per-batch plan is stateless (broadcast
    vocab join + per-doc window over just the micro-batch) and parity
    with batch is BIT-EXACT, not approximate (pinned in
    tests/test_streaming.py). New corpus epochs mean re-profiling and
    restarting with a new frozen vocabulary — df drifts by release, not
    by row.
    """
    from pyspark.sql import types as T

    from ..operators.retrieval import postings, tfidf_top_terms

    spark = catalog.spark
    docs = spark.read.parquet(documents_path).select("doc_id", "text")

    post = postings(docs)
    dfreq = track_persist(
        post.groupBy("term").agg(F.count("*").alias("df")).persist()
    )
    stats = track_persist(
        post.agg(F.countDistinct("doc_id").alias("n_docs")).persist()
    )
    dfreq.count(), stats.count()  # materialize the frozen vocabulary once

    stamped = docs.withColumn("ts", arrival_ts("doc_id"))
    catalog.create_table_as("tfidf_raw_docs", stamped)

    def score(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        return tfidf_top_terms(batch_df, k=k, frozen=(dfreq, stats))

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("term", T.StringType()),
        T.StructField("tf", T.LongType()),
        T.StructField("df", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ])
    stream = catalog.read_stream("tfidf_raw_docs")
    catalog.create_table_foreach_batch(
        "tfidf_top_terms", stream, score, schema=schema, available_now=True
    )
    catalog.await_all()
    return catalog


def decontamination_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
    watermark: str = "10 seconds",
    n: int = 13,
    bench_mod: int = 17,
    bloom_m_bits: int | None = None,
) -> StreamCatalog:
    """Continuous benchmark decontamination: a quarantine feed of
    contaminated doc ids over a documents stream.

    The batch twin is ``queries.decontamination`` (GPT-3-style 13-gram
    rule, same ``doc_id % bench_mod`` benchmark selection). Streaming
    shape: the benchmark shingle-hash set is STATIC and broadcast, so the
    document stream runs map-only — in-row shingle explode, broadcast
    semi-join — and the only state is ``dropDuplicatesWithinWatermark``
    on doc_id, which collapses a doc's multiple shingle hits to one
    quarantine row with watermark-bounded memory. No stream-side shuffle
    of text at any scale; new benchmark versions mean restarting the
    query with a re-broadcast set (the honest contract — benchmarks
    change by release, not by record).

    Documents carry no event time, so ingestion stamps a deterministic
    synthetic ``ts`` from doc_id order (stand-in for the Kafka ingestion
    timestamp a real feed provides).

    ``bloom_m_bits`` switches on the Bloom tier for benchmark sets too
    large to broadcast as a join hash table (the batch
    `bloom_decontamination` shape): the frozen bitset rides the stream
    plan as one array<long> literal row, the map-only k-probe membership
    test prunes the shingle flow, and the (still broadcast) exact set
    confirms the survivors — output provably identical to the exact
    tier, pinned in tests.
    """
    spark = catalog.spark
    docs = spark.read.parquet(documents_path)
    stamped = docs.select("doc_id", "text", arrival_ts("doc_id").alias("ts"))
    catalog.create_table_as("decon_raw_docs", stamped)

    from ..operators.decontamination import _bench_shingle_set, _norm_shingle_hashes

    bench = _bench_shingle_set(
        docs.filter(F.col("doc_id") % bench_mod == 0), "text", n
    )

    stream = catalog.read_stream("decon_raw_docs", watermark=("ts", watermark))
    # identical shingle machinery to the batch rule — one source of truth,
    # so the streaming ≡ batch contract can't drift
    exploded = _norm_shingle_hashes(
        stream, "doc_id", "text", n, keep_cols=["ts"]
    ).select("doc_id", "ts", "h")
    if bloom_m_bits is not None:
        from ..operators.decontamination import bloom_bitset, bloom_member

        words = bloom_bitset(bench, "h", m_bits=bloom_m_bits, k=3)
        bloom_df = spark.createDataFrame([(words,)], "bloom: array<bigint>")
        exploded = (
            exploded.crossJoin(F.broadcast(bloom_df))
            .filter(bloom_member(F.col("h"), F.col("bloom"),
                                 m_bits=bloom_m_bits, k=3))
            .drop("bloom")
        )
    quarantined = (
        exploded.join(F.broadcast(bench), "h")
        .select("doc_id", "ts")
        .dropDuplicatesWithinWatermark(["doc_id"])
    )
    catalog.create_table_as("contaminated_docs", quarantined, available_now=True)
    catalog.await_all()
    return catalog


def contamination_fraction_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
    watermark: str = "10 seconds",
    n: int = 8,
    threshold_pct: int = 70,
    bench_mod: int = 17,
) -> StreamCatalog:
    """Continuous GRADED contamination scoring (VERDICT r9 #7) — the
    streaming half of ``queries.contamination_fraction``: per-doc
    fraction of distinct ``n``-grams shared with the benchmark, PaLM's
    thresholded rule, as a changelog topic.

    Streaming shape mirrors :func:`decontamination_stream_pipeline`
    (static broadcast benchmark set, identical ``_norm_shingle_hashes``
    machinery — one source of truth with the batch operator) but the
    graded rule needs the TOTAL shingle count too, so the pipeline keeps
    the left join and one per-doc aggregate. All of a doc's shingles
    originate from its single input row, so each doc's counts are
    complete the moment its row's shingles clear the (map-only,
    broadcast) join — state is one small integer row per doc, evicted by
    the watermark because the event-time column rides in the grouping
    key. Docs shorter than ``n`` tokens emit no shingles and no row
    (the short-doc contract: they can never be contaminated; the batch
    twin emits them with ``n_ngrams = 0``).

    The verdict arithmetic is the batch operator's exact-integer form
    verbatim (``hits·100 ≥ pct·total``; ``frac_e6`` a non-negative
    fixed point), so streaming ≡ batch is bit-exact on every doc with
    ≥ 1 shingle — pinned in tests/test_streaming.py.
    """
    if not 0 <= threshold_pct <= 100:
        raise ValueError(f"threshold_pct must be 0..100, got {threshold_pct}")
    spark = catalog.spark
    docs = spark.read.parquet(documents_path)
    stamped = docs.select("doc_id", "lang", "text", arrival_ts("doc_id").alias("ts"))
    catalog.create_table_as("cfrac_raw_docs", stamped)

    from ..operators.decontamination import _bench_shingle_set, _norm_shingle_hashes

    bench = _bench_shingle_set(
        docs.filter(F.col("doc_id") % bench_mod == 0), "text", n
    ).withColumn("__m", F.lit(1))

    stream = catalog.read_stream("cfrac_raw_docs", watermark=("ts", watermark))
    shingled = _norm_shingle_hashes(
        stream, "doc_id", "text", n, keep_cols=["lang", "ts"]
    ).select("doc_id", "lang", "ts", "h")
    per = (
        shingled.join(F.broadcast(bench), "h", "left")
        # ts in the grouping key → watermark evicts settled doc state
        .groupBy("doc_id", "lang", "ts")
        .agg(
            F.count("*").cast("long").alias("n_ngrams"),
            F.count("__m").cast("long").alias("n_hits"),
        )
    )
    graded = per.select(
        "doc_id", "lang", "n_ngrams",
        F.col("n_hits").alias("n_contaminated_ngrams"),
        F.expr("(n_hits * 1000000) div n_ngrams").cast("long")
        .alias("frac_e6"),
        (F.col("n_hits") * 100 >= F.lit(int(threshold_pct)) * F.col("n_ngrams"))
        .alias("contaminated"),
        "ts",
    )
    catalog.create_table_changelog(
        "contamination_graded", graded, available_now=True
    )
    catalog.await_all()
    return catalog


def token_mix_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
    weights: dict[str, float],
    budget: int,
    salt: str = "mix-v1",
) -> StreamCatalog:
    """Continuous token-budget domain mixing: rates are profiled ONCE from
    a bounded profile batch (at 100 TB: the previous corpus snapshot's
    per-domain token totals), then the live stream applies the pure
    map-only identity-hash filter — no state, no shuffle, trivially
    restartable. A true GLOBAL token budget over an unbounded stream is
    undefined; fixed profiled rates realizing the target mixture (and the
    budget in expectation over the profiled window) are the honest
    streaming contract. Batch twin: queries.token_budget_mix (pinned
    equal in tests/test_streaming.py — identical rates → identical
    accept/reject decisions row by row).
    """
    from ..functions import text as tx
    from ..operators.sampling import stratified_sample, token_budget_rates

    spark = catalog.spark
    profile = spark.read.parquet(documents_path).select(
        "doc_id", "source", tx.token_count("text").cast("bigint").alias("n_tokens")
    )
    rates = token_budget_rates(profile, "source", "n_tokens", weights, budget)

    stamped = spark.read.parquet(documents_path).select(
        "doc_id", "source", "text",
        arrival_ts("doc_id").alias("ts"),
    )
    catalog.create_table_as("mix_raw_docs", stamped)

    stream = catalog.read_stream("mix_raw_docs").select(
        "doc_id", "source",
        tx.token_count("text").cast("bigint").alias("n_tokens"),
    )
    mixed = stratified_sample(
        stream, "source", rates, id_cols=["doc_id"], default=0.0, salt=salt
    )
    catalog.create_table_as("mixed_docs", mixed, available_now=True)
    catalog.await_all()
    return catalog


def line_dedup_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
    line_words: int = 3,
    sep: str = " | ",
    watermark: str = "7 days",
) -> StreamCatalog:
    """Continuous C4-style line dedup: documents → word-window lines
    (map-only explode) → watermark-bounded FIRST-ARRIVAL per distinct
    line (``dropDuplicatesWithinWatermark`` — bounded state, the only
    honest contract over an unbounded stream; batch keeps the smallest
    (doc_id, pos) instead, and the two agree on arrival-ordered fixtures)
    → per-document reassembly as a watermarked windowed aggregation (a
    document's lines share one event time, so the window groups them
    back losslessly). Batch twin: operators/dedup.dedup_lines via
    queries.line_dedup_clean, pinned equal in tests/test_streaming.py.

    Stream/batch agreement contract: "first arrival" is well-defined per
    micro-batch only up to the source's partition order. The parity test
    holds because the fixture parquet reads as a SINGLE input split
    (well under spark.sql.files.maxPartitionBytes), so every line reaches
    the dedup state in doc_id order — the batch winner. A multi-split
    source keeps correct FIRST-ARRIVAL semantics but may keep a different
    (doc, pos) copy than batch's global min; that is the honest streaming
    contract, not a bug. The watermark horizon must also cover the
    fixture's synthetic event-time span (1 s per doc_id — 7 days covers
    ~600k docs); lines older than the horizon age out of state and would
    dedup only within their horizon, exactly as documented for
    dropDuplicatesWithinWatermark.
    """
    spark = catalog.spark
    docs = spark.read.parquet(documents_path).filter(
        F.trim(F.col("text")) != ""
    )
    stamped = docs.select("doc_id", "text", arrival_ts("doc_id").alias("ts"))
    # Watermark-advancing sentinel: append mode only emits a reassembly
    # window once the watermark passes its end; a far-future row (unique
    # line, filtered back out below) closes every real window when the
    # bounded fixture run drains. A live deployment gets this for free
    # from continuing traffic.
    sentinel = docs.limit(1).select(
        F.lit(-1).cast(docs.schema["doc_id"].dataType).alias("doc_id"),
        F.lit("__watermark_sentinel__").alias("text"),
        arrival_ts(F.lit(30 * 86_400)).alias("ts"),  # 30 days out
    )
    catalog.create_table_as("line_raw_docs", stamped.unionByName(sentinel))

    from ..operators.dedup import word_window_lines

    stream = catalog.read_stream("line_raw_docs", watermark=("ts", watermark))
    ex = stream.select(
        "doc_id", "ts",
        F.posexplode(word_window_lines("text", line_words)).alias(
            "pos", "line"
        ),
    )
    first = ex.dropDuplicatesWithinWatermark(["line"])
    reassembled = (
        first.groupBy(F.window("ts", "1 hour"), F.col("doc_id"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s.line,
                ),
                sep,
            ).alias("text"),
            F.count("*").cast("bigint").alias("n_lines_kept"),
        )
        .select("doc_id", "text", "n_lines_kept")
        .filter(F.col("doc_id") >= 0)
    )
    catalog.create_table_as("line_deduped_docs", reassembled,
                            available_now=True)
    catalog.await_all()
    return catalog


def dsir_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
    target_source: str = "src0",
    n_buckets: int = 1024,
) -> StreamCatalog:
    """Continuous DSIR importance scoring: the ≤``n_buckets``-row bucket
    log-likelihood-ratio table is profiled ONCE from a bounded profile
    batch (at 100 TB: the previous corpus snapshot — the recipe DSIR
    itself uses to score CommonCrawl), collected driver-side, and baked
    into the stream plan as a literal map. The live stream then scores
    each document MAP-ONLY with JVM higher-order functions — tokens fold
    through bucket→ratio lookups inside whole-stage codegen: no state,
    no shuffle, no Python, trivially restartable. Tokens hashing to a
    bucket unseen in the profile get the correctly-smoothed unseen-bucket
    ratio (0.5-count on both sides), not zero.

    Batch twin: queries.dsir_importance_weights shares the profile
    aggregation verbatim (operators/sampling.dsir_bucket_llr); parity is
    pinned in tests/test_streaming.py. The only divergence channel is
    float summation order (token order here vs hash-agg order in batch),
    sub-ULP at ROUND(4).
    """
    from ..operators.sampling import dsir_bucket_llr, dsir_token_bucket

    spark = catalog.spark
    profile = spark.read.parquet(documents_path)
    rows = dsir_bucket_llr(
        profile, "text", F.col("source") == target_source, n_buckets
    ).collect()
    if rows:
        tt, st = rows[0]["tt"], rows[0]["st"]
        half = n_buckets / 2.0
        import math

        unseen = (math.log(0.5 / (tt + half)) - math.log(0.5 / (st + half)))
    else:  # empty profile corpus: every ratio is the (degenerate) default
        unseen = 0.0
    ratio_map = F.map_from_arrays(
        F.array(*[F.lit(int(r["b"])) for r in rows]),
        F.array(*[F.lit(float(r["r"])) for r in rows]),
    )

    stamped = profile.select(
        "doc_id", "source", "text",
        arrival_ts("doc_id").alias("ts"),
    )
    catalog.create_table_as("dsir_raw_docs", stamped)

    stream = catalog.read_stream("dsir_raw_docs")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    weight = F.aggregate(
        F.transform(
            toks,
            lambda w: F.coalesce(
                F.element_at(ratio_map, dsir_token_bucket(w, n_buckets)),
                F.lit(unseen),
            ),
        ),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    scored = stream.select(
        "doc_id", "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(weight, 4).alias("log_importance"),
    )
    catalog.create_table_as("dsir_scored_docs", scored, available_now=True)
    catalog.await_all()
    return catalog


def denoising_builder_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
) -> StreamCatalog:
    """Continuous T5-denoising training-example builder — the streaming
    half of queries.span_corruption_pairs: raw documents stream in,
    (inputs, targets) sentinel pairs stream out on ``denoising_pairs``.
    The corruption chain is the SAME column-expression definition as the
    batch query (queries.build_span_corruption) — stateless, map-only,
    md5-deterministic — so streaming output is BIT-EXACT equal to batch
    on the same rows (pinned in tests), restartable for free."""
    from ..queries import build_span_corruption

    spark = catalog.spark
    docs = spark.read.parquet(documents_path).select("doc_id", "text")
    stamped = docs.withColumn("ts", arrival_ts("doc_id"))
    catalog.create_table_as("denoise_raw_docs", stamped)

    stream = catalog.read_stream("denoise_raw_docs").select("doc_id", "text")
    catalog.create_table_as(
        "denoising_pairs", build_span_corruption(stream), available_now=True
    )
    catalog.await_all()
    return catalog


def gzip_ingest_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
) -> StreamCatalog:
    """Continuous compressed-text ingestion — the streaming half of
    queries.gzip_text_ingest and the front door of every streaming
    curation chain here: arriving gzip members decode per-row
    (operators/compress.decompress_text — map-only, stateless,
    trivially restartable), decodable texts land on ``ingested_texts``
    with their integrity metadata, torn/non-compressed payloads land on
    ``ingest_quarantine`` (the media-triage routing contract). Parity
    with the batch decode is exact — same operator, same synth
    (operators/compress.synth_gzip_payloads), same rows."""
    from ..operators.compress import decompress_text, synth_gzip_payloads

    spark = catalog.spark
    docs = spark.read.parquet(documents_path)
    stamped = synth_gzip_payloads(docs).withColumn("ts", arrival_ts("doc_id"))
    catalog.create_table_as("gz_raw_payloads", stamped)

    # decode ONCE into an intermediate topic; both routes are then
    # filter-only streams off it — decompression is the dominant cost
    # and must never run per consumer (the surge/dsir topic-chaining
    # shape)
    stream = catalog.read_stream("gz_raw_payloads")
    catalog.create_table_as(
        "gz_decoded", decompress_text(stream), available_now=True
    )
    catalog.await_all()
    dec = catalog.read_stream("gz_decoded")
    catalog.create_table_as(
        "ingested_texts",
        dec.filter(F.col("digest").isNotNull())
        .select("doc_id", "text", "n_bytes", "digest"),
        available_now=True,
    )
    catalog.await_all()
    dec2 = catalog.read_stream("gz_decoded")
    catalog.create_table_as(
        "ingest_quarantine",
        dec2.filter(F.col("digest").isNull()).select("doc_id"),
        available_now=True,
    )
    catalog.await_all()
    return catalog


def pca_stream_pipeline(
    catalog: StreamCatalog,
    embeddings_path: str,
    k: int = 4,
) -> StreamCatalog:
    """Continuous PCA projection — the streaming half of
    queries.pca_project, same profile-then-stream shape as DSIR/CCNet/
    temperature-mix: the basis is fitted ONCE on a profile corpus
    (operators/pca.pca_fit — single-pass BLAS moments + driver eigh,
    the recipe PCA itself prescribes: you don't refit a basis per
    micro-batch), then every arriving vector is projected MAP-ONLY by
    the same JVM zip_with/aggregate folds the batch query uses — no
    state, no shuffle, no Python on the stream, trivially restartable.
    New corpus epochs mean refitting and restarting with a new frozen
    basis (the honest contract; bases change by release).

    Parity: identical frozen basis + identical fold ⇒ projections are
    BIT-EXACT equal to a batch `pca_project` over the same rows (pinned
    in tests/test_streaming.py).
    """
    from ..operators.pca import pca_fit, pca_project

    spark = catalog.spark
    emb = spark.read.parquet(embeddings_path)
    mean, comps, _evals = pca_fit(emb, "embedding", k)

    stamped = emb.select("vec_id", "embedding", arrival_ts("vec_id").alias("ts"))
    catalog.create_table_as("pca_raw_vecs", stamped)

    stream = catalog.read_stream("pca_raw_vecs")
    projected = pca_project(stream, "embedding", mean, comps).select(
        "vec_id", *[f"pc{i + 1}" for i in range(k)]
    )
    catalog.create_table_as("pca_projected", projected, available_now=True)
    catalog.await_all()
    return catalog


def temperature_mix_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
    budget: int = 100_000,
) -> StreamCatalog:
    """Continuous temperature-mix sampler — the streaming half of
    queries.temperature_mix, same profile-then-stream shape as
    dsir_stream_pipeline: the per-language allocation is computed ONCE
    from a bounded profile corpus (operators/sampling.
    temperature_allocation at alpha=0.5 — exact integer targets), the
    per-language keep-rate ``least(1, target_tokens/lang_tokens)`` is
    baked into the stream plan as literals, and every arriving doc
    passes a MAP-ONLY deterministic-hash gate (operators/sampling.
    stratified_sample — same doc kept on every run/restart/
    partitioning). No state, no shuffle, no Python. A language absent
    from the profile, or NULL, defaults to keep-rate 1 (never silently
    drop a novel stratum — quarantine-by-keeping).

    Parity contract: kept set is EXACTLY the batch rule's output when
    the profile is the corpus (pinned in tests/test_streaming.py).
    """
    from ..functions.text import token_count
    from ..operators.sampling import stratified_sample, temperature_allocation

    spark = catalog.spark
    profile = spark.read.parquet(documents_path)
    alloc = temperature_allocation(
        profile.select("lang", token_count("text").alias("nt")),
        "lang",
        "nt",
        budget=budget,
    ).collect()
    # exact-integer target / exact-integer total -> one IEEE division:
    # the same double any replay computes
    rates = {
        r["lang"]: min(1.0, r["target_tokens"] / r["n_tokens"])
        for r in alloc
        if r["n_tokens"]
    }

    stamped = profile.select(
        "doc_id", "lang", "source",
        arrival_ts("doc_id").alias("ts"),
    )
    catalog.create_table_as("tmix_raw_docs", stamped)

    stream = catalog.read_stream("tmix_raw_docs")
    kept = stratified_sample(
        stream, "lang", rates, id_cols=["doc_id"], default=1.0, salt="temp-mix"
    ).select("doc_id", "lang", "source")
    catalog.create_table_as("tmix_sampled_docs", kept, available_now=True)
    catalog.await_all()
    return catalog


def quality_filter_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
) -> StreamCatalog:
    """Continuous quality-classifier filtering — the streaming half of
    the fastText-style gate (queries.quality_classifier_score): each
    arriving document is scored by the SAME operator
    (operators/sampling.hashed_linear_classifier_score — a JVM
    higher-order fold over hashed unigram+bigram features) and only
    ``keep`` rows reach the curated topic; rejects land on a quarantine
    topic with their margin for audit. Completely stateless and
    shuffle-free: the weight table is part of the expression (a real
    trained model would broadcast-join on the bucket id — still
    stateless), so the stream is map-only, trivially restartable, and
    parity with batch is EXACT (integer margins — no float summation
    order to drift, unlike the ROUND(4)-pinned DSIR twin).
    """
    from ..operators.sampling import hashed_linear_classifier_score

    spark = catalog.spark
    docs = spark.read.parquet(documents_path)
    stamped = docs.select("doc_id", "source", "text", arrival_ts("doc_id").alias("ts"))
    catalog.create_table_as("qc_raw_docs", stamped)

    stream = catalog.read_stream("qc_raw_docs")
    # score derived from the shifted-non-negative fixed-point integer,
    # exactly like the batch query (r9: round(raw_double, 9) was the
    # driver-hash-fragile column two rounds running; keep the twins
    # identical — see quality_classifier_score's docstring)
    score_e9 = F.expr(
        "((raw_margin + 1000 * n_features) * 1000000000)"
        " div (1000 * n_features) - 1000000000"
    ).cast("bigint")
    scored = hashed_linear_classifier_score(stream, "text").select(
        "doc_id", "source", "n_features", "raw_margin",
        (score_e9 / F.lit(1000000000.0)).alias("score"), "keep",
    )
    catalog.create_table_as(
        "qc_curated_docs", scored.filter(F.col("keep")).drop("keep"),
        available_now=True,
    )
    catalog.create_table_as(
        "qc_quarantine_docs", scored.filter(~F.col("keep")).drop("keep"),
        available_now=True,
    )
    catalog.await_all()
    return catalog


def text_gate_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
) -> StreamCatalog:
    """Fused stateless text-curation gate (round 9, VERDICT r8 #6) —
    the streaming composition of the THREE batch gates a web pipeline
    runs front-to-back on every arriving document, in recipe order:

    1. Unicode NFC normalize + control-strip + whitespace-collapse
       (operators/compress.normalize_text — the queries.
       unicode_normalize_clean operator), because every downstream
       hash/token gate must see canonical bytes;
    2. C4 blocklist filter, token-exact over the NORMALIZED text
       (queries.badwords_filter semantics);
    3. fastText-style quality-classifier keep
       (operators/sampling.hashed_linear_classifier_score — the
       queries.quality_classifier_score operator).

    Rejects land on a quarantine topic with a ``reason`` column
    (blocklist beats classifier when both fire — C4 applies the
    blocklist first). Entirely stateless and shuffle-free: normalize is
    Arrow map-only, the blocklist is a JVM array_intersect against a
    literal, the classifier is a JVM fold — one pass, restartable,
    bit-exact parity with the batch composition."""
    from ..operators.compress import normalize_text
    from ..operators.sampling import hashed_linear_classifier_score

    spark = catalog.spark
    docs = spark.read.parquet(documents_path).select(
        "doc_id", "text",
        arrival_ts("doc_id").alias("ts"),
    )
    catalog.create_table_as("tg_raw_docs", docs)

    # normalize ONCE into an intermediate topic; both routes are
    # filter-only off the gated stream (the gzip-ingest topic-chaining
    # shape — Python-tier work must never run per consumer)
    stream = catalog.read_stream("tg_raw_docs")
    catalog.create_table_as(
        "tg_normalized", normalize_text(stream, "doc_id", "text"),
        available_now=True,
    )
    catalog.await_all()

    blocklist = ["dup", "spill", "leak"]  # queries.badwords_filter list
    toks = F.array_distinct(F.split(F.trim(F.lower("norm_text")), r"\s+"))
    n_blocked = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in blocklist]))
    ).cast("long")
    gated = hashed_linear_classifier_score(
        catalog.read_stream("tg_normalized"), "norm_text"
    ).select(
        "doc_id", "norm_text", "changed",
        n_blocked.alias("n_blocked_words"),
        "raw_margin", "n_features", "keep",
    )
    catalog.create_table_as(
        "tg_curated_docs",
        gated.filter((F.col("n_blocked_words") == 0) & F.col("keep"))
        .drop("keep"),
        available_now=True,
    )
    catalog.create_table_as(
        "tg_quarantine_docs",
        gated.filter((F.col("n_blocked_words") > 0) | ~F.col("keep"))
        .select(
            "doc_id", "n_blocked_words", "raw_margin",
            F.when(F.col("n_blocked_words") > 0, F.lit("blocklist"))
            .otherwise(F.lit("classifier")).alias("reason"),
        ),
        available_now=True,
    )
    catalog.await_all()
    return catalog


def hll_sketch_stream_pipeline(
    catalog: StreamCatalog,
    events_path: str,
) -> StreamCatalog:
    """Continuous cardinality sketching (round 9) — the streaming half
    of queries.hll_distinct_sketch: per-stratum HyperLogLog registers
    (operators/hll.py) maintained as a CHANGELOG topic. The register
    aggregate is update-mode's ideal tenant: state is BOUNDED at
     2^p rows per stratum no matter how many events arrive (the whole
    point of the sketch), each micro-batch emits only the registers
    whose max(rank) changed, and the compacted view
    (``read_batch_latest``) equals the batch sketch EXACTLY — integer
    max-folds have no order sensitivity, so streaming ≡ batch is
    bit-exact and the downstream estimate (one IEEE division of exact
    integers) matches to the last bit."""
    from ..operators.hll import hll_registers

    spark = catalog.spark
    ev = spark.read.parquet(events_path).select(
        "event_type",
        F.col("event_id").cast("string").alias("v"),
        arrival_ts("event_id", "ms").alias("ts"),
    )
    catalog.create_table_as("hll_raw_events", ev)

    stream = catalog.read_stream("hll_raw_events")
    regs = hll_registers(stream, "v", strata=["event_type"], p=8)
    catalog.create_table_changelog(
        "hll_registers_live", regs, available_now=True
    )
    catalog.await_all()
    return catalog


def webdataset_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
) -> StreamCatalog:
    """Continuous WebDataset shard ingest (round 10): a stream of TAR
    shard payloads demuxes into a ``shard_members`` topic — the loader
    read path as a stream. The walk (``operators/tar.tar_members``) is
    the SAME map-only mapInPandas the batch tar_member_index query runs,
    so streaming ≡ batch is byte-deterministic and exact; stateless,
    shuffle-free, trivially restartable. Shards synthesize from the
    document stream via the stdlib tarfile writer (one .txt + one .cls
    member per doc — the fixture analog of an object-store shard feed).
    """
    from ..operators.tar import make_tar, tar_members

    spark = catalog.spark
    docs = spark.read.parquet(documents_path)

    def make(i, t):
        return make_tar([("s0.txt", t[:80].encode()),
                         ("s0.cls", str(i % 10).encode())])

    stamped = synth_payloads(docs, make, ("doc_id", "text")).withColumn(
        "ts", arrival_ts("doc_id"))
    catalog.create_table_as("wds_raw_shards", stamped)

    stream = catalog.read_stream("wds_raw_shards")
    members = tar_members(stream.drop("ts"), "doc_id", "payload")
    catalog.create_table_as("shard_members", members, available_now=True)
    catalog.await_all()
    return catalog


def kmins_sketch_stream_pipeline(
    catalog: StreamCatalog,
    events_path: str,
    k: int = 64,
) -> StreamCatalog:
    """Continuous k-mins sketching (round 10) — the streaming half of
    queries.kmins_token_sketch: per-stratum bottom-hash registers
    (operators/kmv.py) maintained as a CHANGELOG topic. Same update-mode
    rationale as the HLL twin: state is BOUNDED at k rows per stratum
    no matter how many events arrive, each micro-batch emits only the
    buckets whose min(h) changed, and the compacted view equals the
    batch sketch EXACTLY — integer min-folds have no order sensitivity,
    so streaming ≡ batch is bit-exact, including the min_by sample
    values (ties are md5-collision-rare and value-identical)."""
    from ..operators.kmv import kmins_signature

    spark = catalog.spark
    ev = spark.read.parquet(events_path).select(
        "event_type",
        F.col("event_id").cast("string").alias("v"),
        arrival_ts("event_id", "ms").alias("ts"),
    )
    catalog.create_table_as("kmins_raw_events", ev)

    stream = catalog.read_stream("kmins_raw_events")
    sig = kmins_signature(stream, "v", strata=["event_type"], k=k)
    catalog.create_table_changelog(
        "kmins_sketch_live", sig, available_now=True
    )
    catalog.await_all()
    return catalog


def url_dedup_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
) -> StreamCatalog:
    """Continuous URL-canonical page dedup (round 9, VERDICT r8 #6) —
    the streaming half of queries.url_canonical_dedup: each arriving
    page's URL canonicalizes map-only (functions/text.url_canonicalize,
    the same RE2-safe JVM regexp chain as batch), then
    ``dropDuplicatesWithinWatermark`` on the canonical key keeps the
    FIRST arrival per page and drops later re-crawls. State is
    watermark-bounded (canonical keys expire 10 minutes past the event
    -time frontier — the RefinedWeb re-crawl window stand-in), so state
    size tracks the crawl rate, not corpus size. Batch keeps min
    doc_id; the stream keeps first-ARRIVAL — the parity contract is the
    canonical-set + one-keeper-per-page invariants, not keeper ids."""
    from ..functions.text import url_canonicalize

    spark = catalog.spark
    d = F.col("doc_id")
    url = F.concat(
        F.lit("HTTPS://"),
        F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("Site"), (d % 7).cast("string"), F.lit(".Example.COM"),
        F.when(d % 13 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Page/"), (d % 50).cast("string"),
        F.when(d % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            d % 2 == 0,
            F.concat(F.lit("?utm_source=feed"), (d % 4).cast("string")),
        ).otherwise(F.lit("")),
        F.when(d % 11 == 0, F.lit("#sec2")).otherwise(F.lit("")),
    )
    pages = spark.read.parquet(documents_path).select(
        "doc_id", url.alias("url"),
        arrival_ts("doc_id").alias("ts"),
    )
    catalog.create_table_as("url_raw_pages", pages)

    stream = catalog.read_stream("url_raw_pages").withColumn(
        "canonical_url", url_canonicalize(F.col("url"))
    )
    deduped = stream.withWatermark("ts", "10 minutes") \
        .dropDuplicatesWithinWatermark(["canonical_url"])
    catalog.create_table_as(
        "url_unique_pages",
        deduped.select("doc_id", "url", "canonical_url"),
        available_now=True,
    )
    catalog.await_all()
    return catalog


def ccnet_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
    vocab_cap: int = 20_000,
) -> StreamCatalog:
    """Continuous CCNet perplexity bucketing — the streaming half of
    queries.ccnet_ppl_buckets, shaped exactly like the DSIR twin
    (profile-then-score): everything corpus-derived is frozen from a
    bounded profile pass, then the live stream is scored and bucketed
    MAP-ONLY — no state, no shuffle, trivially restartable.

    Frozen from the profile (at 100 TB: the previous corpus snapshot,
    the same recipe CCNet itself uses — its KenLM is pretrained, not
    fit on the stream):

    - the unigram LM — per-term ``ln(cf/T)`` computed by the SAME JVM
      expressions as the batch operator (collected, then baked into the
      plan as a map literal; ``vocab_cap`` guards the driver AND the
      plan: every term becomes a Catalyst Literal, so a 100k+ vocab
      would balloon analysis/serialization long before any hard error —
      20k literals (~a few MB of plan) is the honest ceiling for the
      literal-map tier; a corpus
      whose vocabulary exceeds it should hash terms into bounded
      buckets first, the dsir_token_bucket recipe);
    - the per-language head/middle tercile BOUNDARIES — the last
      (score, doc_id) pair of each NTILE(3) bucket under the batch
      query's exact order (rounded score DESC, doc_id ASC), so an
      arriving doc's bucket is two tuple comparisons.

    Parity with batch: boundaries are exact tuples from the batch
    window, and scores round to 6 like batch — the only divergence
    channel is float summation order inside a doc (token-order fold
    here vs tf-weighted hash-agg order in batch), sub-ULP at ROUND(6),
    the same pin as the DSIR twin's ROUND(4). Unseen terms get the
    0.5-smoothed floor ``ln(0.5/(T+0.5))``; docs in languages absent
    from the profile bucket as 'tail' (frozen-model semantics).
    """
    import math

    from pyspark.sql import Window

    from ..operators.retrieval import postings, unigram_logprob

    spark = catalog.spark
    profile = spark.read.parquet(documents_path)

    # frozen LM — JVM-computed ln(cf/T) so literals are bit-identical
    # to the batch operator's F.log values (no Python-libm drift)
    post = postings(profile)
    vocab = (
        post.groupBy("term").agg(F.sum("tf").alias("cf"))
        .crossJoin(F.broadcast(
            post.agg(F.sum("tf").cast("double").alias("t_total"))
        ))
        .select("term", F.log(F.col("cf") / F.col("t_total")).alias("lp"),
                "t_total")
    )
    vrows = vocab.collect()
    if len(vrows) > vocab_cap:
        raise ValueError(
            f"profile vocabulary {len(vrows)} exceeds vocab_cap "
            f"{vocab_cap}; hash terms into bounded buckets first "
            "(see operators/sampling.dsir_token_bucket)"
        )
    t_total = vrows[0]["t_total"] if vrows else 0.0
    unseen = math.log(0.5 / (t_total + 0.5)) if vrows else 0.0
    lm_map = F.map_from_arrays(
        F.array(*[F.lit(r["term"]) for r in vrows]),
        F.array(*[F.lit(float(r["lp"])) for r in vrows]),
    )

    # frozen tercile boundaries: last (score, doc_id) of head and of
    # middle per language, under (round-6 score DESC, doc_id ASC) —
    # encoded as the ascending key (-score, doc_id) so "in bucket" is
    # one lexicographic struct comparison
    scored = unigram_logprob(profile).select("doc_id", "avg_logprob").join(
        profile.select("doc_id", "lang"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id")
    )
    key = F.struct(
        (-F.col("avg_logprob")).alias("ns"), F.col("doc_id").alias("id")
    )
    ranked = scored.withColumn("b", F.ntile(3).over(w))
    brows = ranked.groupBy("lang").agg(
        F.max(F.when(F.col("b") == 1, key)).alias("h"),
        F.max(F.when(F.col("b") == 2, key)).alias("m"),
    ).collect()
    langs = [r["lang"] for r in brows]

    def bound_map(field: str, part: str) -> F.Column:
        return F.map_from_arrays(
            F.array(*[F.lit(r["lang"]) for r in brows if r[part] is not None]),
            F.array(*[
                F.lit(r[part][field]) for r in brows if r[part] is not None
            ]),
        )

    stamped = profile.select("doc_id", "lang", "text", arrival_ts("doc_id").alias("ts"))
    catalog.create_table_as("ccnet_raw_docs", stamped)

    stream = catalog.read_stream("ccnet_raw_docs")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda t: t != "",
    )
    s = F.aggregate(
        F.transform(
            toks,
            lambda t: F.coalesce(F.element_at(lm_map, t), F.lit(unseen)),
        ),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    avg = F.round(s / F.size(toks).cast("double"), 6)
    ns = -avg

    def le(part: str) -> F.Column:
        bns = F.element_at(bound_map("ns", part), F.col("lang"))
        bid = F.element_at(bound_map("id", part), F.col("lang"))
        return bns.isNotNull() & (
            (ns < bns) | ((ns == bns) & (F.col("doc_id") <= bid))
        )

    bucketed = stream.filter(F.size(toks) > 0).select(
        "doc_id", "lang", avg.alias("avg_logprob"),
        F.when(~F.col("lang").isin(langs) if langs else F.lit(True), "tail")
        .when(le("h"), "head")
        .when(le("m"), "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )
    catalog.create_table_as("ccnet_bucketed_docs", bucketed,
                            available_now=True)
    catalog.await_all()
    return catalog


@_releases_frozen_profiles
def media_dedup_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
    max_hamming: int = 3,
    max_bucket: int = 4096,
) -> StreamCatalog:
    """Continuous image dedup GATE — the streaming half of
    queries.image_phash_dedup: every arriving image is dHashed by the
    SAME operator (operators/phash.dhash_images) and checked against a
    FROZEN reference index (the profile corpus's band-exploded dHash
    table — at 100 TB: the previous corpus snapshot, the DSIR/CCNet
    profile-then-stream recipe). An arriving image routes to the
    curated topic iff no SMALLER-id reference image is within
    ``max_hamming``; near-dups land on a quarantine topic with their
    match distance. Undecodable payloads pass through curated with
    NULL bands (a dup cannot be proven — the batch contract).

    The per-batch check runs inside foreachBatch, so the banded
    equi-join + Hamming filter is a plain BATCH plan per micro-batch —
    no streaming state at all (the reference index is frozen), exactly
    restartable. Parity with batch is EXACT, not approximate: a doc's
    verdict depends only on the frozen profile and its own bytes, so
    kept(stream doc) == kept(batch image_phash_dedup doc) when the
    profile IS the corpus (pinned in tests/test_streaming.py).
    """
    from pyspark.sql import types as T

    from ..operators.phash import dhash_images

    from ..queries import _phash_bmp  # one synth definition

    spark = catalog.spark
    docs = spark.read.parquet(documents_path)
    stamped = synth_payloads(docs, _phash_bmp).withColumn(
        "ts", arrival_ts("doc_id"))
    catalog.create_table_as("pdup_raw_imgs", stamped)

    # frozen reference: band-exploded dHash index of the profile
    ref_hashes = dhash_images(spark.read.parquet(
        catalog.tables["pdup_raw_imgs"].path
    ), "doc_id", "payload").select(
        F.col("doc_id").alias("ref_id"),
        *[F.col(f"b{j}").alias(f"r{j}") for j in range(4)],
    )
    # the SAME hot-bucket cap as the batch miner: a degenerate band
    # (flat images -> band 0) must drop from the index exactly as it
    # drops from batch candidate generation — both for parity of the
    # kept flags and because an uncapped bucket fans the per-batch join
    # out quadratically
    ref_bands = track_persist(cap_hot_buckets(
        explode_bands(
            ref_hashes, "ref_id", [f"r{j}" for j in range(4)],
            keep_cols=[f"r{j}" for j in range(4)],
        ),
        max_bucket,
    ).persist())
    ref_bands.count()  # materialize the frozen index once

    ham = sum(
        F.bit_count(F.col(f"b{j}").bitwiseXOR(F.col(f"r{j}")))
        for j in range(4)
    )

    def gate(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        h = dhash_images(batch_df, "doc_id", "payload")
        bands = explode_bands(
            h, "doc_id", [f"b{j}" for j in range(4)],
            keep_cols=[f"b{j}" for j in range(4)],
        )
        # min over the (ref_id, ham) PAIR — two independent mins could
        # pair the smallest ref with a DIFFERENT reference's distance
        dup = (
            bands.join(ref_bands, ["i", "v"])
            .filter(F.col("ref_id") < F.col("doc_id"))
            .filter(ham <= max_hamming)
            .groupBy("doc_id")
            .agg(F.min(F.struct(F.col("ref_id"), ham.alias("h"))).alias("__m"))
            .select(
                "doc_id",
                F.col("__m.ref_id").alias("dup_of"),
                F.col("__m.h").alias("ham"),
            )
        )
        return h.join(dup, "doc_id", "left").select(
            "doc_id", "b0", "b1", "b2", "b3", "dup_of",
            F.col("ham").cast("int").alias("hamming"),
        )

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        *[T.StructField(f"b{j}", T.LongType()) for j in range(4)],
        T.StructField("dup_of", T.LongType()),
        T.StructField("hamming", T.IntegerType()),
    ])
    stream = catalog.read_stream("pdup_raw_imgs")
    catalog.create_table_foreach_batch(
        "pdup_gated", stream, gate, schema=schema, available_now=True
    )
    catalog.await_all()
    return catalog


@_releases_frozen_profiles
def audio_dedup_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
    max_diff: int = 1,
    max_bucket: int = 4096,
) -> StreamCatalog:
    """Continuous audio dedup GATE — the streaming half of
    queries.audio_near_dup, same frozen-reference-index shape as
    media_dedup_stream_pipeline: the profile corpus's energy-signature
    band table is computed once and frozen, then every arriving clip is
    fingerprinted by the SAME operator (operators/afp.audio_energy_sig)
    and checked against it inside foreachBatch (plain batch plan per
    micro-batch, zero streaming state, exactly restartable). Routes
    with (dup_of, n_diff) pointing at the smallest matching reference
    id; undecodable clips pass with a NULL signature (the batch
    contract). Parity with the batch query's kept flags is EXACT when
    the profile IS the corpus (pinned in tests)."""
    from pyspark.sql import types as T

    from ..operators.afp import audio_energy_sig

    from ..queries import _afp_wav  # one synth definition
    from ..sources.parquet import spread_scan

    spark = catalog.spark
    docs = spark.read.parquet(documents_path).select("doc_id")
    stamped = synth_payloads(spread_scan(docs), _afp_wav).withColumn(
        "ts", arrival_ts("doc_id"))
    catalog.create_table_as("adup_raw_clips", stamped)

    ref_sigs = (
        audio_energy_sig(spark.read.parquet(
            catalog.tables["adup_raw_clips"].path
        ), "doc_id", "payload")
        .filter(F.col("sig").isNotNull())
        .select(
            F.col("doc_id").alias("ref_id"),
            F.col("sig").alias("ref_sig"),
            "b0", "b1", "b2", "b3",
        )
    )
    # same hot-bucket cap as batch audio_near_dup (all-silent clips
    # collapse to one digest — the degenerate bucket the cap exists for)
    ref_bands = track_persist(cap_hot_buckets(
        explode_bands(
            ref_sigs, "ref_id", [f"b{j}" for j in range(4)],
            keep_cols=["ref_sig"],
        ),
        max_bucket,
    ).persist())
    ref_bands.count()  # materialize the frozen index once

    n_diff = F.aggregate(
        F.zip_with(
            F.split("sig", ":"), F.split("ref_sig", ":"),
            lambda x, y: F.when(x == y, 0).otherwise(1),
        ),
        F.lit(0), lambda acc, x: acc + x,
    )

    def gate(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        h = audio_energy_sig(batch_df, "doc_id", "payload")
        bands = explode_bands(
            h.filter(F.col("sig").isNotNull()),
            "doc_id", [f"b{j}" for j in range(4)], keep_cols=["sig"],
        )
        dup = (
            bands.join(ref_bands, ["i", "v"])
            .filter(F.col("ref_id") < F.col("doc_id"))
            .filter(n_diff <= max_diff)
            .groupBy("doc_id")
            .agg(F.min("ref_id").alias("dup_of"))
        )
        return h.join(dup, "doc_id", "left").select(
            "doc_id", "sig", "dup_of"
        )

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("sig", T.StringType()),
        T.StructField("dup_of", T.LongType()),
    ])
    stream = catalog.read_stream("adup_raw_clips")
    catalog.create_table_foreach_batch(
        "adup_gated", stream, gate, schema=schema, available_now=True
    )
    catalog.await_all()
    return catalog


def media_triage_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
) -> StreamCatalog:
    """Continuous media triage — the streaming half of
    queries.media_probe_meta: every arriving binary asset is probed
    HEADER-ONLY (operators/multimodal.probe_media — container sniff +
    dims/duration/frame-count, no sample decode) and routed by media
    class: image/audio/video topics for downstream decode fleets, an
    unrecognized-payload quarantine for audit. Stateless mapInPandas,
    no shuffle, restartable at any batch boundary; parity with the
    batch probe is exact (header parsing is deterministic byte work).

    The assets are the batch query's own 8-container generator
    (``queries._media_asset``) over the first 200 doc_ids, so the
    streaming triage exercises every probe path the batch query does —
    including JPEG and the WebP family.
    """
    from ..operators.multimodal import probe_media
    from ..queries import _media_asset  # one synth definition

    spark = catalog.spark
    docs = spark.read.parquet(documents_path).select("doc_id").limit(200)
    stamped = synth_payloads(docs, _media_asset).withColumn(
        "ts", arrival_ts("doc_id"))
    catalog.create_table_as("media_raw_assets", stamped)

    stream = catalog.read_stream("media_raw_assets")
    probed = probe_media(stream, "payload").select(
        "doc_id", "container",
        F.col("media_meta.media_type").alias("media_type"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
        F.col("media_meta.n_frames").alias("n_frames"),
        F.col("media_meta.duration_ms").alias("duration_ms"),
    )
    for mt in ("image", "audio", "video"):
        catalog.create_table_as(
            f"media_{mt}_assets",
            probed.filter(F.col("media_type") == mt),
            available_now=True,
        )
    catalog.create_table_as(
        "media_quarantine",
        probed.filter(F.col("container").isNull()).select("doc_id"),
        available_now=True,
    )
    catalog.await_all()
    return catalog


def crawl_frontier_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
    watermark: str = "10 seconds",
) -> StreamCatalog:
    """Continuous robots.txt crawl gate (round 11) — the streaming half
    of ``queries.robots_gate``: URL rows stream in, rules stay a STATIC
    broadcast table (parsed once from robots.txt bodies through the
    production ``parse_robots_txt`` — at 100 TB the rules table is the
    previous fetch cycle's snapshot), and each URL's RFC 9309 verdict
    lands on a ``frontier_verdicts`` changelog topic.

    Streaming shape: the batch operator's per-URL argmax WINDOW is not
    available under streaming semantics, so the verdict is an
    order-isomorphic min(struct) aggregate — ``min(struct(1-m, -len,
    1-allow, prefix))`` picks match > longest > allow > prefix-ASC,
    the batch window's EXACT total order, which is what makes the
    parity test bit-exact. All of a URL's candidate rules arrive with
    its single input row (map-only broadcast join), so its verdict is
    complete immediately; event time rides in the grouping key and the
    watermark evicts settled state — one small row per in-flight URL.
    """
    spark = catalog.spark
    docs = spark.read.parquet(documents_path).select("doc_id")
    d = F.col("doc_id")
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("h"), (d % 7), F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit("/p/"), (d % 4),
            F.when(d % 2 == 0, F.lit("/pub/x")).otherwise(F.lit("/y")),
        ).alias("path"),
        arrival_ts(d).alias("ts"),
    )
    catalog.create_table_as("frontier_raw_urls", urls)

    from ..operators.web import robots_rules_table

    bodies = spark.createDataFrame(
        [
            (
                f"h{i}.example.com",
                "User-agent: *\n"
                f"Disallow: /p/{i % 4}\n"
                f"Allow: /p/{i % 4}/pub\n",
            )
            for i in range(7)
        ],
        "host string, robots_txt string",
    )
    rules = robots_rules_table(bodies).select(
        F.col("host").alias("__rhost"),
        F.col("prefix").alias("__prefix"),
        F.col("allow").alias("__allow"),
    )

    stream = catalog.read_stream("frontier_raw_urls",
                                 watermark=("ts", watermark))
    j = stream.join(
        F.broadcast(rules), stream["host"] == F.col("__rhost"), "left"
    ).withColumn(
        "__m",
        F.col("__prefix").isNotNull()
        & F.col("path").startswith(F.col("__prefix")),
    )
    pick = F.min(
        F.struct(
            (1 - F.col("__m").cast("int")).alias("k1"),
            (-F.coalesce(F.length("__prefix"), F.lit(0))).alias("k2"),
            (1 - F.coalesce(F.col("__allow"), F.lit(False)).cast("int"))
            .alias("k3"),
            F.col("__prefix").alias("k4"),
            F.col("__m").alias("m"),
            F.col("__allow").alias("allow"),
        )
    ).alias("__p")
    per = (
        j.groupBy("doc_id", "host", "path", "ts")
        .agg(pick)
        .select(
            "doc_id", "host", "path",
            F.when(F.col("__p.m"), F.col("__p.allow"))
            .otherwise(F.lit(True)).alias("allowed"),
            F.when(F.col("__p.m"), F.col("__p.k4"))
            .otherwise(F.lit(None).cast("string")).alias("matched_prefix"),
            "ts",
        )
    )
    catalog.create_table_changelog(
        "frontier_verdicts", per, available_now=True
    )
    catalog.await_all()
    return catalog


def readability_gate_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
    min_flesch_e3: int = 0,
    max_flesch_e3: int = 206_835,
) -> StreamCatalog:
    """Continuous Flesch-readability gating (round 11b) — the streaming
    half of queries.readability_scores: each arriving document gets
    the pure-JVM integer counts (functions/text.readability_counts)
    and routes by the exact milli-unit score — in-band prose to the
    curated topic, everything else (too-hard gibberish, too-"easy"
    degenerate text, and empty docs via the n_words=0 flag) to a
    quarantine topic with its counts for audit. Stateless and
    shuffle-free (map-only expression), trivially restartable; parity
    with batch is EXACT — the gate compares BIGINTs, no float ever
    enters the decision (the quality_filter twin discipline).
    """
    from ..functions.text import readability_counts

    spark = catalog.spark
    docs = spark.read.parquet(documents_path)
    stamped = docs.select("doc_id", "source", "text", arrival_ts("doc_id").alias("ts"))
    catalog.create_table_as("rg_raw_docs", stamped)

    stream = catalog.read_stream("rg_raw_docs")
    c = readability_counts("text")
    scored = stream.select(
        "doc_id", "source",
        c["n_words"].alias("n_words"),
        c["n_sentences"].alias("n_sentences"),
        c["n_syllables"].alias("n_syllables"),
        c["flesch_e3"].alias("flesch_e3"),
    ).withColumn(
        "keep",
        (F.col("n_words") > 0)
        & F.col("flesch_e3").between(min_flesch_e3, max_flesch_e3),
    )
    catalog.create_table_as(
        "rg_curated_docs", scored.filter(F.col("keep")).drop("keep"),
        available_now=True,
    )
    catalog.create_table_as(
        "rg_quarantine_docs", scored.filter(~F.col("keep")).drop("keep"),
        available_now=True,
    )
    catalog.await_all()
    return catalog


@_releases_frozen_profiles
def bitext_stream_pipeline(
    catalog: StreamCatalog,
    embeddings_path: str,
    k: int = 4,
    threshold: float = 1.0,
) -> StreamCatalog:
    """Continuous margin-based bitext mining — the streaming half of
    queries.bitext_mining_margin, the profile-then-stream shape (the
    tfidf/DSIR/CCNet discipline): the TARGET-side corpus and its
    backward neighborhood averages (abwd per target = mean of its top-k
    cosines over the profile source corpus, Artetxe & Schwenk ACL'19)
    are computed ONCE and frozen; every arriving SOURCE embedding is
    then scored map-only by the SAME forward top-k + rank-ordered fold
    + margin expressions as batch. A source row's verdict depends only
    on its own embedding and the two frozen tables, so the per-batch
    plan is stateless (broadcast corpus + per-row window over just the
    micro-batch explosion) and parity with batch is BIT-EXACT — the
    margin is one division of bit-identical doubles (pinned in
    tests/test_streaming.py). New corpus epochs mean re-profiling and
    restarting with fresh frozen tables — neighborhoods drift by
    release, not by row. Every source row emits ONE best-candidate
    verdict to ``bitext_verdicts`` with a ``mined`` flag (margin >
    threshold) — mined pairs and the under-threshold audit tail are
    the two filtered views of that one topic.

    100 TB shape: the frozen side is gated by the vector_search
    broadcast guard; beyond broadcastable corpora the batch ANN ladder
    applies at profile time and the stream scores against the frozen
    ANN shortlists — the per-row cost never exceeds one broadcast
    matmul row.
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from ..functions.vector import vector_search

    spark = catalog.spark
    emb = spark.read.parquet(embeddings_path)
    src = emb.filter(F.col("label") < 5).select("vec_id", "embedding")
    tgt = emb.filter(F.col("label") >= 5).select("vec_id", "embedding")

    # rank-order fold over the top-k array column: same (((s1+s2)+s3)+s4)/k
    # as the batch query and its oracle's list_aggregate over the rk-ordered
    # list
    def _avgk():
        return F.aggregate(
            "search_results", F.lit(0.0), lambda acc, x: acc + x["score"]
        ) / F.lit(float(k))

    # frozen profile: backward average per target over the profile
    # source corpus (two small columns; materialized once)
    bwd = vector_search(
        tgt.select(F.col("vec_id").alias("tgt_id"), "embedding"),
        src, "embedding", k=k,
    )
    abwd = track_persist(bwd.select("tgt_id", _avgk().alias("abwd")).persist())
    abwd.count()

    stamped = src.select(
        F.col("vec_id").alias("src_id"), "embedding",
        arrival_ts("vec_id").alias("ts"),
    )
    catalog.create_table_as("bitext_raw_src", stamped)

    def score(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        fwd = vector_search(
            batch_df.select("src_id", "embedding"), tgt, "embedding", k=k
        )
        fwd = fwd.select("src_id", "search_results", _avgk().alias("afwd"))
        cand = (
            fwd.select(
                "src_id", "afwd",
                F.explode("search_results").alias("hit"),
            )
            .select(
                "src_id", "afwd",
                F.col("hit.vec_id").alias("tgt_id"),
                F.col("hit.score").alias("c"),
            )
            .join(F.broadcast(abwd), "tgt_id")
            .withColumn(
                "margin",
                F.lit(2.0) * F.col("c") / (F.col("afwd") + F.col("abwd")),
            )
        )
        w = Window.partitionBy("src_id").orderBy(
            F.col("margin").desc(), F.col("tgt_id").asc()
        )
        return (
            cand.withColumn("brk", F.row_number().over(w))
            .filter(F.col("brk") == 1)
            .select(
                "src_id", "tgt_id",
                F.round("c", 6).alias("cos_sim"),
                F.round("margin", 6).alias("margin"),
                (F.col("margin") > F.lit(threshold)).alias("mined"),
            )
        )

    schema = T.StructType([
        T.StructField("src_id", T.LongType()),
        T.StructField("tgt_id", T.LongType()),
        T.StructField("cos_sim", T.DoubleType()),
        T.StructField("margin", T.DoubleType()),
        T.StructField("mined", T.BooleanType()),
    ])
    stream = catalog.read_stream("bitext_raw_src")
    catalog.create_table_foreach_batch(
        "bitext_verdicts", stream, score, schema=schema, available_now=True
    )
    catalog.await_all()
    return catalog


def charset_gate_stream_pipeline(
    catalog: StreamCatalog,
    documents_path: str,
) -> StreamCatalog:
    """Continuous WHATWG charset routing — the streaming half of
    queries.charset_sniff: each arriving raw payload gets the pure-JVM
    sniff (functions/text.bom_detect > meta_charset > utf-8 default)
    and routes by provenance — payloads with an EXPLICIT declaration
    (BOM or in-prescan <meta charset>) to the declared topic with the
    winning label, BOM-less undeclared payloads to a defaulted topic
    for re-detection audit (the class a real ingest pipeline runs a
    statistical detector over). Stateless and shuffle-free (map-only
    hex-prefix + bounded-prescan regex); parity with batch is EXACT —
    the decision compares string equality on the same bytes (the
    readability-gate twin discipline). The payload synth is shared with
    the batch query (functions/text.synth_charset_payloads)."""
    from ..functions.text import (
        bom_detect,
        meta_charset,
        resolve_charset,
        synth_charset_payloads,
    )

    spark = catalog.spark
    docs = spark.read.parquet(documents_path).select("doc_id")
    stamped = synth_charset_payloads(docs).withColumn("ts", arrival_ts("doc_id"))
    catalog.create_table_as("cs_raw_payloads", stamped)

    stream = catalog.read_stream("cs_raw_payloads")
    bom = bom_detect("payload")
    meta = meta_charset(F.decode(F.col("payload"), "ISO-8859-1"))
    sniffed = stream.select(
        "doc_id",
        bom.alias("bom"),
        meta.alias("meta_charset"),
        resolve_charset(bom, meta).alias("resolved"),
    )
    declared = F.col("bom").isNotNull() | F.col("meta_charset").isNotNull()
    catalog.create_table_as(
        "cs_declared", sniffed.filter(declared), available_now=True
    )
    catalog.create_table_as(
        "cs_defaulted", sniffed.filter(~declared), available_now=True
    )
    catalog.await_all()
    return catalog


@_releases_frozen_profiles
def inference_cache_stream_pipeline(
    catalog: StreamCatalog,
    events_path: str,
) -> StreamCatalog:
    """Continuous cached inference — the streaming half of
    queries.ml_predict_cached (profile-then-stream): the response cache
    is frozen at pipeline start (a compacted topic's snapshot); every
    arriving templated prompt probes it, and only cache MISSES invoke
    the provider — deduplicated WITHIN each micro-batch, so the model
    sees one call per distinct missed prompt per batch (the intra-batch
    dedup is exactly the batch operator's, run by foreachBatch). A row's
    verdict depends only on its own prompt and the frozen cache, and the
    fake provider is deterministic, so parity with batch is BIT-EXACT.
    Cache epochs roll by restarting with a re-compacted snapshot —
    exactly how a Kafka-compacted cache topic is consumed; the
    continuously-updating variant would feed new_entries back through a
    second topic, trading bit-exact replay determinism for hit rate.
    """
    from pyspark.sql import types as T

    from ..functions.ml import ml_predict, ml_predict_cached
    from ..registries import DEFAULT_CATALOG

    spark = catalog.spark
    model = DEFAULT_CATALOG.models["fake_textgen"]
    ev = spark.read.parquet(events_path)
    prompts = ev.select(
        "event_id",
        F.concat(
            F.lit("Describe "), F.col("event_type"),
            F.lit(" for cohort "), (F.col("user_id") % 40).cast("string"),
        ).alias("prompt"),
        (F.col("user_id") % 40).alias("cohort"),
        "ts",
    )
    seed = (
        prompts.filter(F.col("cohort") % 3 == 0).select("prompt").distinct()
    )
    cache = track_persist(seed.select(
        F.md5("prompt").alias("prompt_hash"),
        ml_predict(model, "prompt").alias("response"),
    ).persist())
    cache.count()  # freeze the snapshot once

    catalog.create_table_as(
        "ic_raw_prompts", prompts.select("event_id", "prompt", "ts")
    )

    # scope mark taken AFTER the cache is frozen: the per-batch release
    # drops only this pipeline's batch deltas, never the cache nor a
    # concurrent ml_predict_cached caller's pending delta (ADVICE r13)
    scope = persist_scope_mark()

    def score(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        # previous batch's new-entry persist is materialized by now —
        # release it so a long-running stream holds at most one batch's
        # delta in executor storage (the r12 tfidf-stream leak class)
        release_tracked_persists(since=scope)
        result, _delta = ml_predict_cached(
            batch_df.drop("ts"), model, "prompt", cache
        )
        return result.select("event_id", "prompt", "cache_hit", "response")

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("prompt", T.StringType()),
        T.StructField("cache_hit", T.BooleanType()),
        T.StructField("response", T.StringType()),
    ])
    stream = catalog.read_stream("ic_raw_prompts")
    catalog.create_table_foreach_batch(
        "ic_responses", stream, score, schema=schema, available_now=True
    )
    catalog.await_all()
    return catalog


@_releases_frozen_profiles
def ivf_upsert_stream_pipeline(
    catalog: StreamCatalog,
    embeddings_path: str,
    n_centroids: int = 16,
    drift_margin_e6: int = 50_000,
) -> StreamCatalog:
    """Continuous IVF index-freshness monitoring — the streaming half of
    queries.ivf_index_upsert (profile-then-stream): the coarse quantizer
    and the old epoch's held-out calibration stats are frozen at start;
    every arriving vector is assigned + alignment-quantized in ONE Arrow
    pass (operators/similarity.assign_align_e6 — the fold replays the
    batch operator bit for bit) and accumulated by an UPDATE-mode
    per-cell aggregate into a changelog topic. State is ≤ n_centroids
    rows (two BIGINTs per cell) REGARDLESS of stream length — the
    strongest bounded-state contract in the repo next to
    pack_sequences_stream's per-bucket scalars — and the integer sums
    are order-insensitive, so the compacted view equals the batch query
    EXACTLY under any ingest order (pinned in tests/test_streaming.py).
    After the stream drains, the current per-cell verdict table
    (``iu_verdicts``) is materialized by joining the compacted totals
    against the frozen calibration stats with the same all-integer
    cross-multiplied verdicts as batch.
    """
    from ..operators.similarity import _train_centroids, assign_align_e6

    spark = catalog.spark
    emb = spark.read.parquet(embeddings_path)
    train = emb.filter(F.col("vec_id") % 4 < 2).select("vec_id", "embedding")
    ref = emb.filter(F.col("vec_id") % 4 == 2).select("vec_id", "embedding")
    new = emb.filter(F.col("vec_id") % 4 == 3).select("vec_id", "embedding")

    cents = _train_centroids(
        train.filter(F.col("embedding").isNotNull()), "embedding",
        n_centroids, 20_000, 5, 42, init="hash", id_col="vec_id",
    )
    refs = track_persist(
        assign_align_e6(ref.filter(F.col("embedding").isNotNull()),
                        "vec_id", "embedding", cents)
        .groupBy("cell")
        .agg(F.count("*").alias("ref_count"), F.sum("align_e6").alias("ref_sum"))
        .persist()
    )
    refs.count()  # freeze the calibration profile

    stamped = new.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding",
        arrival_ts("vec_id").alias("ts"),
    )
    catalog.create_table_as("iu_raw_vectors", stamped)

    stream = catalog.read_stream("iu_raw_vectors")
    totals = (
        assign_align_e6(stream.drop("ts"), "vec_id", "embedding", cents)
        .groupBy("cell")
        .agg(F.count("*").alias("new_count"), F.sum("align_e6").alias("new_sum"))
    )
    catalog.create_table_changelog("iu_cell_totals", totals,
                                   available_now=True)
    catalog.await_all()

    latest = catalog.read_batch_latest("iu_cell_totals", ["cell"])
    spine = catalog.spark.createDataFrame(
        [(int(c),) for c in range(len(cents))], "cell int"
    )
    # one shared verdict path with batch — incl. the DECIMAL(38,0)
    # cross-multiplications (ADVICE r13 int64-overflow fix)
    from ..operators.similarity import cell_verdict_select

    verdicts = (
        spine.join(F.broadcast(refs), "cell", "left")
        .join(F.broadcast(latest), "cell", "left")
        .withColumn("ref_count_f", F.coalesce("ref_count", F.lit(0)))
        .withColumn("new_count_f", F.coalesce("new_count", F.lit(0)))
        .select(*cell_verdict_select(drift_margin_e6))
    )
    catalog.create_table_as("iu_verdicts", verdicts)
    return catalog
