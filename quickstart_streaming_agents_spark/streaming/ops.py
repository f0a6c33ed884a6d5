"""Streaming operators: stateful anomaly detection, interval join, LIMIT.

These are the streaming halves of SURVEY.md §2's W1/J2/L1 — the batch
equivalents live in ``operators/``; both share the same math so a pipeline
can be developed in batch and deployed streaming with identical results.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.anomaly import ANOMALY_RESULT_TYPE, _z_for_confidence, ar_one_step

_ARRIVAL_EPOCH_US = 1_700_000_000_000_000
_ARRIVAL_STEP_US = {"s": 1_000_000, "ms": 1_000}


def arrival_ts(ids: Column | str, step: str = "s") -> Column:
    """Synthetic arrival time of a raw-topic row: a fixed epoch plus one
    ``step`` (``"s"`` or ``"ms"``) per id. The fixtures carry no
    ingestion time, so this stands in for the Kafka timestamp a live
    feed stamps — arrival order is id order, identical on every run."""
    ids = F.col(ids) if isinstance(ids, str) else ids
    return F.timestamp_micros(
        F.lit(_ARRIVAL_EPOCH_US) + ids.cast("long") * _ARRIVAL_STEP_US[step]
    )


# ---------------------------------------------------------------------------
# W1 streaming: ml_detect_anomalies over an unbounded keyed stream
# ---------------------------------------------------------------------------

def ml_detect_anomalies_stream(
    df: DataFrame,
    metric: str,
    ts: str,
    keys: list[str],
    min_training_size: int = 8,
    max_training_size: int = 50,
    confidence_percentage: float = 95.0,
    output_col: str = "anomaly_result",
    ridge_lambda: float = 1e-6,
) -> DataFrame:
    """Streaming ``ML_DETECT_ANOMALIES`` (LAB3-Walkthrough.md:119-132 analog).

    ``applyInPandasWithState`` keyed by ``keys``: per-key state is a ring
    buffer of the last ``max_training_size`` metric values in event-time
    order; each arriving row is forecast from the buffer (same
    ``ar_one_step`` as the batch operator), flagged, then appended.

    Ordering contract: rows are sorted by ``ts`` within each micro-batch;
    cross-batch order relies on chronological ingest — the same contract the
    reference's producers guarantee by sorting before publish
    (scripts/lab4_datagen.py:323-325, scripts/publish_lab3_data.py:357-361
    in /root/reference). Rows older than the newest state timestamp are
    scored but NOT admitted to the buffer (late data cannot corrupt history).

    Scale note: state is O(keys × max_training_size) doubles in the state
    store — thousands of keys × 7000 floats is megabytes, not gigabytes.
    Parallelism = key cardinality, at most the topic's partitions
    (``StreamCatalog.partitions``): each state partition is one Python task
    per trigger.
    """
    import pandas as pd

    z = _z_for_confidence(confidence_percentage)
    in_fields = df.schema.fields
    out_schema = T.StructType(in_fields + [T.StructField(output_col, ANOMALY_RESULT_TYPE)])
    state_schema = T.StructType([
        T.StructField("values", T.ArrayType(T.DoubleType())),
        T.StructField("last_ts", T.LongType()),
    ])
    in_cols = df.columns
    # a null event time cannot be ordered: NaT would sort last but cast to
    # INT64_MIN, corrupting the late-row search and the stored last_ts —
    # drop such rows before they reach state
    df = df.filter(F.col(ts).isNotNull())

    def per_key(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):
        import numpy as np

        from ..operators.anomaly import _ar_forecast_series

        buf: list[float] = []
        last_ts = -(1 << 62)
        if state.exists:
            stored_values, stored_ts = state.get
            buf = list(stored_values)
            last_ts = stored_ts
        # Concatenate the Arrow chunk iterator BEFORE sorting — a key's
        # micro-batch can span multiple chunks, and per-chunk sorting would
        # break the within-micro-batch event-time ordering contract.
        chunks = list(pdfs)
        if not chunks:
            state.update((buf, last_ts))
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values(ts, kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        v = pdf[metric].to_numpy(dtype="float64")
        ts_int = (
            pdf[ts].astype("datetime64[ns]").astype("int64") // 1_000_000
        ).to_numpy()

        fc = np.full(n, np.nan)
        up = np.full(n, np.nan)
        lo = np.full(n, np.nan)
        an = np.zeros(n, dtype=bool)

        # After the ascending sort, late rows (ts < state's last_ts) form a
        # prefix — each is scored against the frozen state buffer and never
        # admitted — and every remaining row is admitted (its ts can only
        # move last_ts forward). Both halves score in vectorized numpy.
        n_late = int(np.searchsorted(ts_int, last_ts, side="left"))
        if n_late:
            step = ar_one_step(buf, min_training_size, z, lam=ridge_lambda)
            if step is not None:
                f0, u0, l0 = step
                fc[:n_late] = f0
                up[:n_late] = u0
                lo[:n_late] = l0
                an[:n_late] = (v[:n_late] > u0) | (v[:n_late] < l0)
        if n_late < n:
            series = np.concatenate([np.asarray(buf, dtype=np.float64), v[n_late:]])
            off = len(buf)
            f1, u1, l1, a1 = _ar_forecast_series(
                series, min_training_size, max_training_size, z, False, 0,
                start=off, lam=ridge_lambda,
            )
            fc[n_late:] = f1[off:]
            up[n_late:] = u1[off:]
            lo[n_late:] = l1[off:]
            an[n_late:] = a1[off:]
            buf = series[-max_training_size:].tolist()
            last_ts = int(ts_int[-1])

        def cell(i: int) -> dict:
            if np.isnan(fc[i]):
                return {"forecast_value": None, "upper_bound": None,
                        "lower_bound": None, "is_anomaly": False}
            return {"forecast_value": float(fc[i]), "upper_bound": float(up[i]),
                    "lower_bound": float(lo[i]), "is_anomaly": bool(an[i])}

        out = pdf[in_cols].copy()
        out[output_col] = [cell(i) for i in range(n)]
        yield out
        state.update((buf, last_ts))

    return df.groupBy(*keys).applyInPandasWithState(
        per_key, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


# ---------------------------------------------------------------------------
# J2 streaming: event-time interval join
# ---------------------------------------------------------------------------

def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    lower: str = "INTERVAL 6 HOURS",
    upper: str = "INTERVAL 0 SECONDS",
    how: str = "inner",
    right_suffix: str = "",
) -> DataFrame:
    """``c JOIN a ON c.k = a.k AND c.ts BETWEEN a.ts - lower AND a.ts + upper``
    (LAB4-Walkthrough.md:231-235 analog).

    Both inputs must already carry watermarks (``withWatermark``) for
    Structured Streaming to bound join state — the watermark plays the role
    of the reference's ``sql.state-ttl`` (ST3). Equi-keys shuffle both sides
    onto the same partitions; the range predicate is evaluated within
    partition. Natively supported stream-stream interval join — no custom
    state.
    """
    lcol = F.col(f"l.{left_ts}")
    rcol = F.col(f"r.{right_ts}")
    cond: Column = (lcol >= rcol - F.expr(lower)) & (lcol <= rcol + F.expr(upper))
    for k in on:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    l, r = left.alias("l"), right.alias("r")
    joined = l.join(r, cond, how)
    # project away the duplicate equi-key columns from the right side;
    # any OTHER shared name would silently produce two identically-named
    # output columns (ambiguous downstream) — suffix it or fail loudly
    clash = [
        c for c in right.columns
        if c not in on and c in left.columns
    ]
    if clash and not right_suffix:
        raise ValueError(
            f"columns {clash} exist on both sides; pass right_suffix "
            "to disambiguate (e.g. right_suffix='_r')"
        )
    keep = [F.col(f"l.{c}") for c in left.columns] + [
        F.col(f"r.{c}").alias(f"{c}{right_suffix}" if c in clash else c)
        for c in right.columns
        if c not in on
    ]
    return joined.select(*keep)


# ---------------------------------------------------------------------------
# Streaming exact dedup (training-data pipeline op, streaming half of
# operators/dedup.dedup_exact)
# ---------------------------------------------------------------------------

def dedup_exact_stream(
    df: DataFrame, cols: list[str], event_time: str, delay: str = "5 seconds"
) -> DataFrame:
    """First-arrival exact dedup on ``cols`` over an unbounded stream.

    ``dropDuplicatesWithinWatermark``: per-key state is retained only until
    the watermark passes the key's last-seen event time + delay, so state is
    O(keys active within the watermark horizon) — bounded, unlike a naive
    ``dropDuplicates`` whose state grows forever. Duplicates separated by
    more than ``delay`` of event time are NOT collapsed; pick the horizon to
    cover the source's real duplicate window (ingest retries cluster within
    seconds; cross-day re-crawls belong to the batch dedup tier).
    """
    return df.withWatermark(event_time, delay).dropDuplicatesWithinWatermark(cols)


# ---------------------------------------------------------------------------
# L1: streaming global LIMIT
# ---------------------------------------------------------------------------

class StreamingLimit:
    """``CREATE TABLE x AS SELECT ... LIMIT n`` on a stream
    (LAB4-Walkthrough.md:209-237 analog — bounds the investigation set).

    Spark has no streaming global limit in append mode; the reference's is a
    Flink global one-slot operator. Implement as a ``foreachBatch`` post-step:
    a driver-side remaining-counter truncates each micro-batch. Driver-side
    is correct here by design — a global LIMIT is inherently a single-point
    decision (so is Flink's); the data volume through it is ≤ n rows total.

    Use with ``StreamCatalog.create_table_foreach_batch(..., batch_fn=lim)``.
    """

    def __init__(self, n: int, order_by: list[str] | None = None):
        self.remaining = n
        self.order_by = order_by
        self._done_epochs: set[int] = set()

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> DataFrame | None:
        # Materialize the whole batch first — ALWAYS, even on the skip
        # paths: stateful upstream operators (interval joins) require every
        # partition to be processed so their state-store commits land; a
        # bare limit() or an early return short-circuits partitions and
        # fails commit validation.
        cached = batch_df.persist()
        try:
            n_rows = cached.count()
            # At-least-once foreachBatch can re-deliver an epoch this
            # instance already answered; emitting again would breach the
            # global cap, so a re-delivered epoch emits nothing (under-fill
            # on the rare partial-write crash is the safe side of the cap;
            # a transactional sink is the exactly-once fix, as with any
            # foreachBatch sink).
            if epoch_id in self._done_epochs:
                return None
            if self.remaining <= 0 or n_rows == 0:
                self._done_epochs.add(epoch_id)
                return None
            src = cached.orderBy(*self.order_by) if self.order_by else cached
            rows = src.limit(self.remaining).collect()
            self.remaining -= len(rows)
            self._done_epochs.add(epoch_id)
            return cached.sparkSession.createDataFrame(rows, cached.schema)
        finally:
            # unpersist the frame that was actually cached — unpersisting a
            # derived orderBy plan would leak the cache entry every batch
            cached.unpersist()


# ---------------------------------------------------------------------------
# J+ streaming: as-of join over two keyed streams
# ---------------------------------------------------------------------------

def asof_join_stream(
    probe: DataFrame,
    build: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_asof",
    state_horizon_seconds: float = 86_400.0,
) -> DataFrame:
    """Streaming as-of join: each probe row picks up the latest build row
    with the same keys and ``build.ts <= probe.ts`` (batch twin:
    ``operators/asof.asof_join``; same inclusive semantics).

    Plan: tag both streams, union them (one relation, so a single keyed
    state operator sees both sides in event-time order), then
    ``applyInPandasWithState`` keyed by ``on``. Per-key state is the build
    tail — (ts, payload-struct) pairs newer than
    ``max_seen_ts - state_horizon_seconds`` — so state is bounded by the
    horizon, not the stream length. Probes binary-search the tail; the
    payload travels as ONE struct (atomic match, same no-tearing argument
    as the batch operator).

    Ordering contract: within a micro-batch rows are sorted (ts, build
    first at equal ts — inclusive semantics; ties on build ts: last
    arrival wins); across micro-batches it relies on chronological ingest,
    the same contract as ``ml_detect_anomalies_stream`` above and the
    reference's sorted producers. Probes late beyond the horizon match
    ``null``; build rows late beyond an already-answered probe cannot
    retract it (append mode has no retraction — reference parity:
    changelog.mode=append).
    """
    import pandas as pd

    keys = list(on)
    carried = [c for c in (right_cols or build.columns) if c not in keys]
    if right_ts not in carried:
        carried = [right_ts, *carried]
    probe_only = [c for c in probe.columns if c not in keys]
    payload_t = build.select(*[F.col(c) for c in carried]).schema
    payload_struct = T.StructType(payload_t.fields)

    # null timestamps can't be ordered: a null-ts probe matches nothing
    # (the batch twin's null-first sort gives it no preceding build row)
    # and bypasses state below; a null-ts build row is dropped
    tagged_probe = probe.filter(F.col(left_ts).isNotNull()).select(
        *keys,
        F.unix_micros(F.col(left_ts)).alias("__ts"),
        F.lit(1).alias("__probe"),
        *[F.col(c) for c in probe_only],
        F.lit(None).cast(payload_struct).alias("__payload"),
    )
    tagged_build = build.filter(F.col(right_ts).isNotNull()).select(
        *keys,
        F.unix_micros(F.col(right_ts)).alias("__ts"),
        F.lit(0).alias("__probe"),
        *[F.lit(None).cast(probe.schema[c].dataType).alias(c) for c in probe_only],
        F.struct(*[F.col(c) for c in carried]).alias("__payload"),
    )
    unioned = tagged_probe.unionByName(tagged_build)

    out_schema = T.StructType(
        [probe.schema[c] for c in probe.columns]
        + [
            T.StructField(f"{f.name}{suffix}", f.dataType)
            for f in payload_t.fields
        ]
    )
    horizon_us = int(state_horizon_seconds * 1_000_000)
    state_schema = T.StructType(
        [
            T.StructField("bts", T.ArrayType(T.LongType())),
            T.StructField("bpay", T.ArrayType(payload_struct)),
        ]
    )

    def _plain(v):
        return v.asDict(recursive=True) if hasattr(v, "asDict") else v

    def per_key(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):
        import bisect

        bts: list[int] = []
        bpay: list = []
        if state.exists:
            sb, sp = state.get
            bts = list(sb)
            bpay = [_plain(p) for p in sp]

        chunks = list(pdfs)
        if not chunks:
            state.update((bts, bpay))
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        # build (0) before probe (1) at equal ts → inclusive <= semantics;
        # stable sort keeps arrival order among equal build rows.
        pdf = pdf.sort_values(["__ts", "__probe"], kind="mergesort").reset_index(
            drop=True
        )

        out_rows = []
        # to_dict keeps the __-prefixed names (itertuples would mangle them)
        for r in pdf.to_dict("records"):
            if r["__probe"] == 0:
                t = int(r["__ts"])
                # admit in-order only (late build can't rewrite history)
                if not bts or t >= bts[-1]:
                    bts.append(t)
                    bpay.append(_plain(r["__payload"]))
                continue
            i = bisect.bisect_right(bts, int(r["__ts"]))
            match = bpay[i - 1] if i else None
            rec = {c: r[c] for c in keys + probe_only}
            for f in payload_t.fields:
                rec[f"{f.name}{suffix}"] = match[f.name] if match else None
            out_rows.append(rec)

        # prune the tail to the horizon (keep >=1 entry as the floor match)
        if bts:
            cut = bts[-1] - horizon_us
            k = bisect.bisect_left(bts, cut)
            k = min(k, len(bts) - 1)
            bts, bpay = bts[k:], bpay[k:]

        if out_rows:
            out = pd.DataFrame(out_rows)
            # restore probe column order + the original timestamp column
            out[left_ts] = pd.to_datetime(out.pop(left_ts), utc=False)
            yield out[[f.name for f in out_schema.fields]]
        state.update((bts, bpay))

    matched = unioned.groupBy(*keys).applyInPandasWithState(
        per_key, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    null_probes = probe.filter(F.col(left_ts).isNull()).select(
        *probe.columns,
        *[
            F.lit(None).cast(f.dataType).alias(f"{f.name}{suffix}")
            for f in payload_t.fields
        ],
    )
    return matched.unionByName(null_probes)


# ---------------------------------------------------------------------------
# Streaming funnel: per-user sequential-step progression as a transition
# changelog (batch twin: queries.event_funnel's final snapshot)
# ---------------------------------------------------------------------------

def funnel_stream(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user funnel progression over an event stream.

    Emits one append-mode row per *stage transition* — (user, stage
    1..len(steps), step name, event time) — the changelog form of the
    batch ``event_funnel`` snapshot: the max-stage row per user equals the
    batch stage, and transition times equal the batch per-step times,
    given chronological ingest (the same ordering contract as
    ``ml_detect_anomalies_stream``; reference parity: sorted producers +
    append mode, scripts/publish_lab3_data.py:357-370 in /root/reference).

    State per user is two scalars (stage index, last transition time) —
    O(users), no event history — so a billion-user stream holds exactly
    one tiny row per user in the state store.

    Tie semantics: within equal timestamps, earlier steps are applied
    first (sort by (ts, step index)), so a step occurring at the exact
    time of its predecessor still counts — matching the batch operator's
    inclusive ``ts >= previous`` ranges.
    """
    import pandas as pd

    step_idx = {s: i for i, s in enumerate(steps)}
    out_schema = T.StructType(
        [
            T.StructField("user_id", events.schema[user_col].dataType),
            T.StructField("stage", T.IntegerType()),
            T.StructField("step", T.StringType()),
            T.StructField("step_ts", T.TimestampType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("stage", T.IntegerType()),
            T.StructField("last_us", T.LongType()),
        ]
    )
    src = events.select(
        F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col)).alias("__us"),
        F.col(type_col).alias("__type"),
    )

    def per_key(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):
        (user,) = key
        stage, last_us = state.get if state.exists else (0, -(1 << 62))
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf["__ord"] = pdf["__type"].map(step_idx).fillna(len(steps)).astype("int64")
        pdf = pdf.sort_values(["__us", "__ord"], kind="mergesort")
        out_stage, out_step, out_ts = [], [], []
        n_steps = len(steps)
        for us, typ in zip(pdf["__us"], pdf["__type"]):
            if stage >= n_steps:
                break
            if typ == steps[stage] and us >= last_us:
                stage += 1
                last_us = us
                out_stage.append(stage)
                out_step.append(typ)
                out_ts.append(us)
        state.update((int(stage), int(last_us)))
        if out_stage:
            yield pd.DataFrame(
                {
                    "user_id": [user] * len(out_stage),
                    "stage": pd.Series(out_stage, dtype="int32"),
                    "step": out_step,
                    # utc=True → tz-aware column, so Arrow output cannot
                    # re-interpret the instant under a non-UTC session tz
                    "step_ts": pd.to_datetime(
                        pd.Series(out_ts), unit="us", utc=True
                    ),
                }
            )

    return src.groupBy("user_id").applyInPandasWithState(
        per_key, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def pack_sequences_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 256,
    num_buckets: int = 8,
) -> DataFrame:
    """Continuous sequence packing — the streaming twin of
    ``operators/packing.pack_sequences`` with the identical output
    contract (bucket, seq_id, doc_tok_start, seq_tok_start,
    n_seq_tokens).

    Token counting and bucket assignment run JVM-side before the
    stateful stage; state per bucket is ONE long (the next token offset
    in that bucket's stream), so the state store holds ``num_buckets``
    scalars total. Layout equality with the batch operator holds under
    the chronological-ingest contract every stateful op here shares
    (docs arrive in ``id_col`` order per bucket); within a micro-batch,
    rows are sorted by id so intra-batch order never matters.
    """
    import pandas as pd

    from quickstart_streaming_agents_spark.operators.packing import (
        bucket_of,
        doc_token_count,
    )

    if seq_len <= 0 or num_buckets <= 0:
        raise ValueError("seq_len and num_buckets must be positive")
    src = docs.select(
        F.col(id_col),
        bucket_of(id_col, num_buckets).alias("bucket"),
        doc_token_count(text_col).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)

    out_schema = T.StructType(
        [
            T.StructField(id_col, docs.schema[id_col].dataType),
            T.StructField("bucket", T.LongType()),
            T.StructField("seq_id", T.LongType()),
            T.StructField("doc_tok_start", T.LongType()),
            T.StructField("seq_tok_start", T.LongType()),
            T.StructField("n_seq_tokens", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("next_off", T.LongType())])

    def per_bucket(key, pdfs, state: GroupState):
        (bucket,) = key
        (off,) = state.get if state.exists else (0,)
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            id_col, kind="mergesort"
        )
        rows = []
        for doc_id, n in zip(pdf[id_col], pdf["n_tokens"]):
            start, end = off, off + int(n)
            for seq in range(start // seq_len, (end - 1) // seq_len + 1):
                lo = max(start, seq * seq_len)
                hi = min(end, (seq + 1) * seq_len)
                rows.append(
                    (doc_id, bucket, seq, lo - start, lo - seq * seq_len, hi - lo)
                )
            off = end
        state.update((int(off),))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "bucket", "seq_id", "doc_tok_start",
                    "seq_tok_start", "n_seq_tokens",
                ],
            )

    return src.groupBy("bucket").applyInPandasWithState(
        per_bucket, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )


def token_bucket_gate_stream(
    df: DataFrame,
    host_col: str = "host",
    ts_ms_col: str = "ts_ms",
    id_col: str = "req_id",
    capacity: int = 3,
    refill_mtok_per_sec: int = 500,
) -> DataFrame:
    """Streaming crawl-politeness token bucket — the
    ``applyInPandasWithState`` twin of
    operators/politeness.token_bucket_verdicts. Per-host state is TWO
    scalars (last event ms, milli-token balance) — the most bounded
    state in the engine; parallelism = host cardinality, the crawl
    frontier's natural sharding.

    Ordering contract: rows sort by (ts_ms, id) within each micro-batch;
    cross-batch order relies on chronological ingest (the window-aligned
    fixture contract shared with ml_detect_anomalies_stream). A
    cross-batch LATE row (ts_ms < state's last_ms) is DENIED with the
    balance untouched — admitting it would retroactively change
    verdicts already emitted, and a deny is the safe direction for a
    politeness gate (never over-fetch).
    """
    import pandas as pd

    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    cap_m = capacity * 1000

    host_f = df.schema[host_col]
    id_f = df.schema[id_col]
    out_schema = T.StructType([
        T.StructField(host_col, host_f.dataType),
        T.StructField(id_col, id_f.dataType),
        T.StructField(ts_ms_col, T.LongType()),
        T.StructField("mtok_after", T.LongType()),
        T.StructField("allowed", T.BooleanType()),
    ])
    state_schema = T.StructType([
        T.StructField("last_ms", T.LongType()),
        T.StructField("mtok", T.LongType()),
    ])

    def per_host(key, pdfs, state: GroupState):
        if state.exists:
            last_ms, mtok = state.get
        else:
            last_ms, mtok = None, cap_m
        chunks = list(pdfs)
        if not chunks:
            state.update((last_ms if last_ms is not None else -1, mtok))
            return
        pdf = (pd.concat(chunks, ignore_index=True)
               if len(chunks) > 1 else chunks[0])
        pdf = pdf.sort_values([ts_ms_col, id_col],
                              kind="mergesort").reset_index(drop=True)
        out_tok, out_ok = [], []
        for ms in pdf[ts_ms_col]:
            ms = int(ms)
            if last_ms is not None and ms < last_ms:
                out_tok.append(mtok)  # late row: deny, balance untouched
                out_ok.append(False)
                continue
            if last_ms is not None:
                mtok = min(
                    cap_m,
                    mtok + (ms - last_ms) * refill_mtok_per_sec // 1000,
                )
            last_ms = ms
            ok = mtok >= 1000
            if ok:
                mtok -= 1000
            out_tok.append(mtok)
            out_ok.append(ok)
        yield pd.DataFrame({
            host_col: pdf[host_col],
            id_col: pdf[id_col],
            ts_ms_col: pdf[ts_ms_col],
            "mtok_after": out_tok,
            "allowed": out_ok,
        })
        state.update((last_ms, mtok))

    return df.groupBy(host_col).applyInPandasWithState(
        per_host, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )


def preference_pairs_stream(
    df: DataFrame,
    prompt_col: str = "prompt_id",
    doc_col: str = "doc_id",
    rating_col: str = "rating",
) -> DataFrame:
    """Streaming DPO pair construction — the ``applyInPandasWithState``
    twin of queries.preference_pairs. Per-prompt state is TWO packed
    BIGINTs (best = max(rating·1e8 + doc), worst = min(·)) — the
    token-bucket state shape: bounded, mergeable, and order-insensitive
    (min/max are associative+commutative), so the pair emitted after the
    final micro-batch is BIT-EXACT equal to the batch aggregate over the
    same rows under ANY batching or arrival order — no chronological
    ingest contract needed, unlike the token bucket.

    Each micro-batch that touches a prompt re-emits that prompt's
    CURRENT pair (rows where best == worst — no strict preference yet —
    are emitted with ``margin`` 0 and both docs equal; the batch query's
    ``margin > 0`` filter is the reader's, applied on the latest row per
    prompt, the upsert-view convention of latest_state_upsert).

    ``doc_col`` values must be < 1e8 (the packing modulus — asserted by
    the batch query's construction; violated ids corrupt the argmax).
    """
    import pandas as pd

    prompt_f = df.schema[prompt_col]
    out_schema = T.StructType([
        T.StructField(prompt_col, prompt_f.dataType),
        T.StructField("chosen_doc", T.LongType()),
        T.StructField("rejected_doc", T.LongType()),
        T.StructField("chosen_rating", T.LongType()),
        T.StructField("rejected_rating", T.LongType()),
        T.StructField("margin", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("best", T.LongType()),
        T.StructField("worst", T.LongType()),
    ])
    pack = 100_000_000

    def per_prompt(key, pdfs, state: GroupState):
        best, worst = state.get if state.exists else (None, None)
        touched = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            touched = True
            packed = (pdf[rating_col].astype("int64") * pack
                      + pdf[doc_col].astype("int64"))
            b, w = int(packed.max()), int(packed.min())
            best = b if best is None else max(best, b)
            worst = w if worst is None else min(worst, w)
        if best is None:
            return
        state.update((best, worst))
        if not touched:
            return
        yield pd.DataFrame({
            prompt_col: [key[0]],
            "chosen_doc": [best % pack],
            "rejected_doc": [worst % pack],
            "chosen_rating": [best // pack],
            "rejected_rating": [worst // pack],
            "margin": [best // pack - worst // pack],
        })

    return df.groupBy(prompt_col).applyInPandasWithState(
        per_prompt, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )
