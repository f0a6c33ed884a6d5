"""Stream catalog — the reference's "every derived table is a topic" contract.

In the reference every ``CREATE TABLE x AS SELECT ...`` (CTAS) both starts a
continuous Flink job and materializes a Kafka topic that downstream queries
read as a table (LAB1-Walkthrough.md:122-131, LAB3-Walkthrough.md:147 in
/root/reference; observable contract per testing/helpers/kafka_helper.py:
88-166 — results are consumed from topics, never from statement results).

Here the same contract is file-backed, and only file-backed: each named
stream is a parquet directory ("topic") plus a schema; ``create_table_as``
starts a ``writeStream`` into the directory and re-registers the name so
later pipelines ``read_stream`` it. The catalog has no Kafka branch —
Kafka topic I/O is ``sources/kafka.py`` (``read_topic``/``write_topic``),
gated on ``kafka_available`` because no connector jar or broker ships
here.

All three CTAS flavours (file sink, ``foreachBatch``, changelog) start
through one path: stop a live query of the same name, checkpoint beside
the topic (``<topic>_ckpt``), seed an empty ``foreachBatch`` topic only
when no checkpoint exists (a restart resumes and must keep its rows),
then pick the trigger (``availableNow`` or processing-time). Every
checkpoint file (offset, commit, source and sink logs, state) is written
through the FileSystem-based checkpoint manager that ``get_spark`` sets
session-wide, which renames a temp file into place without forking a
``readlink`` per write on the local filesystem.

Partition contract: ``StreamCatalog.partitions`` is the partition count of
the catalog's topics, the analog of a Kafka topic's partition count. The
reference's producers write partition 0 everywhere (SURVEY.md:308), so the
default is 1. Every streaming CTAS starts with ``spark.sql.shuffle.partitions``
set to it, so each stage has that many state partitions and shuffle tasks per
trigger; the session's own value (sized for batch, where AQE coalesces) is
restored once the query has started. Spark writes the count to the offset log
at the first batch and a restart reads it back from there, so the count is
fixed per checkpoint at first start. A deployment raises it the way it raises
a Kafka topic's partitions: for new topics, on fresh checkpoints. Partition
keys (ST5's PRIMARY KEY → Kafka message key) map to ``partitionBy`` on the
file sink so downstream per-key reads prune.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery


@dataclass
class StreamTable:
    name: str
    path: str
    schema: T.StructType
    key: str | None = None
    query: StreamingQuery | None = None
    transform: Callable[[DataFrame], DataFrame] | None = None


@dataclass
class StreamCatalog:
    """Named streams over a root directory; one subdir per "topic".

    ``partitions`` is the topics' partition count: the state partitions
    and shuffle width every streaming CTAS stage starts with.
    """

    spark: SparkSession
    root: str
    tables: dict[str, StreamTable] = field(default_factory=dict)
    partitions: int = 1

    def __post_init__(self) -> None:
        p = self.partitions
        if isinstance(p, bool) or not isinstance(p, int) or p < 1:
            raise ValueError(
                f"StreamCatalog.partitions must be an integer >= 1, got {p!r}")

    def _dir(self, name: str) -> Path:
        return Path(self.root) / name

    # -- registration --------------------------------------------------------

    def register_source(self, name: str, path: str,
                        schema: T.StructType | None = None,
                        key: str | None = None,
                        transform: Callable[[DataFrame], DataFrame] | None = None,
                        ) -> StreamTable:
        """Declare an existing parquet path as a named source stream (S1).

        ``transform`` is applied after every read (stream or batch) — the
        hook for physical-format shims like nanosecond-timestamp narrowing.
        """
        if schema is None:
            schema = self.spark.read.parquet(path).schema
        p = Path(path)
        if p.is_file():
            # file-stream sources require a directory; expose single-file
            # fixtures through a symlink dir under the catalog root
            d = Path(self.root) / "_sources" / name
            d.mkdir(parents=True, exist_ok=True)
            link = d / p.name
            if link.is_symlink():
                # re-registration with a different target (or a broken
                # link) must not silently keep serving the old file
                if link.resolve() != p.resolve():
                    link.unlink()
                    link.symlink_to(p)
            elif not link.exists():
                link.symlink_to(p)
            path = str(d)
        t = StreamTable(name=name, path=path, schema=schema, key=key,
                        transform=transform)
        self.tables[name] = t
        return t

    def register_events_source(self, name: str, path: str) -> StreamTable:
        """The driver's ``events`` fixture has shipped ``ts`` as
        TIMESTAMP(NANOS) and as plain ``timestamp[us]`` across regenerations;
        normalize whichever loaded (same shim as ``sources.parquet``)."""
        from ..sources.parquet import normalize_event_ts, prepare_events_read

        # Probes the footer and sets nanosAsLong only for a genuine
        # TIMESTAMP(NANOS) vintage (flag semantics: sources/parquet.py).
        prepare_events_read(self.spark, path)
        schema = self.spark.read.parquet(path).schema
        return self.register_source(
            name, path, schema=schema, transform=normalize_event_ts,
        )

    def read_stream(self, name: str, watermark: tuple[str, str] | None = None,
                    max_files_per_trigger: int | None = None) -> DataFrame:
        """Open the named stream as a streaming DataFrame."""
        t = self.tables[name]
        reader = (self.spark.readStream.schema(t.schema)
                  .format("parquet"))
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        df = reader.load(t.path)
        if t.transform is not None:
            df = t.transform(df)
        if watermark:
            df = df.withWatermark(*watermark)
        return df

    def read_batch(self, name: str) -> DataFrame:
        """Snapshot read of a topic (how the reference's tests observe it)."""
        t = self.tables[name]
        df = self.spark.read.schema(t.schema).parquet(t.path)
        if t.transform is not None:
            df = t.transform(df)
        return df

    # -- CTAS ----------------------------------------------------------------

    def create_table_as(self, name: str, df: DataFrame, key: str | None = None,
                        mode: str = "append", available_now: bool = False,
                        processing_time: str | None = None) -> StreamTable:
        """S2/S3: start a continuous insert into topic ``name`` and register it.

        ``mode`` is the Spark output mode; the reference's
        ``changelog.mode=append`` (ST4) maps to ``mode="append"`` — exactly
        one sink row per result row, no retractions, which is what keeps
        agent stages from re-firing.
        """
        if df.isStreaming:
            return self._start(name, df, df.schema, mode=mode, key=key,
                               available_now=available_now,
                               processing_time=processing_time)
        # batch CTAS (S4 INSERT VALUES / snapshot queries)
        self._stop(name)
        path = str(self._dir(name))
        w = df.write.mode("overwrite")
        if key:
            # ST5: the PRIMARY KEY maps to the file-sink partition key
            # so downstream per-key reads prune directories
            w = w.partitionBy(key)
        w.parquet(path)
        t = StreamTable(name=name, path=path, schema=df.schema, key=key)
        self.tables[name] = t
        return t

    def create_table_foreach_batch(self, name: str, df: DataFrame, batch_fn,
                                   schema: T.StructType,
                                   available_now: bool = False) -> StreamTable:
        """CTAS where each micro-batch is post-processed driver-side
        (streaming LIMIT, agent stages with side effects)."""
        return self._start(name, df, schema, batch_fn=batch_fn,
                           available_now=available_now)

    def create_table_changelog(self, name: str, df: DataFrame,
                               available_now: bool = False,
                               processing_time: str | None = None,
                               ) -> StreamTable:
        """ST4's other half: the reference's DEFAULT CTAS emission is
        changelog/update — ``changelog.mode=append`` is an *override* it
        applies to agent-feeding tables (LAB3-Walkthrough.md:226 in
        /root/reference). Here the same aggregate stream runs in Spark's
        ``update`` output mode: every micro-batch emits the rows whose
        aggregate value CHANGED that batch (including windows a watermark
        would suppress in append mode), so a window can re-emit with a new
        value — the upsert-topic shape a Kafka changelog sink carries.

        Spark file sinks are append-only, so the changelog lands via
        ``foreachBatch``: each batch's changed rows are appended to the
        topic tagged with ``__epoch`` (the micro-batch id — the changelog
        sequence number; on a Kafka sink this ordering is the partition
        offset). ``read_batch`` exposes the raw changelog (re-emissions
        visible); ``read_batch_latest`` compacts it to the current view,
        exactly what a compacted-topic consumer materializes.

        Scale note: update mode keeps the same (window × key) aggregation
        state as append mode — no extra state — and each batch's sink
        write is proportional to *changed* keys, not total state.
        """
        out_schema = T.StructType(
            list(df.schema.fields)
            + [T.StructField("__epoch", T.LongType(), False)]
        )
        return self._start(
            name, df, out_schema, mode="update",
            batch_fn=lambda b, epoch_id: b.withColumn(
                "__epoch", F.lit(int(epoch_id))),
            available_now=available_now, processing_time=processing_time,
        )

    def _start(self, name: str, df: DataFrame, schema: T.StructType, *,
               mode: str = "append", key: str | None = None, batch_fn=None,
               available_now: bool = False,
               processing_time: str | None = None) -> StreamTable:
        """The one streaming CTAS start: stop a live query of the same
        name, open the sink (the parquet file sink, or ``batch_fn``'s
        output appended per micro-batch), checkpoint beside the topic,
        pick the trigger, start at ``self.partitions`` shuffle partitions,
        register the table."""
        # re-registering a live table: stop the old query first, or its
        # handle is orphaned and the checkpoint dir collides
        self._stop(name)
        path = str(self._dir(name))
        ckpt = path + "_ckpt"
        if batch_fn is None:
            writer = (df.writeStream.format("parquet").outputMode(mode)
                      .option("path", path))
            if key:
                writer = writer.partitionBy(key)
        else:
            # Seed an empty topic so read_batch never fails before the
            # first batch lands — but ONLY on a fresh start: with an
            # existing checkpoint the restarted query resumes from
            # committed offsets and will not re-emit rows, so wiping the
            # data dir would lose them forever.
            if not Path(ckpt).exists():
                self.spark.createDataFrame([], schema) \
                    .write.mode("overwrite").parquet(path)

            def _sink(batch_df: DataFrame, epoch_id: int) -> None:
                out = batch_fn(batch_df, epoch_id)
                if out is not None:
                    out.write.mode("append").parquet(path)

            writer = df.writeStream.outputMode(mode).foreachBatch(_sink)
        writer = writer.option("checkpointLocation", ckpt).queryName(name)
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        # start() clones the session with this count and the first batch
        # writes it to the offset log; a restart reads it back from there
        conf = df.sparkSession.conf
        prev = conf.get("spark.sql.shuffle.partitions")
        conf.set("spark.sql.shuffle.partitions", str(self.partitions))
        try:
            query = writer.start()
        finally:
            conf.set("spark.sql.shuffle.partitions", prev)
        t = StreamTable(name=name, path=path, schema=schema, key=key,
                        query=query)
        self.tables[name] = t
        return t

    def read_batch_latest(self, name: str, keys: list[str]) -> DataFrame:
        """Materialize the current view of a changelog topic written by
        ``create_table_changelog``: the latest emission per key — what a
        compacted-topic consumer sees. Partial-agg ``max_by`` on the
        ``__epoch`` sequence number (update mode emits at most one row per
        key per batch, so the max is unique); hot keys collapse map-side,
        never a per-key window sort."""
        df = self.read_batch(name)
        vals = [c for c in df.columns if c not in keys and c != "__epoch"]
        return df.groupBy(*keys).agg(
            *[F.max_by(F.col(c), F.col("__epoch")).alias(c) for c in vals]
        )

    # -- lifecycle -----------------------------------------------------------

    def await_all(self, timeout: float | None = None) -> None:
        """Wait for every live query; ``timeout`` bounds the TOTAL wait
        (a shared deadline, not per-query)."""
        import time as _time

        deadline = None if timeout is None else _time.monotonic() + timeout
        for t in self.tables.values():
            if t.query is None:
                continue
            remaining = (
                None if deadline is None
                else max(0.001, deadline - _time.monotonic())
            )
            terminated = t.query.awaitTermination(remaining)
            # On a timed-out wait the query is still running — keep the
            # handle so stop_all()/drop_table can still reach it.
            if timeout is None or terminated:
                t.query = None

    def _stop(self, name: str) -> None:
        t = self.tables.get(name)
        if t is not None and t.query is not None and t.query.isActive:
            t.query.stop()
            t.query = None

    def stop_all(self) -> None:
        for name in self.tables:
            self._stop(name)

    def drop_table(self, name: str, delete_data: bool = False) -> None:
        """S12 DROP TABLE: stop the standing query, unregister, and
        optionally remove the topic directory + checkpoint."""
        self._stop(name)
        t = self.tables.pop(name, None)
        if t is None:
            return
        if delete_data:
            import shutil

            p = Path(t.path)
            if p.is_relative_to(Path(self.root)):
                shutil.rmtree(p, ignore_errors=True)
                shutil.rmtree(str(p) + "_ckpt", ignore_errors=True)

    def describe(self) -> str:
        """S12 DESCRIBE analog."""
        return json.dumps({n: {"path": t.path, "key": t.key,
                               "schema": t.schema.simpleString()}
                           for n, t in self.tables.items()}, indent=2)
