"""Parquet fixture sources (the driver's TPC-H-ish star schema).

The reference's sources are Avro Kafka topics declared via ``CREATE TABLE``
DDL (terraform/lab1-tool-calling/main.tf:233-241); here the batch-mode
equivalent is a parquet scan per named table. Column pruning and predicate
pushdown reach the scan automatically because everything downstream is
declarative DataFrame ops.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor: these are
# bounded reference data (5 regions, 25 nations), not fact tables.
BROADCAST_TABLES = frozenset({"region", "nation"})


def parquet_ts_unit(path: str, col: str = "ts") -> str | None:
    """Physical unit of ``col`` from the parquet footer (pyarrow):
    ``'ns'|'us'|'ms'|'s'`` for TIMESTAMP-annotated columns, ``'raw'`` for an
    unannotated integer (unit genuinely unknown), ``None`` if absent.

    Footer-only read — no data pages touched, so this probe is free even on
    a 100 TB table (one footer per file; the loaders probe a single file).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = path
    if os.path.isdir(p):
        # recurse one probe file out of (possibly partitioned) subdirs
        import glob as _glob

        inner = sorted(
            _glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
        )
        if not inner:
            return None
        p = inner[0]
    schema = pq.read_schema(p)
    if col not in schema.names:
        return None
    typ = schema.field(col).type
    if pa.types.is_timestamp(typ):
        return typ.unit
    if pa.types.is_integer(typ):
        return "raw"
    return None


def normalize_event_ts(df: DataFrame, col: str = "ts",
                       int64_unit: str = "ns") -> DataFrame:
    """Normalize the events timestamp column to session-TZ ``timestamp``.

    The driver has shipped the ``events`` fixture with different physical
    ``ts`` types across regenerations, so branch on the *loaded* dtype:

    - ``bigint``: only produced by a ``nanosAsLong`` read of a
      TIMESTAMP(NANOS) column (the loaders verify the annotation via
      :func:`parquet_ts_unit` before setting that flag, and refuse raw
      int64 — so ``int64_unit`` defaults to the one vintage that can reach
      here). ns→µs truncates with integer division (int64 ns exceed double
      precision), matching DuckDB's truncation so oracle comparisons agree.
    - ``timestamp_ntz``: plain ``timestamp[us]`` parquet — cast to
      session-TZ timestamp (session TZ is pinned to UTC in session.py, so
      the wall clock is unchanged and DuckDB agrees).
    - ``timestamp``: already what we want; pass through.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        expr = {
            "ns": f"timestamp_micros({col} div 1000)",
            "us": f"timestamp_micros({col})",
            "ms": f"timestamp_millis({col})",
            "s": f"timestamp_seconds({col})",
        }.get(int64_unit)
        if expr is None:
            raise ValueError(
                f"{col!r} loaded as bigint with unit {int64_unit!r}; "
                "cannot normalize an unknown epoch unit"
            )
        return df.withColumn(col, F.expr(expr))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def prepare_events_read(spark: SparkSession, path: str) -> str:
    """Pre-read probe shared by the batch and streaming events loaders.

    Returns the physical ts unit. Sets ``spark.sql.legacy.parquet.
    nanosAsLong`` ONLY when the footer proves a TIMESTAMP(NANOS) column —
    that flag must stay set for the session because the vectorized reader
    consults it at execution time, not just at schema inference. A raw
    int64 ``ts`` (no logical-type annotation) is refused loudly instead of
    guessed at: a micros vintage misread as nanos would be silently 1000×
    off.
    """
    unit = parquet_ts_unit(path)
    if unit == "raw":
        raise ValueError(
            f"events fixture {path}: ts is unannotated int64 — epoch unit "
            "unknown; refusing to guess (teach parquet.py this vintage)"
        )
    if unit == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return unit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        prepare_events_read(spark, path)
        return normalize_event_ts(spark.read.parquet(path))
    return spark.read.parquet(path)


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a parallelism-starved scan up to the
    session's default parallelism. Two cases use it: SMALL projected
    frames (ids/keys) that feed Python-heavy synthesis or decode, and a
    text-heavy JVM map whose per-row compute dwarfs the cost of moving
    its input once (lang_id_ngram's interpreted trigram scoring).

    Parquet scan parallelism is capped at one task per row group; the
    fixture files are single-row-group, so every mapInPandas stage
    downstream of a bare fixture scan otherwise runs its whole input on
    ONE Python worker while the other cores idle (measured r14: a 5000-doc
    JPEG synth dropped 2.9 s → 0.85 s once spread). Guarded to be a no-op
    whenever the scan already has >= default-parallelism splits — at
    production scale inputs carry thousands of row groups, so the plan
    stays map-only there and the 100 TB "never shuffle payloads" shape is
    unchanged (callers spread the ids-only frame BEFORE payloads exist;
    the exchange moves 8-byte rows). The keyless repartition's
    sort-before-repartition determinism cost is trivial for ids; the
    text map pays it only when its scan is starved, as on the fixture."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view for ``spark.sql`` use."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
