"""Fixture-contract tests: pin the driver-generated parquet schemas.

Round 2 lost an entire round of correctness signal because the driver
regenerated ``events.parquet`` with a different physical ``ts`` type
(TIMESTAMP(NANOS) -> timestamp[us]) and the loader assumed the old
vintage. These tests make any future regeneration fail HERE, loudly,
instead of as 40+ opaque query failures.

They assert two layers:
1. the physical parquet dtype of ``events.ts`` is one of the vintages
   the loader knows how to normalize, and
2. the *loaded* DataFrame always presents ``ts`` as session-TZ
   ``timestamp`` regardless of vintage (the normalization contract).
"""

import os

import pyarrow.parquet as pq
import pytest

from quickstart_streaming_agents_spark.sources.parquet import (
    TABLES,
    load_table,
    normalize_event_ts,
    parquet_ts_unit,
    prepare_events_read,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# ts vintages normalize_event_ts knows how to handle (pyarrow type names).
KNOWN_TS_VINTAGES = {"int64", "timestamp[ns]", "timestamp[us]", "timestamp[ms]"}

EXPECTED_COLUMNS = {
    "region": {"r_regionkey", "r_name"},
    "nation": {"n_nationkey", "n_name", "n_regionkey"},
    "customer": {"c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"},
    "orders": {"o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"},
    "lineitem": {"l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                 "l_linestatus", "l_shipdate"},
    "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
    "documents": {"doc_id", "text", "lang", "source", "n_chars"},
    "embeddings": {"vec_id", "embedding", "label"},
}


def test_all_fixture_tables_exist():
    for t in TABLES:
        assert os.path.exists(os.path.join(SF_DIR, f"{t}.parquet")), t


@pytest.mark.parametrize("table", sorted(EXPECTED_COLUMNS))
def test_expected_columns_present(table):
    schema = pq.read_schema(os.path.join(SF_DIR, f"{table}.parquet"))
    missing = EXPECTED_COLUMNS[table] - set(schema.names)
    assert not missing, f"{table} missing columns: {missing}"


def test_events_ts_is_a_known_vintage():
    schema = pq.read_schema(os.path.join(SF_DIR, "events.parquet"))
    ts_type = str(schema.field("ts").type)
    assert ts_type in KNOWN_TS_VINTAGES, (
        f"events.ts regenerated as {ts_type!r} — teach "
        f"sources/parquet.py:normalize_event_ts this vintage"
    )


def test_loaded_events_ts_is_session_timestamp(spark):
    df = load_table(spark, SF_DIR, "events")
    assert dict(df.dtypes)["ts"] == "timestamp", (
        "loader contract: events.ts must normalize to session-TZ timestamp"
    )
    # and it must actually evaluate (analysis-time bugs like r2's surface here)
    assert df.limit(1).count() in (0, 1)


def test_normalize_passthrough_for_timestamp(spark):
    # A frame whose ts is already session-TZ timestamp passes through intact.
    df = spark.sql("SELECT timestamp'2024-01-01 00:00:00' AS ts, 1 AS x")
    out = normalize_event_ts(df)
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert out.collect() == df.collect()


def test_normalize_bigint_nanos(spark):
    df = spark.sql("SELECT 1704067200000000000 AS ts")  # 2024-01-01 in ns
    out = normalize_event_ts(df)
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert str(out.collect()[0].ts) == "2024-01-01 00:00:00"


def test_normalize_ntz(spark):
    df = spark.sql("SELECT timestamp_ntz'2024-01-01 00:00:00' AS ts")
    out = normalize_event_ts(df)
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert str(out.collect()[0].ts) == "2024-01-01 00:00:00"


def test_parquet_ts_unit_probe():
    # the footer probe must agree with the vintage assertion above
    unit = parquet_ts_unit(os.path.join(SF_DIR, "events.parquet"))
    assert unit in {"ns", "us", "ms"}


def test_normalize_bigint_explicit_units(spark):
    df = spark.sql("SELECT 1704067200000000 AS ts")  # 2024-01-01 in µs
    out = normalize_event_ts(df, int64_unit="us")
    assert str(out.collect()[0].ts) == "2024-01-01 00:00:00"
    with pytest.raises(ValueError, match="unknown epoch unit"):
        normalize_event_ts(df, int64_unit="raw").collect()


def test_raw_int64_ts_refused(spark, tmp_path):
    """An unannotated int64 ts (unit ambiguous) must fail loudly, not be
    silently misread 1000x off."""
    import pyarrow as pa
    import pyarrow.parquet as pq_write

    p = str(tmp_path / "events.parquet")
    pq_write.write_table(
        pa.table({"ts": pa.array([1704067200000000], type=pa.int64())}), p
    )
    with pytest.raises(ValueError, match="unannotated int64"):
        prepare_events_read(spark, p)


def test_no_config_mutation_for_us_fixture(spark):
    """Loading a µs-vintage events fixture must not flip session-wide legacy
    flags as a side effect (it used to set nanosAsLong unconditionally)."""
    if parquet_ts_unit(os.path.join(SF_DIR, "events.parquet")) == "ns":
        pytest.skip("fixture is genuinely nanos; flag is required")
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    load_table(spark, SF_DIR, "events").limit(1).count()
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) is None
    )


def test_bench_headline_covers_the_whole_registry():
    """The sweep's last stdout line is what a 2000-byte tail capture
    keeps: it must parse, fit, and account for every registered query —
    len(queries) + queries_omitted + len(errors) + errors_omitted ==
    total_queries — also after a budget stop, when the errors alone
    overflow the line."""
    import json

    import bench

    from quickstart_streaming_agents_spark.queries import QUERIES

    names = sorted(QUERIES)
    errors = {n: "Py4JJavaError: " + "x" * 185 for n in names[::60]}
    timings = {n: round(0.05 + i * 0.037, 3)
               for i, n in enumerate(names) if n not in errors}
    out = {"metric": "headline_queries_total_runtime",
           "value": round(sum(timings.values()), 3), "unit": "sec",
           "queries": timings, "sf": 0.1, "cpus": 4, "errors": errors,
           "elapsed_s": 812.4, "load_avg_1m": {"start": 0.5, "end": 3.9}}

    def accounted(tail):
        return (len(tail["queries"]) + tail.get("queries_omitted", 0)
                + len(tail["errors"]) + tail.get("errors_omitted", 0))

    line = bench.tail_line(out, len(names), "BENCH_FULL.json")

    assert len(line) <= 1800
    tail = json.loads(line)
    assert tail["total_queries"] == len(QUERIES)
    assert accounted(tail) == tail["total_queries"]

    # budget stop: 5 timings, every other name SKIPPED(budget)
    stopped = dict(out, queries={n: 1.5 for n in names[:5]},
                   errors={n: "SKIPPED(budget)" for n in names[5:]})
    line = bench.tail_line(stopped, len(names), "BENCH_FULL.json")
    assert len(line) <= 2000
    tail = json.loads(line)
    assert len(stopped["errors"]) == 201
    assert accounted(tail) == tail["total_queries"] == len(QUERIES)
