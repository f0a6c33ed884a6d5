"""The sweep's per-query runner (bench.py) and the heavy tier it serves
(tools/bench_heavy.py)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import bench
from tests.conftest import SF_DIR

from quickstart_streaming_agents_spark.queries import QUERIES

_spec = importlib.util.spec_from_file_location(
    "bench_heavy",
    Path(__file__).resolve().parents[1] / "tools" / "bench_heavy.py",
)
bench_heavy = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_heavy)


def test_heavy_tier_names_are_registered():
    # the runner would record a stale name as a per-query error, not fail
    assert set(bench_heavy.HEAVY_TIER) <= set(QUERIES)


def test_chunk_runner_records_each_query_and_survives_failures(spark):
    seen = []
    timings, errors = bench._run_chunk_inprocess(
        ["filter_project", "no_such_query"], SF_DIR, spark=spark,
        on_query=lambda *rec: seen.append(rec))

    assert set(timings) == {"filter_project"} and timings["filter_project"] > 0
    assert set(errors) == {"no_such_query"}
    assert [(n, s is not None, e is not None) for n, s, e in seen] == [
        ("filter_project", True, False), ("no_such_query", False, True)]
    assert spark.range(3).count() == 3  # the caller's session still runs
