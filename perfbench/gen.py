"""Deterministic sf0.1 fixture generator for the benchmark.

Writes the ten tables the query registry reads (``sources.parquet.TABLES``)
with the schemas, value domains and row counts of the sf0.1 star-schema
fixture: TPC-H-ish dimensions and facts, a chronological ``events`` stream,
a word-bag ``documents`` corpus and 64-dimensional unit ``embeddings``. The
base tables come from one fixed generator seed, so every run of every
workload reads the same bytes; a run's ``--seed`` only picks order, offsets
and subsets on top of them.

Tables are cached under the work directory, written to a temporary
directory and renamed into place once complete.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
VERSION = "sf0.1-v1"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "en", "en", "en", "de", "de", "es", "es",
         "fr", "fr", "zh", "zh", "en"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()

N = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
     "lineitem": 600000, "events": 100000, "documents": 5000,
     "embeddings": 2000}


def _days(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    base = np.datetime64(start, "D")
    return pa.array((base + d).astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(BASE_SEED)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = N["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    })
    n = N["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })
    n = N["part"]
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    keys = np.arange(n, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": names[rng.integers(0, len(names), n)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n)],
        "p_type": np.array(PTYPES)[rng.integers(0, len(PTYPES), n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })
    n = N["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, N["customer"], n),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })
    n = N["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N["orders"], n),
        "l_partkey": rng.integers(0, N["part"], n),
        "l_suppkey": rng.integers(0, N["supplier"], n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    out["events"] = events(rng)
    out["documents"] = documents(rng)
    n = N["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.standard_normal((10, 64))
    x = rng.standard_normal((n, 64)) + 0.6 * centers[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def events(rng) -> pa.Table:
    """Chronological events: exponential gaps (mean 26 s) over ~30 days."""
    n = N["events"]
    gaps_us = (rng.exponential(26.0, n) * 1e6).astype(np.int64) + 1
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = start + np.cumsum(gaps_us).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents(rng) -> pa.Table:
    """Word-bag documents; about 1% repeat an earlier text exactly and
    about 5% are an earlier text with one extra ``dup`` token, so the
    exact and near-duplicate operators find work."""
    n = N["documents"]
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:
            words = texts[int(rng.integers(0, i))].split(" ")
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def ensure(work: Path) -> Path:
    """Return the fixture directory, generating it on first use."""
    final = work / "data" / VERSION
    if (final / "_DONE").exists():
        return final
    tmp = work / "data" / f".{VERSION}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, tbl in tables().items():
        pq.write_table(tbl, tmp / f"{name}.parquet", compression="snappy",
                       row_group_size=1 << 30)
    (tmp / "_DONE").write_text(VERSION)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final
