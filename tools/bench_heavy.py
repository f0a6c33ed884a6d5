"""Heavy-tier scaling bench: the only runner for HEAVY_TIER.

Times HEAVY_TIER against the deterministic heavy fixtures from
tools/gen_heavy_sf.py, with the sweep's in-process chunk runner from
bench.py (fresh session, table warm-up, noop sink, min of 2, cache and
tracked broadcasts/persists released between queries), at the core count
in $SPARK_GRAFT_CPUS. Run it at two core counts to get the scaling ratios
that sf0.1 cannot show. It prints the record as one JSON line after every
query and, with --out, rewrites that file each time.

Usage:
  SPARK_GRAFT_CPUS=4 python tools/bench_heavy.py --out heavy_c4.json
  SPARK_GRAFT_CPUS=2 python tools/bench_heavy.py --out heavy_c2.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

# The queries that cost about 3 s or more at sf0.1: the only ones whose
# parallel behaviour a larger fixture can expose.
HEAVY_TIER = [
    "training_data_pipeline",
    "packed_training_shards",
    "curation_funnel",
    "dedup_savings_report",
    "incremental_ingest_dedup",
    "prefix_filter_dedup",
    "containment_dedup",
    "ngram_jaccard_dedup",
    "winnowing_dedup_pairs",
    "edit_distance_dedup",
    "minhash_calibration",
    "semantic_dedup",
    "dedup_components",
    "bm25_search",
    "bigram_backoff_score",
    "audio_near_dup",
    "ann_sq8_topk",
    "ann_ivfpq_topk",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=os.environ.get(
        "SPARK_GRAFT_HEAVY_DIR", "/tmp/qssa_heavy_sf1"))
    ap.add_argument("--out", default="")
    ap.add_argument("--queries", default="",
                    help="comma-separated subset (default: HEAVY_TIER)")
    a = ap.parse_args()

    if not os.path.isdir(a.dir):
        print(f"generating heavy fixtures into {a.dir} ...", flush=True)
        from tools.gen_heavy_sf import generate
        generate("/root/testdata/sf0.1", a.dir, 10)

    from bench import _run_chunk_inprocess

    names = a.queries.split(",") if a.queries else HEAVY_TIER
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    t0 = time.monotonic()
    load0 = os.getloadavg()[0]

    results: dict = {
        "metric": "heavy_tier_total_runtime",
        "unit": "sec",
        "dir": a.dir,
        "cpus": cpus,
        "queries": {},
    }

    def report(name, sec, err):
        if sec is not None:
            results["queries"][name] = sec
        else:
            results.setdefault("errors", {})[name] = err
        results["value"] = round(sum(results["queries"].values()), 3)
        results["elapsed_s"] = round(time.monotonic() - t0, 1)
        results["load_avg_1m"] = {
            "start": round(load0, 2),
            "end": round(os.getloadavg()[0], 2),
        }
        line = json.dumps(results, separators=(",", ":"))
        print(line, flush=True)
        if a.out:
            Path(a.out).write_text(json.dumps(results, indent=1) + "\n")

    _run_chunk_inprocess(names, a.dir, on_query=report)


if __name__ == "__main__":
    main()
