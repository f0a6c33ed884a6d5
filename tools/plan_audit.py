"""Generate PLANS.md — a physical-plan audit of every registered query.

For each query: shuffle-exchange count, broadcast joins, Python nodes
(Arrow-batched vs banned row-at-a-time), scans with pushed filters, and
whole-stage-codegen coverage. Run after plan-affecting changes:

    python tools/plan_audit.py          # writes PLANS.md at the repo root
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    from pyspark.sql import SparkSession

    from quickstart_streaming_agents_spark.plans import physical_plan
    from quickstart_streaming_agents_spark.queries import ORACLE, QUERIES

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.001"

    # VERDICT r11 "Next round" #2c: capture the PREVIOUS audit's plan
    # shape per query (exchanges/broadcasts/python) so this run can diff
    # against it — a bench timing delta on a plan-unchanged query is
    # environmental by definition and must be labeled as such.
    prev_shape: dict[str, tuple] = {}
    prev_path = REPO / "PLANS.md"
    if prev_path.exists():
        for pm in re.finditer(
            r"^\| (\w+) \| (\d+) \| (\d+) \| ([^|]+?) \|",
            prev_path.read_text(), re.M,
        ):
            prev_shape[pm.group(1)] = (
                pm.group(2), pm.group(3), pm.group(4).strip()
            )

    lines = [
        "# PLANS — physical-plan audit (auto-generated by tools/plan_audit.py)",
        "",
        "Per query: shuffle exchanges, broadcast joins, Python nodes "
        "(`arrow` = pandas UDF / mapInPandas / UDTF; row-at-a-time Python "
        "is banned and would show as `ROW-PYTHON`), scans with pushed "
        "filters, and WholeStageCodegen span count. Oracle column: hash = "
        "value-checked vs DuckDB, rows = rows-only. float-risk: top-level "
        "double columns of HASH-checked queries emitting values that are "
        "not idempotent under round(·, 9) — i.e. raw unrounded floats "
        "whose driver hash depends on canonicalization precision (the "
        "r7 quality_classifier_score red-row class; round them on both "
        "engine and oracle side, or integerize).",
        "",
        "| query | exchanges | broadcast joins | python | pushed-filter scans / scans | codegen spans | oracle | float-risk |",
        "|---|---|---|---|---|---|---|---|",
    ]
    float_risks: dict[str, list[str]] = {}
    new_shape: dict[str, tuple] = {}
    for name in sorted(QUERIES):
        df = QUERIES[name](spark, sf_dir)
        rows = df.collect()  # run THIS QueryExecution so AQE finalizes its stages
        risky: list[str] = []
        if name in ORACLE:
            dbl_cols = [
                f.name for f in df.schema.fields
                if f.dataType.typeName() in ("double", "float")
            ]
            for c in dbl_cols:
                for r in rows:
                    v = r[c]
                    if v is not None and v == v and round(v, 9) != v:
                        risky.append(c)
                        break
            if risky:
                float_risks[name] = risky
        # keep only the final adaptive plan (toString appends the pre-AQE
        # "Initial Plan" section, which would double-count everything)
        plan = physical_plan(df)  # already final-plan-only
        n_ex = len(re.findall(r"Exchange (?:hash|range|RoundRobin|Single)", plan))
        n_bc = plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")
        arrow = (
            plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
            + plan.count("BatchEvalPythonUDTF")
        )
        row_py = plan.count("BatchEvalPython(")
        py = "ROW-PYTHON" if row_py else (f"arrow×{arrow}" if arrow else "none")
        scans = len(re.findall(r"FileScan \w+", plan))
        # strip the '], ReadSchema: …' tail BEFORE the emptiness test, or
        # an empty 'PushedFilters: []' counts as pushed and the column
        # degenerates to scans/scans for every query
        from quickstart_streaming_agents_spark.plans.inspect import pushed_filters

        pushed = sum(1 for m in pushed_filters(df) if m.strip())
        # executedPlan toString marks codegen stages as "*(n) Operator"
        codegen = len(set(re.findall(r"\*\((\d+)\)", plan)))
        oracle = "hash" if name in ORACLE else "rows"
        risk = ",".join(risky) if risky else "-"
        lines.append(
            f"| {name} | {n_ex} | {n_bc} | {py} | {pushed}/{scans} | {codegen} | {oracle} | {risk} |"
        )
        new_shape[name] = (str(n_ex), str(n_bc), py)

    # Oracle-SQL portability lint (VERDICT r8 #1): run every oracle
    # through the //-on-negatives sign guard at the driver's SF, and
    # list round()-on-derived-double advisories. The hard gate lives in
    # tests/test_oracle_lint.py; this section keeps it visible in the
    # audit document.
    from quickstart_streaming_agents_spark.plans.oracle_lint import (
        guard_intdiv,
        round_on_derived_sites,
    )

    sys.path.insert(0, str(REPO / "tests"))
    from oracle_util import duckdb_conn  # noqa: E402

    con = duckdb_conn("/root/testdata/sf0.01")
    negdiv: list[str] = []
    round_adv: dict[str, list[str]] = {}
    for name, osql in sorted(ORACLE.items()):
        try:
            con.execute(guard_intdiv(osql)).fetchall()
        except Exception as e:  # noqa: BLE001
            negdiv.append(f"{name}: {str(e)[:160]}")
        hits = round_on_derived_sites(osql)
        if hits:
            round_adv[name] = hits
    # plan diff vs the previous committed audit
    changed = sorted(
        n for n in new_shape
        if n in prev_shape and prev_shape[n] != new_shape[n]
    )
    added = sorted(n for n in new_shape if n not in prev_shape)
    removed = sorted(n for n in prev_shape if n not in new_shape)
    unchanged = len(new_shape) - len(changed) - len(added)
    lines += [
        "",
        "## Plan diff vs previous audit",
        "",
        f"**{unchanged} queries plan-unchanged** (exchanges/broadcasts/"
        f"python identical to the previous PLANS.md). A bench timing "
        f"delta on a plan-unchanged query is environmental, not a "
        f"regression — read BENCH's `load_avg_1m` and re-time the query "
        f"before concluding anything.",
    ]
    for n in changed:
        po, pn = prev_shape[n], new_shape[n]
        lines.append(
            f"- CHANGED {n}: exchanges {po[0]}→{pn[0]}, "
            f"broadcasts {po[1]}→{pn[1]}, python {po[2]}→{pn[2]}"
        )
    if added:
        lines.append(f"- new queries (no prior row): {', '.join(added)}")
    if removed:
        lines.append(f"- removed since last audit: {', '.join(removed)}")

    lines += [
        "",
        "## Notes",
        "",
        "- **ivf_index_upsert float-risk flags are false positives**: "
        "`ref_mean_align`/`new_mean_align` are each ONE IEEE division of "
        "an exact BIGINT (sum of per-vector floor(cos*1e6)) by an exact "
        "count — the hll_distinct_sketch discipline; both verdicts are "
        "all-integer cross-multiplications that never touch the doubles.",
        "- **hll_distinct_sketch float-risk flag is a false positive**: "
        "`estimate` is deliberately a raw double — ONE correctly-rounded "
        "IEEE division of two exact integers (the BIGINT harmonic "
        "numerator against a baked decimal literal), so its bits are "
        "identical in every engine and version; rounding it would "
        "reintroduce the round()-on-derived-double fragility (the r7 red "
        "class) this construction exists to avoid. The integer "
        "`harmonic_num` column carries the full information for "
        "diagnosis if the row ever diverges.",
        "- **embedding_topk_pairs drift (VERDICT r8 #4)**: the r8 "
        "in-sequence figure rose 0.95→1.53 s with an UNCHANGED plan "
        "(broadcast vector_search + global limit). Round-9 profiling: a "
        "warm session reproduces ~0.91 s — the r7 figure — so the drift "
        "was session-state contamination, not the plan. Root cause "
        "matches ADVICE r8's pq_adc finding generalized: vector_search "
        "created 2–4 driver broadcasts per call (corpus matrix, metadata, "
        "id masks) and never freed them; by the time the bench sequence "
        "reached this query, dozens of queries' broadcasts were resident. "
        "All per-call broadcasts now register with runtime.track_broadcast "
        "and bench.py releases them between queries, inside a fresh JVM "
        "for every 50-query chunk of the sweep.",
        "",
        "## Oracle portability lint",
        "",
        f"`//`/`%`-on-negative-operand check (runtime sign guard over "
        f"every oracle at sf0.01): **{len(negdiv)} hits** — the r8 "
        f"`quality_classifier_digest` red-row class; any hit is a CI "
        f"failure in tests/test_oracle_lint.py.",
    ]
    lines += [f"- FAIL {m}" for m in negdiv]
    lines += [
        "",
        f"Advisory — `round()` over a float derivation (division/avg/"
        f"stddev/quantile/sqrt) in {len(round_adv)} oracles. These are "
        f"1-ULP-sensitive across engine versions (the r7 red-row "
        f"class); each existing one is a documented grid-point or "
        f"matched-on-both-sides pin — new hash-checked queries should "
        f"prefer the shifted-fixed-point integer pattern "
        f"(quality_classifier_score r9).",
    ]
    for name, hits in sorted(round_adv.items()):
        lines.append(f"- {name}: {'; '.join(h[:80] for h in hits[:4])}")

    (REPO / "PLANS.md").write_text("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(QUERIES)} queries)")
    if negdiv:
        print("NEGDIV (//-or-% on negative operands in oracle SQL):")
        for m in negdiv:
            print(f"  {m}")
    if float_risks:
        print("FLOAT-RISK (raw unrounded doubles in hash-checked queries):")
        for name, cols in sorted(float_risks.items()):
            print(f"  {name}: {', '.join(cols)}")


if __name__ == "__main__":
    main()
