"""Plan lint over the contract queries: assert the scale-critical
properties `.explain` shows, without running a single job.

For every `queries()` entry this prints one row of plan evidence:

- `exchanges`  — shuffle count (the thing to minimize at 100 TB);
- `codegen`    — whole-stage-codegen span count (distinct `*(n)`
  markers in the executed plan; hot path stays JVM);
- `pushed`     — parquet scans carrying non-empty PushedFilters;
- `py`         — Python eval mode: `arrow` (ArrowEvalPython — the
  only acceptable Python on a hot path), `-` (none), or
  `BATCH` (row-at-a-time BatchEvalPython — a defect);
- `cartesian`  — CartesianProduct/BroadcastNestedLoopJoin count (must
  be 0: every candidate join must be an equi-join). Exceptions are
  listed in `CARTESIAN_OK` with their reasons: the brute-force
  baselines, whose nested-loop join IS the plan, and crosses of
  one-row aggregates.

Exits 1 if any query uses BatchEvalPython or an unexpected cartesian
join, so CI can gate on it. Mostly analysis-only (plans are compiled, not
executed); the exceptions are the iterative queries — the CC fixpoint
and the LSH key-table checkpoint staging run their staging jobs while
the final plan is built, which is why this script targets a small sf
directory.

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_text(df) -> str:
    # executedPlan.toString marks codegen spans '*(n)' and carries
    # PushedFilters; with AQE on, explain("formatted") shows only the
    # isFinalPlan=false skeleton with no codegen ids, so the audit
    # session compiles plans with AQE off (runtime sessions keep it).
    return df._jdf.queryExecution().executedPlan().toString()


# Brute-force ANN is deliberately a broadcast nested-loop of a tiny
# query set against the corpus — its cartesian joins are its plan.
# rl_blocking_scheme_eval's "cartesians" are crossJoins of ONE-ROW
# aggregates (n_pairs × n_covered × n_truth per scheme) — scalar
# combination, not a pair blowup. rl_fs_tf_bands has one: the
# term-frequency denominator (a one-row count) crossed into the
# per-value counts.
CARTESIAN_OK = {
    "ann_topk_brute",
    "rl_blocking_scheme_eval",
    "rl_fs_tf_bands",
    "rl_bcubed_eval",  # one-row precision × recall × count crosses
    "rl_cluster_ari",  # one-row contingency-sum crosses (s_ct2 × s_c2 × s_t2 × n)
    "rl_cluster_vmeasure",  # one-row log-sum crosses (s_tc × s_ct × s_t × s_c × n)
    "rl_threshold_sweep",  # one-row |truth| count crossed into the curve
    "rl_cluster_blanc",  # one-row contingency-sum crosses (same shape as ARI)
    "corpus_mix_temperature",  # one-row total/qsum/max crosses into the
    # sources-sized rate table
    "rl_audit_metrics",  # one-row feature means × one-row impossible rate
    "dedup_embedding_cosine",  # dedup.embedding_dup_pairs_brute: the
    # documented brute-force theta join, same shape as ann_topk_brute
}


def audit(name: str, df) -> dict:
    p = plan_text(df)
    batch = p.count("BatchEvalPython")
    arrow = p.count("ArrowEvalPython")
    return {
        "query": name,
        "exchanges": p.count("Exchange"),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", p))),
        "pushed": sum(
            1
            for line in p.splitlines()
            if "PushedFilters: [" in line and "PushedFilters: []" not in line
        ),
        "py": "BATCH" if batch else ("arrow" if arrow else "-"),
        "cartesian": p.count("CartesianProduct")
        + p.count("BroadcastNestedLoopJoin"),
    }


def main() -> None:
    import __spark_entry__ as entry
    from idd_hw6_record_linkage_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    rows, bad = [], 0
    for name, fn in entry.queries().items():
        try:
            rows.append(audit(name, fn(spark, sf_dir)))
        except Exception as exc:  # noqa: BLE001 — report, keep auditing
            rows.append({"query": name, "error": str(exc)[:80]})
            bad += 1

    hdr = f"{'query':28s} {'exch':>4s} {'wscg':>4s} {'push':>4s} {'py':>5s} {'cart':>4s}"
    print(hdr)
    print("-" * len(hdr))
    for r in rows:
        if "error" in r:
            print(f"{r['query']:28s} ERROR {r['error']}")
            continue
        flag = ""
        if r["py"] == "BATCH":
            bad += 1
            flag = "  <-- row-at-a-time Python"
        if r["cartesian"] and r["query"] not in CARTESIAN_OK:
            bad += 1
            flag += "  <-- cartesian join"
        elif r["cartesian"]:
            flag += "  (allowed: scalar/baseline cartesian by design)"
        print(
            f"{r['query']:28s} {r['exchanges']:4d} {r['codegen']:4d} "
            f"{r['pushed']:4d} {r['py']:>5s} {r['cartesian']:4d}{flag}"
        )
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
