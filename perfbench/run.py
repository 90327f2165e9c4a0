"""Linkage benchmark entry point.

    python3 perfbench/run.py --workload dedup_skewed --seed 1 --seconds 10 --trace 0

Run from the repository root. The run stages a seeded input, starts
timing with the first operation after session start (the run a batch
job pays), keeps running operations until ``--seconds`` have passed and
checks every output. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` a traced run's per-layer metrics. Human-readable lines come first; the
last line of stdout is one JSON object. The exit code is 1 when any
operation failed or any output check did not hold.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

import harness as H
from eventlog import LAYER_FIELDS, parse
from workloads import MODULE_LAYERS, STAGES, WORKLOADS

N_SETUPS = 3

END_TO_END = {
    "wall_s": "s",
    "pages_per_s": "pages/s",
    "setup_s": "s",
}

PER_LAYER = {
    "normalize.s": "s", "normalize.rows": "count",
    "block_keys.s": "s", "block_keys.rows": "count", "block_keys.rows_lsh": "count",
    "cap.s": "s", "cap.oversized_keys": "count", "cap.max_block": "count",
    "cap.cand_cut_ratio": "ratio",
    "pairs.s": "s", "pairs.rows": "count", "pairs.dedup_ratio": "ratio",
    "pairs.true_ratio": "ratio",
    "score.s": "s", "score.pairs_per_s": "pairs/s",
    "threshold.s": "s", "threshold.edges": "count", "threshold.yield": "ratio",
    "cc.s": "s", "cc.jobs": "count", "cc.edges_in": "count",
    **{
        f"{layer}.{field}": unit
        for layer in MODULE_LAYERS
        for field, unit in zip(LAYER_FIELDS, ("s", "MB", "MB", "ratio", "count"))
    },
    **{f"stage.{s}.s": "s" for s in STAGES},
    "stage.written_mb": "MB", "metrics.rows": "count",
    "trace.overhead_s": "s", "trace.coverage": "ratio",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _say(name: str, value, unit: str, note: str = "") -> None:
    print(f"  {name:<26} {value:>14.4f} {unit:<8} {note}".rstrip(), flush=True)


def _run_op(wl, counter: H.OpCounter) -> dict | None:
    return counter.run(f"op{counter.attempted}", wl.op, wl.check,
                       weight=lambda o: o["ops"])


def _timed_ops(wl, counter: H.OpCounter, seconds: float) -> list[dict]:
    outs: list[dict] = []
    t0 = time.perf_counter()
    while True:
        out = _run_op(wl, counter)
        if out is not None:
            outs.append(out)
        if time.perf_counter() - t0 >= seconds:
            return outs


def _untraced_report(wl, outs, setup_s, peak_mb) -> dict[str, float]:
    walls = [o["wall"] for o in outs]
    wall = H.median(walls)
    metrics = {
        "wall_s": wall,
        "pages_per_s": wl.n_pages / wall,
        "setup_s": setup_s,
    }
    notes = {"wall_s": f"median of {len(walls)}: " + " ".join(f"{w:.3f}" for w in walls)}
    for name, value in metrics.items():
        _say(name, value, END_TO_END[name], notes.get(name, ""))
    # Printed, not reported: its spread across seeds (GC timing) is too
    # wide for a regression bound.
    _say("peak_rss_mb", peak_mb, "MB", "summed PSS of the JVM and Python workers")
    if "resume" in outs[0]:
        _say("resume_s", H.median([o["resume"] for o in outs]), "s")
    for name, value in getattr(wl, "quality", {}).items():
        _say(name, value, "ratio", "first run")
    return metrics


def main(argv=None) -> int:
    args = _args(argv)
    H.prepare_workdir()
    wl = WORKLOADS[args.workload](args.seed)
    counter = H.OpCounter()
    setups: list[float] = []
    spark = None
    try:
        for _ in range(N_SETUPS):
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            spark = H.start_session(trace=bool(args.trace))
            wl.stage(spark)
            setups.append(time.perf_counter() - t)
        wl.prepare(spark)
        if args.trace:
            outs = _timed_ops(wl, counter, 0)
            if outs:
                layers = wl.trace(outs[0], lambda: _run_op(wl, counter))
                problem = wl.trace_problem()
                if problem:
                    counter.fail("traced run", problem)
        else:
            with H.MemorySampler(H.jvm_pid(spark)) as mem:
                outs = _timed_ops(wl, counter, args.seconds)
    finally:
        if spark is not None:
            H.shutdown(spark)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={H.CORES} pages={wl.n_pages} load_1m={H.load_1m():.2f}", flush=True)
    _say("setup_runs_s", setups[0], "s", " ".join(f"{s:.3f}" for s in setups))
    if args.trace and outs:
        for layer, m in parse(f"{H.WORK}/eventlog").items():
            if layer in MODULE_LAYERS:
                layers.update({f"{layer}.{f}": m[f] for f in LAYER_FIELDS})
                if layer == "cc":
                    layers["cc.jobs"] = m["jobs"]
        metrics = {name: layers.get(name, 0.0) for name in PER_LAYER}
        for name, value in metrics.items():
            _say(name, value, PER_LAYER[name])
        units = PER_LAYER
    elif outs:
        metrics = _untraced_report(wl, outs, H.median(setups), mem.peak_mb)
        units = END_TO_END
    else:
        metrics, units = {}, END_TO_END
    _say("op_fail_ratio", counter.fail_ratio, "ratio",
         f"{counter.failed}/{counter.attempted} operations")
    for err in counter.errors:
        print(f"  FAILED {err}", flush=True)
    correct = counter.failed == 0 and bool(metrics)
    print(json.dumps({
        "correct": correct,
        "attempted": counter.attempted,
        "failed": counter.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
