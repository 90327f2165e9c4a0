"""Self-tests for the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

import harness as H
from eventlog import layer_metrics
from run import END_TO_END, PER_LAYER

HERE = os.path.dirname(os.path.abspath(__file__))
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def legal_metric_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None


# --- event-log parser -----------------------------------------------------


def _job(job_id, stages, group=None):
    props = {"spark.jobGroup.id": group} if group is not None else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def _task(stage, ms, cpu_ns=0, shuffle=0, spill=0, failed=False):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms, "Failed": failed},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def test_event_log_layers():
    events = [
        {"Event": "SparkListenerApplicationStart"},
        _job(0, [0, 1], "score"),
        _task(0, 10, cpu_ns=2_000_000_000, shuffle=3_000_000),
        _task(0, 30, cpu_ns=1_000_000_000),
        _task(1, 100), _task(1, 100), _task(1, 400, spill=5_000_000),
        _job(1, [1, 2], "cc"),  # stage 1 was already claimed by "score"
        _task(2, 5, failed=True),
        _job(2, [3], "cc"),
        _job(3, [4]),  # no job group
        _task(4, 7, cpu_ns=500_000_000),
    ]
    lines = [json.dumps(e) for e in events] + [""]
    got = layer_metrics(lines)
    assert set(got) == {"score", "cc", ""}
    score = got["score"]
    assert score["cpu_s"] == pytest.approx(3.0)
    assert score["shuffle_write_mb"] == pytest.approx(3.0)
    assert score["spill_mb"] == pytest.approx(5.0)
    assert score["task_skew"] == pytest.approx(4.0)  # busiest stage 1: 400 / 100
    assert score["failed_tasks"] == 0 and score["jobs"] == 1
    assert got["cc"]["failed_tasks"] == 1 and got["cc"]["jobs"] == 2
    assert got[""]["cpu_s"] == pytest.approx(0.5)


# --- metric names ------------------------------------------------------------


@pytest.mark.parametrize("name, ok", [
    ("wall_s", True), ("cc.cpu_s", True), ("stage.pairs.s", True), ("a-b", True),
    ("0x", True), ("a" * 64, True),
    ("", False), ("a b", False), ("x/y", False), (".hidden", False), ("_x", False),
    ("é", False), ("a" * 65, False),
])
def test_metric_name_rule(name, ok):
    assert legal_metric_name(name) is ok


def test_declared_metrics_match_run():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert declared == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert all(legal_metric_name(n) for n in [*END_TO_END, *PER_LAYER])


# --- operation counting ---------------------------------------------------------


def test_op_counter_counts_raised_and_wrong_outputs():
    c = H.OpCounter()

    def boom():
        raise RuntimeError("deliberate")

    assert c.run("ok", lambda: 1, lambda r: None) == 1
    assert c.run("raises", boom) is None
    c.run("wrong", lambda: 2, lambda r: "output 2 is wrong")
    c.run("pair", lambda: {"ops": 2}, lambda r: None, weight=lambda r: r["ops"])
    assert (c.attempted, c.failed) == (5, 2)
    assert c.fail_ratio == pytest.approx(0.4)
    assert "deliberate" in c.errors[0] and "wrong" in c.errors[1]
    c.fail("traced run", "clusters differ")
    assert c.failed == 3


def test_op_counter_with_nothing_attempted_is_a_failure():
    assert H.OpCounter().fail_ratio == 1.0
