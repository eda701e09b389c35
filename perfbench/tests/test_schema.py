"""The result line and the metric names agree with BENCHMARK.json."""
import json
import os

import pytest

from perfbench import run
from perfbench.eventlog import _new_group
from perfbench.trace import Recorder
from perfbench.workloads import WORKLOADS

REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def traced_record():
    """One synthetic traced pass of pit_join's first operation."""
    op = WORKLOADS["pit_join"].ops[0].name
    rec = Recorder(None, "pb0")
    rec.spans = [(op, "prepare", 0.0, 0.1), (op, "build", 0.1, 0.5),
                 (op, "plan", 0.5, 0.6), (op, "write", 0.6, 0.9),
                 (op, "cleanup", 0.9, 0.95)]
    rec.catalyst = [(op, {"analysis": 1, "optimization": 2,
                          "planning": 3}, 10)]
    counts = {(o.name, k): {"jobs": 0, "stages": 0, "tasks": 0}
              for o in WORKLOADS["pit_join"].ops
              for k in ("build", "execute")}
    counts[(op, "build")] = {"jobs": 2, "stages": 2, "tasks": 8}
    counts[(op, "execute")] = {"jobs": 1, "stages": 3, "tasks": 12}
    g = _new_group()
    g.update(jobs=[[600.0, 700.0], [650.0, 850.0]], task_s=1.5,
             shuffle_write_bytes=100)
    record = {"recorder": rec, "counts": counts, "files": 4, "wall": 1.0,
              "start": 0.0, "epoch": (0.0, 1000.0), "udf_s": 0.0}
    return record, {f"pb0:{op}:execute": g, "other:group": _new_group()}


def test_workloads_match():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)


def test_end_to_end_names():
    m = run.end_to_end(setup_s=9.0, pass_s=2.0, rows=100, rss_mb=1000.0)
    assert set(m) == {x["name"] for x in BENCH["end_to_end"]}
    assert m["rows_per_s"] == 50.0


def test_per_layer_names_units_and_values():
    record, groups = traced_record()
    m = run.layer_metrics([record], WORKLOADS["pit_join"], groups, 0.8)
    assert set(m) == {x["name"] for x in BENCH["per_layer"]}
    assert abs(m["project.build_s"] - 0.4) < 1e-9
    assert m["project.build_jobs"] == 2
    assert m["operators.build_s"] == 0
    assert abs(m["materialization.write_s"] - 0.3) < 1e-9
    assert m["materialization.files_written"] == 4
    assert m["catalyst.planning_ms"] == 3 and m["catalyst.plan_nodes"] == 10
    assert (m["scheduler.jobs"], m["scheduler.stages"],
            m["scheduler.tasks"]) == (3, 5, 20)
    # jobs busy from 600 to 850 ms of a 1 s pass
    assert abs(m["scheduler.job_gap_s"] - 0.75) < 1e-9
    assert m["executor.task_s"] == 1.5
    assert m["executor.shuffle_write_bytes"] == 100
    assert abs(m["trace.coverage"] - 0.95) < 1e-9
    assert abs(m["trace.overhead_ratio"] - 1.25) < 1e-9


def test_result_line_keys_and_units():
    line = run.result_line(True, 4, 0, {"pass_s": 1.5, "setup_s": 9.0,
                                        "catalyst.plan_nodes": 10})
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"]["pass_s"] == {"value": 1.5, "unit": "s"}
    assert line["metrics"]["catalyst.plan_nodes"]["unit"] == "count"
    json.dumps(line)


def test_result_line_refuses_unknown_metric():
    with pytest.raises(KeyError):
        run.result_line(True, 1, 0, {"not_a_metric": 1.0})


def test_layer_map_covers_every_per_layer_metric_once():
    with open(os.path.join(REPO, "perfbench", "layers.json")) as f:
        layers = json.load(f)["layers"]
    names = [m for layer in layers.values() for m in layer["metrics"]]
    assert sorted(names) == sorted(x["name"] for x in BENCH["per_layer"])
    e2e = {m["name"] for m in BENCH["end_to_end"]}
    for layer, info in layers.items():
        assert all(m.startswith(layer + ".") for m in info["metrics"])
        for move in info["moves"]:
            assert move["metric"] in e2e and move["workload"] in WORKLOADS
