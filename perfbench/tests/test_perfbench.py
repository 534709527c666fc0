"""The benchmark's own tests: every workload runs at a tiny size, emits every
metric BENCHMARK.json names and removes its inputs; perturbed outputs make
the gates fire; the launcher fails without the program; span and event-log
arithmetic.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import run, workloads  # noqa: E402
from perfbench.trace import Span, covered, parse_event_logs, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _tiny(workload: str, trace: int, perturb: bool = False) -> dict:
    return run.main(
        ["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        sizes=workloads.Sizes.tiny(),
        perturb=perturb,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_emits_every_metric(workload, trace):
    res = _tiny(workload, trace)
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_run"))  # inputs removed


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_perturbed_result_fails_the_gates(workload):
    res = _tiny(workload, 0, perturb=True)
    assert not res["correct"]
    assert res["failed"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                           "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


def _span(i, a, b, parent=None):
    return Span(id=str(i), name=f"s{i}", layer="x", parent=parent, run="r", start=a, end=b)


def test_self_time_subtracts_the_union_of_children():
    root = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 4.0, "0"), _span(2, 3.0, 5.0, "0"), _span(3, 8.0, 12.0, "0")]
    assert covered(root, kids) == pytest.approx(6.0)
    assert self_times([root, *kids])["0"] == pytest.approx(4.0)


def test_event_log_attribution(tmp_path):
    spans = [_span(0, 100.0, 110.0), _span(1, 102.0, 104.0, "0")]
    plan = {"nodeName": "MapInPandas", "metrics": [
        {"name": "number of output rows", "accumulatorId": 7},
        {"name": "data sent to Python workers", "accumulatorId": 8}], "children": []}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 101000,
         "Stage Infos": [{"Stage ID": 0}], "Properties": {"spark.jobGroup.id": "1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 103000,
         "Stage Infos": [{"Stage ID": 1}], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [{"ID": 7, "Update": 5}, {"ID": 8, "Update": 1024}]},
         "Task Metrics": {"Executor CPU Time": 2e9, "Executor Run Time": 3000, "JVM GC Time": 100,
                          "Shuffle Read Metrics": {"Local Bytes Read": 10},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
                          "Disk Bytes Spilled": 30}},
        {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
         "progress": {"batchId": 0, "durationMs": {"triggerExecution": 5}}},
    ]
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, progress = parse_event_logs(str(tmp_path), spans)
    assert [j.span for j in jobs] == ["1", "1"]  # by job group, then by time
    j = jobs[0]
    assert (j.stages, j.tasks, j.cpu_s, j.run_s, j.gc_s) == (1, 1, 2.0, 3.0, 0.1)
    assert (j.shuffle_read_b, j.shuffle_write_b, j.spill_b) == (10, 20, 30)
    assert j.sql == {"py_rows_out": 5, "py_sent_bytes": 1024}
    assert progress == [{"batchId": 0, "durationMs": {"triggerExecution": 5}}]
