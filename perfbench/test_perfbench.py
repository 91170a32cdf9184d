"""Self-tests of the benchmark: the event-log reader on a synthetic log, and
smoke runs at tiny seeded sizes that must print every metric of
``BENCHMARK.json`` with its unit and pass the correctness check.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.tracing import COUNTERS, SPAN_PROP, read_event_log, sum_counters  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _task(stage, run_ms, write=0, read=0, failed=False, peak=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Failed": failed},
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": 10,
            "Disk Bytes Spilled": 0,
            "Peak Execution Memory": peak,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
        },
    }


def test_event_log_reader(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {SPAN_PROP: "a"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2], "Properties": {SPAN_PROP: "b"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
        _task(0, 1500, write=100, peak=7),
        _task(1, 500, read=100, failed=True, peak=9),
        _task(3, 999),
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    per = read_event_log([str(log)])
    assert set(per) == {"a", "b"}  # the unlabelled job is not attributed
    a = per["a"]
    assert (a["jobs"], a["stages"], a["tasks"], a["failed_tasks"]) == (1, 2, 2, 1)
    assert a["task_s"] == pytest.approx(2.0) and a["gc_s"] == pytest.approx(0.02)
    assert (a["shuffle_write_bytes"], a["shuffle_read_bytes"], a["peak_exec_memory_bytes"]) == (100, 100, 9)
    # stage 1 belongs to the first job that lists it; stage 2 never ran
    assert (per["b"]["jobs"], per["b"]["stages"], per["b"]["tasks"]) == (1, 0, 0)
    total = sum_counters(per, ["a", "b", "missing"])
    assert total["jobs"] == 2 and total["peak_exec_memory_bytes"] == 9
    assert set(total) == set(COUNTERS)


def _run(workload: str, trace: int, seed: int = 3) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace), "--smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    return result


WORKLOADS = [w["name"] for w in _bench()["workloads"]]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_end_to_end(workload):
    metrics = _run(workload, 0)["metrics"]
    spec = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert {k: v["unit"] for k, v in metrics.items()} == spec
    assert all(v["value"] > 0 for v in metrics.values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_traced_counts_repeat(workload):
    first, second = (_run(workload, 1)["metrics"] for _ in range(2))
    spec = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert {k: v["unit"] for k, v in first.items()} == spec
    counts = [k for k, u in spec.items() if u in ("count", "rows")]
    assert {k: first[k]["value"] for k in counts} == {k: second[k]["value"] for k in counts}
    assert first["features.segmenter.assigned_rows"]["value"] > first["sources.rows"]["value"] > 0
