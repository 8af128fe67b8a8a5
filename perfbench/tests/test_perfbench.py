"""Smoke tests for the benchmark itself (not part of the engine's suite).

    python -m pytest perfbench/tests -q

The workload tests run each workload once at the ``tiny`` size through
the real entry point, so they take about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

from tracing import Span, span_counters, task_skew  # noqa: E402


def _bench_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _task(stage, dur_ms, failed=False, write=0, read=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Info": {"Launch Time": 0, "Finish Time": dur_ms, "Failed": failed},
        "Task Metrics": {
            "Executor Run Time": dur_ms, "JVM GC Time": 1,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5,
            "Shuffle Read Metrics": {"Remote Bytes Read": read,
                                     "Local Bytes Read": read,
                                     "Fetch Wait Time": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
        },
    }


def test_event_log_parser(tmp_path):
    spans = [
        Span(0, "rep", None, 1, start=100.0, end=110.0),
        Span(1, "pagerank", 0, 1, start=101.0, end=105.0),
    ]
    events = [
        # job 0 carries span 1's group; job 1 has a foreign group (a
        # streaming query's) and is attributed by time to span 0; job 2
        # ran outside every span and is dropped
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 102_000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "perfbench-span-1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 106_000, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "query-run-id"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": 200_000, "Stage IDs": [3], "Properties": {}},
        _task(0, 100, write=10), _task(0, 100, write=10), _task(0, 400),
        _task(1, 50, read=3), _task(2, 20, failed=True), _task(3, 999),
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    counters, stages = span_counters([str(log)], spans)
    assert set(counters) == {0, 1}
    pr = counters[1]
    assert (pr["jobs"], pr["tasks"], pr["failed_tasks"]) == (1, 4, 0)
    assert pr["shuffle_write_bytes"] == 20
    assert pr["shuffle_read_bytes"] == 6
    assert pr["spill_bytes"] == 20
    assert pr["executor_run_s"] == pytest.approx(0.65)
    assert pr["shuffle_fetch_wait_s"] == pytest.approx(0.008)
    assert pr["task_skew"] == pytest.approx(4.0)  # stage 0: 0.4 / 0.1
    assert (counters[0]["jobs"], counters[0]["failed_tasks"]) == (1, 1)
    assert sorted(len(s) for s in stages[1]) == [1, 3]
    assert task_skew([]) == 1.0


def _run(args, cwd, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize(
    "workload", [w["name"] for w in _bench_config()["workloads"]]
)
def test_workload_smoke(workload, trace, tmp_path):
    cfg = _bench_config()
    proc = _run(
        ["--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny", "--work", str(tmp_path)],
        cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    wanted = cfg["per_layer"] if trace else cfg["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    # the run leaves only its cached inputs (and traces) behind
    assert not [p for p in os.listdir(tmp_path) if p.startswith("run-")]


def test_refuses_without_the_engine(tmp_path):
    """In a directory holding only the benchmark it fails fast, printing
    no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(["--workload", "transcripts-pipeline", "--seed", "1",
                 "--seconds", "1", "--trace", "0"], cwd=tmp_path, timeout=60)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
