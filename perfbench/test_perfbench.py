"""Tests of the benchmark itself: its pure arithmetic, its contract
with BENCHMARK.json, a smoke run (sf0.001, one pass, output checks on)
of every workload, and its refusal to run without the package.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import tracing  # noqa: E402
from tracing import Span  # noqa: E402
from workloads import LISTED, WORKLOADS  # noqa: E402


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_what_the_runs_print():
    b = _benchmark()
    assert [w["name"] for w in b["workloads"]] == list(LISTED)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.E2E_UNITS
    assert [m["name"] for m in b["per_layer"]] == run.per_layer_names()
    assert all(m["unit"] == run.unit_of(m["name"]) for m in b["per_layer"])
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_tail_is_the_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 31)]  # 30 samples
    value, pct, n = run.tail(xs)
    assert (value, n) == (20.0, 30) and pct == pytest.approx(100 * 20 / 30)
    assert sum(x > value for x in xs) == 10
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("top", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),  # overlaps a (a par thunk)
        Span("c", 8.0, 9.0, parent=0),
        Span("grandchild", 1.5, 2.0, parent=1),
    ]
    assert tracing.self_time(spans, 0) == pytest.approx(10.0 - 5.0 - 1.0)


def test_jobs_go_to_the_innermost_span_or_the_parent_of_a_tie():
    spans = [
        Span("query.q", 0.0, 10.0),
        Span("par.build_concurrently", 1.0, 5.0, parent=0),
        Span("par.thunk", 1.0, 4.0, parent=1),
        Span("par.thunk", 1.5, 5.0, parent=1),
    ]
    assert tracing.attribute(spans, 7.0) == 0
    assert tracing.attribute(spans, 4.5) == 3
    assert tracing.attribute(spans, 2.0) == 1  # both thunks hold it
    assert tracing.attribute(spans, 11.0) is None


def test_parse_jobs_and_concurrency():
    def task(stage, launch, run_ms, shuffle_w):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": launch + run_ms + 50},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": run_ms * 1_000_000,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                "Shuffle Read Metrics": {"Local Bytes Read": 7},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "w/0/q"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        task(0, 1000, 100, 10),
        task(0, 1050, 100, 20),
        task(0, 1100, 100, 30),  # starts as the first ends: 2 at once, not 3
    ]
    (job,) = tracing.parse_jobs(events)
    assert job.group == "w/0/q" and job.submitted == 1.0
    assert job.counters["jobs"] == 1 and job.counters["stages"] == 1
    assert job.counters["tasks"] == 3 and job.counters["shuffle_write_bytes"] == 60
    assert job.counters["shuffle_read_bytes"] == 21
    assert job.counters["executor_cpu_s"] == pytest.approx(0.3)
    assert tracing.max_concurrency(job.tasks) == 2


def test_repeat_report_compares_only_the_same_code():
    a = {"fingerprint": "x", "seed": 1, "counts": {"pass": {"jobs": 5, "stages": 9}}}
    b = {"fingerprint": "x", "seed": 2, "counts": {"pass": {"jobs": 5, "stages": 8}}}
    rep = tracing.repeat_report(a, b)
    assert rep == {"compared_with": 1, "repeat": ["pass:jobs"], "differ": ["pass:stages"]}
    assert tracing.repeat_report(dict(a, fingerprint="y"), b)["compared_with"] is None


def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900, check=False,
    )


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run_passes_its_output_checks(workload, trace):
    r = _run(["--workload", workload, "--seed", "3", "--smoke", "--trace", trace])
    assert r.returncode == 0, r.stderr[-2000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, result
    b = _benchmark()
    listed = b["per_layer" if trace == "1" else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in listed]
    if trace == "0":
        assert all(m["value"] > 0 for m in result["metrics"].values()), result
    if trace == "1":
        m = {k: v["value"] for k, v in result["metrics"].items()}
        elt = workload == "elt_build"
        assert (m["par.calls"] > 0) is (workload == "text_dedup")
        assert (m["audit.log_step.calls"] > 0) is elt
        assert (m["staging.stage_append.calls"] > 0) is elt
        assert m["spark.jobs"] > 0


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "__pycache__"))
    r = _run(["--workload", LISTED[0], "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=str(tmp_path))
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout
