"""The benchmark's own tests: smoke runs of every workload (tiny corpus,
no warm-up), which still print every metric and run the oracle check.

    python3 -m pytest perfbench/ -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd, workload, trace, timeout=300):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload,trace", [("build_bulk", 0),
                                            ("query_mix", 1)])
def test_smoke_prints_every_metric_and_passes_the_oracle(workload, trace):
    spec = _spec()
    assert workload in {w["name"] for w in spec["workloads"]}
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


def test_refuses_a_directory_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "query_mix", 0, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""


def test_attribution_splits_job_and_driver_time():
    spans = [
        {"id": 0, "name": "req", "parent": None, "req": "r", "cls": "point",
         "start": 0.0, "end": 100.0},
        {"id": 1, "name": "collect", "parent": 0, "req": "r", "cls": "point",
         "start": 50.0, "end": 100.0},
    ]
    log = {"jobs": [{"start": 10.0, "end": 30.0}, {"start": 20.0,
                                                   "end": 40.0}],
           "stages": [{"start": 10.0, "n_tasks": 4, "run_ms": [1, 1, 1, 5],
                       "cpu_ns": 2e9, "input_b": 2**20,
                       "shuffle_read_b": 0, "shuffle_write_b": 0}]}
    a = tracing.attribute(spans, log)[0]
    assert (a["jobs"], a["stages"], a["tasks"]) == (2, 1, 4)
    assert a["job_ms"] == 30.0 and a["driver_ms"] == 70.0
    assert a["coverage"] == pytest.approx(0.8)
    assert a["max_task_skew"] == 5.0
    assert a["input_mb"] == 1.0
