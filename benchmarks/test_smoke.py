"""Smoke test of the benchmark harness: every workload at its tiny size,
through the same code path as a full run.

    python3 -m pytest benchmarks/test_smoke.py -q

Each case starts its own Spark session, so the file takes a couple of
minutes; it catches a broken harness without a full benchmark run.
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _failed_allowed(workload: str) -> int:
    """A smoke-size live_window measures two ticks on a cold engine, which
    can run busier than the open-loop headroom allows; that counts one
    failed operation (the run's validity) while its outputs stay correct."""
    return 1 if workload == "live_window" else 0


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "benchmarks/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "4", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["live_window", "spread_drain", "corpus_curation"])
def test_untraced_run_reports_every_end_to_end_metric(workload):
    out = _run(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] <= _failed_allowed(workload) and out["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        assert out["metrics"][m["name"]]["value"] > 0


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_reports_every_per_layer_metric(workload):
    out = _run(workload, 1)
    assert out["correct"] is True and out["failed"] <= _failed_allowed(workload)
    names = [m["name"] for m in SPEC["per_layer"]]
    assert list(out["metrics"]) == names
    assert out["metrics"]["trace.spans"]["value"] > 0
    assert out["metrics"]["spark.jobs"]["value"] > 0


def test_exits_nonzero_without_the_program():
    """In a directory holding only BENCHMARK.json and the benchmark, the run
    fails fast and prints no result."""
    import pathlib
    import shutil

    tmp_path = pathlib.Path(ROOT, ".bench_work", "bare")
    shutil.rmtree(tmp_path, ignore_errors=True)
    tmp_path.mkdir(parents=True)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "benchmarks"), tmp_path / "benchmarks",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "benchmarks/run.py", "--workload", "live_window", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert "metrics" not in proc.stdout
