"""Smoke test of the benchmark harness at scale 0.001 (about 1.5k orders).

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts the engine, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import run  # noqa: E402


def bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--scale", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


def benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_harness():
    doc = benchmark_json()
    assert [w["name"] for w in doc["workloads"]] == sorted(run.WORKLOADS)
    for key, defs in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        assert {m["name"]: (m["unit"], m["better"]) for m in doc[key]} == defs


@pytest.mark.parametrize(
    "workload,trace", [("api_serve", 0), ("api_serve", 1), ("pipeline_batch", 0),
                       ("pipeline_batch", 1)],
)
def test_run_reports_every_metric(workload, trace):
    p = bench(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, p.stdout[-3000:]
    listed = benchmark_json()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in listed
    }
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values()), out["metrics"]
    assert not any(n.startswith("run-") for n in os.listdir(os.path.join(ROOT, ".perfbench")))


def test_fails_without_the_engine(tmp_path):
    """Given only BENCHMARK.json and the benchmark's own files, the run
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench(str(tmp_path), "api_serve", 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
