"""Smoke test of the benchmark itself, on its sf0.001 inputs.

Run: python3 -m pytest perfbench/test_smoke.py -q    (a few minutes)
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.realpath(__file__))
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    return out


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_gives_every_layer_and_closes_each_wall(workload):
    out = result(run(workload, 1))
    assert set(out["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    newest = max(glob.glob(os.path.join(ROOT, ".perfbench", "runs", f"{workload}-s3-t1-*.json")),
                 key=os.path.getmtime)
    with open(newest) as f:
        record = json.load(f)
    parts = ("plans.build_s", "stage.fit_write_s", "memo.frame_build_s", "catalyst.plan_s",
             "exec.action_s", "trace.unattributed_s")
    for p in record["passes"]:
        assert p["order"] and sorted(p["order"]) == sorted(q["query"] for q in p["queries"])
        for q in p["queries"]:
            assert all(q[k] >= 0 for k in parts), q
            assert abs(sum(q[k] for k in parts) - q["wall_s"]) < 1e-6, q
    assert record["spans"] and {s["run"] for s in record["spans"]} == {record["run_id"]}


def test_untraced_run_gives_every_end_to_end_metric():
    out = result(run(SPEC["workloads"][0]["name"], 0))
    assert set(out["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = run(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
