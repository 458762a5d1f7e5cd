"""Smoke test of the benchmark at sf0.001.

Each workload, untraced and traced, must print every metric
BENCHMARK.json names with its unit, fail no op (error rate 0) and leave
no files behind.  Without the library next to it the benchmark must
refuse to run.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace), "--sf", "0.001"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric(workload, trace):
    before = sorted(os.listdir(ROOT))
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(out) == ["attempted", "correct", "failed", "metrics"]
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] > 0, proc.stdout
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    for name, v in out["metrics"].items():
        assert isinstance(v["value"], (int, float)) and v["value"] == v["value"], name
    values = {k: v["value"] for k, v in out["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values()), values
    else:
        # the tracer found each op's jobs, stages and task metrics
        for name in ("spark.jobs_per_op", "spark.tasks_per_op", "executor.run_s_per_op"):
            assert values[name] > 0, name
    if trace and workload == "batch":
        # rt_halo_boxsum runs Arrow workers, so the SQL metrics were read
        assert values["python.run_s_per_op"] > 0
        # the roundtrip ops wrote, sized and deleted a store each round
        assert values["sources.files_written"] > 0
    assert sorted(os.listdir(ROOT)) == before


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
