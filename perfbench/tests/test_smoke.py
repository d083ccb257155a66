"""End-to-end smoke runs of each workload at its smoke size (about a
minute each: every run starts its own JVM), and the fail-fast path of a
directory without the program."""

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd, workload, trace, size="smoke", timeout=300):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
           "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace), "--size", size]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["attempted"] >= 1
    # the only failing operation is dup_dense's pass over the fixed T4
    # input, one per round; run_seconds = 1 makes every run one round
    assert res["failed"] == (1 if workload == "dup_dense" else 0)
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {k: v["unit"] for k, v in res["metrics"].items()}


def test_without_program_fails_fast(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "__pycache__"))
    t = time.time()
    p = _run(tmp_path, SPEC["workloads"][0]["name"], 0, size="full", timeout=60)
    assert p.returncode != 0 and p.stdout.strip() == ""
    assert time.time() - t < 30
