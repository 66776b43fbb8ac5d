"""Smoke test of the benchmark itself, at tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

For each workload, an untraced and a traced run of one seed, two ticks
each, must pass every output check, print exactly the metrics
BENCHMARK.json declares with their units, and launch the same number
of Spark jobs. Without the engine beside it, the benchmark must fail
without printing a result.
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
SEED = 7


def run(args, cwd=ROOT, timeout=600):
    return subprocess.run([sys.executable, *args], cwd=cwd, capture_output=True,
                          text=True, timeout=timeout)


def run_tiny(workload: str, trace: int):
    p = run([os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(SEED),
             "--seconds", "1", "--trace", str(trace), "--size", "tiny", "--ticks", "2"])
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    saved = os.path.join(ROOT, ".perfbench", "results", f"{workload}-tiny-s{SEED}-t{trace}.json")
    with open(saved) as f:
        return result, json.load(f)["detail"]


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_tiny(workload):
    jobs = []
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        result, detail = run_tiny(workload, trace)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0, detail["problems"]
        assert result["attempted"] >= 1
        declared = {m["name"]: m["unit"] for m in BENCH[key]}
        assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
        jobs.append(detail["spark_jobs"])
    assert jobs[0] == jobs[1], f"untraced vs traced Spark jobs: {jobs}"


def test_fails_without_engine():
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in BENCH["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = run([*BENCH["command"][1:], "--workload", BENCH["workloads"][0]["name"],
                 "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
