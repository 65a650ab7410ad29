"""Smoke run of every workload at scale 0.001 (a few minutes; starts Spark).

Asserts that each run prints every metric of BENCHMARK.json with its
unit, the named end-to-end figures of perfbench/README.md, and a
correct result. Run with:

    python3 -m pytest perfbench/tests/test_perfbench_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

#: Every workload run.py knows, including those BENCHMARK.json leaves out.
WORKLOADS = ["iterative", "relational", "upsert_load"]

HUMAN = {
    "query": [
        "setup_s",
        "query_p50_s",
        "query_p90_s",
        "pass_s",
        "pass_cpu_s",
        "host_steal_share",
        "spark_jobs_per_pass",
        "spark_tasks_per_pass",
        "error_rate",
        "peak_rss_mb",
    ],
    "load": [
        "setup_s",
        "load_batch_p50_s",
        "load_batch_p90_s",
        "load_rows_per_s",
        "pass_s",
        "pass_cpu_s",
        "host_steal_share",
        "spark_jobs_per_pass",
        "spark_tasks_per_pass",
        "error_rate",
        "peak_rss_mb",
    ],
}


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--scale", "0.001",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def test_declared_workloads_are_runnable():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_prints_every_metric(workload, trace):
    lines, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    kind = "load" if workload == "upsert_load" else "query"
    names = {line.split()[0] for line in lines[:-1] if line and not line.startswith("#")}
    assert set(HUMAN[kind]) <= names


def test_exits_nonzero_without_the_engine(tmp_path):
    """A checkout holding only the benchmark must fail without a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p, ignore=shutil.ignore_patterns(".work", "__pycache__"))
    cmd = SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
