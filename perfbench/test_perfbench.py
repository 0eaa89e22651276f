"""Self-checks for the benchmark. From the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider

The two run tests start the benchmark for real (about a minute each).
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
sys.path.insert(0, ROOT)

from workloads import WORKLOADS  # noqa: E402


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


def test_declared_workloads_are_the_defined_ones_and_name_their_queries():
    workloads = declared()["workloads"]
    assert [w["name"] for w in workloads] == list(WORKLOADS)
    for w in workloads:
        assert w["why"].split(",")[0].split() == list(WORKLOADS[w["name"]].queries)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_queries_are_registered_benched_and_oracle_backed(name):
    from music_database_spark.registry import load_all

    registry = load_all()
    for q in WORKLOADS[name].queries:
        assert q in registry, q
        assert registry[q].bench, q
        assert registry[q].oracle, q


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_one_run_reports_every_declared_metric_with_its_unit(trace, section):
    proc = run_bench(ROOT, "ref_interactive", trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in declared()[section]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_run_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".data", ".out"))
    proc = run_bench(str(tmp_path), "ref_interactive", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
