"""The benchmark's own tests, on its tiny input size (a few hundred rows).

    python -m pytest perfbench/tests -q

Each test runs the real command in a subprocess, as the benchmark is run:
every metric BENCHMARK.json names must come out with its unit, a damaged
output must fail the correctness check, and a directory holding only the
benchmark must make the command fail without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

# a layer metric each workload must actually exercise (non-zero)
EXERCISED = {
    "backfill": ["lineage.partition_s.p50", "lineage.jobs_per_partition", "io.files_written",
                 "pipeline.build_s", "spark.tasks"],
    "pair_mining": ["queries.exec_s.jaccard_pairs", "queries.cpu_s.simhash_dedup",
                    "udfs.py_cpu_s", "udfs.py_workers", "spark.jobs"],
}


def bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "5", "--seconds", "0.1",
         "--size", "tiny", *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


def result_of(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(result: dict, spec: list[dict]) -> None:
    assert sorted(result["metrics"]) == sorted(m["name"] for m in spec)
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_layer_metric(workload):
    result = result_of(bench(REPO, "--workload", workload, "--trace", "1"))
    assert result["correct"] and result["failed"] == 0 and result["attempted"] == 1
    assert_metrics(result, SPEC["per_layer"])
    values = {k: v["value"] for k, v in result["metrics"].items()}
    for name in EXERCISED[workload]:
        assert values[name] > 0, name
    if workload == "backfill":
        # the UDF-bypass workload: no Python worker runs
        assert values["udfs.py_workers"] == 0
        assert values["udfs.py_cpu_s"] < 0.5


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_fails_the_check(workload):
    proc = bench(REPO, "--workload", workload, "--trace", "0", "--corrupt")
    result = result_of(proc)
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 1
    assert_metrics(result, SPEC["end_to_end"])
    info = json.loads(proc.stdout.strip().splitlines()[-2])
    assert info["failed_frac"] == 1.0
    assert info["rss_reset_failures"] == 0
    assert info["wall_s"]["unit"] == "s" and info["files_per_s"]["unit"] == "1/s"


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = bench(str(tmp_path), "--workload", WORKLOADS[0], "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
