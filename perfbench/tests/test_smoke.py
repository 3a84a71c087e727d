"""Smoke runs of every workload through the command the benchmark
publishes: the result line honours the contract and the checks pass.
Slow (one Spark session per workload): run with
``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))


def _run(workload: str, trace: int, cwd: str = REPO, seconds: int = 1):
    return subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "11", "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_smoke(workload):
    p = _run(workload, 0)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload,layer", [("vote_stream", "sinks.upsert_ms_p50"),
                                            ("election_analytics", "voting.plan_ms"),
                                            ("corpus_curation", "curate.jobs")])
def test_traced_run_reports_every_per_layer_metric(workload, layer):
    p = _run(workload, 1)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert [m["name"] for m in SPEC["per_layer"]] == list(res["metrics"])
    assert res["metrics"][layer]["value"] > 0
    assert res["metrics"]["spark.self_ms"]["value"] > 0  # REST jobs were attached


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
