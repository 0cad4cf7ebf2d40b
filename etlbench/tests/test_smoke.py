"""Smoke runs of every workload on sf0.001-sized inputs, input
determinism, a run that fails on purpose, and the benchmark's refusal to
run without the engine.
Run: ``python3 -m pytest etlbench/tests -q`` from the repo root."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import workloads  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(cwd: str, workload: str, trace: int, *extra: str, seed: int = 7):
    return subprocess.run(
        [sys.executable, "etlbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", str(trace), "--smoke",
         *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_same_seed_same_inputs(tmp_path):
    digests = []
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        d = str(tmp_path / name)
        stage = str(tmp_path / f"{name}-deltas")
        gen.write_sources(d, gen.SMOKE)
        gen.write_documents(d, seed, gen.SMOKE.documents)
        for i, _ in enumerate(gen.write_deltas(stage, seed, gen.SMOKE, 3)):
            workloads.apply_delta(d, stage, i)
        digests.append(gen.digest(d))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_is_correct_and_complete(workload):
    proc = _run(ROOT, workload, trace=1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    summary = json.loads(next(
        line for line in proc.stderr.splitlines() if line.startswith('{"workload"')))
    assert set(summary["end_to_end"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v > 0 for v in summary["end_to_end"].values())
    work = os.path.join(BENCH, "_work")
    assert not [d for d in os.listdir(work) if d.startswith(workload)] \
        if os.path.isdir(work) else True


def test_a_failed_request_fails_the_run():
    """A request the server refuses counts as failed, is not a timing
    sample, and makes the run incorrect with a non-zero exit."""
    proc = _run(ROOT, "etl_lane", 0, "--inject-bad-request")
    assert proc.returncode == 1, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] >= 1
    summary = json.loads(next(
        line for line in proc.stderr.splitlines() if line.startswith('{"workload"')))
    assert summary["failures"]["http_error"] == result["failed"]
    # each burst sends the bad request first; it is not a latency sample
    assert summary["requests"] == summary["info"]["idle"]["requests"] - 1


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "etlbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(str(tmp_path), SPEC["workloads"][0]["name"], trace=0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
