"""Smoke test of the benchmark command itself, at tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once (corpus_dedup too, which BENCHMARK.json leaves
out) and checks that the result line names exactly the metrics
BENCHMARK.json declares, with their units; that a traced run prints every
per-layer metric; and that an injected wrong answer is counted as a failed
operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def bench(workload: str, *extra: str) -> tuple[dict, dict]:
    """(detail line, result line) of one tiny run."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--scale", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def declared(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def printed(result: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize(
    "workload", [w["name"] for w in SPEC["workloads"]] + ["corpus_dedup"])
def test_workload_prints_every_end_to_end_metric(workload):
    detail, result = bench(workload, "--trace", "0")
    assert result["correct"] and result["failed"] == 0, detail["run"]["errors"]
    assert result["attempted"] >= 1
    assert printed(result) == declared("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert detail["host"]["nproc"] >= 1


def test_traced_run_prints_every_per_layer_metric():
    detail, result = bench("geo_queries", "--trace", "1")
    assert result["correct"], detail["run"]["errors"]
    assert printed(result) == declared("per_layer")
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["kernel.coverer.calls"] > 0
    assert m["trace.phase_coverage"] > 0.95


def test_injected_wrong_answer_counts_as_failed():
    detail, result = bench("corpus_dedup", "--inject-fault")
    assert not result["correct"]
    assert result["failed"] >= 1
    assert detail["run"]["failed_ratio"] > 0
