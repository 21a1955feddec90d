"""Smoke test: every workload once at a tiny size, untraced and traced.

    python3 -m pytest perfbench/tests -q

Takes a few minutes (each run starts its own Spark session).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench.layers import LAYER_UNITS  # noqa: E402
from perfbench.run import END_TO_END_UNITS  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run_bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def run_tiny(workload: str, trace: int) -> tuple[dict, str]:
    proc = run_bench(ROOT, "--workload", workload, "--seed", "7", "--seconds", "3",
                     "--trace", str(trace), "--scale", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


def test_spec_matches_the_benchmark():
    listed = {w["name"] for w in SPEC["workloads"]}
    assert listed <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == LAYER_UNITS


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_untraced_run_reports_every_end_to_end_metric(workload):
    result, report = run_tiny(workload, 0)
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == END_TO_END_UNITS
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert "check: PASS" in report
    ratio = next(line for line in report.splitlines() if "failed_ratio" in line)
    assert float(ratio.split()[1]) == 0.0


@pytest.mark.parametrize("workload", sorted(w["name"] for w in SPEC["workloads"]))
def test_traced_run_reports_every_layer_metric(workload):
    result, report = run_tiny(workload, 1)
    assert result["correct"] is True and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == LAYER_UNITS
    assert result["metrics"]["spark.failed_tasks"]["value"] == 0
    out = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed7")
    with open(os.path.join(out, "summary.json")) as f:
        summary = json.load(f)
    assert summary["decode_vs_handoff"]["queries"] > 0
    with open(os.path.join(out, "spans.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    ids = {s["id"] for s in spans}
    assert all(s["parent"] is None or s["parent"] in ids for s in spans)
    assert all(s["end"] >= s["start"] for s in spans)


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = run_bench(str(tmp_path), "--workload", SPEC["workloads"][0]["name"],
                     "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
