"""Smoke test of the benchmark at a tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs perfbench/run.py on every workload in BENCHMARK.json, untraced and
traced, at a few docs each (about three minutes on 4 cores), and checks the
result line against BENCHMARK.json: every end-to-end metric untraced,
every per-layer metric (so every span and its fields) traced, each with
its unit. Also checks that the benchmark fails without a result where the
program is missing.
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

from layers import SPAN_FIELDS, SPANS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    CONTRACT = json.load(_fh)
WORKLOADS = [w["name"] for w in CONTRACT["workloads"]]
SCALE = {"papers": 0.05, "incremental": 0.1}


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_metrics_emitted(workload: str, trace: int):
    proc = _run(ROOT, "--workload", workload, "--seed", "1",
                "--seconds", "1", "--trace", str(trace),
                "--scale", str(SCALE.get(workload, 0.1)))
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result, record = json.loads(lines[-1]), json.loads(lines[-2])["record"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert record["failed_run_frac"] == {"value": 0.0, "unit": "1"}
    declared = CONTRACT["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if trace:
        for span in SPANS:
            for fld in SPAN_FIELDS:
                assert f"{span}.{fld}" in result["metrics"]
        assert result["metrics"]["traced.coverage"]["value"] > 0
    else:
        for m in declared:
            assert result["metrics"][m["name"]]["value"] > 0, m["name"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in CONTRACT["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", WORKLOADS[0], "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
