"""Smoke test of the benchmark itself (not part of the engine's suite).

    python3 perfbench/smoke_test.py        # or: python3 -m pytest perfbench/smoke_test.py

From the root of a checkout, runs every workload of
perfbench/workloads.json once untraced and once traced for one second and checks that the last
line carries every named metric with its unit, that the outputs were
correct and nothing failed. Also checks that the command refuses to
run, without printing a result, in a directory holding only the
benchmark. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
with open(os.path.join(ROOT, "perfbench", "workloads.json")) as _fh:
    WORKLOADS = sorted(json.load(_fh)["workloads"])


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def _check(workload: str, trace: int) -> None:
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"], result
    assert result["correct"] is True and result["failed"] == 0, proc.stdout[-2000:]
    assert result["attempted"] >= 1
    expected = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    for metric in expected:
        got = result["metrics"][metric["name"]]
        assert got["unit"] == metric["unit"], (metric, got)
        assert isinstance(got["value"], float), (metric, got)


def test_workloads_print_every_metric() -> None:
    for workload in WORKLOADS:
        for trace in (0, 1):
            _check(workload, trace)


def test_refuses_without_engine() -> None:
    scratch = os.path.join(ROOT, ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in BENCH["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path))
        proc = _run(bare, BENCH["workloads"][0]["name"], 0)
        assert proc.returncode != 0
        assert "metrics" not in proc.stdout


if __name__ == "__main__":
    test_refuses_without_engine()
    test_workloads_print_every_metric()
    print("smoke OK")
    sys.exit(0)
