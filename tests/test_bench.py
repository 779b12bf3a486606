"""bench.py, the one registry profiler: a subset run with its census and
plans, the unknown-name exit, and the scripts' public-imports rule."""

from __future__ import annotations

import ast
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402


def test_subset_run_records_census_and_plan(spark, sf_dir, tmp_path, monkeypatch, capsys):
    out, plans = tmp_path / "bench_full.json", tmp_path / "plans"
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "1")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_OUT", str(out))
    # reuse the test session as it is: the bench's own builder would
    # re-apply its runtime confs to the shared session
    monkeypatch.setattr(bench, "get_spark", lambda *a, **k: spark)

    assert bench.main(["top_customer_revenue", "--explain", str(plans)]) == 0

    stdout_keys = set(json.loads(capsys.readouterr().out))
    assert stdout_keys == {"metric", "value", "unit", "queries", "errors", "sf"}
    full = json.loads(out.read_text())
    assert list(full["queries"]) == ["top_customer_revenue"]
    assert full["errors"] == 0 and full["sf"] == 0.001
    row = full["census"]["top_customer_revenue"]
    assert set(row) == {"build_s", "run_s"} | {
        f"{p}_{k}" for p in ("build", "run") for k in ("jobs", "stages", "tasks")}
    # the noop write runs at least one job; every job has a stage
    assert row["run_jobs"] >= 1 and row["run_tasks"] >= 1
    for phase in ("build", "run"):
        assert row[f"{phase}_stages"] >= row[f"{phase}_jobs"] >= 0
    assert "BroadcastHashJoin" in (plans / "top_customer_revenue.txt").read_text()
    # the bench leaves no job group behind on the caller's thread
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_unknown_query_exits_2_before_spark(monkeypatch, capsys):
    monkeypatch.setattr(bench, "get_spark", None)  # a session request raises
    assert bench.main(["top_customer_revenue", "no_such_query"]) == 2
    assert "no_such_query" in capsys.readouterr().err


def _private_imports(path: Path) -> list[str]:
    """``_``-prefixed names or modules a file imports from the package."""
    found = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("polars_text_spark"):
            names = node.module.split(".") + [a.name for a in node.names]
        elif isinstance(node, ast.Import):
            names = [p for a in node.names if a.name.startswith("polars_text_spark")
                     for p in a.name.split(".")]
        else:
            continue
        found += [f"{path.name}:{node.lineno} {n}" for n in names if n.startswith("_")]
    return found


def test_scripts_import_only_public_package_names():
    files = sorted((ROOT / "scripts").glob("*.py")) + [ROOT / "bench.py"]
    assert [f for path in files for f in _private_imports(path)] == []
