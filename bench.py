"""Benchmark harness: ``python bench.py [q1 q2 ...] [--explain DIR]``
runs the registered queries (all, or the named ones) at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and prints ONE JSON
line with per-query wall seconds. ``--explain DIR`` writes each
query's formatted plan to DIR/<name>.txt on its first rep.

Each query is forced to full materialization with a count-style action
(write.format("noop") keeps results off the driver — the bench measures
compute, not collect).

Per-query time is the MIN of $SPARK_GRAFT_BENCH_REPS (default 3) runs:
single-shot timings in a shared JVM carry ±60% noise at these
magnitudes (JIT warm-up, first-run shuffles), which masked real plan
signals in earlier rounds. Min-of-N reports steady-state plan cost.
Persisted intermediates are released between runs so the session never
accumulates cached blocks. The full output adds the reported rep's
census (build = the query function, run = the noop write; seconds,
jobs, stages, tasks per job group ``bench:<name>:build`` / ``:run``):
at these sizes fixed per-job cost dominates."""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from polars_text_spark.session import get_spark  # noqa: E402


def _census(tracker, phase: str, job_ids: set[int]) -> dict[str, int]:
    """Jobs, distinct stages (skipped ones included) and completed tasks."""
    stages = {s for j in job_ids if (info := tracker.getJobInfo(j)) for s in info.stageIds}
    infos = [tracker.getStageInfo(s) for s in stages]
    tasks = sum(i.numCompletedTasks for i in infos if i is not None)
    counts = {"jobs": len(job_ids), "stages": len(stages), "tasks": tasks}
    return {f"{phase}_{k}": n for k, n in counts.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="queries to run (default: all)")
    ap.add_argument("--explain", metavar="DIR")
    args = ap.parse_args(argv)
    queries = entrymod.queries()
    unknown = [n for n in args.names if n not in queries]
    if unknown:
        print(f"unknown query names: {' '.join(unknown)}", file=sys.stderr)
        return 2
    if args.names:
        queries = {n: queries[n] for n in args.names}

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    spark = get_spark("polars-text-spark-bench", extra_conf={"spark.ui.enabled": "false"})
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    # Warm up the JVM / parquet footer caches with a trivial action so
    # the first timed query doesn't absorb session start-up.
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    spark.range(1000).groupBy().sum("id").collect()

    from polars_text_spark.persist import release_tracked
    from polars_text_spark.plans import explain_str

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    tracker = sc.statusTracker()
    timings: dict[str, object] = {}
    census: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name, fn in queries.items():
        # Fault isolation: one broken query must never abort the whole
        # bench (round 4 shipped zero numbers because it did).
        groups = {phase: f"bench:{name}:{phase}" for phase in ("build", "run")}
        seen: set[int] = set()
        best = float("inf")
        for rep in range(reps):
            try:
                sc.setJobGroup(groups["build"], groups["build"])
                start = time.perf_counter()
                df = fn(spark, sf_dir)
                build_s = time.perf_counter() - start
                sc.setJobGroup(groups["run"], groups["run"])
                start = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                run_s = time.perf_counter() - start
                if args.explain and rep == 0:
                    os.makedirs(args.explain, exist_ok=True)
                    with open(os.path.join(args.explain, f"{name}.txt"), "w") as fh:
                        fh.write(explain_str(df, "formatted"))
            except Exception as exc:  # noqa: BLE001 — record and move on
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                break
            finally:
                sc._jsc.clearJobGroup()
                release_tracked()
            # a group keeps its jobs across reps: this rep's are the new ids
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            new = {p: set(tracker.getJobIdsForGroup(g)) - seen for p, g in groups.items()}
            seen |= new["build"] | new["run"]
            if build_s + run_s < best:
                best = build_s + run_s
                census[name] = {"build_s": round(build_s, 3), "run_s": round(run_s, 3)}
                for phase, ids in new.items():
                    census[name].update(_census(tracker, phase, ids))
        if name in errors:
            timings[name] = {"err": errors[name]}
            census.pop(name, None)
        else:
            timings[name] = round(best, 3)

    total = round(sum(t for t in timings.values() if isinstance(t, float)), 3)
    payload = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "errors": len(errors),
        "sf": sf,
    }
    # The driver's BENCH artifact captures only the stdout TAIL, which
    # truncates past ~70 queries — persist the complete per-query map
    # and the census ourselves so every query keeps a tracked number
    # ($SPARK_GRAFT_BENCH_OUT overrides the path; empty disables).
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    if out_path:
        with open(out_path, "w") as fh:
            json.dump({**payload, "census": census}, fh, indent=1, sort_keys=True)
    print(json.dumps(payload))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
