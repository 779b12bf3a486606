"""Per-layer metrics and spans from a Spark event log (stdlib only).

The benchmark labels every job with ``spark.jobGroup.id =
"<pass>|<step>|<build|run>"``; micro-batch jobs of a streaming query
carry the query's ``runId`` as their group instead and are counted
in the stream step's ``build`` phase. Stages belong to
the job that submitted them and tasks to their stage, so every task
metric and Python-worker accumulable is attributed to a pass, a step
and a phase.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

STREAM = "stream_into_minhash_store"

# (metric, unit, value of one task's metrics), summed over the tasks of a pass
_TASK_METRICS = (
    ("executor_run_s", "s", lambda m: m["Executor Run Time"] / 1e3),
    ("executor_cpu_s", "s", lambda m: m["Executor CPU Time"] / 1e9),
    ("jvm_gc_s", "s", lambda m: m["JVM GC Time"] / 1e3),
    ("shuffle_write_bytes", "B", lambda m: m["Shuffle Write Metrics"]["Shuffle Bytes Written"]),
    (
        "shuffle_read_bytes",
        "B",
        lambda m: m["Shuffle Read Metrics"]["Remote Bytes Read"]
        + m["Shuffle Read Metrics"]["Local Bytes Read"],
    ),
    ("shuffle_fetch_wait_s", "s", lambda m: m["Shuffle Read Metrics"]["Fetch Wait Time"] / 1e3),
    ("spill_bytes", "B", lambda m: m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]),
    ("input_bytes", "B", lambda m: m["Input Metrics"]["Bytes Read"]),
    ("output_bytes", "B", lambda m: m["Output Metrics"]["Bytes Written"]),
)

# SQL accumulables of the Python eval nodes, reported per task: name -> (metric, unit, scale)
_PYTHON_ACCUMS = {
    "time to run Python workers": ("python_run_s", "s", 1e-3),
    "time to initialize Python workers": ("python_worker_init_s", "s", 1e-3),
    "data sent to Python workers": ("python_bytes_sent", "B", 1),
    "data returned from Python workers": ("python_bytes_returned", "B", 1),
}


def read_events(eventlog_dir: str):
    """Yield the events of every (uncompressed) log under the dir, in
    file order; Spark 4 writes ``eventlog_v2_<app>/events_<n>_<app>``."""
    files = glob.glob(os.path.join(eventlog_dir, "**", "events_*"), recursive=True)
    files.sort(key=lambda f: (os.path.dirname(f), int(os.path.basename(f).split("_")[1])))
    for path in files:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def layer_metrics(eventlog_dir: str, passes: list, cores: int):
    """Return (metrics, spans, per_step). ``metrics`` maps name to
    (median per-pass value, unit) over ``passes``; ``per_step`` maps a
    step to (build_s, run_s, jobs, stages), medians over the passes."""
    owner = {}  # job group -> (pass tag, step, phase)
    for p in passes:
        for step in p["timings"]:
            for phase in ("build", "run"):
                owner[f"{p['tag']}|{step}|{phase}"] = (p["tag"], step, phase)
        for prog in p["progress"]:
            owner[prog["runId"]] = (p["tag"], STREAM, "build")

    stage_owner, stage_span = {}, {}
    per_pass = defaultdict(lambda: defaultdict(float))
    step_counts = defaultdict(lambda: defaultdict(int))  # (tag, step) -> jobs/stages
    for ev in read_events(eventlog_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            who = owner.get(ev.get("Properties", {}).get("spark.jobGroup.id"))
            if who is not None:
                step_counts[who[:2]]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_owner[sid] = who
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            who = stage_owner.get(info["Stage ID"])
            if who is not None and "Completion Time" in info:
                per_pass[who[0]]["stages"] += 1
                step_counts[who[:2]]["stages"] += 1
                stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = (
                    who,
                    info["Submission Time"] / 1e3,
                    info["Completion Time"] / 1e3,
                )
        elif kind == "SparkListenerTaskEnd":
            who = stage_owner.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if who is None or m is None:
                continue
            acc = per_pass[who[0]]
            acc["tasks"] += 1
            for name, _, get in _TASK_METRICS:
                acc[name] += get(m)
            if who[2] == "run":
                acc["run_executor_s"] += m["Executor Run Time"] / 1e3
            for a in ev["Task Info"].get("Accumulables", []):
                spec = _PYTHON_ACCUMS.get(a.get("Name"))
                if spec is not None and a.get("Update") is not None:
                    acc[spec[0]] += float(a["Update"]) * spec[2]

    units = {"stages": "count", "tasks": "count"}
    units.update({name: unit for name, unit, _ in _TASK_METRICS})
    units.update({name: unit for name, unit, _ in _PYTHON_ACCUMS.values()})
    metrics = {}
    for name, unit in units.items():
        metrics[name] = (statistics.median(per_pass[p["tag"]][name] for p in passes), unit)

    steps = list(passes[0]["timings"])
    per_step = {}
    for step in steps:
        b = statistics.median(p["timings"][step][0] for p in passes if step in p["timings"])
        r = statistics.median(p["timings"][step][1] for p in passes if step in p["timings"])
        jobs = statistics.median(step_counts[(p["tag"], step)]["jobs"] for p in passes)
        stages = statistics.median(step_counts[(p["tag"], step)]["stages"] for p in passes)
        per_step[step] = (b, r, int(jobs), int(stages))
    metrics["build_s"] = (sum(v[0] for v in per_step.values()), "s")
    metrics["run_s"] = (sum(v[1] for v in per_step.values()), "s")
    busy = statistics.median(
        per_pass[p["tag"]]["run_executor_s"]
        / max(1e-9, sum(t[1] for t in p["timings"].values()) * cores)
        for p in passes
    )
    metrics["executor_busy_frac"] = (busy, "ratio")
    return metrics, _spans(passes, stage_span), per_step


def _spans(passes: list, stage_span: dict) -> list:
    """pass -> step -> build/run -> stage spans, one trace per pass."""
    spans = []

    def add(trace, name, start, end, parent):
        spans.append(
            {"id": len(spans), "trace": trace, "parent": parent, "name": name, "start": start, "end": end}
        )
        return len(spans) - 1

    phase_id = {}
    for p in passes:
        if not p["spans"]:
            continue
        tag = p["tag"]
        root = add(tag, "pass", p["spans"][0][1], p["spans"][-1][3], None)
        for step, e0, e1, e2 in p["spans"]:
            sid = add(tag, step, e0, e2, root)
            phase_id[(tag, step, "build")] = add(tag, "build", e0, e1, sid)
            phase_id[(tag, step, "run")] = add(tag, "run", e1, e2, sid)
    for (stage, attempt), (who, start, end) in sorted(stage_span.items()):
        parent = phase_id.get(who)
        if parent is not None:
            add(who[0], f"stage {stage}.{attempt}", start, end, parent)
    return spans


def write_spans(base: str, workload: str, seed: int, spans: list) -> str:
    path = os.path.join(base, f"spans-{workload}-{seed}.json")
    with open(path, "w") as fh:
        json.dump(spans, fh)
    return path
