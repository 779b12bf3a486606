"""polars_text_spark benchmark: one workload, one seed, one Spark JVM.

Run from the root of a checkout:

    python3 perfbench/run.py --workload near_dup --seed 1 --seconds 8 --trace 0

A workload (perfbench/workloads.json) is a fixed list of registry
queries (``__spark_entry__.queries()``), plus, for ``near_dup`` and
``store_lifecycle``, a ``stream_into_minhash_store(available_now=True)``
drain. Each step is timed from outside in two parts: ``build``, the
call that returns the DataFrame (eager store writes, meta reads, probe
collects), and ``run``, its materialisation to the ``noop`` sink.

The stream is an incremental ingest: before every pass (untimed) one
new seeded shard lands in the watched directory, and the pass's drain
appends it to the session's MinHash store. A session's first pass
lands two shards, bootstrapping the store and appending once.

A set-up is: start a fresh ``local[nproc]`` session, generate the
inputs from the seed into a fresh directory (perfbench/gen_inputs.py),
and run one pass that also collects every output. A run makes SETUPS
set-ups one after another in one JVM and reports their median time as
``setup_s``; the first also pays for starting the JVM, and the later
ones are the warm-up of the timed passes. ``--trace 0`` then repeats
timed passes in the last set-up's session until ``--seconds`` have
elapsed and reports the median CPU seconds of a pass (``cpu_s``).
``--trace 1`` does the same untraced, then starts one more session with
the Spark event log on, makes one untimed pass and repeats traced
passes for ``--seconds``; it prints the per-layer metrics parsed from
the log, the tracing overhead (traced minus untraced ``wall_s``) and
writes the spans to ``.perfbench/spans-<workload>-<seed>.json``.

After the timed region, the outputs of the last set-up are hash-matched
against the DuckDB oracles, and each session's stream store must hold
every document of the shards it drained.

Human-readable lines go to stdout first; the last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes (inputs, warehouses, checkpoints, Spark local
dirs, temp files) lives under ``.perfbench/`` in the checkout and the
per-run part is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

from eventlog import STREAM

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC_PATH = os.path.join(HERE, "workloads.json")
# Set-ups per run. Besides giving setup_s a median, the later set-ups
# warm the JVM: on the first two passes after a cold one, wall and CPU
# time are still 10-50% above those of later passes.
SETUPS = 3


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) of this
    process plus ``root_pid`` and its descendants: the driver, the
    Spark JVM and its Python workers. Steal time is not charged to a
    process, so neighbours that take the host's CPUs away move this
    less than they move wall time."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        stats[int(entry)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children: dict = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    own = os.times()
    return total / tick + own.user + own.system


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class Run:
    """One benchmark process: directories, inputs, sessions, steps."""

    def __init__(self, root: str, workload: str, seed: int, spec: dict):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.queries = spec["queries"]
        self.stream = spec["stream"]
        self.base = os.path.join(root, ".perfbench")
        self.dir = os.path.join(self.base, f"run-{workload}-{seed}-{os.getpid()}")
        self.eventlog = os.path.join(self.dir, "eventlog")
        self.tmp = os.path.join(self.dir, "tmp")
        local = os.path.join(self.dir, "local")
        for d in (self.eventlog, self.tmp, local):
            os.makedirs(d, exist_ok=True)
        # Isolation: every file Spark, the JVM and Python workers write
        # lands under this run's directory; the package is importable
        # by the Python workers; the engine's AQE overrides stay unset
        # so the session defaults are what is measured.
        os.environ["TMPDIR"] = self.tmp
        # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_AQE_")]:
            del os.environ[k]
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = None
        self.sessions = 0
        self.inputs: dict = {}
        self.errors: list[str] = []
        self.store_checks: list[tuple] = []

    # -- session --------------------------------------------------------
    def start_session(self, traced: bool) -> None:
        """A fresh SparkSession with its own warehouse (the catalog is
        in-memory, so stores do not outlive their session), its own
        stream (store name, checkpoint, watched shard directory) and
        its own copy of the seeded inputs (the engine memoises scans
        by path)."""
        from gen_inputs import generate
        from polars_text_spark.session import get_spark

        self.sessions += 1
        sdir = os.path.join(self.dir, f"session{self.sessions}")
        self.input_dir = os.path.join(sdir, "input")
        self.warehouse = os.path.join(sdir, "warehouse")
        self.stream_name = f"pbstream{self.sessions}"
        self.checkpoint = os.path.join(sdir, "checkpoint")
        self.shard_dir = os.path.join(sdir, "shards")
        self.shards = 0
        self.shard_bytes = 0  # the last landed shard's
        self.drained_bytes = 0  # every landed shard's
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.warehouse,
        }
        if traced:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.eventlog,
                    # Spark 4 writes zstd by default; the stdlib cannot read it
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.inputs = generate(self.input_dir, self.seed)

    def stop_session(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None

    def shutdown_jvm(self) -> None:
        """End the gateway JVM (it exits when its stdin closes) and wait
        for it; its Python worker daemon ends with the SparkContext."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    # -- steps ----------------------------------------------------------
    def steps(self):
        """(name, build, run) triples; ``run(obj, collect)`` returns the
        collected rows when ``collect`` is true."""
        import __spark_entry__

        registry = __spark_entry__.queries()
        out = []
        for name in self.queries:
            fn = registry[name]

            def build(fn=fn):
                return fn(self.spark, self.input_dir)

            def run(df, collect):
                if collect:
                    return df.collect()
                df.write.format("noop").mode("overwrite").save()
                return None

            out.append((name, build, run))
        if self.stream:
            out.append((STREAM, self._stream_drain, lambda _query, _collect: None))
        return out

    def _land_shard(self) -> None:
        from gen_inputs import write_shard

        self.shard_bytes = write_shard(
            self.shard_dir, self.seed, self.shards, self.inputs["n_docs"]
        )
        self.drained_bytes += self.shard_bytes
        self.shards += 1

    def _stream_drain(self):
        """Start the stream on the session's checkpoint and wait until it
        has drained the newly landed shard: the micro-batch is a
        driver-side store write, so the whole drain is the step's
        build; its run is empty. Returns the query."""
        from polars_text_spark.streaming.ingest import stream_into_minhash_store

        docs = (
            self.spark.readStream.schema("doc_id BIGINT, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.shard_dir)
        )
        query = stream_into_minhash_store(
            docs, self.stream_name, checkpoint_dir=self.checkpoint, available_now=True
        )
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        return query

    def check_store(self) -> None:
        """Untimed: the session's store must hold every drained document
        once. Records (session, rows, distinct ids, expected)."""
        if not self.stream or self.shards == 0:
            return
        from gen_inputs import PARAMS
        from polars_text_spark.operators.dedup_store import _phys

        ids = self.spark.table(_phys(self.spark, self.stream_name, "shingles")).select("id")
        expected = self.shards * PARAMS["stream_docs_per_shard"]
        self.store_checks.append((self.sessions, ids.count(), ids.distinct().count(), expected))

    # -- passes ---------------------------------------------------------
    def one_pass(self, tag: str, *, collect: bool = False):
        """Run every step once. Returns per-step timings and, when
        collecting, each step's rows (or the exception text)."""
        from polars_text_spark.persist import release_tracked

        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        timings, outputs, failed, jobs = {}, {}, 0, 0
        progress, spans = [], []
        if self.stream:
            # untimed. A session's first drain takes two shards: one
            # bootstraps the store and one is appended, so the append
            # path has run before any timed pass (its first run is
            # ~30% slower in CPU time).
            for _ in range(1 if self.shards else 2):
                self._land_shard()
        jvm = sc._gateway.proc.pid
        cpu0 = _tree_cpu_s(jvm)
        for name, build, run in self.steps():
            groups = [f"{tag}|{name}|build", f"{tag}|{name}|run"]
            try:
                t0, e0 = time.perf_counter(), time.time()
                sc.setJobGroup(groups[0], groups[0])
                obj = build()
                t1, e1 = time.perf_counter(), time.time()
                sc.setJobGroup(groups[1], groups[1])
                rows = run(obj, collect)
                t2, e2 = time.perf_counter(), time.time()
                timings[name] = (t1 - t0, t2 - t1)
                spans.append((name, e0, e1, e2))
                if name == STREAM:
                    progress = [p for p in obj.recentProgress if p["numInputRows"] > 0]
                elif collect:
                    outputs[name] = rows
            except Exception as exc:  # noqa: BLE001 - one failing step must not end the run
                failed += 1
                self.errors.append(f"{tag} {name}: {type(exc).__name__}: {exc}"[:400])
                if collect:
                    outputs[name] = exc
            finally:
                sc.setJobGroup("perfbench-idle", "perfbench-idle")
                release_tracked()
            jobs += sum(len(tracker.getJobIdsForGroup(g)) for g in groups)
        cpu_s = _tree_cpu_s(jvm) - cpu0
        if progress:
            # micro-batch jobs run under the stream's own job group
            jobs += len(tracker.getJobIdsForGroup(progress[0]["runId"]))
        return {
            "cpu_s": cpu_s,
            "tag": tag,
            "attempted": len(timings) + failed + max(0, len(progress) - 1),
            "timings": timings,
            "outputs": outputs,
            "failed": failed,
            "jobs": jobs,
            "spans": spans,
            "progress": progress,
            "input_bytes": self.inputs["input_bytes"] + (self.shard_bytes if self.stream else 0),
        }

    def measure(self, seconds: float, prefix: str):
        passes = []
        start = time.perf_counter()
        while not passes or time.perf_counter() - start < seconds:
            passes.append(self.one_pass(f"{prefix}{len(passes)}"))
        return passes


def wall_s(passes) -> float:
    """One warm pass: the sum over steps of each step's median
    (build + run) across the timed passes."""
    names = dict.fromkeys(n for p in passes for n in p["timings"])
    return sum(
        _median([sum(p["timings"][n]) for p in passes if n in p["timings"]])
        for n in names
    )


def pass_totals(passes) -> list[float]:
    return [sum(map(sum, p["timings"].values())) for p in passes]


def attempted_failed(passes):
    """Query calls and stream micro-batches attempted, and those that
    raised, over the timed passes."""
    return sum(p["attempted"] for p in passes), sum(p["failed"] for p in passes)


# -- correctness -----------------------------------------------------------
def check_outputs(run: Run, outputs: dict, input_dir: str) -> tuple[int, list[str]]:
    """Hash-match every oracle-backed output against its DuckDB oracle;
    rows-only outputs must be non-empty; every stream store must hold
    each drained document once. Returns (mismatches, report)."""
    import duckdb

    import __spark_entry__

    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracles", os.path.join(run.root, "scripts", "check_oracles.py")
    )
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    sys.path[:] = saved
    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{input_dir}/documents.parquet'")
    mismatches, report = 0, []
    for name, rows in outputs.items():
        if isinstance(rows, Exception):
            mismatches += 1
            report.append(f"{name}: FAILED {type(rows).__name__}")
            continue
        if name not in oracles:
            ok = len(rows) > 0
            mismatches += not ok
            report.append(f"{name}: unchecked (rows-only), {len(rows)} rows")
            continue
        res = con.execute(oracles[name])
        duck_cols = [d[0] for d in res.description]
        spark_cols = list(rows[0].__fields__) if rows else duck_cols
        a = co._normalize([tuple(r) for r in rows], spark_cols)
        b = co._normalize(res.fetchall(), duck_cols)
        ok = sorted(spark_cols) == sorted(duck_cols) and a == b
        mismatches += not ok
        report.append(f"{name}: {'OK' if ok else 'MISMATCH'} ({len(a)} rows)")
    con.close()
    for session, count, distinct, expected in run.store_checks:
        ok = count == distinct == expected
        mismatches += not ok
        report.append(
            f"{STREAM} session {session}: {'OK' if ok else 'MISMATCH'} "
            f"store rows {count}, distinct ids {distinct}, drained {expected}"
        )
    if run.stream and not run.store_checks:
        mismatches += 1
        report.append(f"{STREAM}: no store was checked")
    return mismatches, report


# -- one run -----------------------------------------------------------------
def setups(run: Run):
    """SETUPS set-ups, each in a fresh session: session start + input
    generation + a pass that collects the outputs. Returns their times
    and the last set-up's pass; its session stays open."""
    times = []
    for i in range(SETUPS):
        if i:
            run.check_store()
            run.stop_session()
        t0 = time.perf_counter()
        run.start_session(traced=False)
        first = run.one_pass(f"setup{i}", collect=True)
        times.append(time.perf_counter() - t0)
    first["input_dir"] = run.input_dir
    print(f"set-ups {[round(t, 2) for t in times]} s")
    return times, first


def verdict(run: Run, first: dict, passes: list) -> dict:
    """Check the collected outputs and the stores, count failures;
    print the human-readable summary; return the result without
    metrics."""
    t0 = time.perf_counter()
    mismatches, lines = check_outputs(run, first["outputs"], first["input_dir"])
    print(f"oracle check took {time.perf_counter() - t0:.1f} s")
    attempted, failed = attempted_failed(passes)
    for line in lines:
        print("oracle", line)
    inp = run.inputs
    print(
        f"inputs seed={run.seed} near_dup_share={inp['near_dup_share']:.4f} "
        f"copies={inp['copies']} block_pairs={inp['block_pairs']} "
        f"block_dup_pairs={inp['block_dup_pairs']}"
    )
    print(
        f"summary workload={run.workload} passes={len(passes)} "
        f"jobs_per_pass={[p['jobs'] for p in passes]} "
        f"pass_s={[round(t, 2) for t in pass_totals(passes)]} "
        f"cpu_s={[round(p['cpu_s'], 2) for p in passes]} "
        f"error_rate={failed / attempted:.4f} oracle_mismatches={mismatches}"
    )
    return {
        "correct": mismatches == 0 and failed == 0 and not run.errors,
        "attempted": attempted,
        "failed": failed,
    }


def end_to_end(run: Run, seconds: float) -> dict:
    times, first = setups(run)
    t0 = time.perf_counter()
    passes = run.measure(seconds, "pass")
    t1 = time.perf_counter()
    run.check_store()
    run.stop_session()
    result = verdict(run, first, passes)
    print(f"phases set-ups {sum(times):.1f} s, timed {t1 - t0:.1f} s, checks {time.perf_counter() - t1:.1f} s")
    for name in passes[0]["timings"]:
        b = _median([p["timings"][name][0] for p in passes if name in p["timings"]])
        r = _median([p["timings"][name][1] for p in passes if name in p["timings"]])
        fb, fr = first["timings"].get(name, (0.0, 0.0))
        print(
            f"step {name:<28} build_s {b:8.3f} run_s {r:8.3f} "
            f"(set-up pass build_s {fb:8.3f} run_s {fr:8.3f})"
        )
    print(f"wall_s {wall_s(passes):.3f} (per-layer metric, see BENCHMARK.json)")
    result["metrics"] = {
        "cpu_s": (_median([p["cpu_s"] for p in passes]), "s"),
        "setup_s": (_median(times), "s"),
        "spark_jobs": (_median([p["jobs"] for p in passes]), "count"),
    }
    return result


def per_layer(run: Run, seconds: float) -> dict:
    """The set-ups and untraced passes of ``end_to_end``, then a traced
    session warmed like the last set-up's (one untimed pass), timed for
    ``seconds``; the per-layer metrics come from its event log."""
    from eventlog import layer_metrics, write_spans

    _, first = setups(run)
    untraced = run.measure(seconds, "pass")
    run.check_store()
    run.stop_session()
    run.start_session(traced=True)
    run.one_pass("tracewarm")
    passes = run.measure(seconds, "trace")
    run.check_store()
    peak = run.jvm_peak_rss_mb()
    store = _dir_bytes(run.warehouse)
    drained = run.drained_bytes
    run.stop_session()
    result = verdict(run, first, untraced + passes)
    metrics, spans, per_step = layer_metrics(run.eventlog, passes, run.cores)
    trig = [p["durationMs"]["triggerExecution"] / 1e3 for q in passes for p in q["progress"]]
    overhead = wall_s(passes) - wall_s(untraced)
    metrics.update(
        {
            "wall_s": (wall_s(untraced), "s"),
            "trace_overhead_s": (overhead, "s"),
            "peak_rss_mb": (peak, "MB"),
            "store_bytes": (store, "B"),
            "store_bytes_per_input_byte": (store / drained if drained else 0.0, "ratio"),
            "scan_amplification": (
                metrics["input_bytes"][0] / _median([p["input_bytes"] for p in passes]),
                "ratio",
            ),
            "trigger_s.p50": (_median(trig), "s"),
            "trigger_s.max": (max(trig, default=0.0), "s"),
            "stream_batches": (_median([len(p["progress"]) for p in passes]), "count"),
        }
    )
    for name, (b, r, jobs, stages) in per_step.items():
        print(f"step {name:<28} build_s {b:8.3f} run_s {r:8.3f} jobs {jobs:4d} stages {stages:4d}")
    for q in passes:
        for p in q["progress"]:
            print(f"stream {q['tag']} batch {p['batchId']} durationMs {p['durationMs']}")
    # a difference of medians means something only when every pass of
    # one side is slower than every pass of the other
    u, t = pass_totals(untraced), pass_totals(passes)
    state = "resolved" if max(u) < min(t) or max(t) < min(u) else "unresolved (the sides' passes overlap)"
    print(
        f"trace_overhead_s {overhead:.3f} over {len(u)} untraced and {len(t)} "
        f"traced passes: {state}"
    )
    path = write_spans(run.base, run.workload, run.seed, spans)
    print(f"spans written to {os.path.relpath(path, run.root)}")
    result["metrics"] = metrics
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(SPEC_PATH) as fh:
        spec = json.load(fh)["workloads"]
    if args.workload not in spec:
        print(f"unknown workload {args.workload!r}; one of {sorted(spec)}", file=sys.stderr)
        return 2
    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(root, "polars_text_spark"))
    ):
        print("run from the root of a polars_text_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    run = Run(root, args.workload, args.seed, spec[args.workload])
    try:
        result = (per_layer if args.trace else end_to_end)(run, args.seconds)
    finally:
        run.stop_session()
        run.shutdown_jvm()
        shutil.rmtree(run.dir, ignore_errors=True)
    for err in run.errors:
        print("error", err)
    result["metrics"] = {
        k: {"value": float(v), "unit": u} for k, (v, u) in result["metrics"].items()
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
