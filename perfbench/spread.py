"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workload near_dup --seeds 1 2 3 4 5

Runs ``perfbench/run.py`` once per seed (``--trace 0``, the
``run_seconds`` of BENCHMARK.json) from the current directory and
prints, per metric, the median and the distance between the first
and third quartile as a share of the median, as
``statistics.quantiles(values, n=4)`` gives them, next to the
metric's bound. Each run's full output is kept in
``.perfbench/spread-<workload>-<seed>.txt``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
        # keep each run's step lines for a later look at slow runs
        with open(os.path.join(".perfbench", f"spread-{args.workload}-{seed}.txt"), "w") as fh:
            fh.write(out)
        result = json.loads(out.strip().splitlines()[-1])
        print(f"seed {seed}: {time.perf_counter() - t0:.1f} s, correct={result['correct']}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:<12} median {med:10.4f}  iqr/median {(q3 - q1) / med:6.3f}  bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
