"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py --workload refresh --seeds 1-10

Runs ``perfbench/run.py`` once per seed, one run at a time, and prints for
each metric its median, quartiles and (Q3 - Q1) / median, the quartiles as
``statistics.quantiles(values, n=4)`` gives them. ``--seconds`` defaults to
BENCHMARK.json's ``run_seconds``; the bounds there are set from these
spreads. ``--out`` also writes every run's result.
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
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import quartile_spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        run_seconds = str(json.load(fh)["run_seconds"])
    ap.add_argument("--seconds", default=run_seconds)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args()

    runs = []
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", args.seconds,
             "--trace", args.trace],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            timeout=300)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        res["seed"], res["wall_s"] = seed, wall
        runs.append(res)
        summary = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed} wall {wall:.1f}s correct {res['correct']} "
              f"ops {res['attempted']}/{res['failed']} {summary}", flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(runs, fh, indent=1)
    if len(runs) < 2:
        return 0
    print(f"{'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"{name:28s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{quartile_spread(vals):8.3f}")
    walls = [r["wall_s"] for r in runs]
    print(f"{'run wall (s)':28s} {statistics.median(walls):12.1f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
