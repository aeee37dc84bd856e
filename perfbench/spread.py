#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload search_hot --seeds 1 2 3 4 5 [--trace 0]

Run from the repository root. For every metric it prints the median and
the distance between the first and third quartile (statistics.quantiles,
n=4) as a share of the median, next to a third of the metric's bound from
BENCHMARK.json: a spread below that third is steady. Runs are sequential;
each run's result line is kept in .bench_build/perfbench/spread/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    out = os.path.join(ROOT, ".bench_build", "perfbench", "spread")
    os.makedirs(out, exist_ok=True)

    values = {}
    for seed in a.seeds:
        p = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        with open(os.path.join(out, f"{a.workload}-{seed}-{a.trace}.txt"), "w") as f:
            f.write(p.stdout)
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}, no result")
            continue
        r = json.loads(lines[-1])
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}",
              flush=True)
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])

    print(f"{'metric':44} {'median':>14} {'iqr/median':>11} {'bound/3':>8}")
    for k, xs in values.items():
        med = statistics.median(xs)
        if len(xs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / abs(med)
        else:
            spread = float("nan")
        b = bounds.get(k)
        flag = "" if b is None or k == "setup_s" or spread < b / 3 else "  <-- unsteady"
        third = f"{b / 3:.3f}" if b is not None else "-"
        print(f"{k:44} {med:14.4f} {spread:11.4f} {third:>8}{flag}")


if __name__ == "__main__":
    main()
