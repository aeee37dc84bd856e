#!/usr/bin/env python3
"""Make the traced-run artifact: self and job time per layer call.

    python3 perfbench/trace_report.py --seed 1 [--out perfbench/results]

Run from the repository root. For each workload it makes one untraced
and one traced run with the same seed, then writes traced_run.json and
traced_run.md: per call the benchmark made into a layer, the calls, wall,
self and Spark-job time per call and jobs per call, and the tracing
overhead as the traced minus the untraced end-to-end metrics.
"""
import argparse
import datetime
import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    detail = [l for l in p.stdout.splitlines() if l.startswith("DETAIL ")]
    if p.returncode != 0 or not detail:
        sys.exit(f"{workload} trace={trace}: exit {p.returncode}, no result")
    d = json.loads(detail[-1][len("DETAIL "):])
    d["result"] = json.loads(p.stdout.strip().splitlines()[-1])
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(BENCH_DIR, "results"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    report = {"seed": a.seed, "run_seconds": seconds,
              "date": datetime.date.today().isoformat(), "workloads": {}}
    md = [f"# Traced run, seed {a.seed}", "",
          "Made by `python3 perfbench/trace_report.py`. Times are per call, in ms.",
          "Self time is driver time not covered by a Spark job of the call.", ""]
    for w in (x["name"] for x in bench["workloads"]):
        plain, traced = run(w, a.seed, seconds, 0), run(w, a.seed, seconds, 1)
        calls = {}
        for name, s in sorted(traced["trace_summary"].items()):
            n = s["calls"]
            calls[name] = {"calls": int(n), "wall_ms": s["wall_ms"] / n, "self_ms": s["self_ms"] / n,
                           "job_ms": s["job_ms"] / n, "jobs": s["jobs"] / n}
        overhead = {}
        for k, v0 in plain["end_to_end"].items():
            v1 = traced["end_to_end"].get(k)
            if v0 and v1 is not None:
                overhead[k] = {"untraced": v0, "traced": v1, "change": (v1 - v0) / v0}
        report["workloads"][w] = {
            "calls": calls, "tracing_overhead": overhead,
            "host": {"untraced": plain["host"], "traced": traced["host"]},
            "correct": plain["result"]["correct"] and traced["result"]["correct"],
            "per_layer": {k: m["value"] for k, m in traced["result"]["metrics"].items()}}
        md += [f"## {w}", "", "| call | calls | wall | self | job | jobs |", "|---|---:|---:|---:|---:|---:|"]
        for name, c in sorted(calls.items(), key=lambda x: -x[1]["wall_ms"] * x[1]["calls"]):
            md.append(f"| `{name}` | {c['calls']} | {c['wall_ms']:.1f} | {c['self_ms']:.1f} "
                      f"| {c['job_ms']:.1f} | {c['jobs']:.1f} |")
        md += ["", "Tracing overhead (traced vs untraced run, one pair):", "",
               "| metric | untraced | traced | change |", "|---|---:|---:|---:|"]
        for k, o in overhead.items():
            md.append(f"| `{k}` | {o['untraced']:.4g} | {o['traced']:.4g} | {o['change']:+.1%} |")
        md += ["", "Host steal share: untraced {:.1%}, traced {:.1%}.".format(
            plain["host"]["steal_share"], traced["host"]["steal_share"]), ""]
    os.makedirs(a.out, exist_ok=True)
    with open(os.path.join(a.out, "traced_run.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    with open(os.path.join(a.out, "traced_run.md"), "w") as f:
        f.write("\n".join(md))


if __name__ == "__main__":
    main()
