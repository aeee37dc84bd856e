#!/usr/bin/env python3
"""Which Spark jobs did a run launch, from where, and what did they cost?

    python3 tools/eventlog_jobs.py <event log>... [--op cycle.3] [--no-jobs]

Reads a Spark event log: a plain JSON-lines file, a `.zstd` one, which
is decompressed through the `zstd` command when it is on the PATH, or a
rolling log's directory (`eventlog_v2_<app>`, Spark's default), whose
`events_<n>_<app>` files are read in order. It prints two tables:

- jobs: one row per job, with its SQL execution, the first `graft.`
  frame of that execution's call site (its `details`; for a job outside
  SQL, its first stage's) and, when that frame is in `graft.store`, the
  first frame outside it; its task count, executor CPU ms and executor
  run ms, and the `perfbench.op` local property it ran under;
- totals: the same summed per `perfbench.op` and per entry point (the
  call site's outermost `graft.` method, e.g. `Refresh$.refreshPages`),
  with the number of distinct SQL executions.

Given more than one log (a first benchmark run in a checkout writes two:
the base build's JVM and the workload's), it prints each log's tables
under a `== <path>` header. `--op` keeps only the jobs of ops whose name
contains the text. Only the
Python standard library is used. A benchmark run writes an event log
with no change to the benchmark, since SparkConf reads `spark.*` system
properties:

    mkdir -p /tmp/ev
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/ev" \\
      python3 perfbench/run.py --workload search_churn --seed 7 --seconds 5 --trace 0
    python3 tools/eventlog_jobs.py /tmp/ev/eventlog_v2_local-*
"""
import argparse
import collections
import json
import os
import shutil
import subprocess
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def events(path):
    """Yield the log's events as dicts."""
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        for f in sorted(parts, key=lambda f: int(f.split("_")[1])):
            yield from events(os.path.join(path, f))
        return
    if path.endswith(".zstd"):
        zstd = shutil.which("zstd")
        if zstd is None:
            sys.exit(f"{path}: a .zstd log needs the zstd command on the PATH")
        text = subprocess.run([zstd, "-dc", path], check=True,
                              capture_output=True).stdout.decode("utf-8")
        lines = text.splitlines()
    else:
        with open(path, encoding="utf-8") as f:
            lines = f.read().splitlines()
    for line in lines:
        if line.strip():
            yield json.loads(line)


def graft_frames(details):
    """The `graft.` frames of a call-site stack, innermost first, each
    `Class.method(File:line)`."""
    return [l.strip() for l in (details or "").splitlines() if l.strip().startswith("graft.")]


def frame_of(frames):
    """The first frame, and the first outside `graft.store` when it is there."""
    if not frames:
        return "-"
    outside = [f for f in frames if not f.startswith("graft.store.")]
    if frames[0].startswith("graft.store.") and outside:
        return f"{frames[0]} < {outside[0]}"
    return frames[0]


def entry_of(frames):
    """The outermost frame's method, without its line."""
    return frames[-1].split("(")[0] if frames else "-"


class Job:
    def __init__(self, job_id, props, stage_ids, stage_details):
        self.id = job_id
        self.op = props.get("perfbench.op", "-")
        self.sql = props.get("spark.sql.execution.id")
        self.stage_ids = stage_ids
        self.stage_details = stage_details
        self.tasks = 0
        self.cpu_ms = 0.0
        self.run_ms = 0.0


def read_log(path):
    """(jobs in start order, SQL execution id -> details)."""
    jobs = []
    job_of_stage = {}
    sql_details = {}
    for e in events(path):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            infos = e.get("Stage Infos") or []
            details = infos[0].get("Details", "") if infos else ""
            job = Job(e["Job ID"], e.get("Properties") or {}, e.get("Stage IDs") or [], details)
            jobs.append(job)
            for s in job.stage_ids:
                job_of_stage[s] = job
        elif kind == "SparkListenerTaskEnd":
            job = job_of_stage.get(e.get("Stage ID"))
            metrics = e.get("Task Metrics")
            if job is not None and metrics:
                job.tasks += 1
                job.cpu_ms += metrics.get("Executor CPU Time", 0) / 1e6
                job.run_ms += metrics.get("Executor Run Time", 0)
        elif kind == SQL_START:
            sql_details[str(e.get("executionId"))] = e.get("details", "")
    return jobs, sql_details


def report(path, op, no_jobs):
    """Print the jobs and totals tables of one log."""
    jobs, sql_details = read_log(path)
    jobs = [j for j in jobs if op in j.op]
    if not no_jobs:
        print(f"{'job':>5} {'sql':>5} {'tasks':>5} {'cpu_ms':>8} {'run_ms':>8}  {'op':<12} frame")
    totals = collections.OrderedDict()
    for j in jobs:
        frames = graft_frames(sql_details.get(j.sql) if j.sql is not None else j.stage_details)
        if not no_jobs:
            print(f"{j.id:>5} {j.sql or '-':>5} {j.tasks:>5} {j.cpu_ms:>8.1f} {j.run_ms:>8.0f}  "
                  f"{j.op:<12} {frame_of(frames)}")
        for key in (j.op, f"{j.op} {entry_of(frames)}"):
            t = totals.setdefault(key, {"jobs": 0, "sql": set(), "tasks": 0, "cpu_ms": 0.0, "run_ms": 0.0})
            t["jobs"] += 1
            if j.sql is not None:
                t["sql"].add(j.sql)
            t["tasks"] += j.tasks
            t["cpu_ms"] += j.cpu_ms
            t["run_ms"] += j.run_ms

    print(f"\n{'op [entry]':<56} {'jobs':>5} {'sql':>5} {'tasks':>6} {'cpu_ms':>9} {'run_ms':>9}")
    for key, t in totals.items():
        print(f"{key:<56} {t['jobs']:>5} {len(t['sql']):>5} {t['tasks']:>6} "
              f"{t['cpu_ms']:>9.1f} {t['run_ms']:>9.0f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("logs", nargs="+", metavar="log")
    ap.add_argument("--op", default="", help="keep ops whose name contains this text")
    ap.add_argument("--no-jobs", action="store_true", help="print only the per-op totals")
    args = ap.parse_args()

    for i, path in enumerate(args.logs):
        if len(args.logs) > 1:
            print(f"\n== {path}" if i else f"== {path}")
        report(path, args.op, args.no_jobs)


if __name__ == "__main__":
    main()
