#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark from
source with sbt on first use (outputs under the sbt `target/` dirs and
`.bench_build/`), runs one workload in one JVM, records host contention
around it, and prints as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. A traced run also writes its spans
to .bench_build/perfbench/traces/<workload>-<seed>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
# a run must end within 180 s, the first in a checkout (it builds) in 900 s
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
BUILD_LIMIT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH_DIR, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(BENCH_DIR, "project"),
              os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src", "main")):
        for base, dirs, files in os.walk(d):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(base, f) for f in sorted(files)]
    for p in inputs:
        if not os.path.isfile(p):
            fail(f"missing build input {os.path.relpath(p, ROOT)}")
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath(stamp):
    """Compile with sbt when the sources changed; return the runtime classpath."""
    cp_file = os.path.join(OUT, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt not found")
    os.makedirs(OUT, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    # resolve offline only, from the local caches, unless the caller says otherwise
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    try:
        p = subprocess.run(cmd, cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True,
                           timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    steal = v[7] if len(v) > 7 else 0
    idle = v[3] + v[4]
    return {"busy": sum(v[:8]) - idle - steal, "idle": idle, "steal": steal}


def load_avg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def host_record(before, after, load_before):
    """Contention beside the run: information only, never used to drop a run."""
    d = {k: after[k] - before[k] for k in before}
    total = max(1, sum(d.values()))
    return {"busy_share": d["busy"] / total, "steal_share": d["steal"] / total,
            "loadavg_before": load_before, "loadavg_after": load_avg(),
            "cpus": os.cpu_count()}


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"], [w["name"] for w in b["workloads"]]


class Stopped(Exception):
    pass


def on_signal(signum, frame):
    raise Stopped(f"signal {signum}")


def jvm(cp, work, main_args, timeout):
    """Runs perfbench.Main in its own JVM; kills and reaps it on timeout or
    on a stop signal. Returns (exit code, stdout, stderr)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-cp", cp]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Dfile.encoding=UTF-8", "-Dstdout.encoding=UTF-8", "-Dspark.ui.enabled=false",
              "perfbench.Main"] + main_args)
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8")
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         stdin=subprocess.DEVNULL, text=True)
    try:
        out, err = p.communicate(timeout=max(10, timeout))
    except (subprocess.TimeoutExpired, Stopped):
        p.kill()
        p.communicate()
        raise
    return p.returncode, out, err


def base_dir(cp, stamp, deadline):
    """The base corpus and index, built once per source tree."""
    base = os.path.join(OUT, f"base-{stamp[:16]}")
    if os.path.exists(os.path.join(base, "base.properties")):
        return base
    for d in os.listdir(OUT):
        if d.startswith("base-"):
            shutil.rmtree(os.path.join(OUT, d), ignore_errors=True)
    os.makedirs(base)
    rc, out, err = jvm(cp, base, ["--prepare", base], deadline - time.monotonic())
    if rc != 0 or not os.path.exists(os.path.join(base, "base.properties")):
        sys.stderr.write("\n".join(err.splitlines()[-30:]) + "\n")
        shutil.rmtree(base, ignore_errors=True)
        fail("building the base index failed")
    return base


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    e2e, per_layer, names = declared_metrics()
    if a.workload not in names:
        fail(f"unknown workload {a.workload}")
    stamp = source_stamp()
    cp = classpath(stamp)
    first_run = not os.path.isdir(OUT) or not any(
        d.startswith("base-") for d in os.listdir(OUT))
    # the first run in a checkout builds; later runs must end in 180 s
    deadline = t_start + (FIRST_RUN_LIMIT_S if first_run else RUN_LIMIT_S)
    base = base_dir(cp, stamp, deadline)

    work = os.path.join(OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    traces = os.path.join(OUT, "traces")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(traces, exist_ok=True)
    before, load_before = cpu_times(), load_avg()
    t_jvm = time.monotonic()
    try:
        rc, out, err = jvm(cp, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--base", base, "--workdir", work,
            "--trace-out", os.path.join(traces, f"{a.workload}-{a.seed}.json")],
            deadline - time.monotonic())
    except subprocess.TimeoutExpired:
        fail("workload timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    jvm_s = time.monotonic() - t_jvm
    host = host_record(before, cpu_times(), load_before)
    results = [l for l in out.splitlines() if l.startswith("RESULT ")]
    if rc != 0 or not results:
        sys.stderr.write("\n".join(err.splitlines()[-30:]) + "\n")
        fail(f"workload exited with {rc} and no result")
    r = json.loads(results[-1][len("RESULT "):])

    if a.trace:
        metrics = {}
        for m in per_layer:
            # a layer the workload does not call reads 0
            v = r["per_layer"].get(m["name"], 0.0)
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    else:
        missing = [m["name"] for m in e2e if r["end_to_end"].get(m["name"]) is None]
        if missing and r["failed"] == 0:
            fail(f"end-to-end metrics missing: {missing}")
        metrics = {m["name"]: {"value": r["end_to_end"].get(m["name"]), "unit": m["unit"]}
                   for m in e2e}
    detail = {"workload": a.workload, "seed": a.seed, "cores": r["cores"], "host": host,
              "failures": r["failures"], "end_to_end": r["end_to_end"], "jvm_s": jvm_s,
              "steps_s": {k: v for k, v in r["per_layer"].items() if k.startswith(("phase.", "cpu."))}}
    if a.trace:
        detail["trace_summary"] = r["trace_summary"]
    print("DETAIL " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
