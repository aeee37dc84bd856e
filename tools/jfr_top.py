#!/usr/bin/env python3
"""Where does the CPU go under one frame of a JFR recording?

    python3 tools/jfr_top.py <recording.jfr> --frame SearchEngine.topK [--top 20]

Runs `jfr print --events jdk.ExecutionSample --stack-depth 64` on the
recording and keeps the samples whose stack contains a frame whose
`Class.method` includes the `--frame` text. It prints two tables:

- self frames: the top-of-stack method of each kept sample;
- callee @ caller line: for each kept sample, the frame the chosen frame
  was executing (the one it called, or "(self)"), keyed by the chosen
  frame's source line. This is what splits a method's cost by its call
  sites, e.g. planning a Dataset vs running the kernel.

Only the Python standard library and the JDK's `jfr` tool are used. A
recording comes from any JVM started with
`JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=out.jfr,settings=profile`.
"""
import argparse
import collections
import re
import shutil
import subprocess
import sys

FRAME_RE = re.compile(r"^\s+(?P<method>[^\s(]+)\((?P<args>[^)]*)\)\s+line:\s*(?P<line>-?\d+)")


def samples(jfr_bin, path):
    """Yield each execution sample's stack, innermost frame first, as
    (method, line) pairs."""
    out = subprocess.run(
        [jfr_bin, "print", "--events", "jdk.ExecutionSample", "--stack-depth", "64", path],
        check=True, capture_output=True, text=True).stdout
    stack = None
    for line in out.splitlines():
        if line.strip().startswith("stackTrace = ["):
            stack = []
        elif stack is not None:
            m = FRAME_RE.match(line)
            if m:
                stack.append((m.group("method"), int(m.group("line"))))
            elif line.strip() == "]":
                yield stack
                stack = None


def short(method):
    """`pkg.Class.method` -> `Class.method`."""
    parts = method.split(".")
    return ".".join(parts[-2:]) if len(parts) >= 2 else method


def table(title, counts, total, top):
    print(f"\n{title}")
    print(f"{'samples':>8} {'share':>7}  frame")
    for key, n in counts.most_common(top):
        print(f"{n:>8} {100.0 * n / total:>6.1f}%  {key}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--frame", required=True,
                    help="text to find in a frame's Class.method, e.g. SearchEngine.topK")
    ap.add_argument("--top", type=int, default=20, help="rows per table")
    ap.add_argument("--jfr", default=shutil.which("jfr") or "jfr", help="path to the jfr tool")
    args = ap.parse_args()

    all_samples = 0
    kept = 0
    self_frames = collections.Counter()
    callees = collections.Counter()
    for stack in samples(args.jfr, args.recording):
        all_samples += 1
        # outermost occurrence, so a recursive frame is charged once
        hit = max((i for i, (m, _) in enumerate(stack) if args.frame in short(m)), default=None)
        if hit is None:
            continue
        kept += 1
        self_frames[short(stack[0][0])] += 1
        method, line = stack[hit]
        callee = "(self)" if hit == 0 else short(stack[hit - 1][0])
        callees[f"{callee} @ {short(method)}:{line}"] += 1

    print(f"{kept} of {all_samples} execution samples contain '{args.frame}'")
    if kept == 0:
        return 1
    table("self frames", self_frames, kept, args.top)
    table(f"callee @ caller line under '{args.frame}'", callees, kept, args.top)
    return 0


if __name__ == "__main__":
    sys.exit(main())
