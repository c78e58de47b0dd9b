#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
      --trace <0|1>

Workloads: batch-llm, stream-live (see perfbench/DESIGN.md). The first
run in a checkout builds the engine and the bench and generates the
fixture (perfbench/build.py); later runs reuse them.

Standard output carries one JSON line per metric and, last, the summary
object {"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer ones (spans are written
to .bench_build/runs/<workload>/spans.jsonl). The exit code is 0 only when
every operation succeeded and every output was correct.
"""
import argparse
import json
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402  (after disabling __pycache__ in the checkout)

WORKLOADS = ["batch-llm", "stream-live"]
# A run must end well inside three minutes, whatever the engine does.
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if a.seconds <= 0:
        ap.error("--seconds must be positive")

    try:
        build.build()
    except (build.BuildError, subprocess.TimeoutExpired, OSError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    work = build.OUT / "runs" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    cmd = [build.java_bin(), *build.jvm_opts(work / "tmp"), "-cp",
           build.classpath(),
           "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--data", str(build.DATA),
           "--goldens", str(build.BENCH / "goldens.json"),
           "--work", str(work)]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                           env=build.child_env(), cwd=build.ROOT,
                           timeout=RUN_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] {a.workload} exceeded {RUN_TIMEOUT_S} s",
              file=sys.stderr)
        return 3

    lines = [l for l in r.stdout.splitlines() if l.strip()]
    summary = None
    for l in lines:
        try:
            obj = json.loads(l)
        except ValueError:
            obj = None
        if isinstance(obj, dict) and set(obj) == {
                "correct", "attempted", "failed", "metrics"}:
            summary = l
        else:
            print(l)
    if summary is None:
        print(f"[perfbench] {a.workload} produced no result "
              f"(exit {r.returncode})", file=sys.stderr)
        return r.returncode or 4
    print(summary, flush=True)
    return r.returncode


if __name__ == "__main__":
    sys.exit(main())
