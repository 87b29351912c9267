#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload geo_query --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source if needed (build.py), then
starts one JVM at local[<cores>] that generates the seeded inputs under
.bench_build/perfbench/work, runs the workload in a closed loop, checks every
result and prints the metrics. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 1 it runs
the traced variant and prints the per-layer metrics instead; spans are kept
in .bench_build/perfbench/traces as JSONL.

Extra flag: --selftest runs the benchmark's helper tests and exits.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("geo_query", "tile_table", "analytics_suite")
JVM_TIMEOUT_S = 170


def run_jvm(cmd, log_path):
    """Run the JVM with stderr to a log; returns (code, stdout lines)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             cwd=build.ROOT)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            print(f"perfbench: JVM timed out after {JVM_TIMEOUT_S}s", file=sys.stderr)
            return 124, []
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    try:
        jars = build.build()
    except (build.BuildError, OSError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    logs = os.path.join(build.OUT, "logs")
    os.makedirs(logs, exist_ok=True)
    if a.selftest:
        code, lines = run_jvm(build.java_cmd(jars, "perfbench.SelfTest", []),
                              os.path.join(logs, "selftest.log"))
        print("\n".join(lines))
        return code
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", build.OUT, "--cores", str(len(os.sched_getaffinity(0)))]
    log_path = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    code, lines = run_jvm(build.java_cmd(jars, "perfbench.Main", args), log_path)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if code != 0 or not isinstance(result, dict):
        print("\n".join(lines), file=sys.stderr)
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: run failed (exit {code}); log: {log_path}", file=sys.stderr)
        return code or 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
