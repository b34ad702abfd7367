#!/usr/bin/env python3
"""Runs one benchmark workload against graft and prints its result.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload adhoc|stream|batch --seed N \\
      --seconds S --trace 0|1 [--data DIR]

Builds graft and the benchmark if the sources changed (build.py), generates
the seeded inputs if they are not cached yet (gen.py; cached per seed and
generator version under .bench_build/perfbench/data), then runs the
workload in one JVM on local[nproc]. The last line of stdout is one JSON
object: correct, attempted, failed and metrics (end-to-end metrics with
--trace 0, per-layer metrics with --trace 1). A stamped copy of each
result, and with --trace 1 the spans, go to .bench_build/perfbench/results.
--data runs on an existing input directory instead of the seeded cache.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SCALE = 0.01      # table scale: the sf0.1 shape at a tenth of its rows
TIMEOUT_S = 170


def gen_version():
    with open(os.path.join(BENCH, "gen.py")) as f:
        for line in f:
            if line.startswith("GEN_VERSION"):
                return line.split("=")[1].strip()
    raise SystemExit("gen.py has no GEN_VERSION")


def inputs(seed):
    d = os.path.join(OUT, "data", f"v{gen_version()}-seed{seed}-scale{SCALE}")
    if not os.path.isfile(os.path.join(d, "meta.json")):
        subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"), "--seed", str(seed),
                        "--scale", str(SCALE), "--out", d], check=True, stdout=sys.stderr)
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["adhoc", "stream", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--data")
    a = ap.parse_args()

    jar, jars, digest = build.build()
    data = os.path.abspath(a.data) if a.data else inputs(a.seed)
    work = os.path.join(OUT, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.java_cmd(jar, jars, work) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--data", data, "--work", work,
        "--results", os.path.join(OUT, "results"), "--commit", "tree-" + digest[:12]]
    log_path = os.path.join(OUT, "last-run.log")
    result = None
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            stdout = ""
            print(f"run: timed out after {TIMEOUT_S}s", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    lines = stdout.splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"run: no result (exit code {p.returncode}); log in {log_path}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
