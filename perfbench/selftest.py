#!/usr/bin/env python3
"""Self-test of the benchmark on a tiny input (about 3 minutes per workload).

Usage: python3 perfbench/selftest.py [workload ...]   (default: all three)

For each workload it runs run.py untraced and traced and asserts that the
run is correct with no failed operation, and that it emits exactly the
end-to-end metrics (untraced) or the per-layer metrics (traced) that
BENCHMARK.json names, each with its unit. It then corrupts one expected
answer of the generator and asserts that the run reports the failure:
one count of the stream's final sink state, and the ad-hoc reference
count(*). Batch keys have no generator answers; their digests are checked
across passes inside each run.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench", "selftest")
SECONDS = "3"


def run(workload, data, trace, seed=7):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", SECONDS, "--trace", trace,
                        "--data", data], capture_output=True, text=True, cwd=ROOT)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def corrupt(src, dst, edit):
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    path = os.path.join(dst, "expected.json")
    with open(path) as f:
        expected = json.load(f)
    edit(expected)
    with open(path, "w") as f:
        json.dump(expected, f)
    return dst


def main():
    workloads = sys.argv[1:] or ["adhoc", "stream", "batch"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {"0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    shutil.rmtree(WORK, ignore_errors=True)
    data = os.path.join(WORK, "data")
    subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"), "--seed", "7",
                    "--scale", "0.001", "--out", data], check=True)
    wrong = {
        "stream": lambda e: e["stream"]["live"][0][0].__setitem__(2, e["stream"]["live"][0][0][2] + 1),
        "adhoc": lambda e: e["sql"].__setitem__("count_all", e["sql"]["count_all"] + 1),
    }
    for w in workloads:
        for trace in ("0", "1"):
            r = run(w, data, trace)
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            assert r["correct"] and r["failed"] == 0 and r["attempted"] > 0, (w, trace, r)
            assert got == want[trace], (w, trace, set(got) ^ set(want[trace]),
                                        {k: (got.get(k), u) for k, u in want[trace].items() if got.get(k) != u})
            print(f"ok   {w} trace={trace}: {len(got)} metrics, {r['attempted']} operations")
        if w in wrong:
            bad = corrupt(data, os.path.join(WORK, f"wrong-{w}"), wrong[w])
            r = run(w, bad, "0")
            assert not r["correct"] and r["failed"] >= 1, (w, r)
            print(f"ok   {w}: a wrong expected answer is reported ({r['failed']} failed)")
    print("selftest passed")


if __name__ == "__main__":
    main()
