#!/usr/bin/env bash
# Compares two checkouts on one perfbench workload in alternating pairs.
#
# Usage:
#   tools/perfbench_pairs.sh PARENT_DIR CHANGE_DIR WORKLOAD PAIRS [SEED]
#     PARENT_DIR  checkout of the older code
#     CHANGE_DIR  checkout of the newer code
#     WORKLOAD    stream | batch | adhoc
#     PAIRS       number of pairs of runs
#     SEED        input seed (default 7)
#
# Builds the benchmark in both checkouts, then runs `perfbench/run.py` in
# each, PAIRS times, for CHANGE_DIR's BENCHMARK.json `run_seconds`; the side
# that runs first alternates from one pair to the next (parent first in the
# first pair). For every end-to-end metric of CHANGE_DIR's BENCHMARK.json it
# prints the parent's and the change's median, the change in percent, the
# parent's quartiles, the number of pairs in which the change is better, and
# whether the medians differ by more than the parent's interquartile range.
# Each run's result line is kept in a temporary directory whose path is
# printed on stderr. Writes nothing in either checkout except what
# `perfbench/run.py` itself writes under `.bench_build/`.
set -euo pipefail
if [ $# -lt 4 ]; then
  sed -n '2,10p' "$0" | sed 's/^# \{0,1\}//' >&2
  exit 2
fi
parent=$(cd "$1" && pwd)
change=$(cd "$2" && pwd)
workload=$3
pairs=$4
seed=${5:-7}
bench="$change/BENCHMARK.json"
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$bench")

out=$(mktemp -d -t perfbench-pairs.XXXXXX)
echo "results: $out" >&2
for side in parent change; do
  dir=${!side}
  (cd "$dir" && python3 perfbench/build.py >&2)
  : >"$out/$side.jsonl"
done

run() { # side pair
  local dir=${!1}
  local line
  line=$(cd "$dir" && python3 perfbench/run.py --workload "$workload" --seed "$seed" \
    --seconds "$seconds" | tail -n 1)
  echo "$line" >>"$out/$1.jsonl"
  echo "pair $2 $1: $line" >&2
}

for ((i = 1; i <= pairs; i++)); do
  if ((i % 2 == 1)); then run parent "$i"; run change "$i"
  else run change "$i"; run parent "$i"; fi
done

python3 - "$bench" "$out/parent.jsonl" "$out/change.jsonl" "$workload" <<'EOF'
import json, statistics, sys

metrics = json.load(open(sys.argv[1]))["end_to_end"]
runs = {side: [json.loads(l) for l in open(p) if l.strip()]
        for side, p in (("parent", sys.argv[2]), ("change", sys.argv[3]))}


def value(run, name):
    m = run.get("metrics", {}).get(name)
    return None if m is None else m["value"]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


for side, rs in runs.items():
    print(f"{side}: {len(rs)} runs, correct {sum(bool(r.get('correct')) for r in rs)}, "
          f"attempted {sum(r.get('attempted', 0) for r in rs)}, "
          f"failed {sum(r.get('failed', 0) for r in rs)}")
print(f"workload {sys.argv[4]}, {min(len(rs) for rs in runs.values())} pairs")
print(f"{'metric':<18} {'parent':>10} {'change':>10} {'delta':>8} "
      f"{'parent q1-q3':>21} {'better':>7}  beyond IQR")
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    pairs = [(value(p, name), value(c, name)) for p, c in zip(runs["parent"], runs["change"])]
    pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
    if not pairs:
        print(f"{name:<18} (missing)")
        continue
    ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
    mp, mc = statistics.median(ps), statistics.median(cs)
    q1, q3 = quartiles(ps)
    wins = sum((c < p) if lower else (c > p) for p, c in pairs)
    delta = (mc - mp) / mp * 100 if mp else float("nan")
    print(f"{name:<18} {mp:>10.4g} {mc:>10.4g} {delta:>+7.1f}% "
          f"{q1:>10.4g}-{q3:<10.4g} {wins:>3}/{len(pairs):<3}  "
          f"{'yes' if abs(mc - mp) > q3 - q1 else 'no'}")
EOF
