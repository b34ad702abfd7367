#!/usr/bin/env bash
# Counts the operating-system processes one perfbench run starts, grouped by
# command and calling frame.
#
# Usage (from the root of a checkout):
#   tools/fork_census.sh [workload] [seed] [seconds] [groups]
#     workload  stream | batch | adhoc   (default stream)
#     seed      input seed               (default 7)
#     seconds   run length               (default 15)
#     groups    groups to print          (default 25)
#
# Builds the benchmark first (so the compiler JVM records nothing), then runs
# `perfbench/run.py` with a Java Flight Recording of the benchmark JVM and
# reads its jdk.ProcessStart events. Each group is one command name, the
# frame that started the process (the first frame outside java.* and
# org.apache.hadoop.util.*) and the first frame below it outside Hadoop, the
# caller that led there. Prints the run's result line on stderr. Writes
# nothing under perfbench/; the recording lives in a temporary directory.
set -euo pipefail
workload=${1:-stream}
seed=${2:-7}
seconds=${3:-15}
groups=${4:-25}

work=$(mktemp -d)
trap 'rm -rf "$work"' EXIT
python3 perfbench/build.py >&2
JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=$work/run.jfr,settings=default" \
  python3 perfbench/run.py --workload "$workload" --seed "$seed" --seconds "$seconds" \
  >"$work/result.json"
echo "result: $(cat "$work/result.json")" >&2
jfr print --json --stack-depth 64 --events jdk.ProcessStart "$work/run.jfr" >"$work/starts.json"

python3 - "$work/starts.json" "$groups" "$workload" <<'EOF'
import collections, json, sys

events = json.load(open(sys.argv[1]))["recording"]["events"]
limit, workload = int(sys.argv[2]), sys.argv[3]


def frames(event):
    for f in (event["values"].get("stackTrace") or {}).get("frames", []):
        m = f["method"]
        yield m["type"]["name"].replace("/", ".") + "." + m["name"]


def first(names, start, skip):
    """Index of the first frame from `start` on outside the `skip` packages."""
    return next((i for i in range(start, len(names)) if not names[i].startswith(skip)),
                len(names))


counts = collections.Counter()
for e in events:
    names = list(frames(e)) + ["?"]
    command = e["values"]["command"].split()[0].rsplit("/", 1)[-1]
    s = first(names, 0, ("java.", "jdk.", "org.apache.hadoop.util."))
    c = first(names, s + 1, ("java.", "jdk.", "sun.", "org.apache.hadoop."))
    counts[(command, names[s], names[min(c, len(names) - 1)])] += 1

print(f"{workload}: {len(events)} process starts")
print(f"{'count':>6}  {'command':<10} {'started by':<58} caller")
for (command, spawner, caller), n in counts.most_common(limit):
    print(f"{n:>6}  {command:<10} {spawner:<58} {caller}")
rest = sum(counts.values()) - sum(n for _, n in counts.most_common(limit))
if rest:
    print(f"{rest:>6}  (in {len(counts) - limit} more groups)")
EOF
