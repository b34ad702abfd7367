#!/bin/bash
# Battery: N instrumented `graft.Bench` passes at one scale on the current
# checkout, their per-key median sidecar, then (optionally) ONE paired
# control pass of an older commit on the same host in the same hour — the
# tenancy instrument every wall-clock claim needs.
#
# Usage: tools/run_battery.sh <scale> [passes] [control-ref]
#   scale        sf0.1 | sf1 | sf5 | sf10 (data and heap envelope per scale below)
#   passes       current-code passes, default 3
#   control-ref  any git ref; exported with `git archive` (never a
#                worktree) into $OUT/control-<sha> and run there
#
# Data: sf0.1 is graft.Bench's own default data directory (TESTDATA.md);
# sf1/sf5/sf10 are data/<scale> as tools/gen_sf.py writes them.
#
# Environment:
#   SF_DIR    data directory of the scale, overriding the default above
#   OUT       output directory for probe sidecars and logs
#             (default: /tmp/graft-battery)
#
# Outputs, per scale tag T (the scale without its dot):
#   $OUT/probe_T_p<i>.json       one sidecar per pass
#   $OUT/probe_T_median.json     per-key median of the passes
#   $OUT/probe_T_ctl-<sha>.json  the control pass
#
# pipefail: without it a crashed pass exits 0 through `| tail -1` and the
# battery would median a stale sidecar. Stale sidecars of an earlier run
# are removed up front for the same reason. The median is written BEFORE
# the control leg, so a failed control pass keeps the current passes.
set -eo pipefail
cd "$(dirname "$0")/.."
SCALE="$1"
PASSES="${2:-3}"
CONTROL="${3:-}"
# DIR empty = graft.Bench's default
case "$SCALE" in
  sf0.1) DIR=""; MEM=89g ;;
  sf1)   DIR=data/sf1; MEM=8g ;;
  sf5)   DIR=data/sf5; MEM=8g ;;
  sf10)  DIR=data/sf10; MEM=12g ;;
  *) echo "usage: $0 <sf0.1|sf1|sf5|sf10> [passes] [control-ref]" >&2; exit 2 ;;
esac
DIR="${SF_DIR:-$DIR}"
if [ -n "$DIR" ]; then
  [ -d "$DIR" ] || { echo "no data directory $DIR (set SF_DIR)" >&2; exit 2; }
  # absolute: the control pass runs in another checkout
  DIR="$(realpath "$DIR")"
fi
OUT="$(mkdir -p "${OUT:-/tmp/graft-battery}" && realpath "${OUT:-/tmp/graft-battery}")"
TAG=$(echo "$SCALE" | tr -d .)
rm -f "$OUT"/probe_"${TAG}"_*.json

# one instrumented pass in the checkout at $1, sidecar to $2, log to $3
pass() {
  (cd "$1" && env SPARK_DRIVER_MEM="$MEM" ${DIR:+SPARK_GRAFT_SF_DIR="$DIR"} \
    SPARK_GRAFT_PROBE_OUT="$2" sbt -batch "runMain graft.Bench" 2>"$3" | tail -1)
}

FILES=()
for P in $(seq 1 "$PASSES"); do
  echo "=== $SCALE pass $P/$PASSES ($(date -u +%H:%M:%S)) ==="
  pass . "$OUT/probe_${TAG}_p${P}.json" "$OUT/bench_${TAG}_p${P}.err"
  FILES+=("$OUT/probe_${TAG}_p${P}.json")
done
python3 tools/median_probe.py "$OUT/probe_${TAG}_median.json" "${FILES[@]}"

if [ -n "$CONTROL" ]; then
  SHA=$(git rev-parse --short "$CONTROL^{commit}")
  CTL="$OUT/control-$SHA"
  if [ ! -d "$CTL" ]; then
    mkdir -p "$CTL"
    git archive "$SHA" | tar -x -C "$CTL"
  fi
  echo "=== $SCALE control pass at $SHA ($(date -u +%H:%M:%S)) ==="
  pass "$CTL" "$OUT/probe_${TAG}_ctl-${SHA}.json" "$OUT/bench_${TAG}_ctl-${SHA}.err"
fi
echo "=== $SCALE done ($(date -u +%H:%M:%S)) ==="
