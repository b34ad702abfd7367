#!/bin/bash
# Zipf/zipf-graph sidecar regeneration: one instrumented Probe pass per
# fixture (scale-SHAPE fixtures, not timing batteries; the key sets mirror
# the committed zipf sidecars). Envelopes mirror the scale counterparts
# (sf1/sf5 at 8g, sf10 at 12g).
#
# q_hits runs in its own Probe JVM at spark.graft.hits.quantum=1e6: on
# the zipf-graph fixtures the default 1e9 quantum's overflow guard refuses
# (SURVEY §6), and the committed sidecars' q_hits rows ran at 1e6. Its row
# is merged into the fixture's sidecar with tools/median_probe.py.
# Usage: tools/run_zipf_probes.sh
set -eo pipefail
cd "$(dirname "$0")/.."

DEDUP_KEYS="dedup_clusters dedup_containment dedup_ngram_jaccard dedup_normalized dedup_substring pipeline_data_card pipeline_dsir text_bpe_encode text_collocations text_tfidf"
DEDUP_KEYS_SF10="dedup_clusters dedup_containment dedup_ngram_jaccard dedup_normalized dedup_substring pipeline_dsir text_tfidf"
GRAPH_KEYS_SF5="q_degree_dist q_label_prop q_link_predict q_pagerank q_seed_distance q_transitivity q_triangles q_triangles_approx"
GRAPH_KEYS_SF10="q_components q_degree_dist q_kcore q_label_prop q_link_predict q_pagerank q_seed_distance q_triangles_approx q_triangles_approx_nodes"
HITS_OPTS="-Dspark.graft.hits.quantum=1000000"

run() { # mem dir out keys...  (SPARK_GRAFT_JAVA_OPTS passes through)
  local MEM="$1" DIR="$2" OUT="$3"; shift 3
  echo "=== $OUT ($(date -u +%H:%M:%S)) ==="
  SPARK_DRIVER_MEM=$MEM SPARK_GRAFT_SF_DIR=$DIR SPARK_GRAFT_PROBE_OUT=$OUT \
    sbt -batch "runMain graft.Probe $*" 2>/dev/null | tail -3
}

graph() { # mem dir out keys... — the keys, then q_hits at quantum 1e6, one sidecar
  local MEM="$1" DIR="$2" OUT="$3"; shift 3
  run "$MEM" "$DIR" "${OUT%.json}_keys.json" "$@"
  SPARK_GRAFT_JAVA_OPTS="$HITS_OPTS" run "$MEM" "$DIR" "${OUT%.json}_hits.json" q_hits
  python3 tools/median_probe.py "$OUT" "${OUT%.json}_keys.json" "${OUT%.json}_hits.json"
}

run   8g  "$PWD"/data/sf1_zipf       /tmp/probe_sf1_zipf.json       $DEDUP_KEYS
run   8g  "$PWD"/data/sf5_zipf       /tmp/probe_sf5_zipf.json       $DEDUP_KEYS
run   12g "$PWD"/data/sf10_zipf      /tmp/probe_sf10_zipf.json      $DEDUP_KEYS_SF10
graph 8g  "$PWD"/data/sf5_zipfgraph  /tmp/probe_sf5_zipfgraph.json  $GRAPH_KEYS_SF5
graph 12g "$PWD"/data/sf10_zipfgraph /tmp/probe_sf10_zipfgraph.json $GRAPH_KEYS_SF10
echo "=== zipf probes done ($(date -u +%H:%M:%S)) ==="
