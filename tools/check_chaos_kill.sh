#!/bin/bash
# Executor-kill chaos gate (VERDICT r17 #2): 3 consecutive runs, each
# killing one executor JVM mid-query at three kill points — a shuffle
# join (q12), an iterative graph loop (q94, mid-LoopCache-loop), and a
# stateful streaming replay tier (q133, mid-replay) — asserting
# bit-identical results on recovery. Usage: tools/check_chaos_kill.sh [runs] [sfDir]
# Requires a prior `sbt package`.
set -euo pipefail
cd "$(dirname "$0")/.."
RUNS="${1:-3}"
SF="${2:-/root/testdata/sf0.01}"
OUT="${CHAOS_OUT:-CHAOS_KILL.json}"
QUERIES="q12_join_revenue,q94_copurchase_pagerank,q133_funnel_stream_replay"
export SPARK_SCALA_VERSION=2.13
export SPARK_GRAFT_MASTER="${SPARK_GRAFT_MASTER:-local-cluster[2,8,8192]}"
export SPARK_GRAFT_JARS="$(ls target/scala-2.13/*.jar | head -1)"
WORK="$(mktemp -d /tmp/graft_chaos.XXXXXX)"
trap 'rm -rf "$WORK"' EXIT
results=()
for i in $(seq 1 "$RUNS"); do
  echo "=== chaos run $i/$RUNS ==="
  status=0
  tools/run_main.sh graft.tools.ChaosKillProbe "$SF" "$WORK/run$i.json" \
    "$QUERIES" >"$WORK/run$i.log" 2>&1 || status=$?
  grep -E '^\[chaos\]' "$WORK/run$i.log" >&2 || true
  if [ ! -s "$WORK/run$i.json" ]; then
    echo "chaos run $i wrote no result (probe exit $status); its last output:" >&2
    tail -n 40 "$WORK/run$i.log" >&2
    exit 1
  fi
  LINE="$(cat "$WORK/run$i.json")"
  echo "$LINE"
  python3 - "$LINE" <<'EOF'
import json, sys
d = json.loads(sys.argv[1])
for r in d["results"]:
    assert r["identical"], f"divergence: {r}"
    assert r["kill_mid_query"], f"kill never landed mid-query: {r}"
print("  OK:", ", ".join(f"{r['query']} ({r['chaos_sec']}s, "
      f"{r['attempts']} attempt(s))" for r in d["results"]))
EOF
  results+=("$LINE")
done
printf '{"gate":"chaos_kill_suite","runs":%s,"queries":"%s","results":[%s]}\n' \
  "$RUNS" "$QUERIES" "$(IFS=,; echo "${results[*]}")" > "$OUT"
echo "chaos kill gate: $RUNS/$RUNS green -> $OUT"
