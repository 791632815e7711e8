#!/usr/bin/env bash
# Round-close pipeline: every artifact the judge reads, regenerated in
# order, failing fast. Usage: tools/roundclose.sh <round-number>
set -euo pipefail
cd "$(dirname "$0")/.."
R=${1:?usage: tools/roundclose.sh <round-number>}

echo "== full test suite"
sbt -batch test 2>/dev/null | grep -E "Total number|succeeded" | tail -2

echo "== correctness @ sf0.01"
rm -rf /tmp/rc_verify && sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/rc_verify" >/tmp/rc_verify.log 2>&1
python3 tools/check.py /root/testdata/sf0.01 /tmp/rc_verify | tail -1

echo "== correctness @ sf0.1 (bench scale)"
rm -rf /tmp/rc_verify01 && sbt -batch "runMain graft.Verify /root/testdata/sf0.1 /tmp/rc_verify01" >/tmp/rc_verify01.log 2>&1
# the artifact is written either way; a failing oracle stops the close
rc=0
python3 tools/check.py /root/testdata/sf0.1 /tmp/rc_verify01 > "CORRECTNESS_SF01_r${R}.txt" || rc=$?
tail -1 "CORRECTNESS_SF01_r${R}.txt"
[ "$rc" -eq 0 ] || { echo "sf0.1 oracle failed (see CORRECTNESS_SF01_r${R}.txt)" >&2; exit 1; }

echo "== recall + drift gate"
sbt -batch "runMain graft.Recall /root/testdata/sf0.01 RECALL_r${R}.json" >/tmp/rc_recall.log 2>&1
PREV=$(printf "RECALL_r%02d.json" $((10#$R - 1)))
[ -f "$PREV" ] || { echo "no $PREV to gate RECALL_r${R}.json against" >&2; exit 1; }
python3 tools/recall_gate.py "$PREV" "RECALL_r${R}.json" | tail -1

echo "== plans"
sbt -batch "runMain graft.Plans" 2>/dev/null | grep '\[plans\]'

echo "== bench @ sf0.1"
# forked run output reaches stdout unprefixed (build.sbt StdoutOutput):
# the bench's JSON lines start with a bare '{"'; no {"metric" line fails
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" \
  2>"bench_out/r${R}_close.err" | grep -E '^\{"' > "bench_out/r${R}_close.json" || true
grep -q '^{"metric"' "bench_out/r${R}_close.json" \
  || { echo "bench printed no {\"metric\" line (see bench_out/r${R}_close.err)" >&2; exit 1; }
grep '^{"metric"' "bench_out/r${R}_close.json" | tail -1 | python3 -c "import json,sys; d=json.load(sys.stdin); print(d['value'],'s /',d['n_queries'],'queries,',d['errors'],'errors')"
echo "round-close artifacts ready: CORRECTNESS_SF01_r${R}.txt RECALL_r${R}.json PLANS.md bench_out/r${R}_close.json"
