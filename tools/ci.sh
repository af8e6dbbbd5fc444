#!/usr/bin/env bash
# Full local gate: compile, tests, oracle correctness, perfbench smoke, bench.
# Usage: tools/ci.sh [sf_dir]   (default /root/testdata/sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=$(mktemp -d /tmp/graft-ci.XXXX)

echo "== one session factory"
# Every session under src/ starts from graft.GraftSession; a second
# hand-built SparkSession.builder chain is how the confs drifted apart.
if grep -rl --include='*.scala' 'SparkSession.builder' src/ | grep -v '/GraftSession\.scala$'; then
  echo "FAIL: SparkSession.builder outside GraftSession.scala (files above)"
  exit 1
fi

echo "== src/main code lines (non-blank, not starting with //, * or /**)"
# print-only: the size figure a simplification is judged by
find src/main -type f -print0 | xargs -0 grep -cvE '^[[:space:]]*($|//|\*|/\*\*)' |
  sort -t: -k2 -rn | awk -F: '{t += $2} NR <= 5 {printf "%7d  %s\n", $2, $1}
    END {printf "%7d  total\n", t}'

echo "== compile + test"
# stale reports from scratch/mid-round runs otherwise linger and make
# the report directory disagree with the recorded run (r10 verdict #3)
rm -rf target/test-reports
# A red suite fails the gate at the end, after the README, oracle, MR
# and bench steps have run and reported.
TESTRC=0
SUMMARY=$(sbt -batch test 2>&1 | grep -E "Tests:|Passed:" | tail -2) || TESTRC=$?
echo "$SUMMARY"
# A canceled test (assume/cancel) reaches the JUnit XMLs with neither a
# failure nor a <skipped/> element, so the XML sum alone would count it
# as passed; take the figure from ScalaTest's summary line instead.
CANCELED=$(echo "$SUMMARY" | sed -nE 's/.*Tests:.*canceled ([0-9]+).*/\1/p' | tail -1)
export CANCELED=${CANCELED:-0}

# Archive the FULL-RUN suite XMLs before any later targeted rerun can
# clobber them (r14 verdict item 2: a post-close `testOnly` overwrote
# one suite's XML with a 1-test partial run, making the recorded
# 569/569 unreproducible from the artifacts — third round of drift).
rm -rf target/test-reports-full
cp -a target/test-reports target/test-reports-full
read -r PASSED TOTAL <<<"$(python3 - <<'EOF'
import glob, os, xml.etree.ElementTree as ET
roots = [ET.parse(f).getroot() for f in glob.glob("target/test-reports-full/*.xml")]
total = sum(int(r.get("tests", 0)) for r in roots)
notpassed = sum(int(r.get(k, 0)) for r in roots for k in ("failures", "errors", "skipped"))
print(total - notpassed - int(os.environ["CANCELED"]), total)
EOF
)"
echo "== suite XMLs: $PASSED of $TOTAL tests passed, $CANCELED canceled (archived in target/test-reports-full)"
# the 10 slowest suites, so a budget overrun shows without a rerun
echo "== slowest suites (s)"
python3 - <<'EOF'
import glob, xml.etree.ElementTree as ET
suites = [ET.parse(f).getroot() for f in glob.glob("target/test-reports-full/*.xml")]
for r in sorted(suites, key=lambda r: -float(r.get("time", 0)))[:10]:
    print(f"{float(r.get('time', 0)):9.1f}  {r.get('name')}")
EOF
# The README's recorded state must equal the artifacts it cites: fail
# the gate when the numbers drift instead of recording them anyway.
# Passed counts every test the XMLs do not mark failed, errored or
# skipped, less the canceled ones, so known failures stay visible in
# the recorded figure.
if ! grep -q "${PASSED}/${TOTAL} tests" README.md; then
  echo "FAIL: README.md does not record ${PASSED}/${TOTAL} tests — update the"
  echo "      recorded-state paragraph from this run before closing the round."
  exit 1
fi

echo "== PLANS.md matches the code"
# DumpPlans writes the same text on every run of the same code, so any
# difference is a plan that moved without PLANS.md being regenerated.
# PLANS.md is generated against the sf0.001 tables next to $SF.
sbt -batch "runMain graft.tools.DumpPlans $(dirname "$SF")/sf0.001 $OUT/PLANS.md" 2>&1 | tail -1
if ! diff PLANS.md "$OUT/PLANS.md"; then
  echo "FAIL: PLANS.md differs from the code's plans (lines above);"
  echo "      regenerate it with sbt \"runMain graft.tools.DumpPlans\""
  exit 1
fi

echo "== oracle-checker selftest (ns-range guard)"
python3 tools/check_oracle.py --selftest

echo "== verify vs DuckDB oracle @ $SF"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
  sbt -batch "runMain graft.Verify $SF $OUT/verify" 2>&1 | tail -1
python3 tools/check_oracle.py "$OUT/verify" "$SF"

# A streaming run's state width is min(4, its session's shuffle width),
# so a one-CPU machine runs every stateful operator on 1 partition: the
# declared stream_* results must not move with it.
echo "== stream_* queries at SPARK_GRAFT_CPUS=1 vs DuckDB oracle @ $SF"
STREAMS=$(grep -oE '"stream_[a-z_]+" *->' src/main/scala/graft/SparkEntry.scala |
  grep -oE 'stream_[a-z_]+' | sort -u | paste -sd, -)
SPARK_GRAFT_CPUS=1 SPARK_GRAFT_ONLY="$STREAMS" \
  sbt -batch "runMain graft.Verify $SF $OUT/verify-streams-1cpu" 2>&1 | tail -1
python3 tools/check_oracle.py "$OUT/verify-streams-1cpu" "$SF"

# The MR goldens are absent, so the perfbench oracles are the
# end-to-end checks of the MR runner (word counts, md5-mod placement,
# byte order, grep) and of the LLM pipeline's queries across passes
# that release and rebuild their shared builds. Every workload that
# BENCHMARK.json names runs once.
WORKLOADS=$(python3 -c 'import json; print(" ".join(w["name"] for w in json.load(open("BENCHMARK.json"))["workloads"]))')
for W in $WORKLOADS; do
  echo "== perfbench correctness smoke ($W)"
  if ! PBLINE=$(python3 perfbench/run.py --workload "$W" --seed 1 --seconds 5 --trace 0 | tail -1); then
    echo "FAIL: perfbench $W exited non-zero"
    exit 1
  fi
  echo "$PBLINE"
  if ! echo "$PBLINE" | python3 -c 'import json, sys; sys.exit(0 if json.load(sys.stdin)["correct"] is True else 1)'; then
    echo "FAIL: perfbench $W reports correct != true"
    exit 1
  fi
done

echo "== bench @ sf0.1 (steady-state; keep the box otherwise idle)"
run_bench() {
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
    sbt -batch "runMain graft.Bench" 2>/dev/null | grep '"metric"' | tail -1
}
LINE=$(run_bench)
echo "$LINE"
# Contended runs are noise, not signal (r14: 20 queries flipped >4x
# while the old run-average detector read quiet) — re-take the numbers
# once; if the box is STILL loud, fail rather than record noise.
if echo "$LINE" | grep -q '"contended":true'; then
  echo "== bench flagged contended — re-running once on a quieter window"
  sleep 30
  LINE=$(run_bench)
  echo "$LINE"
  if echo "$LINE" | grep -q '"contended":true'; then
    echo "FAIL: bench contended on both attempts; numbers untrustworthy."
    exit 1
  fi
fi

if [ "$TESTRC" -ne 0 ]; then
  echo "FAIL: the test suite failed: $((TOTAL - PASSED)) of $TOTAL tests did not pass"
  exit 1
fi

# Refresh the clean-gate baseline from this non-contended full run:
# Bench's r16 cross-check re-measures any query that records >2x its
# entry here (the r15 rec_item_cosine incident — disk-pressure
# inflation invisible to the CPU windows). Committed with the round.
python3 - <<'EOF'
import json
d = json.load(open("BENCH_DETAIL.json"))
with open("BENCH_CLEAN.json", "w") as f:
    json.dump({"sf": d.get("sf"), "queries": d["queries"]}, f, sort_keys=True)
    f.write("\n")
print(f"== BENCH_CLEAN.json refreshed ({len(d['queries'])} queries)")
EOF
