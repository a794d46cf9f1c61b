#!/usr/bin/env bash
# One-command replica of the driver's per-round gates:
#   compile + test, perfbench self-test, correctness dump + DuckDB
#   hash-compare, bench JSON.
# Usage: scripts/round_gate.sh [sf_dir_correctness] [sf_dir_bench]
set -euo pipefail
cd "$(dirname "$0")/.."

SF_CORRECT="${1:-/root/testdata/sf0.01}"
SF_BENCH="${2:-/root/testdata/sf0.1}"
OUT=/tmp/verify_out

echo "== compile + test =="
sbt -batch test | tail -4

echo "== perfbench self-test (tiny sizes: mirror-equals-source + fault injection) =="
# drives the mirror engine the way BENCHMARK.json's runs do, on the same
# scalac-built classes, so a change that breaks the benchmark fails here
python3 perfbench/tests/test_perfbench.py

echo "== correctness dump @ $SF_CORRECT =="
rm -rf "$OUT"
# keep sbt's own exit status AND scan for per-query failure lines — a crashed
# Verify must not sail past just because the failure marker never printed
VERIFY_LOG=$(mktemp)
SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $SF_CORRECT $OUT" 2>&1 \
  | tee "$VERIFY_LOG" | tail -2
if grep -qE "\[verify\].*failed" "$VERIFY_LOG"; then echo "VERIFY FAILURES"; exit 1; fi
grep -q "\[success\]" "$VERIFY_LOG" || { echo "VERIFY DID NOT COMPLETE"; exit 1; }
REGISTRY=$(grep -oE '\[verify\] registry [0-9]+' "$VERIFY_LOG" | grep -oE '[0-9]+' | tail -1)
rm -f "$VERIFY_LOG"

echo "== DuckDB oracle compare =="
python3 scripts/check_oracle.py "$SF_CORRECT" "$OUT"

echo "== scalar fuzz, DuckDB referee (same seeded cases as ScalarFuzzSpec) =="
sbt -batch "runMain graft.tools.FuzzDump /tmp/fuzz_dump.jsonl" | tail -1
python3 scripts/check_fuzz.py /tmp/fuzz_dump.jsonl

echo "== registry-count gate =="
# every registry entry must have produced a dump that the compare above saw;
# a drifted SURVEY/README total or a silently-skipped query fails here
DUMPED=$(find "$OUT" -mindepth 1 -maxdepth 1 -type d | wc -l)
if [ -z "$REGISTRY" ] || [ "$REGISTRY" != "$DUMPED" ]; then
  echo "REGISTRY/DUMP COUNT MISMATCH: registry=$REGISTRY dumped=$DUMPED"; exit 1
fi
echo "registry == dumped == $REGISTRY"

# Round number = latest CORRECTNESS_r*.json + 1 (the round being built) —
# computed ONCE, used by both the sf0.1 sweep record and BENCH_LOCAL below.
ROUND=$(ls CORRECTNESS_r*.json 2>/dev/null \
  | sed -E 's/.*_r0*([0-9]+)\.json/\1/' | sort -n | tail -1)
ROUND=$(( ${ROUND:-0} + 1 ))

echo "== sf0.1 correctness sweep (standing stage — caught 4 scale-regime bugs in r12) =="
# Full-registry DuckDB compare at the BENCH scale too: tie/rounding/sketch-
# regime bugs invisible at sf0.01 fail HERE instead of surfacing a round
# later. The --record file is the committed CORRECTNESS_SF01_r{N}.json.
SWEEP_OUT=/tmp/verify_out_sf01
rm -rf "$SWEEP_OUT"
SWEEP_LOG=$(mktemp)
SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $SF_BENCH $SWEEP_OUT" 2>&1 \
  | tee "$SWEEP_LOG" | tail -2
if grep -qE "\[verify\].*failed" "$SWEEP_LOG"; then echo "SF0.1 VERIFY FAILURES"; exit 1; fi
grep -q "\[success\]" "$SWEEP_LOG" || { echo "SF0.1 VERIFY DID NOT COMPLETE"; exit 1; }
rm -f "$SWEEP_LOG"
python3 scripts/check_oracle.py "$SF_BENCH" "$SWEEP_OUT" \
  --record "$(printf 'CORRECTNESS_SF01_r%02d.json' "$ROUND")"

echo "== bench @ $SF_BENCH =="
BENCH_LINE=$(SPARK_GRAFT_SF_DIR="$SF_BENCH" SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Bench" \
  | grep '"queries"')
echo "$BENCH_LINE"

# Committed, truncation-proof per-query record: the driver's BENCH_r{N}.json
# is head-truncated, which has forced manual re-runs to adjudicate noise.
# ROUND computed once above (shared with the sf0.1 sweep record).
printf '%s\n' "$BENCH_LINE" | sed 's/^\[info\] *//' \
  | python3 -m json.tool > "$(printf 'BENCH_LOCAL_r%02d.json' "$ROUND")"
echo "full per-query bench written to $(printf 'BENCH_LOCAL_r%02d.json' "$ROUND")"

echo "== bench regression vs previous round =="
python3 scripts/bench_diff.py "$BENCH_LINE" 1.5

echo "== SURVEY transcription block (quote these lines verbatim) =="
python3 scripts/survey_numbers.py "$ROUND" || true

echo "== 10x scale smoke (6 heaviest SF10 queries) =="
# Scale posture must not drift between the big per-round SF10 efforts: time
# the suite's historically heaviest queries at the 10x replica and fail
# loudly if any one's big-side seconds regress >2x vs the committed SF1
# record. ~2-3 min budget; skipped only if the replica cannot be built.
# SPARK_GRAFT_SCALE_ONLY is PREFIX matching, so q_kql_graph_shortest also
# selects q_kql_graph_shortest_lo — deliberate, both are top-cost.
SMOKE="dedup_substring_spans,dedup_pipeline_full,q_kql_graph_shortest,q_kql_graph_varlen_agg,text_bpe_train"
# completion marker: a partially-built replica from an interrupted prior run
# would silently skew smoke timings / fail queries — rebuild unless _SUCCESS
# (written only after ScaleData finishes) is present.
if [ ! -f /tmp/sf1x10/_SUCCESS ]; then
  rm -rf /tmp/sf1x10
  sbt -batch "runMain graft.tools.ScaleData /root/testdata/sf0.1 /tmp/sf1x10 10" >/dev/null
  touch /tmp/sf1x10/_SUCCESS
fi
# A ScaleBench nonzero exit (a query failed at 10x) must NOT abort the
# substitution under set -e: the python reporter below is what names the
# failure and fails the gate — capture the line regardless.
SMOKE_LINE=$(SPARK_GRAFT_SCALE_ONLY="$SMOKE" \
  sbt -batch "runMain graft.tools.ScaleBench /root/testdata/sf0.1 /tmp/sf1x10 10" \
  | grep '"queries"' | sed 's/^\[info\] *//' || true)
if [ -z "$SMOKE_LINE" ]; then echo "10x SMOKE PRODUCED NO RECORD"; exit 1; fi
echo "$SMOKE_LINE"
python3 - "$SMOKE_LINE" <<'PY'
import json, sys, glob
smoke = json.loads(sys.argv[1])
ref_file = sorted(glob.glob('BENCH_SF1_r*.json'))[-1]
ref = json.load(open(ref_file))['queries']
bad = []
for name, rec in smoke['queries'].items():
    big, refbig = rec['big'], ref.get(name, {}).get('big')
    if big < 0:
        bad.append(f"{name}: FAILED at 10x")
    elif refbig and big > 2.0 * refbig:
        bad.append(f"{name}: {big:.2f}s vs committed {refbig:.2f}s (>2x)")
if bad:
    print("10x SMOKE REGRESSION vs " + ref_file + ":\n  " + "\n  ".join(bad))
    sys.exit(1)
print(f"10x smoke OK vs {ref_file}")
PY
