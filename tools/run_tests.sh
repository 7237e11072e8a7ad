#!/usr/bin/env bash
# Runs the full ScalaTest suite the way the ROADMAP tier-1 gate does (same
# offline sbt flags, core count, driver memory and local dirs) and writes
# TESTS_r<N>.json (pass/fail counts + exit code), so the round snapshot
# counts the same suite as the gate. After Test/compile it also compiles
# the benchmark harness (perfbench/build.py, stamp-cached in .bench_build),
# so a program name the harness uses that was renamed or removed fails
# here rather than in a benchmark run.
# Usage: tools/run_tests.sh <round>   (e.g. tools/run_tests.sh 11)
set -uo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:?usage: run_tests.sh <round>}"
export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
export SPARK_LOCAL_DIRS=/tmp/spark-local
LOG=$(mktemp)
{ timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true Test/compile \
    && python3 perfbench/build.py \
    && timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true "testOnly *"; } 2>&1 | tee "$LOG"
CODE=${PIPESTATUS[0]}
# sbt/ScalaTest summary: "Tests: succeeded 278, failed 0, canceled 0, ignored 0, pending 0"
SUCC=$(grep -oE 'Tests: succeeded [0-9]+' "$LOG" | tail -1 | grep -oE '[0-9]+' || echo 0)
FAIL=$(grep -oE ', failed [0-9]+' "$LOG" | tail -1 | grep -oE '[0-9]+' || echo -1)
SUITES=$(grep -cE '^\[info\] [A-Za-z]+Spec:$' "$LOG" || true)
# NOTE: no -o on the header grep — GNU grep suppresses -A context lines
# when -o is given, which would leave the name-extraction grep nothing
# to match and failed_suites always empty (r11 ADVICE).
FAILED_NAMES=$(grep -E -A 40 '^\[error\] Failed tests:' "$LOG" 2>/dev/null \
  | grep -oE 'graft\.[A-Za-z]+' | sort -u | paste -sd, - || true)
printf '{"round":%s,"exit_code":%s,"suites":%s,"passed":%s,"failed":%s,"failed_suites":"%s"}\n' \
  "$ROUND" "$CODE" "$SUITES" "$SUCC" "$FAIL" "$FAILED_NAMES" > "TESTS_r${ROUND}.json"
cat "TESTS_r${ROUND}.json"
rm -f "$LOG"
exit "$CODE"
