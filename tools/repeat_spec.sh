#!/bin/bash
# Runs one spec n times in a row under the Tier-1 test environment and
# prints a pass/fail tally:
#   tools/repeat_spec.sh <SpecName> <n>
# e.g. tools/repeat_spec.sh CrossProcessWarehouseSpec 20
# sbt's own settings (SBT_OPTS: offline repositories, heap) come from the
# caller's environment, as for the Tier-1 command; the script sets the
# Spark ones (cores, driver memory, local dirs) the way that command does.
# The runs share one sbt session; each forks its own test JVM. sbt stops
# at the first failing run, so the runs after it count as not run. Exits
# non-zero unless all n passed. The full log is $REPEAT_LOG (default: a
# fresh temp file).
set -u
SPEC="$1"; N="$2"
cd "$(dirname "$0")/.."
export COURSIER_MODE=offline
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
export SPARK_LOCAL_DIRS=/tmp/spark-local
LOG="${REPEAT_LOG:-$(mktemp -t repeat_spec.XXXXXX.log)}"
runs=()
for _ in $(seq 1 "$N"); do runs+=("testOnly *$SPEC"); done
sbt --batch -Dsbt.log.noformat=true "${runs[@]}" >"$LOG" 2>&1
passed=$(grep -c "All tests passed" "$LOG")
failed=$(grep -c "Failed tests:" "$LOG")
grep -E "Run completed in" "$LOG" | nl -w2 -s': '
echo "$SPEC: $passed passed, $failed failed, $((N - passed - failed)) not run of $N (log: $LOG)"
[ "$passed" -eq "$N" ]
