#!/bin/bash
# Interleaved A/B bench of two checkouts over a ledger subset:
#   tools/ab_bench.sh <beforeDir> <afterDir> <queries,csv> [rounds]
# e.g. tools/ab_bench.sh ../parent . d_ngram_jaccard,d_containment 3
# Compiles each checkout with sbt and takes its runtime classpath from
# sbt; sbt's own settings (SBT_OPTS: offline repositories, heap) come
# from the caller's environment, as for the Tier-1 command. Then runs
# graft.Bench on each class tree in turn, before/after alternating for
# `rounds` rounds (default 2), so both variants share each machine
# window, and prints per-variant per-query minima. Bench's own variables
# pass through: SPARK_GRAFT_SF_DIR (default: Bench's sf0.1) and
# SPARK_GRAFT_CPUS (default here: nproc); SPARK_DRIVER_MEM sets the heap
# as in build.sbt (default 8g). Each variant gets its own java.io.tmpdir,
# so the standing indexes the incremental entries build once are never
# rebuilt by the other variant's runs. The per-round JSONs stay in the
# work directory printed at the end.
set -euo pipefail
BEFORE=$(cd "$1" && pwd); AFTER=$(cd "$2" && pwd)
QUERIES="$3"; ROUNDS="${4:-2}"
REPO=$(cd "$(dirname "$0")/.." && pwd)
WORK=$(mktemp -d -t ab_bench.XXXXXX)
export COURSIER_MODE=offline
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
# the --add-opens list build.sbt forks every run with
ADDOPENS=$(sed -n '/val jdk17AddOpens/,/flatMap/p' "$REPO/build.sbt" |
  grep -o '"java\.base/[^"]*"' | tr -d '"' |
  sed 's/.*/--add-opens &=ALL-UNNAMED/' | tr '\n' ' ')
declare -A CP
for v in before after; do
  dir=$([ "$v" = before ] && echo "$BEFORE" || echo "$AFTER")
  echo "compiling $v ($dir)" >&2
  CP[$v]=$(cd "$dir" && sbt --batch -Dsbt.log.noformat=true Compile/compile \
    "export Runtime/fullClasspath" | tail -1)
  mkdir -p "$WORK/tmp_$v"
done
for i in $(seq 1 "$ROUNDS"); do
  for v in before after; do
    echo "round $i: $v" >&2
    # shellcheck disable=SC2086
    SPARK_GRAFT_BENCH_FILTER="$QUERIES" \
    SPARK_GRAFT_BENCH_OUT="$WORK/${v}_$i.json" \
    java $ADDOPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -Djava.io.tmpdir="$WORK/tmp_$v" -Xmx"${SPARK_DRIVER_MEM:-8g}" \
      -cp "${CP[$v]}" graft.Bench >"$WORK/${v}_$i.log" 2>&1
  done
done
rm -rf "$WORK"/tmp_before "$WORK"/tmp_after
python3 - "$ROUNDS" "$WORK" <<'EOF'
import json, sys
rounds, work = int(sys.argv[1]), sys.argv[2]
def runs(var):
    return [json.load(open(f'{work}/{var}_{i}.json'))['queries']
            for i in range(1, rounds + 1)]
def mins(rs):
    return {k: min(r[k] for r in rs) for k in rs[0]}
def spread(rs, k):
    vs = [r[k] for r in rs]
    return max(vs) - min(vs)
rb, ra = runs('before'), runs('after')
b, a = mins(rb), mins(ra)
tb = ta = 0
print(' before ->   after  ratio   (round-to-round spread before / after)')
for k in sorted(b, key=lambda k: -b[k]):
    print(f'{b[k]:7.2f} -> {a[k]:7.2f}  ({a[k]/b[k]:.2f}x)  '
          f'({spread(rb, k):.2f} / {spread(ra, k):.2f})  {k}')
    tb += b[k]; ta += a[k]
print(f'{tb:7.2f} -> {ta:7.2f}  ({ta/tb:.2f}x)  TOTAL')
print(f'round JSONs and logs: {work}')
EOF
