#!/bin/bash
# Interleaved fresh-JVM A/B pairs of the lakehouse benchmark.
# Usage: tools/ab_lakebench.sh PARENT_DIR CHANGE_DIR WORKLOAD PAIRS [SEED0]
# Pair i runs `python3 lakebench/run.py --workload WORKLOAD --seed SEED0+i
# --seconds 15 --trace 0` once in each checkout, parent first on even i and
# change first on odd i, one run at a time. Prints every run's metrics,
# then per metric the parent and change medians, the change/parent ratio,
# the parent's interquartile range and the number of pairs in which the
# change was lower / equal (every metric is lower-is-better), and the
# correct/failed counts per side. Logs go to
# $AB_LOG_DIR (default: a fresh directory under ${TMPDIR:-/tmp}). Exits
# non-zero, naming the log, when a run prints no result line.
set -euo pipefail
if [ $# -lt 4 ]; then
  echo "usage: $0 PARENT_DIR CHANGE_DIR WORKLOAD PAIRS [SEED0]" >&2
  exit 2
fi
PARENT=$(cd "$1" && pwd)
CHANGE=$(cd "$2" && pwd)
WORKLOAD=$3
PAIRS=$4
SEED0=${5:-11}
LOG_DIR=${AB_LOG_DIR:-$(mktemp -d "${TMPDIR:-/tmp}/ab_lakebench.XXXXXX")}
mkdir -p "$LOG_DIR"
RESULTS="$LOG_DIR/results.jsonl"
: >"$RESULTS"
echo "logs: $LOG_DIR" >&2

run_one() {  # side dir seed pair
  local side=$1 dir=$2 seed=$3 pair=$4
  local log="$LOG_DIR/${WORKLOAD}-${side}-seed${seed}"
  # exit 1 means a failed check or operation; the result line still
  # carries it, so only a missing result line aborts the harness
  (cd "$dir" && python3 lakebench/run.py --workload "$WORKLOAD" \
    --seed "$seed" --seconds 15 --trace 0) >"$log.out" 2>"$log.err" || true
  local line
  line=$(grep '^{"correct"' "$log.out" | tail -n 1 || true)
  if [ -z "$line" ]; then
    echo "${side} seed ${seed}: no result line, see ${log}.err" >&2
    exit 1
  fi
  python3 -c 'import json, sys
r = json.loads(sys.argv[4])
r.update(side=sys.argv[1], seed=int(sys.argv[2]), pair=int(sys.argv[3]))
print(json.dumps(r))' "$side" "$seed" "$pair" "$line" >>"$RESULTS"
  echo "pair ${pair} ${side} seed ${seed}: $(python3 -c 'import json, sys
r = json.loads(sys.argv[1])
print("correct=%s failed=%s " % (r["correct"], r["failed"]) + " ".join(
    "%s=%.4g" % (k, v["value"]) for k, v in sorted(r["metrics"].items())))
' "$line")"
}

for ((i = 0; i < PAIRS; i++)); do
  seed=$((SEED0 + i))
  if ((i % 2 == 0)); then
    run_one parent "$PARENT" "$seed" "$i"
    run_one change "$CHANGE" "$seed" "$i"
  else
    run_one change "$CHANGE" "$seed" "$i"
    run_one parent "$PARENT" "$seed" "$i"
  fi
done

python3 - "$RESULTS" <<'EOF'
import json
import statistics
import sys

runs = [json.loads(line) for line in open(sys.argv[1])]
side = {s: {r["pair"]: r for r in runs if r["side"] == s}
        for s in ("parent", "change")}
for s, rs in side.items():
    print(f"{s}: {sum(r['correct'] for r in rs.values())}/{len(rs)} correct,"
          f" {sum(r['failed'] for r in rs.values())} failed operations")
names = sorted({k for r in runs for k in r["metrics"]})
print(f"{'metric':<20} {'parent':>10} {'change':>10} {'ratio':>7} "
      f"{'parent_iqr':>10}  lower/equal/pairs")
for k in names:
    pairs = [(p["metrics"][k]["value"], side["change"][i]["metrics"][k]["value"])
             for i, p in side["parent"].items()
             if i in side["change"] and k in p["metrics"]
             and k in side["change"][i]["metrics"]]
    if not pairs:
        continue
    pv = [a for a, _ in pairs]
    cv = [b for _, b in pairs]
    mp, mc = statistics.median(pv), statistics.median(cv)
    q = statistics.quantiles(pv, n=4) if len(pv) > 1 else [pv[0]] * 3
    lower = sum(b < a for a, b in pairs)
    equal = sum(b == a for a, b in pairs)
    print(f"{k:<20} {mp:>10.4g} {mc:>10.4g} {mc / mp if mp else float('nan'):>7.3f} "
          f"{q[2] - q[0]:>10.4g}  {lower}/{equal}/{len(pairs)}")
EOF
