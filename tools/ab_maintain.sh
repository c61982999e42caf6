#!/bin/bash
# A/B harness for the maintenance pass (optimization round): one fresh-JVM
# cpu-pinned run of bench.py --phase maintain against the shared pristine
# copy. Usage: tools/ab_maintain.sh <cpus> <cpu_offset> [label]
# Prints "LABEL total_s=... stages..." parsed from the BENCH_RESULT line.
# Exits non-zero (naming the error log) when bench.py fails or prints no
# BENCH_RESULT line, so a crashed leg is never a silently missing run.
set -euo pipefail
CPUS=${1:-8}
OFF=${2:-8}
LABEL=${3:-run}
export SPARK_LOCAL_DIRS=/dev/shm/spark-bench-tmp
export ENGINE_TIMING=1
mkdir -p "$SPARK_LOCAL_DIRS"
ERR=/tmp/ab_${LABEL}_err.log
if ! OUT=$(taskset -c "${OFF}-$((OFF + CPUS - 1))" \
    python "$(dirname "$0")/../bench.py" \
    --phase maintain --cpus "$CPUS" --num-convs 214285 \
    --work-dir /dev/shm --pristine /dev/shm/ab_pristine 2>"$ERR"); then
  echo "${LABEL}: bench.py failed, see ${ERR}" >&2
  exit 1
fi
if ! grep -q '^BENCH_RESULT' <<<"$OUT"; then
  echo "${LABEL}: no BENCH_RESULT line, see ${ERR}" >&2
  exit 1
fi
grep '^BENCH_RESULT' <<<"$OUT" | sed "s/^BENCH_RESULT/${LABEL}/"
grep '^ENGINE_TIMING' "$ERR" | sed "s/^/${LABEL} /" || true
