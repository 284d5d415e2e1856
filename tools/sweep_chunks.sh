#!/bin/bash
# Full-inventory replica sweep, fresh JVM per CHUNK (SCALE.md doctrine:
# a shared session cascades after one heap death; per-chunk processes
# bound the blast radius while amortizing JVM startup). Usage:
#   tools/sweep_chunks.sh <sf_dir> <entries_file> <log> [chunk] [cores]
set -u
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
SF_DIR="$1"; ENTRIES="$2"; LOG="$3"; CHUNK="${4:-8}"; CORES="${5:-8}"
: > "$LOG"
mapfile -t names < "$ENTRIES"
total=${#names[@]}
for ((i = 0; i < total; i += CHUNK)); do
  batch=("${names[@]:i:CHUNK}")
  echo "=== chunk $((i / CHUNK + 1)) ($((i + 1))-$((i + ${#batch[@]})) of $total) ===" >> "$LOG"
  SPARK_GRAFT_VANILLA=1 SPARK_GRAFT_VANILLA_CORES="$CORES" \
    timeout 3600 python "$ROOT/tools/check_oracle.py" "$SF_DIR" "${batch[@]}" \
    >> "$LOG" 2>/dev/null
  echo "chunk exit: $?" >> "$LOG"
done
echo "SWEEP DONE" >> "$LOG"
