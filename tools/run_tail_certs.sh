#!/bin/bash
# Serial solo certification runner for the replica-scale (100x) tail
# (SCALE.md r13 protocol). One fresh JVM per entry, 8 cores / 24 GiB
# heap, QUIET DISK — never run two spill-heavy entries concurrently:
# r12/r13 both measured disk-pressure kills from concurrency, never
# from the plans themselves.
#
# Usage:
#   bash tools/run_tail_certs.sh [replica_dir] [entry budget]...
#   bash tools/run_tail_certs.sh /tmp/sf10_replica \
#       dedup_embedding_cosine 10800 dedup_levenshtein 10800 \
#       dedup_containment_ngram 7200
#
# Per-entry budget notes (measured r13):
#   - pair-dense dedup faces: 900-1200 s typical; the hash compare of
#     a ~27M-row pair frame adds ~95 s/side after the vectorized canon
#     (tools/check_oracle.py _canon_str_series).
#   - dedup_embedding_cosine / dedup_levenshtein: give 10800 s — the
#     DuckDB oracle alone is tens of minutes (26.7M levenshtein pairs
#     at ~46 us/pair/thread).
#   - knn_mutual_label_blocked certifies via tools/census_knn.py, not
#     this runner (its own oracle needs a 4.4e9-row window sort).
set -u
cd "$(dirname "$0")/.."
ROOT="$(pwd)"
REPLICA="${1:-/tmp/sf10_replica}"
shift || true
LOG="${TAIL_CERT_LOG:-/tmp/tail_certs.log}"
WORK="${TAIL_CERT_WORK:-/tmp/tail_certs_work}"
mkdir -p "$WORK"
cd "$WORK"

while [ "$#" -ge 2 ]; do
  name=$1
  budget=$2
  shift 2
  echo "=== $name (start $(date +%T), budget ${budget}s) ===" >> "$LOG"
  PYTHONPATH="$ROOT" SPARK_GRAFT_VANILLA=1 \
    SPARK_GRAFT_VANILLA_CORES="${TAIL_CERT_CORES:-8}" \
    SPARK_GRAFT_VANILLA_MEM="${TAIL_CERT_MEM:-24g}" \
    timeout "$budget" python "$ROOT/tools/check_oracle.py" "$REPLICA" "$name" \
    >> "$LOG" 2>> "${LOG%.log}.err"
  echo "exit: $? (end $(date +%T))" >> "$LOG"
  df -h /tmp | tail -1 >> "$LOG"
done
echo "TAIL CERTS DONE" >> "$LOG"
