#!/bin/bash
# Disk-bounded K-pass q46/q66 run (round 15, VERDICT r14 #1).
# Runs graft.NgramPassRun pass 0..K-1 sequentially, ONE JVM PER PASS so
# shuffle scratch is released by process exit between passes (in-JVM
# cleanup depends on GC timing — not a guarantee you want 45 GB deep),
# then the finish stage (union + expand + q66 components).
#
# Usage: tools/ngram_pass_sweep.sh SF_DIR CAND_DIR OUT_DIR [K]
set -u
SF_DIR=$1; CAND_DIR=$2; OUT_DIR=$3; K=${4:-9}
# The 50 GB free-disk floor guards scale corpora (an SF_DIR of >= 1 GB,
# the test tools/run_main.sh uses); a smaller corpus needs a few MB of
# scratch, so its floor is 1 GB. MIN_FREE_GB overrides either.
if [ "$(du -sb "$SF_DIR" 2>/dev/null | cut -f1 || echo 0)" -ge 1000000000 ] 2>/dev/null; then
  MIN_FREE_GB=${MIN_FREE_GB:-50}
else
  MIN_FREE_GB=${MIN_FREE_GB:-1}
fi
cd "$(dirname "$0")/.."
mkdir -p "$CAND_DIR" "$OUT_DIR"

for i in $(seq 0 $((K - 1))); do
  if [ -f "$CAND_DIR/pass_$i/_SUCCESS" ]; then
    echo "[sweep] pass $i already complete, skipping"
    continue
  fi
  free_gb=$(df -k "$CAND_DIR" | awk 'NR==2{print int($4/1048576)}')
  if [ "${free_gb:-0}" -lt "$MIN_FREE_GB" ]; then
    echo "[sweep] ABORT before pass $i: ${free_gb} GB free < ${MIN_FREE_GB} GB floor" >&2
    exit 3
  fi
  echo "[sweep] pass $i/$K starting ($(date -u +%H:%M:%S), ${free_gb} GB free)"
  SPARK_GRAFT_SF_DIR=$SF_DIR tools/run_main.sh graft.NgramPassRun \
    pass "$K" "$i" "$CAND_DIR" || { echo "[sweep] pass $i FAILED" >&2; exit 1; }
done

echo "[sweep] all $K passes done, finishing ($(date -u +%H:%M:%S))"
SPARK_GRAFT_SF_DIR=$SF_DIR SPARK_GRAFT_DUMP_COALESCE=0 tools/run_main.sh \
  graft.NgramPassRun finish "$K" "$CAND_DIR" "$OUT_DIR" \
  || { echo "[sweep] finish FAILED" >&2; exit 1; }
echo "[sweep] complete ($(date -u +%H:%M:%S))"
