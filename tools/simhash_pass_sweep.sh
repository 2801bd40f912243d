#!/bin/bash
# Disk-bounded K-pass q45 run (round 16, VERDICT r15 #3) — the
# minhash_pass_sweep.sh protocol for the SimHash dedup: one JVM per pass,
# then one JVM per expand append + one clique append (scratch is released
# by process exit, never by GC timing). Pass dumps are deleted after
# their expand unless KEEP_PASSES=1.
#
# Usage: tools/simhash_pass_sweep.sh SF_DIR CAND_DIR OUT_DIR [K]
set -u
SF_DIR=$1; CAND_DIR=$2; OUT_DIR=$3; K=${4:-4}
# The 15 GB free-disk floor guards scale corpora (an SF_DIR of >= 1 GB,
# the test tools/run_main.sh uses); a smaller corpus needs a few MB of
# scratch, so its floor is 1 GB. MIN_FREE_GB overrides either.
if [ "$(du -sb "$SF_DIR" 2>/dev/null | cut -f1 || echo 0)" -ge 1000000000 ] 2>/dev/null; then
  MIN_FREE_GB=${MIN_FREE_GB:-15}
else
  MIN_FREE_GB=${MIN_FREE_GB:-1}
fi
cd "$(dirname "$0")/.."
mkdir -p "$CAND_DIR" "$OUT_DIR"
if [ -d "$OUT_DIR/q45_dedup_simhash.parquet" ]; then
  echo "[sweep45] ABORT: $OUT_DIR already holds a dump — appends would duplicate" >&2
  exit 4
fi

for i in $(seq 0 $((K - 1))); do
  if [ -f "$CAND_DIR/pass_$i/_SUCCESS" ]; then
    echo "[sweep45] pass $i already complete, skipping"
    continue
  fi
  free_gb=$(df -k "$CAND_DIR" | awk 'NR==2{print int($4/1048576)}')
  if [ "${free_gb:-0}" -lt "$MIN_FREE_GB" ]; then
    echo "[sweep45] ABORT before pass $i: ${free_gb} GB free < ${MIN_FREE_GB} GB floor" >&2
    exit 3
  fi
  echo "[sweep45] pass $i/$K starting ($(date -u +%H:%M:%S), ${free_gb} GB free)"
  SPARK_GRAFT_SF_DIR=$SF_DIR tools/run_main.sh graft.SimhashPassRun \
    pass "$K" "$i" "$CAND_DIR" || { echo "[sweep45] pass $i FAILED" >&2; exit 1; }
done

echo "[sweep45] all $K passes done, expanding ($(date -u +%H:%M:%S))"
for i in $(seq 0 $((K - 1))); do
  SPARK_GRAFT_SF_DIR=$SF_DIR tools/run_main.sh graft.SimhashPassRun \
    expand "$K" "$i" "$CAND_DIR" "$OUT_DIR" \
    || { echo "[sweep45] expand $i FAILED" >&2; exit 1; }
  [ "${KEEP_PASSES:-0}" = "1" ] || rm -rf "$CAND_DIR/pass_$i"
done
SPARK_GRAFT_SF_DIR=$SF_DIR tools/run_main.sh graft.SimhashPassRun \
  clique "$OUT_DIR" || { echo "[sweep45] clique FAILED" >&2; exit 1; }
echo "[sweep45] complete ($(date -u +%H:%M:%S))"
