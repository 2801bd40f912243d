#!/bin/bash
# Disk-bounded K-pass q44 run (round 16, VERDICT r15 #1) — the
# ngram_pass_sweep.sh protocol carried to the MinHash-LSH dedup.
# Runs graft.MinhashPassRun pass 0..K-1 sequentially, ONE JVM PER PASS so
# shuffle scratch is released by process exit between passes, then the
# finish stage. FINISH_MODE=finish-big (default finish) selects the
# pass-partitioned expand for corpora where the production finish's
# global DISTINCT+ORDER BY is itself the scratch wall (og1000+).
#
# Usage: tools/minhash_pass_sweep.sh SF_DIR CAND_DIR OUT_DIR [K]
set -u
SF_DIR=$1; CAND_DIR=$2; OUT_DIR=$3; K=${4:-12}
# The 20 GB free-disk floor guards scale corpora (an SF_DIR of >= 1 GB,
# the test tools/run_main.sh uses); a smaller corpus needs a few MB of
# scratch, so its floor is 1 GB. MIN_FREE_GB overrides either.
if [ "$(du -sb "$SF_DIR" 2>/dev/null | cut -f1 || echo 0)" -ge 1000000000 ] 2>/dev/null; then
  MIN_FREE_GB=${MIN_FREE_GB:-20}
else
  MIN_FREE_GB=${MIN_FREE_GB:-1}
fi
FINISH_MODE=${FINISH_MODE:-finish}
cd "$(dirname "$0")/.."
mkdir -p "$CAND_DIR" "$OUT_DIR"

for i in $(seq 0 $((K - 1))); do
  if [ -f "$CAND_DIR/pass_$i/_SUCCESS" ]; then
    echo "[sweep44] pass $i already complete, skipping"
    continue
  fi
  free_gb=$(df -k "$CAND_DIR" | awk 'NR==2{print int($4/1048576)}')
  if [ "${free_gb:-0}" -lt "$MIN_FREE_GB" ]; then
    echo "[sweep44] ABORT before pass $i: ${free_gb} GB free < ${MIN_FREE_GB} GB floor" >&2
    exit 3
  fi
  echo "[sweep44] pass $i/$K starting ($(date -u +%H:%M:%S), ${free_gb} GB free)"
  SPARK_GRAFT_SF_DIR=$SF_DIR tools/run_main.sh graft.MinhashPassRun \
    pass "$K" "$i" "$CAND_DIR" || { echo "[sweep44] pass $i FAILED" >&2; exit 1; }
done

echo "[sweep44] all $K passes done, $FINISH_MODE ($(date -u +%H:%M:%S))"
if [ "$FINISH_MODE" = "finish-big" ]; then
  # Per-JVM expands (round-16 lesson: K append jobs in ONE JVM
  # accumulated ~43 GB of dead shuffle files at og1000 — the periodic GC
  # never fired between jobs; process exit is the only scratch release
  # you can schedule). Each pass dump is deleted after its expand unless
  # KEEP_PASSES=1. Fresh run: OUT_DIR must not already hold a dump.
  if [ -d "$OUT_DIR/q44_dedup_minhash_lsh.parquet" ]; then
    echo "[sweep44] ABORT: $OUT_DIR already holds a dump — appends would duplicate" >&2
    exit 4
  fi
  for i in $(seq 0 $((K - 1))); do
    SPARK_GRAFT_SF_DIR=$SF_DIR tools/run_main.sh graft.MinhashPassRun \
      expand "$K" "$i" "$CAND_DIR" "$OUT_DIR" \
      || { echo "[sweep44] expand $i FAILED" >&2; exit 1; }
    [ "${KEEP_PASSES:-0}" = "1" ] || rm -rf "$CAND_DIR/pass_$i"
  done
  SPARK_GRAFT_SF_DIR=$SF_DIR tools/run_main.sh graft.MinhashPassRun \
    clique "$OUT_DIR" || { echo "[sweep44] clique FAILED" >&2; exit 1; }
else
  SPARK_GRAFT_SF_DIR=$SF_DIR SPARK_GRAFT_DUMP_COALESCE=0 tools/run_main.sh \
    graft.MinhashPassRun "$FINISH_MODE" "$K" "$CAND_DIR" "$OUT_DIR" \
    || { echo "[sweep44] $FINISH_MODE FAILED" >&2; exit 1; }
fi
echo "[sweep44] complete ($(date -u +%H:%M:%S))"
