#!/bin/bash
# Disk-bounded K-pass run of one dedup family through graft.PassRun:
# minhash (q44), simhash (q45) or ngram (q46 and q66). One JVM per step,
# so shuffle scratch is released by process exit between steps: the K
# passes, then for minhash and simhash one expand append per pass (its
# pass dump is deleted after it unless KEEP_PASSES=1) and one clique
# append, for ngram one finish. A rerun skips completed passes.
#
# Usage: tools/pass_sweep.sh FAMILY SF_DIR CAND_DIR OUT_DIR [K]
set -u
FAMILY=${1:-}; SF_DIR=${2:-}; CAND_DIR=${3:-}; OUT_DIR=${4:-}
# default K and scale-corpus disk floor (GB): what each family's recorded
# og run used; DUMP is the file the expand steps append to
case "$FAMILY" in
  minhash) K=${5:-12}; FLOOR=20; DUMP=q44_dedup_minhash_lsh.parquet ;;
  simhash) K=${5:-4}; FLOOR=15; DUMP=q45_dedup_simhash.parquet ;;
  ngram) K=${5:-9}; FLOOR=50; DUMP= ;;
  *) echo "usage: $0 minhash|simhash|ngram SF_DIR CAND_DIR OUT_DIR [K]" >&2; exit 2 ;;
esac
# The floor guards scale corpora (an SF_DIR of >= 1 GB, the test
# tools/run_main.sh uses); a smaller corpus needs a few MB of scratch, so
# its floor is 1 GB. MIN_FREE_GB overrides either.
if [ "$(du -sb "$SF_DIR" 2>/dev/null | cut -f1 || echo 0)" -ge 1000000000 ] 2>/dev/null; then
  MIN_FREE_GB=${MIN_FREE_GB:-$FLOOR}
else
  MIN_FREE_GB=${MIN_FREE_GB:-1}
fi
mkdir -p "$CAND_DIR" "$OUT_DIR"
if [ -n "$DUMP" ] && [ -d "$OUT_DIR/$DUMP" ]; then
  echo "[sweep $FAMILY] ABORT: $OUT_DIR already holds a dump; appends would duplicate" >&2
  exit 4
fi

step() {
  echo "[sweep $FAMILY] $* ($(date -u +%H:%M:%S))"
  SPARK_GRAFT_SF_DIR=$SF_DIR "$(dirname "$0")/run_main.sh" graft.PassRun "$FAMILY" "$@" \
    || { echo "[sweep $FAMILY] $1 FAILED" >&2; exit 1; }
}

for i in $(seq 0 $((K - 1))); do
  if [ -f "$CAND_DIR/pass_$i/_SUCCESS" ]; then
    echo "[sweep $FAMILY] pass $i already complete, skipping"
    continue
  fi
  free_gb=$(df -k "$CAND_DIR" | awk 'NR==2{print int($4/1048576)}')
  if [ "${free_gb:-0}" -lt "$MIN_FREE_GB" ]; then
    echo "[sweep $FAMILY] ABORT before pass $i: ${free_gb} GB free < ${MIN_FREE_GB} GB floor" >&2
    exit 3
  fi
  step pass "$K" "$i" "$CAND_DIR"
done

if [ -z "$DUMP" ]; then
  step finish "$K" "$CAND_DIR" "$OUT_DIR"
else
  for i in $(seq 0 $((K - 1))); do
    step expand "$K" "$i" "$CAND_DIR" "$OUT_DIR"
    [ "${KEEP_PASSES:-0}" = "1" ] || rm -rf "$CAND_DIR/pass_$i"
  done
  step clique "$OUT_DIR"
fi
echo "[sweep $FAMILY] complete ($(date -u +%H:%M:%S))"
