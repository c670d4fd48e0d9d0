#!/bin/bash
# Interleaved paired A/B for a noisy host: alternates BEFORE (HEAD) and
# AFTER (the working tree) N times, timing the same key list with
# tools/ab_bench.py each round. Paired rounds bracket environment
# drift; compare per-key medians of the A and B columns.
# Usage: tools/ab_paired.sh N "key1 key2 ..." OUT_PREFIX
#
# BEFORE runs from a temporary detached `git worktree` of HEAD, removed
# on any exit, so the working tree is never rewritten and files the
# bench regenerates cannot collide with a restore. A clean tree is
# refused: both sides would time the same code.
set -e
N=${1:-3}
KEYS=$2
OUT=${3:-/tmp/abp}
ROOT=$(cd "$(dirname "$0")/.." && pwd)
cd "$ROOT"
if git diff --quiet HEAD && [ -z "$(git ls-files --others --exclude-standard)" ]; then
  echo "ab_paired: working tree is clean — nothing to A/B" >&2
  exit 2
fi
BEFORE=$(mktemp -d "${TMPDIR:-/tmp}/ab_paired.XXXXXX")
cleanup() {
  git worktree remove --force "$BEFORE" >/dev/null 2>&1 || rm -rf "$BEFORE"
  git worktree prune
}
trap cleanup EXIT
git worktree add --quiet --detach "$BEFORE" HEAD
for i in $(seq 1 "$N"); do
  (cd "$BEFORE" && PYTHONPATH="$BEFORE" SPARK_GRAFT_BENCH_RUNS=3 \
    python tools/ab_bench.py $KEYS 2>/dev/null) \
    | tail -1 > "${OUT}_before_$i.json"
  PYTHONPATH="$ROOT" SPARK_GRAFT_BENCH_RUNS=3 \
    python tools/ab_bench.py $KEYS 2>/dev/null \
    | tail -1 > "${OUT}_after_$i.json"
  echo "round $i done"
done
