#!/bin/bash
# One-command full-registry sf10 stress sweep (the recipe BASELINE.md's
# per-round "sf10 sweep" entries record; scripted in r12 so the premise
# gate is part of the sweep, not a separate ritual — VERDICT r11 #6).
#
#   1. ScaleUp 100x of sf0.1 -> $SF10 (skipped when it already exists).
#   2. graft.PremiseCheck $SF10 — the DBSCAN quotient-occupancy and
#      core-structure premises at the 100x corpus (cardinality regimes
#      move with scale, not just rounding — the q_heavy_hitters rule).
#   3. graft.Bench over the full registry (every near-dup query goes
#      through the shingle pair-expansion gate, so none runs the exact
#      quadratic tier past its budget). Seed 42, reps 2, heavy-tail
#      min-of-2-warm, artifact arm included since r12.
#
# Usage: dev/sweep_sf10.sh [sf10Dir] [outJson]
set -uo pipefail
cd "$(dirname "$0")/.."

SF10="${1:-/tmp/sf10}"
OUT="${2:-dev/bench_sf10_full.json}"
# one core count for every step (ScaleUp, PremiseCheck, Bench):
# each main reads it through graft.Sessions.cpus, whose default is 4
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"

if [ ! -e "$SF10/documents.parquet" ]; then
  echo "== sweep_sf10: synthesizing $SF10 (ScaleUp 100x of sf0.1) =="
  sbt -batch "runMain graft.ScaleUp /root/testdata/sf0.1 $SF10 100" || exit 1
fi

echo "== sweep_sf10: density data premises at 100x =="
sbt -batch "runMain graft.PremiseCheck $SF10" || exit 1

echo "== sweep_sf10: full-registry bench -> $OUT =="
# 48 g driver heap: the sf10 corpus needs it (24 g default OOM'd the
# q_containment_lsh warm rep mid-sweep on the first r12 attempt —
# boxed shingle buffers across 32 executor threads; prior rounds'
# sf10 sweeps also ran at 48 g, BASELINE.md)
SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-48g}" \
  SPARK_GRAFT_SF_DIR="$SF10" \
  SPARK_GRAFT_BENCH_SEED=42 SPARK_GRAFT_BENCH_REPS=2 \
  SPARK_GRAFT_BENCH_OUT="$OUT" \
  SPARK_GRAFT_ART_DIR="$SF10/_bench_artifacts" \
  sbt -batch "runMain graft.Bench" || exit 1
echo "== sweep_sf10: DONE ($OUT) =="
