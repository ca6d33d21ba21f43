#!/bin/bash
# One-command recurring sf1 DuckDB-oracle sweep (VERDICT r9 #4).
#
# The r9 manual sweep caught four real scale-regime bugs in two runs
# (simhash over-cap drops, minhash banding tail, decimal grand totals,
# containment df-cap fragility) — this script makes it a per-round gate
# instead of BASELINE.md narrative. It replays the exact r9 recipe:
#
#   1. ScaleUp 10x of sf0.1 -> $SF1 (key-shifted copies; cross-copy
#      docs are jaccard≈0.95 NEAR-dups — adversarially dense for the
#      dedup tier) — skipped when the corpus already exists.
#   2. graft.Verify $SF1 (every registered query, parquet per query).
#   3. dev/check_oracle.py in TWO passes: the main pass SKIPS (by exact
#      name) the oracles whose DuckDB plans spill tens of GB at sf1 —
#      at r9 q_dup_stats' spill filled the disk and the SHARED DuckDB
#      connection then failed every later allocation, poisoning 10
#      innocent queries. Each heavy family then re-runs in its OWN
#      DuckDB process, so a spill-kill names only itself.
#
# Usage: dev/sweep_sf1.sh [sf1Dir] [verifyOutDir]
# Expect: two "== N pass, 0 fail ==" lines; any FAIL is a real finding
# of the q_heavy_hitters class — fix the operator by construction, not
# the cap (see CLAUDE.md).
set -uo pipefail
cd "$(dirname "$0")/.."

SF1="${1:-/tmp/sf1}"
OUT="${2:-/tmp/verify_sf1}"
# one core count for every step (ScaleUp, PremiseCheck, Verify):
# each main reads it through graft.Sessions.cpus, whose default is 4
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"

# DuckDB-heavy oracles: every query carrying the exact near-dup pair or
# closure SQL (the shingle self-join chains) and the graph/markov CTE
# stacks (AS MATERIALIZED since r9, but their evaluate-once
# relations still spill GBs at sf1 row counts). q_dbscan/q_dbscan_stats
# joined r10: their recursive min-label closure emits m^2 (node, label)
# pairs per component, and ScaleUp's exact-copy embeddings merge the
# eps-blobs into one ~0.9n-core component at sf1.
HEAVY="q_dup_stats_lsh q_dup_clusters_lsh q_canonical_docs_lsh q_minhash_pairs \
q_containment_lsh q_source_overlap q_triangle_count \
q_attribution_markov q_pagerank q_dbscan q_dbscan_stats"

if [ ! -e "$SF1/documents.parquet" ]; then
  echo "== sweep_sf1: synthesizing $SF1 (ScaleUp 10x of sf0.1) =="
  sbt -batch "runMain graft.ScaleUp /root/testdata/sf0.1 $SF1 10" || exit 1
fi

echo "== sweep_sf1: density data premises (quotient occupancy, core structure) =="
# ScaleUp's exact-copy embeddings are the adversarial mass-duplication
# case the DBSCAN quotient exists for — assert the premises hold at sf1
# too, not just at the DensitySpec scale (VERDICT r10 #7)
sbt -batch "runMain graft.PremiseCheck $SF1" || exit 1

echo "== sweep_sf1: graft.Verify $SF1 -> $OUT =="
sbt -batch "runMain graft.Verify $SF1 $OUT" || exit 1

echo "== sweep_sf1: main oracle pass (heavy families skipped) =="
python3 dev/check_oracle.py "$SF1" "$OUT" "" "$(echo $HEAVY | tr ' ' ',')"
rc=$?

echo "== sweep_sf1: heavy families, one DuckDB process each =="
hfail=0
for q in $HEAVY; do
  # '=' prefix = exact name, so one heavy oracle's process can never
  # drag in another query whose name contains it (q_dbscan, q_dbscan_stats)
  python3 dev/check_oracle.py "$SF1" "$OUT" "=$q" || hfail=1
done

[ $rc -eq 0 ] && [ $hfail -eq 0 ] && echo "== sweep_sf1: ALL GREEN ==" || {
  echo "== sweep_sf1: FAILURES (see above) =="; exit 1; }
