#!/usr/bin/env bash
# sf1 scale tier (builder-side tooling): tile sf0.1 10x with
# graft.tools.GenScale, then time a focused gate list with graft.Time.
# Scale claims in OPTIMIZATION_r*.md reproduce with this runner instead
# of an ad-hoc session — r17's best evidence (dql_groupby_agg 10 -> 5.1 s
# at sf1) came from exactly this flow, un-committed.
#
# Usage: tools/sf1_tier.sh [gate ...]
#   SRC  source tier          (default /root/testdata/sf0.1)
#   DST  generated sf1 dir    (default /tmp/graft_sf1; kept across runs,
#        and only ever created whole: GenScale writes to $DST.partial,
#        which is moved into place once it exits 0)
#   REPS graft.Time reps/gate (default 4 — report the min, the host is noisy)
set -euo pipefail
SRC=${SRC:-/root/testdata/sf0.1}
DST=${DST:-/tmp/graft_sf1}
REPS=${REPS:-4}
# default focus list: the most expensive scored gates of the r17/r18
# driver runs (write-/state-bound and iterative families represented)
GATES=${*:-sort_first_per_parent stream_dedup stream_minhash_dedup \
  dql_level_agg dql_groupby_agg dql_json_nested multimodal_image_decode \
  bulk_load_bucketed stream_ingest_nquads recurse_chain}
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32}
if [ ! -d "$DST" ]; then
  rm -rf "$DST.partial"
  sbt -batch "runMain graft.tools.GenScale $SRC $DST.partial 10"
  mv "$DST.partial" "$DST"
fi
sbt -batch "runMain graft.Time $DST $REPS $GATES"
