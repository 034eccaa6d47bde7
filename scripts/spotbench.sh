#!/bin/bash
# Idle spot-bench for adjudicating a suspect driver capture: re-times the
# named queries on an idle host and prints the per-query JSON lines.
#
# Usage: scripts/spotbench.sh [sf_dir] query [query...]
#   scripts/spotbench.sh cc20_ktruss dd25_cosine_pairs
#   scripts/spotbench.sh /root/testdata/sf0.1 cc20_ktruss
#
# Reads the clean bands in BASELINE.md for comparison. Two caveats from
# the measured noise signature (memory: graft-build-pitfalls):
#  - the FIRST sf0.1 touch of a session reads ~1.2x slow uniformly (cold
#    page cache for the parquet + cold /tmp index/state artifacts) — run
#    twice and trust run 2, or warm with a throwaway query first;
#  - do NOT recompile target/ while this runs (mid-run class reloads mix
#    versions and the compile steals CPU from the timed run).
# Self-adjudication without a re-run: read the `work` lines printed below
# (per query: jobs, tasks, shuffle records, spill, GC, lease acquisitions
# and blocked ms) — the same jobs/tasks/shuffle records with inflated wall
# = host contention, not code.
set -e
cd "$(dirname "$0")/.."
SF_DIR=/root/testdata/sf0.1
if [ -d "${1:-}" ]; then SF_DIR="$1"; shift; fi
if [ $# -eq 0 ]; then
  echo "usage: scripts/spotbench.sh [sf_dir] query [query...]" >&2
  exit 2
fi
if [ ! -f /tmp/g/cp.txt ]; then
  mkdir -p /tmp/g
  sbt -batch "export Runtime/fullClasspath" | grep -v '^\[' | tail -1 > /tmp/g/cp.txt
fi
SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
  exec scripts/run.sh graft.Bench "$@"
