#!/usr/bin/env bash
# Full-suite gate: runs EVERY test tier (`-m ""` — the default tier plus the
# `slow` full-corpus oracle mirrors and the bench-scale sf0.1 suite) under
# the same environment as the default-tier run, and exits non-zero on any
# failure, error or collection error.  Run it from anywhere before closing a
# change:
#
#   scripts/full_suite_gate.sh
set -euo pipefail
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_LOCAL_DIRS=/tmp/spark-local
exec python -m pytest tests/ -m "" -q --continue-on-collection-errors -p no:cacheprovider
