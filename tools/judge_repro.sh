#!/bin/bash
# One-command verification harness (VERDICT r5 #10): reproduce the oracle
# gate and the headline bench with pinned env, in order of cost.
#
#   ./tools/judge_repro.sh gate       # oracle gate replica (~2 min)
#   ./tools/judge_repro.sh bench      # headline bench, driver contract (~6 min)
#   ./tools/judge_repro.sh all
#
# Walls on this host swing +/-40% with co-tenant load; compare min-of-3
# (the bench's own statistic), never single samples.  For per-layer
# breakdowns and interleaved before/after pairs use perfbench/run.py
# (perfbench/README.md).
set -euo pipefail
cd "$(dirname "$0")/.."

export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"
export OMP_NUM_THREADS=1 OPENBLAS_NUM_THREADS=1 MKL_NUM_THREADS=1

mode="${1:-all}"

run_gate() {
  echo "== oracle gate replica (queries() vs DuckDB oracle, sf0.01) =="
  ORACLE_SF_DIR=/root/testdata/sf0.01 \
    python -m pytest tests/test_entry_oracle.py -q
}

run_bench() {
  echo "== headline bench (driver contract: one JSON line) =="
  python bench.py
}

case "$mode" in
  gate) run_gate ;;
  bench) run_bench ;;
  all) run_gate; run_bench ;;
  *) echo "usage: $0 [gate|bench|all]" >&2; exit 2 ;;
esac
