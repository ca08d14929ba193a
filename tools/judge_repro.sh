#!/bin/bash
# One-command verification harness (VERDICT r5 #10): reproduce the oracle
# gate and the headline bench with pinned env, in order of cost.
#
#   ./tools/judge_repro.sh gate       # oracle gate replica (~2 min)
#   ./tools/judge_repro.sh bench      # headline bench, driver contract (~6 min)
#   ./tools/judge_repro.sh dedup-big  # bench.py big-dedup leaves (minhash_dedup,
#                                     # ann_ivf_topk) in one child process
#   ./tools/judge_repro.sh all        # gate, then bench
#
# SPARK_GRAFT_CPUS defaults to the host's core count and
# RASTERKIT_DRIVER_MEM to 8g: the session's own 24g default asks for more
# heap than a 15 GB machine has, and the JVM dies under load.
# Walls on this host swing +/-40% with co-tenant load; compare min-of-3
# (the bench's own statistic), never single samples.  For per-layer
# breakdowns and interleaved before/after pairs use perfbench/run.py
# (perfbench/README.md).
set -euo pipefail
cd "$(dirname "$0")/.."

export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export RASTERKIT_DRIVER_MEM="${RASTERKIT_DRIVER_MEM:-8g}"
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

run_dedup_big() {
  echo "== big-dedup bench (30k long docs, ~2% dups; CHILD_JSON line) =="
  SPARK_GRAFT_BENCH_DEDUP_BIG=1 python bench.py --child
}

case "$mode" in
  gate) run_gate ;;
  bench) run_bench ;;
  dedup-big) run_dedup_big ;;
  all) run_gate; run_bench ;;
  *) echo "usage: $0 [gate|bench|dedup-big|all]" >&2; exit 2 ;;
esac
