#!/usr/bin/env bash
# One-command verification: unit+property tests, DuckDB oracle parity,
# physical-plan audits. (Benchmarks are separate: perfbench/run.py,
# the gated benchmark; bench.py; tools/bench_scaling.py.)
set -euo pipefail
cd "$(dirname "$0")/.."
python -m pytest tests/ -q
# the benchmark's own tests (no Spark): an engine change that breaks an
# import or a name the benchmark uses fails here, not in a bench run
python -m pytest perfbench/test_perfbench.py -q
# TESTDATA: the directory holding the sf* tables, by default beside the
# checkout
python tools/compare_oracle.py "${TESTDATA:-../testdata}/sf0.01"
# sf0.1: its ~12.5k-row partitions exceed the default 10,000-row Arrow
# batch, so the keyed kernels' runs straddle batches
python tools/compare_oracle.py "${TESTDATA:-../testdata}/sf0.1" episodes_udtf \
  matrix_profile_discord fluss_regime halo_rolling_median halo_mp_discord
python tools/plan_audit.py
echo "ALL CHECKS PASSED"
