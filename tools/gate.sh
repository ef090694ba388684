#!/usr/bin/env bash
# Standing pre-commit correctness gate: full Verify dump + DuckDB oracle
# compare at sf0.1 (default). The 10x sweep is the gate — not sf0.01 —
# because larger data splits cross-engine ties that small scales hide
# (round 4's text_quality round()-tie only appeared at sf0.1).
#
# Usage: tools/gate.sh [sfDir] [query ...]
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.1}"
shift || true
OUT="target/verify_gate_$(basename "$SF")"
# local[N] defaults to this host's cores, so the gate runs like-for-like
# with the tier-1 suite and the bench; an explicit SPARK_GRAFT_CPUS wins
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
  sbt "runMain graft.Verify $SF $OUT $*"
python3 tools/check.py "$SF" "$OUT" "$@"
