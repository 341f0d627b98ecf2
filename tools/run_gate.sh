#!/bin/bash
# Full local gate: compile, specs, DuckDB-oracle correctness, bench.
# Usage: tools/run_gate.sh [sfDir]   (default /root/testdata/sf0.01)
# pipefail: a failed spec or oracle mismatch fails the gate even though
# its output is piped through grep/tail (the Verify line's `|| true` is
# deliberate: per-query failures there are reported by the oracle step)
set -e -o pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=$(mktemp -d /tmp/graft-gate-XXXX)
echo "== compile + specs =="
sbt -batch test | grep -E 'Tests:|FAILED'
echo "== correctness vs DuckDB oracle ($SF) =="
SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $SF $OUT" 2>&1 | grep '\[verify\]' || true
python3 tools/check_correctness.py "$SF" "$OUT" | tail -2
echo "== scale recipes vs the same dump ($SF) =="
python3 tools/check_correctness.py "$SF" "$OUT" --chunked | tail -2
echo "== bench (sf0.1) =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=32g \
  sbt -batch "runMain graft.Bench" 2>/dev/null | grep -E '^\{'
