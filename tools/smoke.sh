#!/usr/bin/env bash
# Pre-commit smoke: catches registry-init crashes and oracle drift in
# ~2 min. Run before EVERY end-of-round (or milestone) commit.
#
#   tools/smoke.sh            # CoverageAuditSpec + sf0.001 Verify+compare
#   tools/smoke.sh full       # also sf0.01 Verify+compare (the driver's SF)
#
# Rationale (round-12 postmortem): an object-init NPE in the query
# registry zeroed an entire round's correctness and bench artifacts.
# ANY of the steps below would have caught it in under two minutes.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== [1/3] registry-touch + coverage audit (seconds) =="
# FQCN must be exact: testOnly with an unmatched name runs ZERO tests
# and still exits 0 (observed live — the original graft.CoverageAuditSpec
# spelling silently skipped this step), so also refuse an empty run.
audit=$(sbt -batch "testOnly graft.queries.CoverageAuditSpec" 2>&1 | tail -3)
echo "$audit"
if echo "$audit" | grep -q "Passed: Total 0"; then
  echo "SMOKE RED: coverage audit matched no tests (renamed/moved spec?)"
  exit 1
fi

echo "== [2/3] Verify dump @ sf0.001 =="
out=$(mktemp -d /tmp/smoke001.XXXX)
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}" \
  sbt -batch "runMain graft.Verify /root/testdata/sf0.001 $out" 2>&1 | tail -2

echo "== [3/3] DuckDB compare @ sf0.001 =="
python3 tools/compare.py /root/testdata/sf0.001 "$out"
rm -rf "$out"

if [[ "${1:-}" == "full" ]]; then
  echo "== [full] Verify + compare @ sf0.01 (the driver's gate SF) =="
  out=$(mktemp -d /tmp/smoke01.XXXX)
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}" \
    sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $out" 2>&1 | tail -2
  python3 tools/compare.py /root/testdata/sf0.01 "$out"
  rm -rf "$out"
fi
echo "SMOKE GREEN"
