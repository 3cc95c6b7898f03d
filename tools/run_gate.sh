#!/usr/bin/env bash
# Full local gate: tests + verify-vs-DuckDB at the given SF (default the
# driver's sf0.01) + rows-only determinism double-run + bench. Mirrors
# what the round driver runs, plus the determinism insurance the driver
# cannot give rows-only queries.
#
# Every run leaves a committed-able, driver-independent self-record,
# named by GRAFT_ROUND (default: the short commit SHA, so a bare run never
# overwrites an earlier round's committed record):
#   CORRECTNESS_SELF_${GRAFT_ROUND}.json  (per-query status/rows/hashes/s)
#   verify_${GRAFT_ROUND}.stderr.log      (raw Verify log)
# — rounds 5 and 7 ended with an empty driver-side CORRECTNESS file; the
# self-record makes any future empty artifact attributable to the
# handoff, not the engine.
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-sf0.01}"
ROUND="${GRAFT_ROUND:-$(git rev-parse --short HEAD)}"
sbt -batch test
sbt -batch "runMain graft.Verify /root/testdata/$SF /tmp/gate_$SF" \
  2> >(tee "verify_${ROUND}.stderr.log" >&2)
python3 tools/check_correctness.py "/tmp/gate_$SF" "/root/testdata/$SF" \
  "CORRECTNESS_SELF_${ROUND}.json"
# optional: per-oracle DuckDB wall-time budget check (the round-9
# driver-timeout lesson: the oracle replay, not Verify, is the leg that
# can blow the driver's budget — set GRAFT_PROFILE_ORACLES=1 after any
# oracle change)
if [ "${GRAFT_PROFILE_ORACLES:-0}" = "1" ]; then
  python3 tools/profile_oracles.py "/tmp/gate_$SF" "/root/testdata/$SF" 10
fi
# second independent run: rows-only queries must be bit-stable run-to-run
sbt -batch "runMain graft.Verify /root/testdata/$SF /tmp/gate_${SF}_b"
PYTHONPATH=tools python3 tools/check_determinism.py "/tmp/gate_$SF" "/tmp/gate_${SF}_b"
env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  sbt -batch "runMain graft.Bench" | { grep metric || true; }
