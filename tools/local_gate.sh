#!/bin/bash
# Local replica of everything the driver + judge check, in one command:
#
#   bash tools/local_gate.sh [sfDir]
#
#   1. sbt test            — all ScalaTest suites; fails unless sbt's
#                            summary names exactly the expected cancelled
#                            tests (3 reference golden differentials
#                            without /root/reference/src/main, 0 with it),
#                            since sbt exits 0 on a cancel
#   2. Verify + DuckDB     — full-registry oracle gate (tools/check_oracle.py,
#                            incl. the dtype gate + pandas-mirror hash)
#   3. plan drift          — fresh DumpPlans vs committed PLANS.md
#                            (tools/plan_drift.py)
#   4. mrbench compile     — the benchmark harness compiled together with
#                            src/main/scala (the root build never compiles
#                            it, so an engine change could break it unseen);
#                            needs SPARK_HOME
#
# Exit nonzero on the first failing stage. Run before every round-closing
# commit; stages 2–3 alone take ~4 min at sf0.01.
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
: "${SPARK_HOME:?SPARK_HOME must name the Spark installation (stage 4)}"

echo "=== [1/4] sbt test ==="
mkdir -p target
set -o pipefail
sbt -batch test | tee target/local_gate_test.log
# sbt exits 0 on cancelled tests (and its JUnit XML counts them as
# passed), so hold the summary's cancel count to the expected one
if [ -d /root/reference/src/main ]; then want_canceled=0; else want_canceled=3
  echo "note: /root/reference/src/main is absent;" \
    "the three reference golden differentials (MRJobSpec x2, CompatSpec x1) are cancelled"
fi
canceled=$(sed -n 's/.*Tests: succeeded [0-9]*, failed [0-9]*, canceled \([0-9]*\),.*/\1/p' \
  target/local_gate_test.log | tail -1)
if [ "$canceled" != "$want_canceled" ]; then
  echo "FAIL: sbt reported ${canceled:-no} cancelled tests, expected $want_canceled" >&2
  exit 1
fi

echo "=== [2/4] oracle gate at $SF ==="
rm -rf /tmp/gate_verify
sbt -batch "runMain graft.Verify $SF /tmp/gate_verify"
python3 tools/check_oracle.py "$SF" /tmp/gate_verify

echo "=== [3/4] plan drift vs committed PLANS.md ==="
sbt -batch "runMain graft.DumpPlans /tmp/plans_fresh.md"
python3 tools/plan_drift.py PLANS.md /tmp/plans_fresh.md

echo "=== [4/4] mrbench harness compile ==="
(cd mrbench && sbt -batch compile)

echo "=== local gate green ==="
