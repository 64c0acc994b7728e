#!/bin/bash
# Round-close measurement chain: run on a QUIET host, in this order
# (bench first so the driver-comparable number exists even if the
# session is cut; the 3-decade probe last because it is the longest).
# Every artifact carries the hostprobe fixture stamps.
set -x
cd "$(dirname "$0")/.."
R="${1:?usage: round_close_chain.sh r10}"

# Each artifact is written to <name>.tmp and moved into place only when
# its command exits 0, so a failed or interrupted step never leaves a
# truncated artifact behind (a kept .tmp is the failed run's output).
# driver_sim is the exception: it exits 1 on any red parity row, after
# writing its complete ledger through its own tmp + rename, so it writes
# PARITY_<R>.json directly and a red ledger is still the artifact.
# keep RC ARTIFACT
keep() {
  [ "$1" -eq 0 ] && mv "$2.tmp" "$2"
  echo "$2 rc=$1"
}

SPARK_GRAFT_BENCH_OUT=BENCH_LOCAL_${R}.json.tmp \
  python3 bench.py > /tmp/bench_${R}_stdout.json 2>/tmp/bench_${R}.err
keep $? BENCH_LOCAL_${R}.json

python3 scripts/dump_plans.py --hashes > PLANSHASH_${R}.json.tmp \
  2>/tmp/planshash_${R}.err
keep $? PLANSHASH_${R}.json

python3 scripts/driver_sim.py /root/testdata/sf0.01 \
  --emit-json PARITY_${R}.json > /tmp/parity_${R}.log 2>&1
echo "PARITY_${R}.json rc=$?"

python3 scripts/recall_report.py --deep > RECALL_${R}.json.tmp \
  2>/tmp/recall_${R}.err
keep $? RECALL_${R}.json

SPARK_GRAFT_PROBE_RUNS=1 SPARK_GRAFT_PROBE_SCALES="sf0.1:/root/testdata/sf0.1:1,sf1_probe:/root/repo/scale_probe/sf1:10,sf10_probe:/root/repo/scale_probe/sf10:100" \
  python3 scripts/scale_probe.py > SCALEPROBE_${R}_3pt.json.tmp \
  2>/tmp/scale_probe_${R}.err
keep $? SCALEPROBE_${R}_3pt.json

# Deep test tier (round-11 verdict #2): the default `pytest tests/` run
# is the driver-facing fast tier; the endurance soaks run once per
# round here so coverage never depends on the driver's capture window.
SPARK_GRAFT_DEEP_TESTS=1 python3 -m pytest tests/test_versioned_lake.py -q \
  > /tmp/deep_tests_${R}.log 2>&1
echo "DEEPTESTS rc=$?"
echo "CHAIN DONE"
