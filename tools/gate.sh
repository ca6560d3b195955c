#!/bin/bash
# The serialized close-of-round gate chain — ONE sbt at a time, in the
# order the driver replays it. Checked in (r13) so the sequence is part
# of the repo contract, not a /tmp artifact re-typed each round.
#
# The load-bearing ordering rule (r12 lesson): the bench runs over the
# FULL SparkEntry.queries surface at bench conditions (sf0.1, 32
# threads) as the LAST gate, so a key landed after an earlier sweep
# cannot ship unprobed. Its runner materializes every key's full answer
# and counts block-put WARNs (`Block rdd_N_M already exists`) per key;
# the bench step fails when any key threw (`nfailed`) or logged one
# (`nblockput`). Do NOT edit src/ while this runs: the t2/t32 Verify
# dumps must come from the same code or detcompare false-fails.
#
# r14 hardening (r13 advice item): each step's exit status is
# accumulated and the script exits nonzero if ANY gate failed, so
# automation treating gate.sh as pass/fail actually fails on red; a
# broken `sbt test` aborts immediately (later gates are meaningless on
# a build that doesn't pass its own suite). Every bench JSON the chain
# produces is stashed under bench_runs/<tag>/ (r13 verdict item 5), so
# cross-run WARN/steady comparisons stay reproducible without prose
# archaeology.
#
# Usage: tools/gate.sh <tag>        e.g. tools/gate.sh r14
set -x
TAG=${1:?usage: tools/gate.sh <tag>}
cd "$(dirname "$0")/.."
FAIL=0
step() { # step <name> <exitcode>: log + accumulate
  echo "$1 exit: $2"
  FAIL=$((FAIL || $2))
}
echo "=== SBT TEST ==="
sbt -batch test > /tmp/${TAG}_sbttest.log 2>&1
rc=$?; step "sbt test" $rc
if [ $rc -ne 0 ]; then
  echo "sbt test FAILED — aborting gate chain (later gates are meaningless)"
  exit 1
fi
echo "=== VERIFY CPUS=32 ==="
SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_${TAG}_t32" > /tmp/${TAG}_verify32.log 2>&1
step "verify32" $?
echo "=== VERIFY CPUS=2 ==="
SPARK_GRAFT_CPUS=2 sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_${TAG}_t2" > /tmp/${TAG}_verify2.log 2>&1
step "verify2" $?
echo "=== SELFCHECK ==="
python3 tools/selfcheck.py /tmp/verify_${TAG}_t32 /root/testdata/sf0.01 > /tmp/${TAG}_selfcheck.log 2>&1
step "selfcheck" $?
echo "=== DETCOMPARE (strict) ==="
python3 tools/detcompare.py /tmp/verify_${TAG}_t2 /tmp/verify_${TAG}_t32 > /tmp/${TAG}_detcompare.log 2>&1
step "detcompare" $?
echo "=== SMOKE ==="
sbt -batch 'runMain graft.tools.Smoke' > /tmp/${TAG}_smoke.log 2>&1
step "smoke" $?
echo "=== PIPELINE ==="
# the pipeline benchmark's own tests, then one short pipeline-2k run:
# its output checks (row counts, gold idempotence, 25 SUCCESS audit
# rows per full run and 6 per gold rebuild) pass only when the last
# line reports "correct": true
python3 -m unittest discover -s perfbench/tests > /tmp/${TAG}_pipeline.log 2>&1
rc=$?
python3 perfbench/run.py --workload pipeline-2k --seed 11 --seconds 1 --trace 0 >> /tmp/${TAG}_pipeline.log 2>&1
tail -n 1 /tmp/${TAG}_pipeline.log | python3 -c 'import json, sys
sys.exit(0 if json.loads(sys.stdin.read()).get("correct") is True else 1)' || rc=1
step "pipeline" $rc
echo "=== BENCH ==="
mkdir -p bench_runs/${TAG}
N=$(ls bench_runs/${TAG}/ 2>/dev/null | grep -c '^run')
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 sbt -batch 'runMain graft.Bench' > /tmp/${TAG}_bench.log 2>&1
rc=$?
# Bench keeps its JSON as the last stdout line and exits 0 on failed
# keys, so the gate reads the counts from the map it persisted
[ $rc -eq 0 ] && python3 -c 'import json, sys
d = json.load(open("BENCH_LATEST.json"))
print("nfailed", d["nfailed"], "nblockput", d["nblockput"], d["blockput"])
sys.exit(1 if d["nfailed"] or d["nblockput"] else 0)'
step "bench" $?
# stash the run map under the round tag so a later close-protocol bench
# of the same tag lands as run2/run3... instead of overwriting run1
cp BENCH_LATEST.json bench_runs/${TAG}/run$((N + 1)).json
echo "ALL DONE (FAIL=$FAIL)"
exit $FAIL
