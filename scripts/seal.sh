#!/bin/bash
# End-of-round seal (r15 verdict #3/#4): ONE full `sbt -batch test`
# run at the driver's heap — per-suite testOnly reports let a stale
# green PlanShapeSpec.xml stand in for verification in r15 while the
# full run OOM'd — plus the correctness dump, the sf0.1 bench, and
# BOTH ratchets (floor + raw). Every gate must exit 0; logs land in
# target/seal/ so the receipts are auditable.
set -uo pipefail
cd /root/repo
mkdir -p target/seal
fail=0

step() {
  echo "=== seal: $1"
  shift
  local log="target/seal/$1"
  shift
  if "$@" > "$log" 2>&1; then
    echo "    OK ($log)"
  else
    echo "    FAIL rc=$? ($log)"; tail -5 "$log"; fail=1
  fi
}

step "full test suite (one run, 8g)" test.log \
  env SBT_OPTS="-Xmx8g" sbt -batch test
step "verify dump sf0.01" verify.log \
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 target/seal/verify_out"
step "oracle compare" compare.log \
  python3 scripts/compare.py target/seal/verify_out /root/testdata/sf0.01
step "bench sf0.1" bench.log \
  env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench"
# Bench keys its full dump by (sf, cores) and logs the path it wrote;
# the ratchet must read THAT file, not whichever dump is committed.
bench_dump=$(sed -n 's/.*\[bench\] full dump: //p' target/seal/bench.log | tail -1)
step "RAW bench ratchet" bench_check.log \
  python3 scripts/bench_check.py "${bench_dump:-missing-full-dump.json}"
step "SCALE.md placeholder guard + 4x floor ratchet (skipped without a 4x receipt)" scale_check.log \
  bash -c 'test ! -f target/scale/results/4x.json || python3 scripts/scale_check.py'

echo
if [ "$fail" = 0 ]; then echo "SEAL: all gates green"; else echo "SEAL: FAILED"; fi
exit $fail
