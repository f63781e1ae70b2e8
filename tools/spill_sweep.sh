#!/usr/bin/env bash
# Forced-spill correctness sweep (VERDICT r10 "Next round" #4): run the
# full inventory at sf0.01 through REAL executor JVMs sized so the
# sort/shuffle/aggregate paths must spill (tiny executors + low
# spark.memory.fraction + few, fat shuffle partitions), then row-multiset
# compare against an ample-memory local dump:
#
#   sbt -batch compile package
#   tools/run_verify.sh /root/testdata/sf0.01 /tmp/spill_local   # control
#   tools/spill_sweep.sh /root/testdata/sf0.01 /tmp/spill_tiny
#   python3 tools/check_determinism.py /tmp/spill_local /tmp/spill_tiny
#
# The [graft-metrics] line Verify prints last is the evidence that spills
# actually happened (memoryBytesSpilled > 0), not merely that memory was
# configured small.
set -euo pipefail
HERE="$(cd "$(dirname "$0")" && pwd)"
SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/spill_tiny}"
shift 2 2>/dev/null || true

export SPARK_GRAFT_MASTER="${SPARK_GRAFT_MASTER:-local-cluster[2,8,1200]}"
# memory.fraction 0.1 of a 1.2 GiB executor leaves ~100 MiB of execution
# memory shared by 8 task threads; shuffle.partitions 4 makes each task's
# hash/sort state several times that. Both knobs exist ONLY to push the
# runs through ExternalSorter/UnsafeExternalSorter serialization.
export SPARK_GRAFT_CONF="${SPARK_GRAFT_CONF:-spark.memory.fraction=0.1;spark.sql.shuffle.partitions=4}"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-8g}"

exec "$HERE/run_verify.sh" "$SF" "$OUT" "$@"
