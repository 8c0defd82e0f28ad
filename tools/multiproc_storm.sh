#!/bin/bash
# MULTI-PROCESS commit storm — the cross-JVM CAS contention ritual
# (round-14 verdict item 6). LogStoreContractSpec races writers as
# threads in ONE JVM; this script races them as separate PROCESSES
# (own SparkSession, own FileSystem instance, one table), which is the
# only shape that can catch a commit point accidentally synchronized
# by in-process state. Roles and the replay-to-model verification live
# in src/main/scala/graft/MultiProcStorm.scala.
#
# Usage: tools/multiproc_storm.sh [writers] [appends-per-writer]
set -euo pipefail
cd "$(dirname "$0")/.."

WRITERS="${1:-3}"
PER_WRITER="${2:-6}"
CHURNERS=2
PER_CHURNER=4

# offline build defaults (the same as the Tier-1 test command); a
# caller's own COURSIER_MODE / SBT_OPTS win
export COURSIER_MODE="${COURSIER_MODE:-offline}"
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
echo "[storm] compiling…"
if ! BUILD_LOG="$(sbt -batch compile 2>&1)"; then
  echo "$BUILD_LOG"
  echo "[storm] FAILED: compile"; exit 1
fi

CP="target/scala-2.13/classes"
for j in /opt/spark/jars/*.jar; do CP="$CP:$j"; done

WORK="$(mktemp -d /tmp/graft_storm_XXXXXX)"
LAKE="$WORK/lake"
trap 'rm -rf "$WORK"' EXIT

run() { java -XX:+IgnoreUnrecognizedVMOptions --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  -Xmx2g -cp "$CP" graft.MultiProcStorm "$@"; }

run setup "$LAKE"

echo "[storm] launching $WRITERS writer JVMs + $CHURNERS churner JVMs + 1 merger JVM…"
PIDS=()
for i in $(seq 1 "$WRITERS"); do
  run writer "$LAKE" "$i" "$PER_WRITER" & PIDS+=($!)
done
for i in $(seq 1 "$CHURNERS"); do
  run churner "$LAKE" "$i" "$PER_CHURNER" & PIDS+=($!)
done
sleep 2   # let main start advancing so the merge must truly rebase
run merger "$LAKE" & PIDS+=($!)

FAIL=0
for p in "${PIDS[@]}"; do wait "$p" || FAIL=1; done
if [ "$FAIL" -ne 0 ]; then
  echo "[storm] FAILED: a role exited non-zero"; exit 1
fi

run verify "$LAKE" "$WRITERS" "$PER_WRITER" "$CHURNERS" "$PER_CHURNER"

# ---- fence-violation leg: a stale-code writer (no assertUnfenced in
# its code path) commits through a LIVE fence from another JVM while
# the merge is held between adoption and sync — the merge's sync CAS
# must fail LOUDLY with the re-fork guidance (merger_held exits 0 only
# on exactly that), main's adoption must stand, and the branch must
# stay fenced (verify_violation).
echo "[storm] fence-violation leg…"
LAKE2="$WORK/lake2"
run setup "$LAKE2"
run violator "$LAKE2" & VPID=$!
for i in $(seq 1 120); do [ -f "$LAKE2.violator_ready" ] && break; sleep 1; done
[ -f "$LAKE2.violator_ready" ] || { echo "[storm] FAILED: violator never became ready"; exit 1; }
( export GRAFT_MERGE_SYNC_HOLD_MS=6000; run merger_held "$LAKE2" ) \
  || { echo "[storm] FAILED: violation leg (merger_held)"; exit 1; }
wait "$VPID" || { echo "[storm] FAILED: violator exited non-zero"; exit 1; }
run verify_violation "$LAKE2"

# ---- vacuum-under-transaction leg: a writeAll writer and a PLAIN
# default-fence vacuum (keepLast=1, the operator who has never heard
# of families) race from separate JVMs against one (fact, state)
# family. The vacuumer also family-reads in its loop: a reclaimed
# in-flight leg (the round-16 version-file age-fence fix) would break
# a read or a retained cut and fail the gate.
echo "[storm] vacuum-under-transaction leg…"
WORK3="$WORK/txnfam"
mkdir -p "$WORK3"
run txn_setup "$WORK3"
run txn_writer "$WORK3" 8 & TW=$!
run txn_vacuumer "$WORK3" 200 & TV=$!
TFAIL=0
wait "$TW" || TFAIL=1
wait "$TV" || TFAIL=1
if [ "$TFAIL" -ne 0 ]; then
  echo "[storm] FAILED: vacuum-under-transaction leg"; exit 1
fi
run txn_verify "$WORK3" 8
echo "[storm] PASS"
