#!/bin/bash
# Chaos harnesses for the fixture build protocol. Three scenarios:
#
#   MODE=kill       kill -9 a Verify run mid-fixture, rerun, oracle-compare
#                   (the crash-heal path; green 12/12 on round 11's tree)
#   MODE=race       two OVERLAPPED Verify JVMs on one warehouse, compare both
#                   (reproduced the round-9/10 driver-board mview reds 5/6
#                   before FixtureLock; green 6/6 with it)
#   MODE=mixed      overlapped Verify at sf0.01 + Bench at sf0.1 sharing the
#                   warehouse (different namespaces; must both stay green)
#
# Usage: MODE=race ITER=6 tools/chaos_verify.sh [queryFilter]
# queryFilter "all" runs the FULL query board (no filter). Requires a
# compiled tree (sbt compile) — and do NOT recompile while a run is in
# flight: the JVMs load classes lazily from target/, so a concurrent
# compile manifests as spurious NoClassDefFoundError crashes. Uses a
# private warehouse under /tmp/graft_chaos_wh so concurrent sessions
# don't collide.
set -u
MODE=${MODE:-race}
ITER=${ITER:-6}
FILTER=${1:-catalog_mview}
SF=${SF:-/root/testdata/sf0.01}
ADDOPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
CP="$(dirname "$0")/../target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
WH=/tmp/graft_chaos_wh
# the private warehouse reaches both mains through the one session override
CONF="spark.sql.catalog.graft=graft.catalog.GraftCatalog;spark.sql.catalog.graft.warehouse=$WH"
LOG=/tmp/graft_chaos_logs
mkdir -p $LOG
RC=0

run_verify() { # out, logfile
  local args=("$SF" "$1")
  [ "$FILTER" != "all" ] && args+=("$FILTER")
  SPARK_GRAFT_CPUS=4 SPARK_GRAFT_CONF="$CONF" java -Xmx8g $ADDOPENS \
    -cp "$CP" graft.Verify "${args[@]}" > "$2" 2>&1
}

check() { # out, logfile -> rc
  python3 "$(dirname "$0")/check.py" "$1" $SF > "$2" 2>&1
}

for i in $(seq 1 $ITER); do
  rm -rf $WH /tmp/graft_chaos_a /tmp/graft_chaos_b
  case $MODE in
    kill)
      KT=$((15 + RANDOM % 60))
      run_verify /tmp/graft_chaos_a $LOG/k${i}.log &
      P=$!; sleep $KT; kill -9 $P 2>/dev/null; wait $P 2>/dev/null
      run_verify /tmp/graft_chaos_a $LOG/k${i}b.log
      check /tmp/graft_chaos_a $LOG/kc$i.log; R=$?
      echo "kill iter $i killat=${KT}s rc=$R $(tail -1 $LOG/kc$i.log)"
      [ $R -ne 0 ] && { RC=1; grep -E "FAIL|CRASH|GONE|EMPTY" $LOG/kc$i.log; } ;;
    race)
      run_verify /tmp/graft_chaos_a $LOG/ra$i.log & PA=$!
      sleep $((RANDOM % 20))
      run_verify /tmp/graft_chaos_b $LOG/rb$i.log & PB=$!
      wait $PA; wait $PB
      check /tmp/graft_chaos_a $LOG/rca$i.log; RA=$?
      check /tmp/graft_chaos_b $LOG/rcb$i.log; RB=$?
      echo "race iter $i rcA=$RA rcB=$RB :: A: $(tail -1 $LOG/rca$i.log) B: $(tail -1 $LOG/rcb$i.log)"
      [ $((RA+RB)) -ne 0 ] && { RC=1; grep -hE "FAIL|CRASH" $LOG/rca$i.log $LOG/rcb$i.log | head -6; } ;;
    mixed)
      run_verify /tmp/graft_chaos_a $LOG/ma$i.log & PA=$!
      sleep $((RANDOM % 10))
      # "all" means no filter — Bench's SPARK_GRAFT_ONLY is a substring
      # match, so passing the literal "all" would select a near-empty
      # board and the mixed run would prove nothing
      BENCH_ONLY=""
      [ "$FILTER" != "all" ] && BENCH_ONLY="$FILTER"
      SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=8 \
        ${BENCH_ONLY:+SPARK_GRAFT_ONLY="$BENCH_ONLY"} \
        SPARK_GRAFT_CONF="$CONF" \
        java -Xmx8g $ADDOPENS -cp "$CP" graft.Bench > $LOG/mb$i.log 2>&1 & PB=$!
      wait $PA; wait $PB; RB=$?
      check /tmp/graft_chaos_a $LOG/mc$i.log; RA=$?
      echo "mixed iter $i verify_rc=$RA bench_rc=$RB :: $(tail -1 $LOG/mc$i.log)"
      [ $((RA+RB)) -ne 0 ] && { RC=1; grep -E "FAIL|CRASH" $LOG/mc$i.log | head -4; } ;;
  esac
done
exit $RC
