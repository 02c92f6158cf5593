#!/bin/bash
# Interleaved frozen-classes A/B (round-8 method, round-13 verdict item #3):
# alternate full single-shot bench runs of two frozen class trees so machine
# drift hits both arms equally. Usage:
#   tools/run_ab.sh <classesA> <classesB> <runsPerArm> <outPrefix>
# Emits <outPrefix>_{a,b}_<i>.json ; compare with tools/ab_compare.py.
# Cores: SPARK_GRAFT_CPUS if set, else nproc. Jars: $SPARK_HOME/jars.
# SPARK_GRAFT_BENCH_ONLY (a comma-separated row list) and SPARK_GRAFT_SF_DIR
# (graft.Bench's default: sf0.1) pass through.
set -e
A="$1"; B="$2"; N="${3:-3}"; OUT="${4:-/tmp/ab}"
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
JARS="${SPARK_HOME:?SPARK_HOME must name the Spark install}/jars"
JOPTS="--add-opens=java.base/java.lang=ALL-UNNAMED \
--add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
--add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
--add-opens=java.base/java.io=ALL-UNNAMED \
--add-opens=java.base/java.net=ALL-UNNAMED \
--add-opens=java.base/java.nio=ALL-UNNAMED \
--add-opens=java.base/java.util=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
--add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
--add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
--add-opens=java.base/sun.security.action=ALL-UNNAMED \
--add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
-Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx8g"
run() { # $1 classes, $2 out
  SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_GRAFT_BENCH_REPS=1 SPARK_GRAFT_BENCH_WARMUP=0 \
  SPARK_GRAFT_BENCH_OUT="$2" \
  java $JOPTS -cp "$1:$JARS/*" graft.Bench > /dev/null 2>"$2.err" || \
    echo "run $2 exited nonzero (see $2.err)"
}
for i in $(seq 1 "$N"); do
  echo "[ab] round $i arm A ($A)"; run "$A" "${OUT}_a_$i.json"
  echo "[ab] round $i arm B ($B)"; run "$B" "${OUT}_b_$i.json"
done
echo "[ab] done"
