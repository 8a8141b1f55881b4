#!/usr/bin/env bash
# Spark jobs and wall time of the store probes and ingests in one checkout.
#
#   plans/r24/run.sh <checkout> <outDir> jobs [rounds]
#   plans/r24/run.sh <checkout> <outDir> bounds <size,size,...> [reps]
#
# <checkout> must be compiled (`sbt compile`). StoreProbes.scala and the
# benchmark's own generator (perfbench/src/graft/perfbench/Gen.scala) are
# compiled against its classes with the Scala compiler in the Spark jars,
# into <outDir>, so nothing is added to the checkout. Classes in
# $PREPEND_CP (if set) go before the checkout's on the classpath.
set -euo pipefail
tree=$(cd "$1" && pwd); out=$2; shift 2
here=$(cd "$(dirname "$0")" && pwd)
spark_home=${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}
jars=$spark_home/jars
mkdir -p "$out/classes"
opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
    sun.security.action sun.util.calendar; do
  opens+=(--add-opens=java.base/$p=ALL-UNNAMED)
done
cp="${PREPEND_CP:+$PREPEND_CP:}$tree/target/scala-2.13/classes:$jars/*"
java -cp "$jars/*" scala.tools.nsc.Main -usejavacp -cp "$cp" -d "$out/classes" \
  "$here/StoreProbes.scala" "$here/../../perfbench/src/graft/perfbench/Gen.scala"
java "${opens[@]}" -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx4g -cp "$out/classes:$cp" graft.StoreProbes "$@" 2>"$out/store_probes.log" \
  | grep -E '^(OP|BOUND)'
