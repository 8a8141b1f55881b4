#!/usr/bin/env bash
# Dump one checkout's registry evidence: the sorted bench key set, every
# query's normalized analyzed plan (PlanDump.scala), and the sha256 of the
# oracle_sql.json that graft.Verify writes.
#
#   plans/r22/run.sh <checkout> <sfDir> <outDir>
#
# <checkout> must be compiled (`sbt compile`). PlanDump is compiled against
# its classes with the Scala compiler that ships in the Spark jars, into
# <outDir>, so nothing is added to the checkout.
set -euo pipefail
tree=$(cd "$1" && pwd); sf=$2; out=$3
here=$(cd "$(dirname "$0")" && pwd)
# The Spark jars: $SPARK_HOME/jars, else those of the spark-submit on PATH.
spark_home=${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}
jars=$spark_home/jars
mkdir -p "$out/classes"
opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
    sun.security.action sun.util.calendar; do
  opens+=(--add-opens=java.base/$p=ALL-UNNAMED)
done
cp="$tree/target/scala-2.13/classes:$jars/*"
java -cp "$jars/*" scala.tools.nsc.Main -usejavacp -cp "$cp" -d "$out/classes" \
  "$here/PlanDump.scala"
run() {
  java "${opens[@]}" -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -Xmx4g -cp "$out/classes:$cp" "$@"
}
run graft.PlanDump "$sf" "$out" 2>"$out/plandump.log"
run graft.Verify "$sf" "$out/verify" 2>"$out/verify.log"
sha256sum "$out/verify/oracle_sql.json" | cut -d' ' -f1 > "$out/oracle_sql.sha256"
