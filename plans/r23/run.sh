#!/usr/bin/env bash
# Count the Spark jobs of one-id takedown operations in one checkout.
#
#   plans/r23/run.sh <checkout> <outDir>
#
# <checkout> must be compiled (`sbt compile`). TakedownJobs is compiled
# against its classes with the Scala compiler that ships in the Spark jars,
# into <outDir>, so nothing is added to the checkout.
set -euo pipefail
tree=$(cd "$1" && pwd); out=$2
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
cp="$tree/target/scala-2.13/classes:$jars/*"
java -cp "$jars/*" scala.tools.nsc.Main -usejavacp -cp "$cp" -d "$out/classes" \
  "$here/TakedownJobs.scala"
java "${opens[@]}" -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx4g -cp "$out/classes:$cp" graft.TakedownJobs 2>"$out/takedown_jobs.log" | grep '^ROUND'
