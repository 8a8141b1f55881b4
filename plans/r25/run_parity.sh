#!/usr/bin/env bash
# Parity of the derived %arc config parser with the hand-written one it
# replaced.
#
#   plans/r25/run_parity.sh <parentCommit> <workDir>
#
# 1. Copies <parentCommit> into <workDir>/parent and makes its
#    PipelineConfig.parseWithPlugins append every (text, environment,
#    params) it is given to <workDir>/records.jsonl, then runs the eight
#    suites that parse config cells.
# 2. Compiles Parity.scala, together with the parent's PipelineConfig
#    renamed OldPipelineConfig, against this checkout's compiled classes
#    (`sbt compile` first), and runs it on the records plus every stage
#    snippet of Completions.static. It writes <workDir>/parity.txt.
set -euo pipefail
parent=$1; work=$(mkdir -p "$2" && cd "$2" && pwd)
tree=$(cd "$(dirname "$0")/../.." && pwd)
here=$(cd "$(dirname "$0")" && pwd)
spark_home=${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}
jars=$spark_home/jars

rm -rf "$work/parent" "$work/records.jsonl" && mkdir -p "$work/parent"
git -C "$tree" archive "$parent" | tar -x -C "$work/parent"
python3 - "$work" <<'EOF'
import sys
work = sys.argv[1]
p = f"{work}/parent/src/main/scala/graft/core/PipelineConfig.scala"
s = open(p).read()
anchor = "    val root = parseDoc(json, params)\n    (parseValue(root, environment, params)"
record = f'''    PipelineConfig.synchronized {{
      val w = new java.io.FileWriter("{work}/records.jsonl", true)
      try w.write(JsonMethods.compact(JsonMethods.render(JObject("text" -> JString(json),
        "environment" -> JString(environment),
        "params" -> JObject(params.toList.map {{ case (k, v) => k -> JString(v) }})))) + "\\n")
      finally w.close()
    }}
'''
assert s.count(anchor) == 1
open(p, "w").write(s.replace(anchor, record + anchor))
EOF
(cd "$work/parent" && SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-4g} sbt --batch "testOnly graft.ConfigSpec \
  graft.CleaningSpec graft.CompletionsSpec graft.InterpreterSpec graft.LayoutSpec \
  graft.LifecyclePluginSpec graft.LoadsSpec graft.PlanSpec") > "$work/record.log" 2>&1

mkdir -p "$work/harness/src" "$work/harness/classes"
git -C "$tree" show "$parent:src/main/scala/graft/core/PipelineConfig.scala" |
  sed -e 's/^object PipelineConfig {/object OldPipelineConfig {/' > "$work/harness/src/OldPipelineConfig.scala"
cp="$tree/target/scala-2.13/classes:$jars/*"
java -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn -cp "$cp" -d "$work/harness/classes" \
  "$work/harness/src/OldPipelineConfig.scala" "$here/Parity.scala"
java -Xmx2g -cp "$work/harness/classes:$cp" graft.core.Parity "$work/records.jsonl" "$work/parity.txt"
