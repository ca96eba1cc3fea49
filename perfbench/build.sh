#!/usr/bin/env bash
# Compile the engine (src/main/scala) and the benchmark harness
# (perfbench/src) into one class directory with the Spark jars the
# engine's own build uses (/opt/spark/jars). Run from the repo root:
#   bash perfbench/build.sh <out_dir>
set -euo pipefail
out="$1"
jars=/opt/spark/jars
rm -rf "$out"
mkdir -p "$out"
java -Xss8m -Xmx2g -XX:-UsePerfData \
  -cp "$jars/scala-compiler-2.13.17.jar:$jars/scala-library-2.13.17.jar:$jars/scala-reflect-2.13.17.jar" \
  scala.tools.nsc.Main -nowarn -d "$out" -classpath "$jars/*" \
  $(find src/main/scala perfbench/src -name '*.scala' | sort)
