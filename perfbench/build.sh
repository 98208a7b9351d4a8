#!/usr/bin/env bash
# Builds the engine (src/main/scala) and the benchmark harness
# (perfbench/src) into <out>/classes with the Scala compiler that ships
# among the Spark jars, against the same jars the engine's build.sbt
# uses.
#
# Usage, from the repository root: bash perfbench/build.sh <out> <spark-jars-dir>
set -euo pipefail
out="$1"
jars="$2"
rm -rf "$out/classes"
mkdir -p "$out/classes"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out/sources.txt"
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes" -cp "$jars/*" "@$out/sources.txt"
