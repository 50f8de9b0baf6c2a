#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine's main sources together
# with the harness (perfbench/src) into perfbench/.build/classes, with the
# Scala compiler that ships in the Spark distribution's jars directory
# SPARK_JARS (run.py passes the directory build.sbt compiles against).
# run.py calls this whenever a source file changed.
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
repo="$(dirname "$here")"
jars="${SPARK_JARS:?set SPARK_JARS to the Spark jars directory}"
out="$here/.build/classes"
rm -rf "$out"
mkdir -p "$out"
find "$repo/src/main/scala" "$here/src" -name '*.scala' | sort > "$here/.build/sources.txt"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -deprecation -nowarn \
  -d "$out" -classpath "$jars/*" @"$here/.build/sources.txt"
cp -r "$repo/src/main/resources/." "$out/"
