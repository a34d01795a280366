#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main) together
# with the benchmark sources (perfbench/src) into one class directory.
#
#   bash perfbench/build.sh <out-dir>
#
# Run from the repository root. Needs a JDK and a Spark 4 distribution
# (SPARK_HOME) whose jars include the Scala 2.13 compiler; nothing is
# downloaded.
set -euo pipefail
out="${1:?usage: build.sh <out-dir>}"
spark_home="${SPARK_HOME:?set SPARK_HOME to a Spark 4 distribution}"
cp="$spark_home/jars/*"
[ -d src/main/scala ] || { echo "build.sh: src/main/scala not found (run from the repository root)" >&2; exit 2; }
ls "$spark_home"/jars/scala-compiler-*.jar >/dev/null 2>&1 || {
  echo "build.sh: no scala-compiler jar under $spark_home/jars" >&2; exit 2; }
rm -rf "$out.tmp"
trap 'rm -rf "$out.tmp"' ERR
mkdir -p "$out.tmp/classes"
find src/main/scala perfbench/src -name '*.scala' > "$out.tmp/sources.txt"
java -XX:-UsePerfData -Xss16m -Xmx2g -cp "$cp" scala.tools.nsc.Main -nowarn -deprecation:false \
  -d "$out.tmp/classes" -classpath "$cp" @"$out.tmp/sources.txt"
if [ -d src/main/resources ]; then cp -r src/main/resources/. "$out.tmp/classes/"; fi
rm -rf "$out"
mv "$out.tmp" "$out"
