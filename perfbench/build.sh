#!/usr/bin/env bash
# Build file of the benchmark package: compiles the library (src/main) and
# the harness (perfbench/scala) with the Scala compiler that ships in the
# Spark distribution, into one class directory.
#
#   bash perfbench/build.sh [OUT_DIR]     (run from the repository root)
#
# OUT_DIR defaults to .bench_build/perfbench. Spark is found through
# SPARK_HOME, else /opt/spark (the jars build.sbt also compiles against).
set -euo pipefail
out="${1:-.bench_build/perfbench}"
jars="${SPARK_HOME:-/opt/spark}/jars"
[ -d src/main/scala ] || { echo "build.sh: src/main/scala not found; run from the repository root" >&2; exit 2; }
[ -d "$jars" ] || { echo "build.sh: no Spark jars at $jars" >&2; exit 2; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp/classes"
find src/main/scala perfbench/scala -name '*.scala' | sort > "$out.tmp/sources.txt"
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$out.tmp/classes" "@$out.tmp/sources.txt"
cp -R src/main/resources/. "$out.tmp/classes/"
rm -rf "$out"
mv "$out.tmp" "$out"
