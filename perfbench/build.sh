#!/usr/bin/env bash
# Build file of the benchmark harness: compiles the program's main sources
# (src/main/scala) together with the harness (perfbench/harness) into one
# class directory, with the Scala compiler and Spark jars of the directory
# SPARK_JARS names (run.py passes the one build.sbt names). The program's
# build.sbt is not involved.
#
# Usage: SPARK_JARS=<jar dir> bash perfbench/build.sh <classes-dir>
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="$1"
jars="${SPARK_JARS:?SPARK_JARS must name the Spark jar directory}"
pick() { ls "$jars"/"$1"-2.13.*.jar | head -n 1; }
scalac_cp="$(pick scala-compiler):$(pick scala-library):$(pick scala-reflect)"
mkdir -p "$out"
find "$root/src/main/scala" "$root/perfbench/harness" -name '*.scala' > "$out.sources"
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$scalac_cp" scala.tools.nsc.Main -nowarn \
  -d "$out" -cp "$jars/*" "@$out.sources"
rm -f "$out.sources"
