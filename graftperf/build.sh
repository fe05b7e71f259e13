#!/usr/bin/env bash
# Compiles graft (src/main/scala) and the benchmark (graftperf/src) into
# one class directory, using the Scala compiler that ships with Spark.
# Usage: bash graftperf/build.sh <repo-root> <out-classes-dir> <spark-jars-dir>
set -euo pipefail
root="$1"
out="$2"
jars="$3"
rm -rf "$out"
mkdir -p "$out"
find "$root/src/main/scala" "$root/graftperf/src" -name '*.scala' | sort > "$out.sources"
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -nowarn -deprecation:false \
  -d "$out" -classpath "$jars/*" "@$out.sources"
rm -f "$out.sources"
