#!/usr/bin/env bash
# Builds the benchmark: compiles the repository's main sources together
# with the benchmark's own sources into one class directory, with the
# Scala compiler that ships among Spark's jars.
#
#   bash perfbench/build.sh <repo-root> <out-dir>
set -euo pipefail
root=$(cd "$1" && pwd)
out=$2
bench="$root/perfbench"
[ -d "$root/src/main/scala/graft" ] || { echo "build: no src/main/scala/graft under $root" >&2; exit 2; }
spark_home=${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}
jars="$spark_home/jars"
compiler_cp=$(ls "$jars"/scala-compiler-2.13.*.jar "$jars"/scala-library-2.13.*.jar "$jars"/scala-reflect-2.13.*.jar | paste -sd:)
rm -rf "$out/classes"
mkdir -p "$out/classes"
find "$root/src/main/scala" "$bench/src" -name '*.scala' > "$out/sources.txt"
java -Xmx2g -Xss8m -cp "$compiler_cp" scala.tools.nsc.Main -nowarn -deprecation:false \
  -d "$out/classes" -classpath "$jars/*" "@$out/sources.txt"
if [ -d "$root/src/main/resources" ]; then cp -r "$root/src/main/resources/." "$out/classes/"; fi
