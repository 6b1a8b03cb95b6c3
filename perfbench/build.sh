#!/usr/bin/env bash
# Build file of the benchmark. Compiles the engine (src/main) together
# with the benchmark's Spark side (perfbench/src) using the Scala
# compiler that ships in the Spark distribution, so the build needs no
# dependency resolution. Skips the compile when the sources are
# unchanged since the last build into the same directory.
#
#   bash perfbench/build.sh <out-dir>      # from the repository root
set -euo pipefail

out=$1
jars=${SPARK_HOME:-$(dirname "$(dirname "$(command -v spark-submit)")")}/jars

sources=$(find src/main/scala perfbench/src -name '*.scala' | sort)
stamp=$(cat $sources src/main/resources/META-INF/services/* | sha256sum | cut -d' ' -f1)
if [ -f "$out/.stamp" ] && [ "$(cat "$out/.stamp")" = "$stamp" ]; then
  exit 0
fi

rm -rf "$out"
mkdir -p "$out"
printf '%s\n' $sources > "$out/.sources"
java -Xss4m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main \
  -usejavacp -nowarn -Ybackend-parallelism 4 -d "$out" @"$out/.sources"
cp -r src/main/resources/. "$out/"
echo "$stamp" > "$out/.stamp"
