#!/usr/bin/env bash
# Builds the program (src/main/scala) and the benchmark (perfbench/src)
# with the Scala compiler that ships among the Spark jars, into
# .bench_build/classes. Run from the root of a checkout:
#   bash perfbench/build.sh <spark-jars-dir>
# Rebuilds only when a source file changed since the last build.
set -euo pipefail
jars="$1"
out=.bench_build
test -d src/main/scala || { echo "build: no src/main/scala here" >&2; exit 2; }
test -d "$jars" || { echo "build: no Spark jars at $jars" >&2; exit 2; }
mkdir -p "$out"
sources=$(find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort)
stamp=$(cat $sources perfbench/build.sh | sha256sum | cut -d' ' -f1)
if [ -f "$out/classes.stamp" ] && [ "$(cat "$out/classes.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out/classes.new"
mkdir -p "$out/classes.new"
java -Xmx2g -Xss8m -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out/classes.new" $sources
rm -rf "$out/classes"
mv "$out/classes.new" "$out/classes"
echo "$stamp" > "$out/classes.stamp"
