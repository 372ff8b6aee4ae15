#!/usr/bin/env bash
# Compiles the program (src/main/scala) and the benchmark harness
# (perfbench/scala) into perfbench/.build/classes. Run from anywhere:
#   bash perfbench/build.sh
# Needs a JDK and a Spark distribution (SPARK_HOME, default /opt/spark);
# its jars carry the Scala compiler, so no build tool is involved. The
# build is skipped when no source changed since the last one.
set -euo pipefail
cd "$(dirname "$0")/.."
jars="${SPARK_HOME:-/opt/spark}/jars"
out=perfbench/.build
sources=$(find src/main/scala perfbench/scala -name '*.scala' | LC_ALL=C sort)
stamp=$(sha256sum $sources perfbench/build.sh | sha256sum | cut -d' ' -f1)
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out"
mkdir -p "$out/classes"
cp=$(ls "$jars"/*.jar | tr '\n' ':')
java -Xss8m -Xmx2g -cp "$cp" scala.tools.nsc.Main -nowarn -classpath "$cp" \
  -d "$out/classes" $sources
echo "$stamp" > "$out/stamp"
