#!/usr/bin/env bash
# Compiles the program (src/main/scala) together with the benchmark
# (perfbench/src) into .bench_build/classes with the Scala 2.13 compiler
# that ships in the Spark distribution's jars — the same jar set the
# program's own build uses. Run from the repository root. Skips the
# compile when no source changed since the last successful build.
set -euo pipefail
SPARK_JARS="${SPARK_HOME:-/opt/spark}/jars"
OUT=.bench_build/classes
STAMP=.bench_build/classes.stamp
[ -d src/main/scala/graft ] || { echo "build.sh: run from the repository root (src/main/scala/graft missing)" >&2; exit 2; }
[ -d "$SPARK_JARS" ] || { echo "build.sh: Spark jars not found at $SPARK_JARS" >&2; exit 2; }
mapfile -t SOURCES < <(find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort)
want=$(cat "${SOURCES[@]}" | sha256sum | cut -d' ' -f1)
if [ -f "$STAMP" ] && [ "$(cat "$STAMP")" = "$want" ]; then exit 0; fi
rm -rf "$OUT" "$STAMP"
mkdir -p "$OUT"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$SPARK_JARS/*" scala.tools.nsc.Main \
  -nowarn -Ybackend-parallelism 4 -d "$OUT" -classpath "$SPARK_JARS/*" "${SOURCES[@]}"
echo "$want" > "$STAMP"
