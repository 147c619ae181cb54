#!/usr/bin/env bash
# Build the benchmark: compile the program's sources (src/main/scala)
# together with the benchmark's own (perfbench/src) into
# .bench_build/perfbench.jar with the Scala compiler that ships in the
# Spark distribution. Run from the repository root. Skips the compile when
# the sources are unchanged since the last successful build.
set -euo pipefail
SPARK_JARS="${SPARK_JARS:-/opt/spark/jars}"
BUILD=.bench_build
if [ ! -d src/main/scala ]; then
  echo "build.sh: no src/main/scala here; run from the repository root" >&2
  exit 2
fi
mapfile -t SOURCES < <(find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort)
STAMP="$(cat "${SOURCES[@]}" | sha256sum | cut -c1-64)"
if [ -f "$BUILD/stamp" ] && [ "$(cat "$BUILD/stamp")" = "$STAMP" ]; then
  exit 0
fi
rm -rf "$BUILD/classes" "$BUILD/stamp" "$BUILD"/cds-*
mkdir -p "$BUILD/classes"
java -XX:-UsePerfData -Xss8m -Xmx3g -cp "$SPARK_JARS/*" scala.tools.nsc.Main \
  -nowarn -d "$BUILD/classes" -classpath "$SPARK_JARS/*" "${SOURCES[@]}"
# a jar, not a directory: the JVM's class-data archive (see run.py)
# only covers classes loaded from jars
jar cf "$BUILD/perfbench.jar" -C "$BUILD/classes" .
echo "$STAMP" > "$BUILD/stamp"
