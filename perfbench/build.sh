#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main) together with
# the benchmark driver (perfbench/src) into <out>/classes, using the Scala
# compiler that ships in Spark's jars directory. No dependency resolution, no
# network, nothing written outside <out>.
#
# Usage: perfbench/build.sh <out-dir>     (run from the repository root)
# Spark's jars are found through $SPARK_HOME, else next to spark-submit.
set -euo pipefail

out="${1:?usage: build.sh <out-dir>}"
if [[ -n "${SPARK_HOME:-}" ]]; then
  jars="$SPARK_HOME/jars"
else
  jars="$(dirname "$(readlink -f "$(command -v spark-submit)")")/../jars"
fi
[[ -d "$jars" ]] || { echo "build.sh: no Spark jars directory at $jars" >&2; exit 2; }
[[ -d src/main/scala && -d perfbench/src ]] \
  || { echo "build.sh: run from the repository root (src/main/scala missing)" >&2; exit 2; }

rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
mapfile -t scala_srcs < <(find src/main/scala perfbench/src -name '*.scala' | sort)
mapfile -t java_srcs < <(find src/main/java -name '*.java' 2>/dev/null | sort)

# Mixed compilation: scalac type-checks against the Java sources, javac then
# compiles them against scalac's output.
java -Xss8m -Xmx3g -cp "$jars/*" scala.tools.nsc.Main \
  -classpath "$jars/*" -d "$out/classes.tmp" -release 17 -nowarn \
  "${scala_srcs[@]}" "${java_srcs[@]}"
if (( ${#java_srcs[@]} )); then
  javac -nowarn -d "$out/classes.tmp" -cp "$out/classes.tmp:$jars/*" "${java_srcs[@]}"
fi
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
