#!/usr/bin/env bash
# Builds the program (the repository's src/main/scala) together with the
# benchmark harness (perfbench/src) into one jar, using the Scala compiler
# that ships among Spark's jars.
#
# Usage: bash perfbench/build.sh <jar> <spark-jars-dir>
set -euo pipefail
jarfile=$1
jars=$2
here=$(cd "$(dirname "$0")" && pwd)
root=$(dirname "$here")
[ -d "$root/src/main/scala" ] || { echo "no program sources under $root/src/main/scala" >&2; exit 2; }
compiler=$(ls "$jars"/scala-compiler-2.13.*.jar)
library=$(ls "$jars"/scala-library-2.13.*.jar)
reflect=$(ls "$jars"/scala-reflect-2.13.*.jar)
out="$jarfile.classes"
list="$jarfile.sources"
rm -rf "$out" "$jarfile" && mkdir -p "$out"
find "$root/src/main/scala" "$here/src" -name '*.scala' | sort > "$list"
java -Xmx2g -Xss8m -cp "$compiler:$library:$reflect" scala.tools.nsc.Main \
  -encoding UTF-8 -nowarn -d "$out" -cp "$jars/*" @"$list"
# a jar, not a directory: the JVM's class-data archive accepts only jars
jar cf "$jarfile" -C "$out" .
rm -rf "$out"
