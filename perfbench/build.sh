#!/usr/bin/env bash
# Compile the program (src/main/scala) and the benchmark harness
# (perfbench/src) into one class directory, with the Scala compiler that
# ships among Spark's jars. Run from the repository root:
#   bash perfbench/build.sh <out-dir> <spark-jars-dir>
set -euo pipefail
out="$1"
jars="$2"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here" >&2; exit 2; }
[ -f "$jars/scala-compiler-2.13.17.jar" ] || { echo "build.sh: no Scala compiler in $jars" >&2; exit 2; }
mkdir -p "$out/program" "$out/classes"
compile() {  # <dest> <classpath> <sources...>
  local dest="$1" cp="$2"; shift 2
  java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
    -d "$dest" -classpath "$cp" "$@"
}
mapfile -t program < <(find src/main/scala -name '*.scala' | sort)
mapfile -t harness < <(find perfbench/src -name '*.scala' | sort)
compile "$out/program" "$jars/*" "${program[@]}"
compile "$out/classes" "$out/program:$jars/*" "${harness[@]}"
