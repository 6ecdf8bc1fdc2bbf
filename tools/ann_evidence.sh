#!/bin/bash
# ANN evidence for a refactor of operators/Similarity: for every
# registered query whose run calls Similarity (its registry entry in
# SparkEntry.scala names `Similarity.`), the md5 of its sorted result at
# each data dir of SF_DIRS and, from the first dir's run, the optimized
# plans of the actions it ran and of the frame it returned, expression
# ids stripped (tools/ann_evidence.scala). One JVM per checkout; compile
# the checkout first and diff the outputs of two checkouts.
# Usage: SPARK_HOME=<spark dir> SF_DIRS="<sf0.01 dir> <sf0.1 dir>" \
#          tools/ann_evidence.sh <checkout> <out.txt> [query...]
#   (default: the Similarity-backed entries of the checkout's
#   SparkEntry.scala)
set -euo pipefail
: "${SPARK_HOME:?set SPARK_HOME to the Spark install whose spark-shell to use}"
: "${SF_DIRS:?set SF_DIRS to the generated data dirs, space separated}"
SRC="$(cd "$1" && pwd)"; OUTF="$(realpath -m "$2")"; shift 2
TOOLS="$(cd "$(dirname "$0")" && pwd)"
QS="$*"
[ -n "$QS" ] || QS=$(python3 -c 'import re,sys
src = open(sys.argv[1]).read()
reg = src[src.index("def registry"):]
starts = [m for m in re.finditer(r"^    \"([a-z0-9_]+)\" -> Query\(", reg, re.M)]
names = [m.group(1) for i, m in enumerate(starts)
         if "Similarity." in reg[m.start():(starts[i + 1].start()
             if i + 1 < len(starts) else len(reg))]]
print(" ".join(sorted(names)))' "$SRC/src/main/scala/graft/SparkEntry.scala")
T=$(mktemp -d)
trap 'rm -rf "$T"' EXIT
(cd "$T" && env GRAFT_TMP_DIR="$T" OUT="$T/out.txt" SF_DIRS="$SF_DIRS" \
  QUERIES="$(echo $QS | tr ' ' ',')" "$SPARK_HOME/bin/spark-shell" \
  --master 'local[2]' --driver-memory 3g \
  --driver-class-path "$SRC/target/scala-2.13/classes" \
  --conf spark.sql.shuffle.partitions=2 \
  --conf spark.sql.session.timeZone=UTC --conf spark.ui.enabled=false \
  --conf spark.sql.extensions=graft.GraftExtensions \
  -I "$TOOLS/ann_evidence.scala" < /dev/null > "$T/shell.log" 2>&1) ||
  { tail -20 "$T/shell.log" >&2; exit 1; }
[ -s "$T/out.txt" ] || { tail -20 "$T/shell.log" >&2; exit 1; }
cp "$T/out.txt" "$OUTF"
