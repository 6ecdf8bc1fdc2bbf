#!/bin/bash
# Parse-cascade evidence: run tools/parse_evidence.scala against one
# checkout's compiled classes over a folder of TSVs. For every distinct
# cell value of every column it compares the shape-guarded date and
# numeric parses with the ungated parsers and prints, per column, the
# distinct count, each parse's time (best of 3, ms) and the mismatch
# count, then the total mismatches. Any change to the parse cascade
# should print "total mismatches: 0".
#
# The ungated references come from the test classes next to the
# classes dir (graft.ParseCorpus in <classes dir>/../test-classes), so
# compile the tests too (sbt Test/compile).
#
# Usage: SPARK_HOME=<spark dir> tools/parse_evidence.sh <classes dir> <input dir>
#   e.g. tools/parse_evidence.sh target/scala-2.13/classes \
#          perfbench/.work/data/<scan_large seed key>/in
set -euo pipefail
CLASSES="$(cd "$1" && pwd)"
TEST_CLASSES="$(cd "$CLASSES/../test-classes" && pwd)"
IN="$(cd "$2" && pwd)"
TOOLS="$(cd "$(dirname "$0")" && pwd)"
: "${SPARK_HOME:?set SPARK_HOME to the Spark install whose spark-shell to use}"
T="$(mktemp -d)"
trap 'rm -rf "$T"' EXIT
(cd "$T" && env IN="$IN" OUT="$T/out.txt" "$SPARK_HOME/bin/spark-shell" \
  --master 'local[3]' --driver-memory 2g \
  --driver-class-path "$CLASSES:$TEST_CLASSES" \
  --conf spark.sql.shuffle.partitions=3 \
  --conf spark.sql.session.timeZone=UTC --conf spark.ui.enabled=false \
  -I "$TOOLS/parse_evidence.scala" < /dev/null > "$T/shell.log" 2>&1) ||
  { tail -20 "$T/shell.log" >&2; exit 1; }
[ -s "$T/out.txt" ] || { tail -20 "$T/shell.log" >&2; exit 1; }
cat "$T/out.txt"
