#!/bin/bash
# Near-duplicate pair evidence: run tools/pair_evidence.scala against one
# checkout's compiled classes over a corpus_curate input folder (its
# docs.tsv), as the benchmark runs it: exact dedup by content, then
# Dedup.minhashPairs at Jaccard >= 0.7 with the default banding. Prints
# the LSH candidate count and the md5 of the sorted (id_a, id_b)
# candidates, then the verified pair count and the md5 of the sorted
# (id_a, id_b, jac) rows. Two checkouts that print the same pair lines
# found the same pairs; the candidate lines may differ only by 64-bit
# band-key collisions, which verification drops.
#
# Usage: SPARK_HOME=<spark dir> tools/pair_evidence.sh <classes dir> <corpus dir>
#   e.g. tools/pair_evidence.sh target/scala-2.13/classes \
#          perfbench/.work/data/<corpus_curate seed key>
set -euo pipefail
CLASSES="$(cd "$1" && pwd)"
IN="$(cd "$2" && pwd)"
TOOLS="$(cd "$(dirname "$0")" && pwd)"
: "${SPARK_HOME:?set SPARK_HOME to the Spark install whose spark-shell to use}"
T="$(mktemp -d)"
trap 'rm -rf "$T"' EXIT
(cd "$T" && env IN="$IN" OUT="$T/out.txt" "$SPARK_HOME/bin/spark-shell" \
  --master 'local[3]' --driver-memory 2g \
  --driver-class-path "$CLASSES" \
  --conf spark.sql.shuffle.partitions=3 \
  --conf spark.sql.session.timeZone=UTC --conf spark.ui.enabled=false \
  -I "$TOOLS/pair_evidence.scala" < /dev/null > "$T/shell.log" 2>&1) ||
  { tail -20 "$T/shell.log" >&2; exit 1; }
[ -s "$T/out.txt" ] || { tail -20 "$T/shell.log" >&2; exit 1; }
cat "$T/out.txt"
