#!/bin/bash
# Table-layer evidence for a refactor: dump the sidecar-writing commits
# (tools/table_sidecars.scala) and, for each table_* query, the pruned
# path set and result md5 (tools/table_pathsets.scala) of one checkout's
# compiled classes. Each query runs in a fresh JVM: Spark seeds a range
# partitioner's sample with the RDD id, so queries sharing a session write
# different file boundaries whenever earlier queries created a different
# number of RDDs. Compile the checkout first; diff the outputs of two
# checkouts.
# Usage: SF_DIR=<sf0.01 data dir> tools/table_evidence.sh <checkout> \
#          <out.txt> [query...]
#        (default: every table_* query in the checkout's QUERY_MANIFEST.json)
set -euo pipefail
: "${SF_DIR:?set SF_DIR to the generated sf0.01 data dir}"
SRC="$(cd "$1" && pwd)"; OUTF="$(realpath -m "$2")"; shift 2
TOOLS="$(cd "$(dirname "$0")" && pwd)"
QS="$*"
[ -n "$QS" ] || QS=$(python3 -c 'import json,sys
print(" ".join(k for k in sorted(json.load(open(sys.argv[1])))
               if k.startswith("table_")))' "$SRC/QUERY_MANIFEST.json")
shell() {  # shell <script> <tmp-dir> [env...]
  local script="$1" t="$2"; shift 2
  (cd "$t" && env GRAFT_TMP_DIR="$t" "$@" /opt/spark/bin/spark-shell \
    --master 'local[2]' --driver-memory 3g \
    --driver-class-path "$SRC/target/scala-2.13/classes" \
    --conf spark.sql.shuffle.partitions=2 \
    --conf spark.sql.session.timeZone=UTC --conf spark.ui.enabled=false \
    --conf spark.sql.files.maxPartitionBytes=16m \
    --conf spark.sql.extensions=graft.GraftExtensions \
    -I "$TOOLS/$script" < /dev/null > "$t/shell.log" 2>&1)
}
: > "$OUTF"
T=$(mktemp -d)
shell table_sidecars.scala "$T" OUT="$T/out.txt"
cat "$T/out.txt" >> "$OUTF"; rm -rf "$T"
for q in $QS; do
  T=$(mktemp -d)
  shell table_pathsets.scala "$T" OUT="$T/out.txt" ONLY="$q" \
    SF_DIR="$SF_DIR"
  cat "$T/out.txt" >> "$OUTF"; rm -rf "$T"
done
