#!/bin/bash
# Scan-report evidence: run graft.ScanMain from a compiled class dir
# over an input folder of TSVs, with the scan_large benchmark's flags
# (tsv output, --maxRows 10500, random sample, 3 cores), then again
# with --shift_dates true, and print the md5 of each written sheet
# (its part files concatenated in name order) and the number of Spark
# jobs each run started (its event log's SparkListenerJobStart events).
# Two checkouts that print the same lines wrote byte-identical reports
# with the same number of jobs.
#
# Usage: SPARK_HOME=<spark dir> tools/scan_evidence.sh <classes dir> <input dir>
#   e.g. tools/scan_evidence.sh target/scala-2.13/classes \
#          perfbench/.work/data/<scan_large seed key>/in
set -euo pipefail
CLASSES="$(cd "$1" && pwd)"
IN="$(cd "$2" && pwd)"
: "${SPARK_HOME:?set SPARK_HOME to the Spark install whose jars/ to use}"
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
    java.base/java.lang.reflect java.base/java.io java.base/java.net \
    java.base/java.nio java.base/java.util \
    java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
    java.base/sun.nio.ch java.base/sun.nio.cs \
    java.base/sun.security.action java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens=$p=ALL-UNNAMED"
done
OUT="$(mktemp -d)"
trap 'rm -rf "$OUT"' EXIT
scan() {  # scan <name> <extra ScanMain flags...>
  local name="$1"; shift
  mkdir -p "$OUT/$name.events"
  java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -Dspark.eventLog.enabled=true -Dspark.eventLog.dir="$OUT/$name.events" \
    -Dspark.eventLog.compress=false \
    -Xmx2g -cp "$CLASSES:$SPARK_HOME/jars/*" graft.ScanMain \
    --working_folder "$IN" --output_dir "$OUT/$name" --cpus 3 \
    --output_format tsv --maxRows 10500 --random_sample true "$@" \
    >/dev/null 2>"$OUT/$name.err" ||
    { cat "$OUT/$name.err" >&2; exit 1; }
  for sheet in "$OUT/$name"/*/; do
    printf '%s\t%s\t%s\n' "$name" "$(basename "$sheet")" \
      "$(find "$sheet" -name 'part-*' | sort | xargs cat | md5sum | cut -d' ' -f1)"
  done
  printf '%s\tjobs\t%s\n' "$name" \
    "$(find "$OUT/$name.events" -type f | xargs cat |
      grep -c '"Event":"SparkListenerJobStart"')"
}
scan bench
scan shift_dates --shift_dates true
