// Parse-cascade evidence: over every distinct cell value of each TSV in
// IN (read as graft.ScanMain reads it), compare the shape-guarded
// parses (TypeInference.dateParse / numericParse) with the ungated
// parsers (every date parser over the date language, plain try_cast),
// and time both per column; the ungated references are the test
// suite's graft.ParseCorpus. Writes the report to OUT. Driven by
// tools/parse_evidence.sh.
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ParseCorpus.{ungatedDate, ungatedNumeric}
import graft.operators.TypeInference
import graft.sources.DelimitedSource

val in = sys.env("IN")
val out = new java.io.PrintWriter(sys.env("OUT"))
// best of 3 runs of one aggregate over the cached values, in ms
def timed(df: org.apache.spark.sql.DataFrame, c: Column): Long =
  (1 to 3).map { _ =>
    val t0 = System.nanoTime
    df.agg(count(c)).head()
    (System.nanoTime - t0) / 1000000
  }.min

var mismatches = 0L
out.println(Seq("file", "column", "distinct", "guarded_date_ms",
  "ungated_date_ms", "guarded_num_ms", "ungated_num_ms", "mismatches")
  .mkString("\t"))
for (path <- DelimitedSource.listFiles(spark, in, "*.tsv")) {
  val df = DelimitedSource.read(spark, path, "\t")
  for (c <- df.columns) {
    val vals = df.select(col(s"`$c`").as("v")).where(col("v").isNotNull)
      .distinct().repartition(3).cache()
    val n = vals.count()
    val bad = vals.agg(
      count(when(!(TypeInference.dateParse("v") <=> ungatedDate("v")), 1)),
      count(when(!(TypeInference.numericParse("v") <=>
        ungatedNumeric("v")), 1))).head()
    val m = bad.getLong(0) + bad.getLong(1)
    mismatches += m
    out.println(Seq(new java.io.File(path).getName, c, n,
      timed(vals, TypeInference.dateParse("v")), timed(vals, ungatedDate("v")),
      timed(vals, TypeInference.numericParse("v")),
      timed(vals, ungatedNumeric("v")), m).mkString("\t"))
    vals.unpersist()
  }
}
out.println(s"total mismatches: $mismatches")
out.close()
System.exit(0)
