package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, nullif}

/** Delimited-file source: discovery, all-string read, fast row count
  * (SURVEY §2 ops 1-3).
  *
  * - Discovery globs by the delimiter-implied pattern
  *   (whiteRRabbit.R:109-122) through the Hadoop FileSystem API, so the
  *   same code lists a local dir, HDFS, or an object store.
  * - The read deliberately NEVER uses inferSchema: every column comes
  *   back as string and type promotion is the statistical operator
  *   (TypeInference), matching the reference's colClasses="character"
  *   reads (whiteRRabbit.R:236,:242,:249,:257,:266); literal `NA`
  *   cells are missing, as in those reads.
  * - Fast row count is a text-source count — whole-stage-codegen'd line
  *   count with no field parsing, the Spark analogue of the reference's
  *   `wc -l` subprocess (whiteRRabbit.R:207-216). Like `wc -l` it
  *   counts the header line(s): N_rows semantics include the header
  *   (whiteRRabbit.R:222 vs :439).
  */
object DelimitedSource {

  /** Glob data files under `dir` (pattern e.g. "*.tsv"), sorted. */
  def listFiles(spark: SparkSession, dir: String,
      pattern: String): Seq[String] = {
    val p = new Path(dir, pattern)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matches = fs.globStatus(p)
    if (matches == null) Seq.empty
    else matches.toSeq.filter(_.isFile).map(_.getPath.toString).sorted
  }

  /** Read a delimited file with a header row, every column string. A
    * cell that is exactly `NA` reads as missing (NULL), as fread's
    * default `na.strings = "NA"` reads it (whiteRRabbit.R:236). This is
    * one projection, not the CSV `nullValue` option: that option would
    * also rename a header cell `NA` and stop reading a quoted `""` cell
    * as NULL.
    */
  def read(spark: SparkSession, path: String, sep: String): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("sep", sep)
      .csv(path)
    df.select(df.columns.toSeq.map(c =>
      nullif(col("`" + c.replace("`", "``") + "`"), lit("NA")).as(c)): _*)
  }

  /** Count physical lines (header included) without parsing fields. */
  def fastRowCount(spark: SparkSession, path: String): Long =
    spark.read.text(path).count()
}
