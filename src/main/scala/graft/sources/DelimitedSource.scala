package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
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
  *   cells are missing, as in those reads. The header of a file is
  *   read on the driver, so the read itself runs no Spark job.
  * - Fast row count is a text-source count — the lines of a
  *   column-pruned text scan counted as they stream, one job with no
  *   field parsing and no aggregate exchange, the Spark analogue of the
  *   reference's `wc -l` subprocess (whiteRRabbit.R:207-216). Like
  *   `wc -l` it counts the header line(s): N_rows semantics include the
  *   header (whiteRRabbit.R:222 vs :439).
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
    *
    * A file's column names come from its first non-blank line, read on
    * the driver ([[headerLine]]) and parsed by Spark's own CSV header
    * rules — a one-line local dataset, so no job runs, and duplicate or
    * empty names are renamed as Spark's header inference renames them.
    * The file is then read with that all-string schema. Any other path
    * (a directory or a glob) leaves the header to Spark's reader, which
    * finds it in one job.
    */
  def read(spark: SparkSession, path: String, sep: String): DataFrame = {
    def csv = spark.read.option("header", "true").option("sep", sep)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val isFile =
      try fs.getFileStatus(p).isFile
      catch { case _: java.io.FileNotFoundException => false }
    val df =
      if (!isFile) csv.csv(path)
      else csv.schema(csv.csv(spark.createDataset(
        Seq(headerLine(spark, path)))(Encoders.STRING)).schema).csv(path)
    df.select(df.columns.toSeq.map(c =>
      nullif(col("`" + c.replace("`", "``") + "`"), lit("NA")).as(c)): _*)
  }

  /** The first non-blank line of the file at `path` — the line Spark's
    * CSV header inference takes: the first with a character other than
    * a space — decompressed by the codec its name implies, as Spark's
    * text reader opens it. A file with no such line has no header, so
    * it has no columns to scan: that fails naming the file.
    */
  private def headerLine(spark: SparkSession, path: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val raw = p.getFileSystem(conf).open(p)
    val codec = new CompressionCodecFactory(conf).getCodec(p)
    val in = new BufferedReader(new InputStreamReader(
      if (codec == null) raw else codec.createInputStream(raw),
      StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null)
      .find(_.exists(_ != ' '))
      .getOrElse(throw new IllegalArgumentException(
        s"$path has no header line: the file is empty or blank"))
    finally in.close()
  }

  /** Count physical lines (header included) without parsing fields. */
  def fastRowCount(spark: SparkSession, path: String): Long =
    spark.read.text(path).select().queryExecution.toRdd.count()
}
