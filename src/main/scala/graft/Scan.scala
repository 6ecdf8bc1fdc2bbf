package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.config.ScanConfig
import graft.operators.{DateShift, Frequency, Profile, Sampling, TypeInference}
import graft.sources.DelimitedSource

/** Result of scanning one table — the reference's scan-record
  * (whiteRRabbit.R:437-445): file identity, row counts, field census,
  * plus the summary and frequency DataFrames.
  */
final case class TableScanResult(
    file: String,
    totalRows: Long,
    nRowsChecked: Long,
    nFields: Int,
    nFieldsEmpty: Long,
    summary: DataFrame,
    freq: DataFrame,
    inference: Map[String, TypeInference.InferredType])

/** End-to-end scan orchestration (whiteRRabbit.R:218-480).
  *
  * Pipeline per table: fast row count → all-string read → row cap
  * (sample/head) → type promotion → optional date shift → column
  * exclusion → profile + frequency. Unlike the reference's sequential
  * per-file loop (whiteRRabbit.R:450-464), folders are scanned with the
  * per-file Spark jobs submitted concurrently from driver threads —
  * files share the cluster instead of queueing behind each other.
  */
object Scan {

  /** Scan one delimited file (whiteRRabbit.R:218-446). */
  def scanFile(spark: SparkSession, path: String,
      config: ScanConfig): TableScanResult = {
    val totalLines = DelimitedSource.fastRowCount(spark, path)
    val raw = DelimitedSource.read(spark, path, config.sep)
    scanTable(spark, raw, path, totalLines, config)
  }

  /** Scan an already-loaded table (CSV post-read, parquet, or any
    * DataFrame). `totalRows` is the source-level count — for delimited
    * files the raw line count including the header (the reference's
    * N_rows quirk, whiteRRabbit.R:222 vs :439); pass the row count for
    * headerless sources like parquet.
    */
  def scanTable(spark: SparkSession, df0: DataFrame, name: String,
      totalRows: Long, config: ScanConfig): TableScanResult = {
    // nFields is counted BEFORE column exclusion (ref :293 vs :304)
    val nFields = df0.columns.length
    // totalRows (the already-paid line count) feeds exactK's pre-thin;
    // for delimited sources it overcounts by the header line, which
    // only widens the sampling margin — the survivor check stays exact
    val capped = Sampling.cap(df0, config.maxRows, config.randomSample,
      config.seed, totalRows = Some(totalRows))
    val (promoted, inference) = TypeInference.inferAndPromote(
      capped, threshold = 0.8, seed = config.seed,
      randomSample = config.randomSample)
    val typed =
      if (config.shiftDates) DateShift.shiftDates(promoted, config.seed)
      else promoted

    // all-empty census runs on the full column set (ref :294-303) ...
    val fullSummary = Profile.summarize(
      typed, config.exactQuantiles, config.quantileAccuracy)
    // ... while summaries/frequencies run on the post-exclusion set
    // (ref :304-309).
    val excluded = config.excludeCols.toSet
    val profiled =
      if (excluded.isEmpty) typed
      else typed.drop(config.excludeCols: _*)

    // Materialize both report sheets ONCE, here (optimization r18,
    // guide §1.2 "don't compute things twice" / §2.6): summary and
    // frequency are REPORT-sized by construction (one row per column;
    // top-maxDistinctValues per column), yet every sink used to
    // recompute their full Spark pipelines per write — the TSV,
    // workbook and xlsx sinks each re-ran the profile and frequency
    // jobs (3x each), plus per-sink `freq.isEmpty` actions. Collecting
    // once and re-wrapping as local relations makes every downstream
    // write/read a driver-local operation, and — because scanFolder
    // runs scanFile in parallel futures — moves ALL of a folder's
    // profile compute into the concurrently-scheduled per-file jobs.
    // The collected rows also answer nRowsChecked/nFieldsEmpty, which
    // used to be one more separate collect of the same aggregate.
    val summaryRows = fullSummary.collect()
    val nRowsChecked =
      if (summaryRows.nonEmpty) summaryRows.head.getAs[Long]("total_count")
      else 0L
    val nFieldsEmpty =
      summaryRows.count(_.getAs[Long]("non_missing") == 0L).toLong
    val keptRows =
      if (excluded.isEmpty) summaryRows
      else summaryRows.filterNot(r =>
        excluded.contains(r.getAs[String]("column_name")))
    val summaryLocal = spark.createDataFrame(
      java.util.Arrays.asList(keptRows: _*), fullSummary.schema)

    val freqCols = profiled.schema.fields // ref :331 — no date freq
      .filterNot(f => Profile.isDateLike(f.dataType))
      .map(_.name).toSeq
    val freqSchema = StructType(Seq(
      StructField("Column", StringType),
      StructField("Value", StringType),
      StructField("Count", LongType),
      StructField("Percentage", DoubleType)))
    val freq =
      if (config.scanFieldValues && freqCols.nonEmpty) {
        val f = Frequency.referenceFrequencies(profiled, freqCols,
          config.minCellCount, config.maxDistinctValues)
        spark.createDataFrame(
          java.util.Arrays.asList(f.collect(): _*), f.schema)
      } else
        spark.createDataFrame(
          java.util.Collections.emptyList[Row](), freqSchema)

    TableScanResult(name, totalRows, nRowsChecked, nFields, nFieldsEmpty,
      summaryLocal, freq, inference)
  }

  /** Scan every matching file in config.workingFolder, files in
    * parallel (the reference loops sequentially, whiteRRabbit.R:450-464
    * — parallel per-file jobs are a free win on a cluster).
    */
  def scanFolder(spark: SparkSession, config: ScanConfig)(
      implicit ec: ExecutionContext = ExecutionContext.global)
      : Seq[TableScanResult] = {
    val files = DelimitedSource.listFiles(
      spark, config.workingFolder, config.filePattern)
    val futures = files.map(f => Future(scanFile(spark, f, config)))
    Await.result(Future.sequence(futures), Duration.Inf)
  }

  val overviewSchema: StructType = StructType(Seq(
    StructField("Table", StringType, nullable = false),
    StructField("FileName", StringType, nullable = false),
    StructField("Description", StringType, nullable = false),
    StructField("N_rows", LongType, nullable = false),
    StructField("N_rows_checked", LongType, nullable = false),
    StructField("N_Fields", IntegerType, nullable = false),
    StructField("N_Fields_Empty", LongType, nullable = false)))

  /** Cross-file overview (whiteRRabbit.R:466-480). N_rows keeps the
    * reference's include-the-header quirk for delimited sources
    * (whiteRRabbit.R:222 vs :439) via TableScanResult.totalRows.
    */
  def overview(spark: SparkSession,
      results: Seq[TableScanResult]): DataFrame = {
    val rows: Seq[Row] = results.zipWithIndex.map { case (r, i) =>
      val fileName = r.file.split('/').last
      Row(s"File${i + 1}", fileName, "No description", r.totalRows,
        r.nRowsChecked, r.nFields, r.nFieldsEmpty)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), overviewSchema)
  }
}
