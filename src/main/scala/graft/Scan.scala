package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Success

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}
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
  * (sample/head) → type inference → promotion → optional date shift →
  * column exclusion → profile + frequency. In the exact (default)
  * mode inference, profile and frequency all read one value histogram
  * of the capped sample, and one per-cell pass computes the moments of
  * the numeric columns (see [[exactScan]]). Unlike the reference's
  * sequential per-file loop (whiteRRabbit.R:450-464), folders are
  * scanned with the per-file Spark jobs submitted concurrently from
  * driver threads — files share the cluster instead of queueing
  * behind each other.
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
    *
    * The exact (default) profile is histogram-first ([[exactScan]]);
    * `exactQuantiles = false` keeps the per-cell pipeline with the
    * constant-state sketch summary ([[sketchScan]]).
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
    val Sheets(inference, summaryRows, freqRows) =
      if (config.exactQuantiles) exactScan(spark, capped, config)
      else sketchScan(capped, config)

    // Both report sheets are REPORT-sized by construction (one row
    // per column; top-maxDistinctValues per column): collected once
    // and re-wrapped as local relations, every sink write is a
    // driver-local operation that runs no Spark job, and — because
    // scanFolder runs scanFile in parallel futures — all of a
    // folder's profile compute runs in the concurrently-scheduled
    // per-file jobs. The collected rows also answer nRowsChecked
    // and nFieldsEmpty. The all-empty census runs on the full column
    // set (ref :294-303), the summary sheet on the post-exclusion set
    // (ref :304-309).
    val nRowsChecked =
      if (summaryRows.nonEmpty) summaryRows.head.getAs[Long]("total_count")
      else 0L
    val nFieldsEmpty =
      summaryRows.count(_.getAs[Long]("non_missing") == 0L).toLong
    val keptRows = summaryRows.filterNot(r =>
      config.excludeCols.contains(r.getAs[String]("column_name")))
    val summaryLocal = spark.createDataFrame(
      java.util.Arrays.asList(keptRows: _*), Profile.summarySchema)
    val freq = spark.createDataFrame(
      java.util.Arrays.asList(freqRows: _*), freqSchema)
    TableScanResult(name, totalRows, nRowsChecked, nFields, nFieldsEmpty,
      summaryLocal, freq, inference)
  }

  /** A scan's decisions and its collected sheets: the summary of every
    * column and the frequency rows of the kept ones.
    */
  private final case class Sheets(
      inference: Map[String, TypeInference.InferredType],
      summary: Array[Row], freq: Array[Row])

  private val freqSchema: StructType = StructType(Seq(
    StructField("Column", StringType),
    StructField("Value", StringType),
    StructField("Count", LongType),
    StructField("Percentage", DoubleType)))

  /** The frequency table's columns: the kept (ref :304-309) non-date
    * (ref :331) columns of the typed table.
    */
  private def freqIdx(fields: Array[StructField],
      config: ScanConfig): Seq[Int] =
    if (!config.scanFieldValues) Nil
    else fields.indices.filterNot(i =>
      config.excludeCols.contains(fields(i).name) ||
        Profile.isDateLike(fields(i).dataType))

  private def dateShifted(promoted: DataFrame,
      config: ScanConfig): DataFrame =
    if (config.shiftDates) DateShift.shiftDates(promoted, config.seed)
    else promoted

  /** The sketch-mode scan, per cell: inference
    * ([[TypeInference.infer]]), promotion, the optional date shift,
    * the constant-state sketch summary ([[Profile.summarizeApprox]])
    * and the frequency table of the typed sample's value histogram.
    * Nothing is persisted.
    */
  private def sketchScan(capped: DataFrame, config: ScanConfig): Sheets = {
    val inference = TypeInference.infer(capped)
    val typed = dateShifted(TypeInference.promote(capped, inference), config)
    val fields = typed.schema.fields
    val idx = freqIdx(fields, config)
    Sheets(inference,
      Profile.summarizeApprox(typed, accuracy = config.quantileAccuracy)
        .collect(),
      if (idx.isEmpty) Array.empty[Row]
      else Frequency.referenceFrequencies(typed, idx.map(fields(_).name),
        config.minCellCount, config.maxDistinctValues).collect())
  }

  /** The exact scan, decisions first: every number of the report is
    * a function of the capped sample's raw histogram H, (column, raw
    * value) → count, except the moments of the numeric columns:
    *   1. H is persisted with each distinct raw value's numeric and
    *      date parse ([[TypeInference.parsed]]), so the parse cascade
    *      runs once per distinct (column, value) rather than per cell
    *      per consumer. One grouped aggregate over H, the action that
    *      fills it, returns the row count, each column's NULL and ""
    *      counts and each string column's inference votes
    *      ([[Profile.census]]); the decisions follow on the driver;
    *   2. three jobs then run concurrently:
    *      - the moments pass ([[Profile.momentAggs]]), per cell over
    *        the capped sample, of the numeric-decided string columns
    *        (their [[TypeInference.numericParse]], so each is the same
    *        aggregate over the same values as over the promoted
    *        column) and the native numeric columns — skipped when the
    *        table has none;
    *      - the profile's distinct counts, quartiles and date stats
    *        ([[Profile.statsOf]]) and
    *      - the frequency table ([[Frequency.topK]]), both over H
    *        re-keyed by the decisions and regrouped ("1" and "1.0"
    *        merge): the typed histogram T ([[typedHistogram]]);
    *   3. every job this scan started has finished and H is released,
    *      blocking, before returning — on failure too.
    * On a capped sample (one partition) the census is two Spark jobs,
    * H's fill and its aggregate, and each pass of step 2 is one: five
    * per table, four without a numeric column. No step but the
    * moments pass re-reads the source or re-draws the sample, except
    * with `shiftDates`: the shifted date columns are melted per cell,
    * since each row draws its own shift.
    */
  private def exactScan(spark: SparkSession, capped: DataFrame,
      config: ScanConfig): Sheets = {
    val fields = capped.schema.fields
    val strIdx = fields.indices.filter(fields(_).dataType == StringType)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val h = TypeInference.parsed(
      Profile.regroup(Profile.melt(capped, fields.indices, raw = true)),
      strIdx).persist()
    try {
      val Profile.Census(total, rawCounts, votes) =
        Profile.census(h, fields, strIdx)
      val inference = strIdx.map(i =>
        fields(i).name -> TypeInference.decide(votes.get(i), 0.8)).toMap
      val typed =
        dateShifted(TypeInference.promote(capped, inference), config)
      val typedFields = typed.schema.fields
      val numIdx = typedFields.indices.filter(i =>
        typedFields(i).dataType.isInstanceOf[NumericType])
      val momentsF = onPool(spark) {
        if (numIdx.isEmpty) None
        else {
          val aggs = Profile.momentAggs(fields, numIdx)
          Some(capped.agg(aggs.head, aggs.tail: _*).head())
        }
      }
      val idx = freqIdx(typedFields, config)
      // the frequency table has no date column, so it never needs the
      // shifted dates' per-cell melt
      val freqF = onPool(spark) {
        if (idx.isEmpty) Array.empty[Row]
        else Frequency.asReference(Frequency.topK(
          typedHistogram(h, typed, inference, shifted = false)
            .where(col("i").isin(idx: _*)), typedFields,
          config.minCellCount, config.maxDistinctValues)).collect()
      }
      try {
        val counts = fields.indices.map { i =>
          val c = rawCounts(i)
          inference.get(fields(i).name) match {
            case Some(TypeInference.NumericT) =>
              c.copy(missing = c.missing + c.empty, empty = 0L)
            case Some(TypeInference.DatetimeT) =>
              c.copy(missing = total - votes(i).hits, empty = 0L)
            case _ => c
          }
        }
        val stats = Profile.statsOf(
          typedHistogram(h, typed, inference, config.shiftDates),
          typedFields, counts.map(c => total - c.missing - c.empty))
        val summary = Profile.summaryFrame(spark, typedFields, total, counts,
          Await.result(momentsF, Duration.Inf), stats).collect()
        Sheets(inference, summary, Await.result(freqF, Duration.Inf))
      } finally {
        Await.ready(momentsF, Duration.Inf)
        Await.ready(freqF, Duration.Inf)
      }
    } finally h.unpersist(blocking = true)
  }

  /** The typed histogram T of `typed` from the capped sample's parsed
    * raw histogram `h` ((i, vs, vn, cnt, num, dt) rows): each string
    * column's raw keys re-keyed by its decision — numeric to the
    * +0.0-normalized parse, datetime to the parsed epoch micros (exact
    * in vs, as a double in vn), character to the value minus "" — and
    * non-string columns' typed keys kept, then regrouped, so T is
    * [[Profile.valueHistogram]] of `typed` without a second pass over
    * the cells. With `shifted`, the date-like columns of `typed` are
    * melted per cell instead, since their shifted values are not a
    * function of the raw value.
    */
  private[graft] def typedHistogram(h: DataFrame, typed: DataFrame,
      inference: Map[String, TypeInference.InferredType],
      shifted: Boolean): DataFrame = {
    val fields = typed.schema.fields
    def decided(t: TypeInference.InferredType) =
      fields.indices.filter(i => inference.get(fields(i).name).contains(t))
    val (num, date, chr) = (decided(TypeInference.NumericT),
      decided(TypeInference.DatetimeT), decided(TypeInference.CharacterT))
    val i = col("i")
    val rekeyed = h.select(i,
      when(i.isin(chr: _*), when(col("vs") =!= lit(""), col("vs")))
        .when(i.isin(num: _*), lit(null).cast(StringType))
        .when(i.isin(date: _*), col("dt").cast(StringType))
        .otherwise(col("vs")).as("vs"),
      when(i.isin(num: _*), col("num") + lit(0.0))
        .when(i.isin(date: _*), col("dt").cast(DoubleType))
        .otherwise(col("vn")).as("vn"),
      col("cnt"))
      .where(col("vs").isNotNull || col("vn").isNotNull)
    val dateLike =
      fields.indices.filter(j => Profile.isDateLike(fields(j).dataType))
    Profile.regroup(
      if (!shifted || dateLike.isEmpty) rekeyed
      else rekeyed.where(!i.isin(dateLike: _*))
        .unionByName(Profile.melt(typed, dateLike, raw = false)))
  }

  /** `body` on a driver pool thread carrying the caller's job group
    * and description, so its jobs are attributed (and cancelled) with
    * the caller's.
    */
  private def onPool[T](spark: SparkSession)(body: => T)(
      implicit ec: ExecutionContext): Future[T] = {
    val sc = spark.sparkContext
    val keys = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel", "spark.job.tags")
    val caller = keys.map(k => k -> sc.getLocalProperty(k))
    Future {
      val saved = keys.map(k => k -> sc.getLocalProperty(k))
      caller.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try body
      finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
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
    val futures = files.map(f =>
      onPool(spark)(scanFile(spark, f, config)).transform(Success(_)))
    // every file's scan finishes before the first failure is rethrown:
    // a fail-fast Await would leave sibling scans' jobs running
    Await.result(Future.sequence(futures), Duration.Inf).map(_.get)
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
