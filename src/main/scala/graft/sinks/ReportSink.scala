package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.DriverCsv

import graft.{Scan, TableScanResult}
import graft.operators.Profile

/** Report sinks (SURVEY §2 ops 17-18).
  *
  * - TSV sink mirrors the reference layout (whiteRRabbit.R:515-531):
  *   <prefix>_Overview, <prefix>_File<i>_Summary, <prefix>_File<i>_Freq
  *   (freq sheet only when non-empty), tab-separated with header. Each
  *   sheet is the directory Spark's `coalesce(1)` CSV write makes — one
  *   part file, the reference's one-file-per-sheet shape — written on
  *   the driver by Spark's own CSV generator ([[DriverCsv]]): the
  *   sheets are report-sized local relations (summaries are per-column,
  *   frequencies are top-K-bounded), so no Spark job runs.
  * - The xlsx workbook (whiteRRabbit.R:485-514) is a REAL `.xlsx`
  *   file written by [[XlsxSink]] (hand-rolled SpreadsheetML over
  *   `java.util.zip` — no library needed) with the reference's sheet
  *   names (`Overview`, `File<i>`, `File<i>freq`), bold headers, auto
  *   widths, and a frozen first row. The xlsx format additionally
  *   emits the Parquet "workbook" directory — a columnar copy of the
  *   same sheets that downstream tools can read without a spreadsheet
  *   parser (useful at 100 TB where the report feeds other jobs).
  */
object ReportSink {

  private def sheets(overview: DataFrame,
      results: Seq[TableScanResult]): Seq[(String, DataFrame)] = {
    val per = results.zipWithIndex.flatMap { case (r, i) =>
      val s = Seq(s"File${i + 1}_Summary" -> Profile.referenceSummary(r.summary))
      if (r.freq.isEmpty) s
      else s :+ (s"File${i + 1}_Freq" -> r.freq)
    }
    ("Overview" -> overview) +: per
  }

  /** Sheets are independent report-sized writes — run them from
    * driver threads so they overlap instead of queueing (same pattern
    * as Scan.scanFolder's per-file parallelism).
    */
  private def writeAll(overview: DataFrame, results: Seq[TableScanResult])(
      write: (String, DataFrame) => Unit): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.util.Try
    implicit val ec: ExecutionContext = ExecutionContext.global
    // Lift each write into Try and await them ALL before rethrowing:
    // a fail-fast Await would return while sibling sheet writes are
    // still in flight (partially-written report, racy cleanup).
    val outcomes = Await.result(
      Future.sequence(sheets(overview, results).map { case (name, df) =>
        Future(Try(write(name, df)))
      }), Duration.Inf)
    outcomes.foreach(_.get) // rethrow the first failure, if any
  }

  /** Reference-layout TSV report (whiteRRabbit.R:515-531). */
  def writeTsv(outputDir: String, prefix: String, overview: DataFrame,
      results: Seq[TableScanResult]): Unit =
    writeAll(overview, results) { (name, df) =>
      DriverCsv.write(df, s"$outputDir/${prefix}_$name",
        Map("sep" -> "\t", "header" -> "true"))
    }

  /** Workbook sink: one directory, one Parquet dataset per sheet. */
  def writeWorkbook(outputDir: String, prefix: String, overview: DataFrame,
      results: Seq[TableScanResult]): Unit =
    writeAll(overview, results) { (name, df) =>
      df.coalesce(1).write.mode("overwrite")
        .parquet(s"$outputDir/${prefix}_workbook/$name")
    }

  /** Real `.xlsx` workbook at `<outputDir>/<prefix>.xlsx` with the
    * reference's sheet naming (whiteRRabbit.R:485-514: `Overview`,
    * `File<i>` for summaries, `File<i>freq` for non-empty frequency
    * sheets).
    */
  def writeXlsx(outputDir: String, prefix: String, overview: DataFrame,
      results: Seq[TableScanResult]): Unit = {
    val perFile = results.zipWithIndex.flatMap { case (r, i) =>
      val s = Seq(s"File${i + 1}" -> Profile.referenceSummary(r.summary))
      if (r.freq.isEmpty) s else s :+ (s"File${i + 1}freq" -> r.freq)
    }
    XlsxSink.write(s"$outputDir/$prefix.xlsx",
      ("Overview" -> overview) +: perFile)
  }

  /** Dispatch on the configured output format (whiteRRabbit.R:483-534). */
  def write(outputDir: String, prefix: String, format: String,
      overview: DataFrame, results: Seq[TableScanResult]): Unit =
    format match {
      case "tsv"  => writeTsv(outputDir, prefix, overview, results)
      case "xlsx" =>
        writeXlsx(outputDir, prefix, overview, results)
        writeWorkbook(outputDir, prefix, overview, results)
      case other =>
        throw new IllegalArgumentException(
          s"Invalid output_format: $other (use xlsx or tsv)") // ref :532-534
    }
}
