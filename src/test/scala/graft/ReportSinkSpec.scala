package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Profile
import graft.sinks.ReportSink

/** The TSV report sheets are written on the driver; each must be the
  * directory Spark's own `coalesce(1)` CSV write makes with the same
  * options: the same part-file bytes and the same file set (the part
  * file's job UUID aside), on cells that exercise the CSV quoting and
  * number rendering.
  */
class ReportSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private val cells = Seq[String]("tab\there", "quote \"q\"", "line\nbreak",
    null, "", "naïve ✓ 東京", " padded ", "a,b;c")
  private val doubles = Seq[java.lang.Double](Double.NaN, -0.0, 1e-300,
    null, Double.PositiveInfinity, 0.1 + 0.2, -1.5e300, 42.0)

  /** Every sheet of the report: an overview-like frame, a summary and a
    * frequency table, all with the edge cells above.
    */
  private def report: (DataFrame, Seq[TableScanResult]) = {
    val frame = local(cells.indices.map(i =>
      Row(cells(i), i.toLong, doubles(i))), StructType(Seq(
      StructField("Value", StringType), StructField("Count", LongType),
      StructField("Percentage", DoubleType))))
    val summary = local(cells.indices.map { i =>
      val d = doubles(i)
      Row(Option(cells(i)).getOrElse(s"c$i"), "numeric", 8L, 6L, 1L, 1L,
        5L, d, d, d, d, d, d, d, d,
        if (i % 2 == 0) Long.box(-62135596800000000L + i) else null,
        Long.box(253402300799999999L - i), null)
    }, Profile.summarySchema)
    (frame, Seq(TableScanResult("edge.tsv", 9L, 8L, 3, 0L, summary, frame,
      Map.empty)))
  }

  private def files(dir: Path): Map[String, Array[Byte]] = {
    val uuid = "part-00000-[0-9a-f-]{36}-c000".r
    Files.list(dir).toArray.map(_.asInstanceOf[Path]).map { p =>
      uuid.replaceAllIn(p.getFileName.toString, "part-00000-UUID-c000") ->
        Files.readAllBytes(p)
    }.toMap
  }

  test("writeTsv writes the bytes and files Spark's coalesce(1) CSV " +
      "write makes") {
    val (overview, results) = report
    val root = Files.createTempDirectory(
      Paths.get(graft.config.Scratch.runDir), "graft-report-sink")
    ReportSink.writeTsv(root.resolve("driver").toString, "R", overview,
      results)
    val sheets = Seq("Overview" -> overview,
      "File1_Summary" -> Profile.referenceSummary(results.head.summary),
      "File1_Freq" -> results.head.freq)
    sheets.foreach { case (name, df) =>
      val bySpark = root.resolve("spark").resolve(s"R_$name")
      df.coalesce(1).write.mode("overwrite")
        .option("sep", "\t").option("header", "true").csv(bySpark.toString)
      val got = files(root.resolve("driver").resolve(s"R_$name"))
      val want = files(bySpark)
      assert(got.keySet == want.keySet, name)
      assert(want.keySet.exists(_.startsWith("part-")), name)
      want.foreach { case (f, bytes) =>
        assert(got(f).sameElements(bytes),
          s"$name/$f:\n${new String(got(f), "UTF-8")}\nvs\n" +
            new String(bytes, "UTF-8"))
      }
    }
    // overwrite: a second write replaces the sheet directory
    ReportSink.writeTsv(root.resolve("driver").toString, "R", overview,
      results)
    assert(files(root.resolve("driver").resolve("R_Overview"))
      .keySet.count(_.startsWith("part-")) == 1)
  }

  test("writeTsv writes an empty sheet as Spark does: the header only") {
    val empty = local(Nil, StructType(Seq(StructField("a", StringType),
      StructField("b", DoubleType))))
    val root = Files.createTempDirectory(
      Paths.get(graft.config.Scratch.runDir), "graft-report-sink-empty")
    ReportSink.writeTsv(root.resolve("driver").toString, "R", empty, Nil)
    empty.coalesce(1).write.mode("overwrite")
      .option("sep", "\t").option("header", "true")
      .csv(root.resolve("spark").toString)
    val got = files(root.resolve("driver").resolve("R_Overview"))
    val want = files(root.resolve("spark"))
    assert(got.keySet == want.keySet)
    want.foreach { case (f, bytes) => assert(got(f).sameElements(bytes), f) }
  }
}
