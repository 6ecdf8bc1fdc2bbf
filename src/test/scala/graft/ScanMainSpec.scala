package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.XlsxSink

/** CLI surface of [[ScanMain]]: option parsing and the reference's
  * bare-flag default behavior — in particular the r4 parity fix that a
  * run with only the required flags produces an `.xlsx` workbook, the
  * reference's default output format (whiteRRabbit.R:43-44).
  */
class ScanMainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("bare-flag parse defaults to the reference's xlsx format") {
    val c = ScanMain.parse(Array("--working_folder", "/data/in"))
    assert(c.outputFormat == "xlsx")
    assert(c.delimiter == "tab" && c.maxRows == 100000L &&
      c.maxDistinctValues == 1000 && c.prefix == "ScanReport" &&
      c.minCellCount == 5L && c.randomSample && c.scanFieldValues &&
      !c.shiftDates)
  }

  test("a bare-flag run writes <prefix>.xlsx like the reference") {
    val dir = graft.config.Scratch.dir + "/scanmain_default"
    val in = s"$dir/in"; val out = s"$dir/out"
    Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/people.tsv"),
      "name\tage\nada\t36\ngrace\t45\nada\t36\n"
        .getBytes("UTF-8"))
    // run() against the shared test session — main() owns (and stops)
    // its own session, which a test must not do
    ScanMain.run(spark, ScanMain.parse(Array(
      "--working_folder", in, "--output_dir", out, "--cpus", "2")))
    assert(Files.exists(Paths.get(s"$out/ScanReport.xlsx")),
      "default run must produce the reference's xlsx workbook")
    val (oHeader, oRows) =
      XlsxSink.readSheet(s"$out/ScanReport.xlsx", "Overview")
    assert(oHeader.nonEmpty && oRows.nonEmpty)
    val (sHeader, sRows) =
      XlsxSink.readSheet(s"$out/ScanReport.xlsx", "File1")
    assert(sHeader.contains("Column") && sRows.nonEmpty)
  }

  /** A fresh folder holding the files `files` (name -> content). */
  private def folder(files: (String, String)*): String = {
    val in = Files.createTempDirectory(
      Paths.get(graft.config.Scratch.runDir), "graft-scanmain")
    files.foreach { case (n, body) =>
      Files.write(in.resolve(n), body.getBytes("UTF-8")) }
    in.toString
  }

  test("an empty file fails the scan with an error naming the file") {
    val in = folder("good.tsv" -> "a\tb\n1\tx\n2\ty\n",
      "empty.tsv" -> "")
    val out = Files.createTempDirectory(
      Paths.get(graft.config.Scratch.runDir), "graft-scanmain-out").toString
    val e = intercept[IllegalArgumentException] {
      ScanMain.run(spark, ScanMain.parse(Array("--working_folder", in,
        "--output_dir", out, "--output_format", "tsv")))
    }
    assert(e.getMessage.contains("empty.tsv"), e.getMessage)
  }

  test("a header-only file scans: N_rows 1, N_rows_checked 0") {
    val in = folder("header_only.tsv" -> "a\tb\n")
    val out = Files.createTempDirectory(
      Paths.get(graft.config.Scratch.runDir), "graft-scanmain-out").toString
    ScanMain.run(spark, ScanMain.parse(Array("--working_folder", in,
      "--output_dir", out, "--output_format", "tsv")))
    val sheet = Paths.get(out, "ScanReport_Overview")
    val part = Files.list(sheet).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-")).head
    val Seq(header, row) = new String(Files.readAllBytes(part), "UTF-8")
      .split("\n").toSeq
    val cells = header.split("\t").zip(row.split("\t", -1)).toMap
    assert(cells("FileName") == "header_only.tsv")
    assert(cells("N_rows") == "1" && cells("N_rows_checked") == "0")
    assert(cells("N_Fields") == "2")
  }
}
