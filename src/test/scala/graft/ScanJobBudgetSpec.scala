package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.config.ScanConfig
import graft.sinks.ReportSink
import graft.sources.DelimitedSource

/** Job budget of one table scan: the Spark jobs [[Scan.scanTable]]
  * submits (sample cap, inference, promotion, profile, frequency) on a
  * small fixed fixture, counted with a SparkListener. The bound is the
  * count the decisions-first scan keeps it at — the census of the raw
  * histogram (its fill and its grouped aggregate), the moments pass,
  * profile stats, frequency table; a change that adds a job per table
  * fails here. The lifecycle budget pins the jobs of one whole
  * [[ScanMain.run]] over a folder, step by step.
  */
class ScanJobBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val budget = 5

  test("one scanTable call stays within its Spark job budget") {
    val dir = graft.config.Scratch.dir + "/scan_job_budget"
    Files.createDirectories(Paths.get(dir))
    val path = s"$dir/visits.tsv"
    val lines = "id\tcode\tamount\tvisit_date\tnote" +:
      (0 until 60).map { i =>
        s"$i\tC${i % 4}\t${i % 7}.5\t2023-01-${i % 28 + 1}\t" +
          (if (i % 3 == 0) "" else s"n${i % 5}")
      }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    val config = ScanConfig(maxRows = 40L, randomSample = true)
    val raw = DelimitedSource.read(spark, path, config.sep)

    val sc = spark.sparkContext
    val group = "scan-job-budget"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
              _.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "scan job budget")
      val r = try Scan.scanTable(spark, raw, path, lines.size, config)
        finally sc.clearJobGroup()
      assert(r.nRowsChecked == 40L)
      assert(r.freq.count() > 0L)
      TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get <= budget,
      s"Scan.scanTable ran ${jobs.get} Spark jobs on the budget fixture; " +
        s"the budget is $budget")
  }

  /** The Spark jobs started while `body` runs, streaming queries'
    * micro-batches aside.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!Option(e.properties).exists(
              _.getProperty("sql.streaming.queryId") != null))
          jobs.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      TestListenerBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a two-file scan lifecycle: no job for headers or sheets, one " +
      "per row count") {
    val in = Files.createTempDirectory(
      Paths.get(graft.config.Scratch.runDir), "graft-scan-lifecycle")
    def write(name: String, rows: Int): Unit =
      Files.write(in.resolve(name), ("id\tcode\tamount\twhen" +:
        (0 until rows).map(i => s"$i\tC${i % 5}\t${i % 9}.25\t" +
          s"2022-05-${i % 28 + 1}")).mkString("", "\n", "\n")
        .getBytes("UTF-8"))
    write("a.tsv", 300) // over the cap and the pre-thin bound
    write("b.tsv", 30)  // under the cap
    val out = Files.createTempDirectory(
      Paths.get(graft.config.Scratch.runDir), "graft-scan-lifecycle-out")
    val config = ScanMain.parse(Array("--working_folder", in.toString,
      "--output_dir", out.toString, "--output_format", "tsv",
      "--maxRows", "40", "--seed", "3"))
    val files = DelimitedSource.listFiles(spark, in.toString, "*.tsv")
    assert(files.map(_.split('/').last) == Seq("a.tsv", "b.tsv"))
    files.foreach { f =>
      assert(jobsOf(DelimitedSource.read(spark, f, "\t"))._2 == 0, f)
      assert(jobsOf(DelimitedSource.fastRowCount(spark, f)) == ((
        if (f.endsWith("a.tsv")) 301L else 31L), 1), f)
    }
    val results = Scan.scanFolder(spark, config)
    val overview = Scan.overview(spark, results)
    assert(jobsOf(ReportSink.writeTsv(out.toString, "Again", overview,
      results))._2 == 0)
    // per file: the row count (1), the census (2: the fill of the raw
    // histogram and its grouped aggregate), the moments pass (1), the
    // profile stats (1) and the frequency table (1); a.tsv adds the
    // pre-thin survivor count (1)
    assert(jobsOf(ScanMain.run(spark, config))._2 == 2 * 6 + 1)
  }
}
