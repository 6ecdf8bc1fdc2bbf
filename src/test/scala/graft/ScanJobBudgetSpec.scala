package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.config.ScanConfig
import graft.sources.DelimitedSource

/** Job budget of one table scan: the Spark jobs [[Scan.scanTable]]
  * submits (sample cap, inference, promotion, profile, frequency) on a
  * small fixed fixture, counted with a SparkListener. The bound is the
  * count the histogram-first scan brings it to — counters pass, fill
  * of the raw histogram, inference votes, profile stats, frequency
  * table; a change that adds a job per table fails here.
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
}
