package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-query profiling main (guide §1/§7 translated to a headless
  * box): run ONE registered query `reps` times in a fresh session and
  * print, for the last rep, the per-job wall times (with job
  * descriptions/call sites) and the heaviest stages' task-time
  * breakdown — executor run time, shuffle read/write bytes, spill —
  * from a SparkListener. Measurement tooling only; never part of the
  * bench or verify contracts.
  *
  * Usage: tools/run.sh graft.Prof <sfDir> <queryName> [reps] [cpus]
  */
object Prof {

  private case class JobRec(id: Int, desc: String, var wallMs: Long = 0L,
      startMs: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = if (args.length > 3) args(3) else
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // experiment passthrough: SPARK_PROF_CONF="k=v;k=v" (dev tool only)
    val extra = sys.env.get("SPARK_PROF_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.nonEmpty)
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    val b0 = graft.hadoop.FastLocalFileSystem.config(
      SparkSession.builder())
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.minPartitionNum", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(b0) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.registry
      .getOrElse(name, sys.error(s"unknown query $name")).run

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, String, Long, Long, Long, Long, Long, Int, Long)]()
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (record) {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(js.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          jobs.put(js.jobId, JobRec(js.jobId, desc, startMs = js.time))
          ()
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (record) {
          Option(jobs.get(je.jobId)).foreach { r =>
            r.wallMs = je.time - r.startMs
          }
        }
      override def onStageCompleted(
          sc: SparkListenerStageCompleted): Unit =
        if (record) {
          val si = sc.stageInfo
          val tm = si.taskMetrics
          stages.add((si.stageId, si.name.takeWhile(_ != '\n'),
            tm.executorRunTime,
            tm.shuffleReadMetrics.totalBytesRead,
            tm.shuffleWriteMetrics.bytesWritten,
            tm.memoryBytesSpilled + tm.diskBytesSpilled, tm.jvmGCTime,
            si.numTasks, tm.executorDeserializeTime))
          ()
        }
    })

    var wall = 0.0
    (1 to reps).foreach { i =>
      if (i == reps) record = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      wall = (System.nanoTime() - t0) / 1e9
      println(f"[prof] rep $i: $wall%.3f s")
    }
    // settle listener events (listenerBus is private[spark]; a short
    // sleep is fine for a dev profiling tool)
    Thread.sleep(1000)

    import scala.jdk.CollectionConverters._
    println(f"\n== $name last-rep wall $wall%.3f s ==")
    println("-- jobs by wall ms --")
    jobs.values.asScala.toSeq.sortBy(-_.wallMs).take(40).foreach { j =>
      println(f"  ${j.wallMs}%6d ms  job ${j.id}%3d  ${j.desc.take(110)}")
    }
    println("-- stages by executor run time --")
    stages.asScala.toSeq.sortBy(-_._3).take(25).foreach {
      case (id, nm, rt, sr, sw, sp, gc, nt, dt) =>
        println(f"  $rt%7d ms-task  stage $id%4d  $nt%3d tasks" +
          f"  gc $gc%6d ms  deser $dt%6d ms  shufR ${sr / 1024}%7d KB" +
          f"  shufW ${sw / 1024}%7d KB  spill ${sp / 1024}%6d KB  $nm")
    }
    val n = jobs.size()
    println(s"-- $n jobs, ${stages.size()} stages in last rep --")
    spark.stop()
  }
}
