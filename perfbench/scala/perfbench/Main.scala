package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one workload, one seed, a closed loop of one
  * client running one operation at a time for `--seconds` seconds,
  * after a cold set-up operation and an unmeasured warm-up.
  *
  *   --trace 0: end-to-end metrics, medians over the measured
  *              operations of the run (3-8 of them: no percentile above
  *              the median has ten samples beyond it, so only the
  *              median is reported);
  *   --trace 1: per-layer metrics from traced operations, alternated
  *              with untraced ones to measure the tracing overhead.
  *
  * The last line of stdout is the JSON result, whose `correct` and
  * `failed` report failed operations and output checks; the process
  * exits 0 whenever it printed a result.
  */
object Main {

  /** (name, unit) of every end-to-end metric. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "rows_per_s" -> "1/s", "task_s" -> "s",
    "jobs" -> "count", "shuffle_mb" -> "MB", "setup_s" -> "s",
    "peak_heap_mb" -> "MB")

  private val scanLayers = Seq("sources", "sampling", "typeinference",
    "profile", "frequency")
  private val dedupCalls = Seq("dedup.exact", "dedup.minhash",
    "dedup.components")

  /** (name, unit) of every per-layer metric. */
  val PerLayer: Seq[(String, String)] =
    scanLayers.flatMap(l => Seq(s"$l.wall_s" -> "s", s"$l.task_s" -> "s",
      s"$l.jobs" -> "count")) ++
    Seq("sources.bytes_read_mb" -> "MB", "sources.parse_probe_s" -> "s",
      "sampling.rows_out" -> "count", "sampling.probe_s" -> "s",
      "typeinference.promote_probe_s" -> "s",
      "typeinference.numeric_cols" -> "count",
      "typeinference.datetime_cols" -> "count",
      "typeinference.character_cols" -> "count",
      "profile.shuffle_mb" -> "MB", "profile.idle_core_s" -> "s",
      "frequency.shuffle_mb" -> "MB", "frequency.idle_core_s" -> "s",
      "frequency.rows_out" -> "count",
      "sinks.wall_s" -> "s", "sinks.jobs" -> "count",
      "sinks.bytes_written_mb" -> "MB") ++
    dedupCalls.flatMap(d => Seq(s"$d.wall_s" -> "s", s"$d.task_s" -> "s",
      s"$d.jobs" -> "count", s"$d.shuffle_mb" -> "MB")) ++
    Seq("dedup.pairs" -> "count", "dedup.clusters" -> "count",
      "dedup.planted_recall" -> "ratio",
      "similarity.wall_s" -> "s", "similarity.task_s" -> "s",
      "similarity.jobs" -> "count", "similarity.recall" -> "ratio",
      "trace.op_wall_s" -> "s", "trace.untraced_s" -> "s",
      "trace.overhead_ratio" -> "ratio", "trace.task_s" -> "s",
      "trace.jobs" -> "count", "trace.jobs_per_file" -> "count",
      "trace.idle_core_s" -> "s")

  val MinOps = 2

  def session(cores: Int, work: File): SparkSession = {
    val tmp = new File(work, "tmp")
    val s = graft.hadoop.FastLocalFileSystem.config(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store keeps every finished job and query by default;
      // bounded here so the live heap does not grow with the number
      // of operations a run gets through
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "10")
      // a scan operation generates ~130 classes; with the default
      // 100-entry cache every warm operation would compile and JIT all
      // of them again. A one-shot ScanMain run compiles each plan once
      // either way, and that cost is in setup_s.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.local.dir", new File(tmp, "spark").getPath)
      .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getPath))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  final case class Op(wallS: Double, c: Counters, heapMb: Double)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = new File(opts("work")).getAbsoluteFile
    if (args.contains("--selftest")) sys.exit(SelfTest.run(work))
    val code = bench(work, opts("workload"), opts("seed").toLong,
      opts("seconds").toInt, opts.getOrElse("trace", "0") == "1")
    sys.exit(code)
  }

  def bench(work: File, name: String, seed: Long, seconds: Int,
      trace: Boolean): Int = {
    val wl = Workloads(name)
    wl.prepare(new File(work, "data"), seed)
    // one core is left to the driver thread, the JIT compilers and the
    // GC: with every core running tasks (local[4] on 4 cores) the cold
    // set-up was ~2 s slower and its spread over seeds 2-3x as wide
    val cores = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors - 1))
    val out = new File(work, s"out/$name")
    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[String]
    var failed = 0
    var crashed = 0

    /** One closed-loop operation, counters drained, output checked. */
    def attempt(spark: SparkSession, tr: Tracer, traced: Boolean,
        measured: Boolean = true): Option[(Op, wl.Out)] = {
      attempted += 1
      tr.drain(); tr.reset()
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (r, wall) = Util.timed(Try(wl.run(spark, out, Option(tr).filter(_ => traced))))
      tr.drain()
      val c = new Counters; c.add(tr.total)
      r match {
        case Failure(e) =>
          failed += 1; crashed += 1; failures += s"operation failed: $e"; None
        case Success(o) =>
          val bad = Try(wl.check(spark, out, o)) match {
            case Success(b) => b
            case Failure(e) => Seq(s"check failed: $e")
          }
          if (bad.nonEmpty) { failed += 1; failures ++= bad.take(30) }
          // live heap, for measured operations only (it costs ~0.4 s):
          // the second collection frees what the ContextCleaner
          // released after the first one enqueued its weak references
          val heapMb = if (!measured) Double.NaN else {
            System.gc(); Thread.sleep(100); System.gc()
            val rt = Runtime.getRuntime
            (rt.totalMemory - rt.freeMemory) / 1e6
          }
          val op = Op(wall, c, heapMb)
          System.err.println(f"perfbench: op $attempted%d traced=$traced " +
            f"wall=$wall%.3fs task=${c.taskMs / 1e3}%.2fs jobs=${c.jobs}%d " +
            f"heap=${op.heapMb}%.0fMB failures=${bad.length}%d " +
            s"compiled=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled}")
          Some((op, o))
      }
    }

    // set-up, what a one-shot ScanMain user pays: the JVM's first
    // session plus its first (cold) operation
    val (spark, start) = Util.timed(session(cores, work))
    val tr = new Tracer(spark.sparkContext)
    val setupS = attempt(spark, tr, traced = false, measured = false).fold(Double.NaN) {
      case (op, o) => wl.release(o); start + op.wallS
    }

    // warm-up: the first operations after the cold one are still
    // slower while the JIT compiles, so these run (and are checked)
    // but are not measured
    val warmEnd = System.nanoTime() + (wl.warmupS * 1e9).toLong
    while (System.nanoTime() < warmEnd && crashed == 0)
      attempt(spark, tr, traced = false, measured = false)
        .foreach { case (_, o) => wl.release(o) }

    val deadline = System.nanoTime() + seconds * 1000000000L
    val plain = mutable.ArrayBuffer.empty[Op]
    // traced operations: (op, per-layer counts, index of its first span)
    val traced = mutable.ArrayBuffer.empty[(Op, Map[String, Double], Int)]
    var lastTraced: Option[wl.Out] = None
    var i = 0
    // past the deadline, keep going only until MinOps operations of
    // each kind ran; an operation that throws ends the run at the deadline
    while (System.nanoTime() < deadline || (crashed == 0 &&
        (plain.length < MinOps || (trace && traced.length < MinOps)))) {
      val doTrace = trace && i % 2 == 1
      val firstSpan = tr.allSpans.length
      attempt(spark, tr, doTrace) match {
        case Some((op, o)) if doTrace =>
          traced += ((op, wl.counts(spark, out, o), firstSpan))
          lastTraced.foreach(wl.release)
          lastTraced = Some(o)
        case Some((op, o)) => plain += op; wl.release(o)
        case None => ()
      }
      i += 1
    }

    def med(xs: Iterable[Double]) =
      if (xs.isEmpty) Double.NaN else Util.median(xs.toSeq)
    val metrics: Seq[(String, String, Double)] =
      if (traced.isEmpty && trace) PerLayer.map { case (n, u) => (n, u, Double.NaN) }
      else if (!trace) {
        val m = Map(
          "wall_s" -> med(plain.map(_.wallS)),
          "task_s" -> med(plain.map(_.c.taskMs / 1e3)),
          "jobs" -> med(plain.map(_.c.jobs.toDouble)),
          "shuffle_mb" -> med(plain.map(_.c.shuffleWriteBytes / 1e6)),
          "setup_s" -> setupS,
          "peak_heap_mb" -> plain.map(_.heapMb).maxOption.getOrElse(Double.NaN))
        EndToEnd.map { case (n, u) =>
          (n, u, if (n == "rows_per_s") wl.inputRows / m("wall_s") else m(n))
        }
      } else {
        val last = traced.last
        lastTraced.foreach { o => wl.probes(tr, o); wl.release(o) }
        tr.drain()
        val spans = tr.allSpans
        val perOp = traced.toSeq.map { case (_, counts, from) =>
          layerMetrics(spans.drop(from), cores, wl.files) ++ counts
        }
        val probeSpans = spans.drop(spans.indexWhere(_.name == "probe", last._3))
        val probe = Seq("sources.parse_probe", "sampling.probe",
          "typeinference.promote_probe").map { p =>
            s"${p}_s" -> probeSpans.filter(_.name == p).map(_.wallS).sum
          }.toMap
        val overhead = med(traced.map(_._1.wallS)) / med(plain.map(_.wallS))
        Util.writeString(new File(work, s"traces/$name-$seed.json"),
          Trace.toJson(spans))
        PerLayer.map { case (n, u) =>
          val v =
            if (n == "trace.overhead_ratio") overhead
            else probe.getOrElse(n, med(perOp.map(_.getOrElse(n, 0.0))))
          (n, u, v)
        }
      }
    spark.stop()

    failures.distinct.foreach(f => System.err.println(s"perfbench: $f"))
    val body = metrics.map { case (n, u, v) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
    0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  /** Per-layer metrics of the traced operation whose spans start at
    * `spans.head` (its `op` root) and run up to the next root.
    */
  def layerMetrics(spans: Seq[Span], cores: Int, files: Int): Map[String, Double] = {
    val root = spans.head
    require(root.name == "op", s"expected an op span, got ${root.name}")
    val tree = spans.takeWhile(s => s.id == root.id || s.startNs < root.endNs)
    val layerSpans = tree.filter(_.name.contains('.'))
    val kids = tree.groupBy(_.parent)
    val m = mutable.Map.empty[String, Double]
    def sum(key: String, ss: Seq[Span], f: Span => Double): Unit =
      m(key) = ss.map(f).sum
    val byLayer = layerSpans.groupBy(_.layer) ++
      layerSpans.filter(_.layer == "dedup").groupBy(s => s.name)
    for ((l, ss) <- byLayer) {
      sum(s"$l.wall_s", ss, _.wallS)
      sum(s"$l.task_s", ss, _.c.taskMs / 1e3)
      sum(s"$l.jobs", ss, _.c.jobs.toDouble)
      sum(s"$l.shuffle_mb", ss, _.c.shuffleWriteBytes / 1e6)
      sum(s"$l.idle_core_s", ss, s => s.wallS * cores - s.c.taskMs / 1e3)
      sum(s"$l.bytes_read_mb", ss, _.c.bytesRead / 1e6)
      sum(s"$l.bytes_written_mb", ss, _.bytesWritten / 1e6)
    }
    val task = tree.map(_.c.taskMs / 1e3).sum
    val jobs = tree.map(_.c.jobs.toDouble).sum
    m("trace.op_wall_s") = root.wallS
    m("trace.untraced_s") = tree.filterNot(_.name.contains('.'))
      .map(s => Trace.selfS(s, kids.getOrElse(s.id, Nil))).sum
    m("trace.task_s") = task
    m("trace.jobs") = jobs
    m("trace.jobs_per_file") = if (files == 0) 0.0 else jobs / files
    m("trace.idle_core_s") = root.wallS * cores - task
    m.toMap
  }
}
