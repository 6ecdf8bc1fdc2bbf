package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Spark work attributed to one span, or to a whole operation. */
final class Counters {
  var jobs = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var bytesRead = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; taskMs += o.taskMs
    shuffleWriteBytes += o.shuffleWriteBytes; bytesRead += o.bytesRead
  }
}

/** One traced interval: a call into a layer (name `layer.call`) or a
  * container (`op`, `file`, `probe`). `parent` is the id of the span
  * that was open around it, -1 for a root.
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val startNs: Long, val startMs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = Long.MaxValue
  val c = new Counters
  /** Bytes a sink span left on disk, measured by the harness. */
  var bytesWritten = 0L

  def layer: String = name.takeWhile(_ != '.')
  def wallS: Double = (endNs - startNs) / 1e9
  def covers(ms: Long): Boolean = startMs <= ms && ms <= endMs
}

/** SparkListener that sums task time, jobs, shuffle-write and input
  * bytes per operation and per span.
  *
  * A span is opened on the harness thread, which sets the span id as
  * a local property; every job submitted from that thread carries it.
  * Jobs submitted from pool threads (ReportSink's parallel sheet
  * writes) carry no property, or a stale one inherited when the pool
  * thread was created, so a property only counts when its span was
  * open at the job's submission time; otherwise the job goes to the
  * innermost span open at that time. The harness is the only client,
  * so that fallback is exact.
  *
  * Listener events arrive asynchronously: call [[drain]] before
  * reading counters.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  /** Everything since the last [[reset]], whether in a span or not. */
  val total = new Counters

  sc.addSparkListener(this)

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def reset(): Unit = synchronized {
    total.jobs = 0; total.taskMs = 0
    total.shuffleWriteBytes = 0; total.bytesRead = 0
    stageSpan.clear()
  }

  def allSpans: Seq[Span] = synchronized(spans.toVector)

  def span[T](name: String)(body: => T): T = {
    val parent = open.headOption
    val s = synchronized {
      val s = new Span(spans.length, name, parent.fold(-1)(_.id),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      s
    }
    open = s :: open
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(Prop, parent.map(_.id.toString).orNull)
    }
  }

  private def spanAt(e: SparkListenerJobStart): Option[Span] = {
    val byProp = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toInt).filter(_ < spans.length).map(spans(_))
      .filter(_.covers(e.time))
    byProp.orElse(spans.reverseIterator.find(_.covers(e.time)))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    total.jobs += 1
    spanAt(e).foreach { s =>
      s.c.jobs += 1
      e.stageInfos.foreach(si => stageSpan(si.stageId) = s)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val d = new Counters
      d.taskMs = m.executorRunTime
      d.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
      d.bytesRead = m.inputMetrics.bytesRead
      total.add(d)
      stageSpan.get(e.stageId).foreach(_.c.add(d))
    }
  }
}

object Trace {
  /** Wall seconds of `s` not covered by any of its direct children. */
  def selfS(s: Span, children: Seq[Span]): Double = {
    var covered = 0L
    var reach = s.startNs
    children.sortBy(_.startNs).foreach { c =>
      val a = math.max(c.startNs, reach)
      val b = math.min(c.endNs, s.endNs)
      if (b > a) { covered += b - a; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Spans as JSON lines, times relative to the first span's start. */
  def toJson(spans: Seq[Span]): String = {
    val t0 = spans.headOption.fold(0L)(_.startNs)
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_s":${(s.startNs - t0) / 1e9},"end_s":${(s.endNs - t0) / 1e9},""" +
        s""""self_s":${selfS(s, kids.getOrElse(s.id, Nil))},"jobs":${s.c.jobs},""" +
        s""""task_s":${s.c.taskMs / 1e3},"shuffle_write_bytes":${s.c.shuffleWriteBytes},""" +
        s""""bytes_read":${s.c.bytesRead},"bytes_written":${s.bytesWritten}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
