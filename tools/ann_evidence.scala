// ANN evidence for the registered queries named in QUERIES (comma
// separated): per query, the row count and md5 of its sorted result
// over each data dir of SF_DIRS (space separated), then, from the first
// dir's run, the optimized plan of every action the query ran on its
// way (a search that collects per round runs several) and of the frame
// it returned, with expression ids, lambda variable numbers, object
// hashes, plan ids and scratch paths stripped. Writes the report to OUT.
// Driven by tools/ann_evidence.sh.
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

// one block, so the shell reads the continued lines as one input
{
  val sfDirs = sys.env("SF_DIRS").split(" ").filter(_.nonEmpty).toSeq
  val names = sys.env("QUERIES").split(",").filter(_.nonEmpty).toSeq
  val out = new java.io.PrintWriter(sys.env("OUT"))
  val tmp = sys.env("GRAFT_TMP_DIR")
  def strip(plan: String): String = plan.replace(tmp, "<tmp>")
    .replaceAll("/run-[0-9]+-[0-9a-f]+/", "/run/")
    .replaceAll("#[0-9]+", "").replaceAll("(lambda [A-Za-z]+)_[0-9]+", "$1")
    .replaceAll("@[0-9a-f]+", "@").replaceAll("plan_id=[0-9]+", "plan_id=")
  val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      actions.add(s"$f:\n${strip(qe.optimizedPlan.toString)}")
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })
  // the listener bus is private[spark] at compile time only
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
  def md5(lines: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  for (n <- names) {
    out.println(s"== $n")
    for (dir <- sfDirs) {
      drain()
      actions.clear()
      val r = try {
        val df = graft.SparkEntry.registry(n).run(spark, dir)
        val rows = df.collect()
          .map(_.toSeq.map(String.valueOf).mkString("\u0001")).toSeq.sorted
        drain()
        if (dir == sfDirs.head) {
          // the result collect above is the last action; the returned
          // frame's own plan stands in for it
          val inner = actions.toArray.map(_.toString).toSeq.dropRight(1)
          inner.zipWithIndex.foreach { case (p, i) =>
            out.println(s"-- action ${i + 1} $p") }
          out.println(s"-- result:\n${strip(df.queryExecution.optimizedPlan.toString)}")
        }
        s"${rows.length} rows, md5 ${md5(rows)}"
      } catch { case e: Throwable => s"FAILED $e" }
      out.println(s"${new java.io.File(dir).getName}: $r")
      out.flush()
    }
  }
  out.close()
  System.exit(0)
}
