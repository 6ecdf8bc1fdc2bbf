// spark-shell -I script: run the table_* queries named in $ONLY (all of
// them when unset) against $SF_DIR, and write to $OUT each query's row
// count and the md5 of its sorted result rows, plus the data files every
// explicit-file scan (a pruned read) opened, relative to the table root
// (write-job UUIDs and compaction dir nonces masked). Driven by
// tools/table_evidence.sh.
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
val sfDir = sys.env("SF_DIR")
val out = sys.env("OUT")
val only = sys.env.get("ONLY").filter(_.nonEmpty).map(_.split(',').toSet)
val seen = new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[String]]()
val RunSeg = ".*/run-[0-9]+-[0-9a-f]+/([^/]+)/(.*)".r
def normRel(rel: String): String = {
  rel.replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "U")
    .replaceAll("(^|/)a[0-9a-f]{32}/", "$1aX/")
}
spark.listenerManager.register(new QueryExecutionListener {
  def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
    qe.optimizedPlan.foreach {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          val roots = h.location.rootPaths.map(_.toString)
          if (roots.nonEmpty && roots.forall(_.endsWith(".parquet")))
            roots.foreach {
              case RunSeg(tbl, rel) =>
                seen.computeIfAbsent(tbl.replaceAll("_[0-9a-f]+$", ""),
                  _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
                  .add(normRel(rel))
              case _ =>
            }
        case _ =>
      }
      case _ =>
    }
  def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
})
val names = {
  graft.SparkEntry.queries.keys.toSeq.filter(_.startsWith("table_"))
    .filter(n => only.forall(_.contains(n))).sorted
}
val results = names.map { n =>
  val r = try {
    val rows = graft.SparkEntry.queries(n)(spark, sfDir).collect()
      .map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(rows.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${rows.length} rows, md5 $md"
  } catch { case e: Throwable => s"FAILED $e" }
  println(s"DUMP $n $r")
  (n, r)
}
Thread.sleep(5000) // let the listener bus drain
import scala.jdk.CollectionConverters._
val sb = new StringBuilder
results.foreach { case (n, r) => sb ++= s"== $n: $r\n" }
seen.asScala.toSeq.sortBy(_._1).foreach { case (t, s) =>
  sb ++= s"-- $t: ${s.size} pruned-scan files\n"
  s.asScala.toSeq.sorted.foreach(p => sb ++= s"   $p\n")
}
java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
System.exit(0)
