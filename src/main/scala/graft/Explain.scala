package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit main: print the formatted physical plan of one or all
  * registered queries. Usage:
  *   tools/run.sh graft.Explain <sfDir> [queryName]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val all = SparkEntry.registry
    val names = if (args.length > 1) Seq(args(1))
                else all.keys.toSeq.sorted
    val spark = graft.hadoop.FastLocalFileSystem.config(
      SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try all(n).run(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
