// spark-shell -I script: the four sidecar-writing commits
// (commitWithStats, commitWithBloom, commitAppendWithStats,
// commitAppendWithBloom, plain and after a column rename) on one fixed
// input under $GRAFT_TMP_DIR; writes to $OUT every root's entry names,
// its manifests (times masked) and each sidecar's schema and rows (paths
// normalized, Bloom bytes as md5). Driven by tools/table_evidence.sh.
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable
import spark.implicits._
val out = sys.env("OUT")
val base = sys.env("GRAFT_TMP_DIR") + "/sidecars"
def rows(lo: Long, n: Long) = {
  (lo until lo + n).map(k => (k, s"c${k % 7}",
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(k * 3600)))).toDF("k", "s", "ts")
}
val df = rows(0, 400); val delta = rows(400, 100)
val st = base + "/stats"; val bl = base + "/bloom"
val stE = base + "/stats_evolved"; val blE = base + "/bloom_evolved"
Seq(st, bl, stE, blE).foreach(VersionedTable.destroy(spark, _))
VersionedTable.commitWithStats(df.repartitionByRange(4, col("k")).sortWithinPartitions("k"),
  st, statsCols = Seq("k", "ts"), stringStatsCols = Seq("s"), tag = "t")
VersionedTable.commitAppendWithStats(delta.repartitionByRange(2, col("k")), st, Seq("k", "ts"))
VersionedTable.commitWithBloom(df.repartition(4, col("k")), bl, Seq("k", "s"),
  expectedItemsPerFile = 1000L, tag = "b")
VersionedTable.commitAppendWithBloom(delta.repartition(2, col("k")), bl, Seq("k", "s"), 1000L)
// evolved tables: the appends key their sidecar columns by physical name
VersionedTable.commitWithStats(df.repartitionByRange(4, col("k")), stE, Seq("k"))
VersionedTable.renameColumn(spark, stE, "k", "key")
VersionedTable.commitAppendWithStats(delta.withColumnRenamed("k", "key")
  .repartitionByRange(2, col("key")), stE, Seq("key"))
VersionedTable.commitWithBloom(df.repartition(4, col("k")), blE, Seq("k"), 1000L)
VersionedTable.renameColumn(spark, blE, "k", "key")
VersionedTable.commitAppendWithBloom(delta.withColumnRenamed("k", "key")
  .repartition(2, col("key")), blE, Seq("key"), 1000L)
def norm(p: String): String = {
  p.replaceAll(".*/sidecars/", "")
    .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "U")
}
def cell(v: Any): String = v match {
  case b: Array[Byte] => "bytes:" + java.security.MessageDigest.getInstance("MD5")
    .digest(b).map("%02x".format(_)).mkString
  case s: String => norm(s)
  case x => String.valueOf(x)
}
val sb = new StringBuilder
for (r <- Seq(st, bl, stE, blE)) {
  val d = new java.io.File(r)
  sb ++= s"## ${norm(r)}: ${d.list().sorted.mkString(" ")}\n"
  for (f <- d.listFiles().sortBy(_.getName)) {
    val n = f.getName
    if (n.startsWith("_graft_stats_v") || n.startsWith("_graft_bloom_v")) {
      val sc = spark.read.parquet(f.getPath)
      sb ++= s"-- $n ${sc.schema.simpleString}\n"
      sc.collect().map(_.toSeq.map(cell).mkString(" | ")).sorted.foreach(l => sb ++= s"   $l\n")
    } else if (f.isFile) {
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      sb ++= s"-- $n ${txt.replaceAll("[0-9]{12,}", "T").replace("\n", " ")}\n"
    } else if (f.isDirectory) {
      f.list().sorted.filter(_.endsWith(".parquet")).foreach(p => sb ++= s"   $n/${norm(p)}\n")
    }
  }
}
java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
System.exit(0)
