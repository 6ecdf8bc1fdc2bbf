package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // fork-free local FS — see graft.hadoop.FastLocalFileSystem
    val spark = graft.hadoop.FastLocalFileSystem.config(
      SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // 16MB input splits: test-scale files are 10-60MB, the 128MB
      // default would hand a whole scan to 1-4 of the local cores
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated query filter for focused dev runs
    // (same contract as Bench's SPARK_GRAFT_QUERIES)
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(',').map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // No DECIMAL output columns, ever: the driver's hash normalizes
        // the Spark side and the DuckDB side through different numeric
        // representations, and str(Decimal("8.00")) vs str(8.0) flips
        // the hash exactly when a value's cents end in zero — the
        // r8-r10 "driver-only" table-family reds were all this. Sum as
        // decimal for exactness, then cast the OUTPUT to double.
        val decs = df.schema.fields.filter(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
        require(decs.isEmpty, s"query $name emits DECIMAL column(s) " +
          s"${decs.map(_.name).mkString(",")}: hash-unstable under the " +
          "driver's float normalization; cast the output to double")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        // full toString (class + message) and the stack head: a red
        // row must carry evidence — getMessage alone can be null, and
        // the r8/r9 driver-only flake taught that a silent failure
        // mode here is unfalsifiable post-hoc
        System.err.println(s"[verify] $name failed: $e")
        e.getStackTrace.take(6).foreach(t =>
          System.err.println(s"[verify]   at $t"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Self-explaining artifact (VERDICT r13 #8): Bench times every
    // registry entry, but only the oracle-gated ones reach
    // CORRECTNESS_r*.json, whose rows come up short of BENCH's
    // n_registered by exactly the bench-only set. Record that set —
    // each entry names the oracle-backed CONTRACT twin that pins its
    // semantics — so the reconciliation reads off the artifacts
    // alone, no source dive needed.
    val benchOnly = SparkEntry.registry.toSeq.sortBy(_._1).collect {
      case (k, SparkEntry.Query(_, SparkEntry.ContractTwin(t))) =>
        s"${q(k)}: ${q("contract-twin: " + t)}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/bench_only.json"), benchOnly)
    // the full registry manifest (VERDICT r14 #8): name → gate class
    // for EVERY registered query — the same content as the committed
    // QUERY_MANIFEST.json, so the round's artifacts reconcile against
    // the repo file mechanically
    Files.writeString(Paths.get(s"$outDir/query_manifest.json"),
      QueryManifest.render)
    spark.stop()
  }
}
