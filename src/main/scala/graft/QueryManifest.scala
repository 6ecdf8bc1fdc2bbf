package graft

/** Renders [[SparkEntry.registry]] as the committed
  * QUERY_MANIFEST.json (VERDICT r14 #8) — one sorted `"name":
  * "gate-class"` line per registered query, the class being `oracle`
  * (full DuckDB rows+schema+hash compare) or `bench-only;
  * contract-twin: <q>` (timed by Bench, accuracy pinned by the named
  * oracle-gated contract query). Registry changes show up as one-line
  * diffs, and the round artifacts (CORRECTNESS_r*.json vs
  * BENCH_r*.json row counts) reconcile against a committed file
  * instead of a source dive; [[Verify]] dumps the same text beside
  * the oracle SQL.
  *
  * Regenerate after any registry change:
  *
  *   tools/run.sh graft.QueryManifest
  *
  * QueryManifestSpec fails the build when the committed file lags the
  * live registry.
  */
object QueryManifest {

  def render: String = {
    val entries = SparkEntry.registry.toSeq.sortBy(_._1).map {
      case (k, SparkEntry.Query(_, SparkEntry.Oracle(_))) =>
        s"""  "$k": "oracle""""
      case (k, SparkEntry.Query(_, SparkEntry.ContractTwin(t))) =>
        s"""  "$k": "bench-only; contract-twin: $t""""
    }
    entries.mkString("{\n", ",\n", "\n}\n")
  }

  def main(args: Array[String]): Unit = {
    val path = if (args.nonEmpty) args(0) else "QUERY_MANIFEST.json"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path), render)
    println(s"wrote $path (${SparkEntry.registry.size} entries)")
  }
}
