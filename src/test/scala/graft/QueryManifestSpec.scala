package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the committed QUERY_MANIFEST.json to the LIVE registry
  * (VERDICT r14 #8): the round artifacts' row counts
  * (CORRECTNESS_r*.json = oracle-gated queries, BENCH_r*.json
  * n_registered = queries + bench-only) must reconcile against a
  * committed file mechanically. A registry change without a manifest
  * regeneration fails here with the exact regeneration command.
  * No SparkSession needed — the registry is a pure value.
  */
class QueryManifestSpec extends AnyFunSuite {

  test("committed QUERY_MANIFEST.json matches the live registry " +
      "(regenerate with tools/run.sh graft.QueryManifest)") {
    val committed = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("QUERY_MANIFEST.json")), "UTF-8")
    assert(committed == QueryManifest.render,
      "QUERY_MANIFEST.json lags the live registry — run " +
        "`tools/run.sh graft.QueryManifest` and commit the result")
  }

  test("registry invariant: every contract twin is an " +
      "oracle-gated query") {
    // every bench-only query's accuracy pin must itself be
    // oracle-gated, or the pin pins nothing
    val twins = SparkEntry.registry.collect {
      case (b, SparkEntry.Query(_, SparkEntry.ContractTwin(t))) => b -> t
    }
    assert(twins.nonEmpty)
    twins.foreach { case (b, twin) =>
      assert(SparkEntry.oracleSql.contains(twin),
        s"bench-only $b names contract twin $twin which has no oracle")
    }
  }
}
