package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards over REGISTERED queries — the
  * ".explain and iterate" discipline frozen as tests: each flagship
  * query's scale-critical plan property (broadcast placement, no
  * cartesian blowup, pushdown reaching the scan, bounded shuffle
  * count) is pinned so a refactor that silently degrades the plan
  * fails here, not in a 100 TB run. Assertions are deliberately
  * coarse (substring / count bounds on the planned text) so they
  * survive cosmetic Spark plan-format changes.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.registry(name).run(spark, dir)
      .queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("tpch_q8: every dimension joins as a broadcast hash join and " +
      "nothing degenerates to a cartesian product") {
    val p = planOf("tpch_q8")
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(count(p, "BroadcastHashJoin") >= 6,
      s"expected >=6 broadcast joins:\n${p.take(800)}")
  }

  test("tpch_q9: part/supplier/nation broadcast around the lineitem " +
      "scan; no cartesian; the part filter prunes before the join") {
    val p = planOf("tpch_q9")
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(count(p, "BroadcastHashJoin") >= 3,
      s"expected >=3 broadcast joins:\n${p.take(800)}")
    // the 'red' name filter must reach the part scan, not the join
    assert(p.contains("PushedFilters") && p.contains("p_name"),
      "part name filter not pushed to the scan")
  }

  test("tpch_q12_bucketed: the fact-fact orderkey join is co-located " +
      "— zero Exchange below the join") {
    // at test scale the tiny orders side would broadcast, hiding the
    // property under test; at 100 TB both sides are fact-sized and
    // the join MUST plan shuffle-free off the bucketed layout
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = planOf("tpch_q12_bucketed")
      val joinIdx = p.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected a sort-merge join:\n${p.take(800)}")
      // tree text lists the join's inputs AFTER the join operator
      // line: everything below it must read straight off the buckets
      assert(!p.substring(joinIdx).contains("Exchange hashpartitioning"),
        s"bucketed q12 join shuffled its inputs:\n$p")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("tpch_q6: the selective predicates reach the parquet scan as " +
      "pushed filters") {
    val p = planOf("tpch_q6")
    assert(p.contains("PushedFilters"), p.take(400))
    assert(p.contains("l_quantity"), "quantity filter not pushed")
    // column pruning: q6 reads 4 columns, never the ship metadata
    assert(!p.contains("l_returnflag"), "scan reads unneeded columns")
  }

  test("tpch_q3: customer is the broadcast side and unused customer " +
      "columns are pruned from its scan") {
    val p = planOf("tpch_q3")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("c_acctbal"), "customer scan not column-pruned")
  }

  test("broadcast gate (VERDICT r14 #1): sf-linear dimension tables " +
      "broadcast under the gate, and the hint drops above it") {
    // Arm 1: bench scale is far under the 64 MB gate — the flagship
    // joins must still plan the dimension side as a broadcast (the
    // fast plan the gate is not allowed to cost us at small scale).
    for (q <- Seq("tpch_q5", "tpch_q7")) {
      val p = planOf(q)
      assert(count(p, "BroadcastHashJoin") >= 2,
        s"$q lost its under-gate broadcasts:\n${p.take(800)}")
    }
    // Arm 2: shrink the gate below every table — bcastDim must return
    // the frame UNHINTED. Auto-broadcast is disabled so stats can't
    // re-broadcast the toy-scale side: the customer join has to
    // degrade to a shuffle join, exactly the plan that survives when
    // customer is 100 TB-scale and a forced broadcast would OOM.
    System.setProperty("graft.broadcast.gate.bytes", "1")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = planOf("tpch_q3")
      assert(!p.contains("BroadcastHashJoin"),
        s"gate did not drop the hint:\n${p.take(800)}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffle join above the gate:\n${p.take(800)}")
    } finally {
      System.clearProperty("graft.broadcast.gate.bytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("q10/q18 aggregate-side broadcast gate (VERDICT r15 #3): the " +
      "sf-linear aggregates broadcast under the gate and the hint " +
      "drops above it") {
    // Arm 1: bench scale is far under the gate — the aggregate side
    // (rev / big / sel) must still plan as the broadcast side.
    for (q <- Seq("tpch_q10", "tpch_q18")) {
      val p = planOf(q)
      assert(count(p, "BroadcastHashJoin") >= 2,
        s"$q lost its under-gate broadcasts:\n${p.take(800)}")
    }
    // Arm 2: shrink the gate below every table — the rev/big/sel
    // hints must drop (their cardinality is O(customers)/O(orders),
    // which at 100 TB would OOM a forced broadcast). Auto-broadcast
    // is disabled so stats can't re-broadcast the toy-scale side.
    System.setProperty("graft.broadcast.gate.bytes", "1")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // q10 keeps exactly ONE broadcast: nation is a fixed-cardinality
      // table (25 rows at every sf) whose hard hint is gate-exempt.
      val p10 = planOf("tpch_q10")
      assert(count(p10, "BroadcastHashJoin") <= 1,
        s"q10 gate did not drop the rev hint:\n${p10.take(800)}")
      assert(p10.contains("SortMergeJoin") ||
        p10.contains("ShuffledHashJoin"),
        s"q10 expected a shuffle join above the gate:\n${p10.take(800)}")
      // q18 has no fixed-size dimension — every join must degrade.
      val p18 = planOf("tpch_q18")
      assert(!p18.contains("BroadcastHashJoin"),
        s"q18 gate did not drop big/sel hints:\n${p18.take(800)}")
      assert(p18.contains("SortMergeJoin") ||
        p18.contains("ShuffledHashJoin"),
        s"q18 expected shuffle joins above the gate:\n${p18.take(800)}")
    } finally {
      System.clearProperty("graft.broadcast.gate.bytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("knn_graph: the beam search never goes cartesian and every " +
      "frontier/candidate join rides a broadcast (bounded side)") {
    // the registered query collapses its bounded k-result to a local
    // relation after releasing its caches (VERDICT r16 #4) and since
    // r19 derives the final top-k from the last round's collected
    // beam rows, so the guard inspects ONE REAL search round via the
    // round twin (shared construction with the search loop —
    // beamRoundPlan/collectFrontier) — same parameters as the
    // registry's knn_graph entry
    val (df, pinned) = operators.Similarity.graphRoundPlanTwin(
      SparkEntry.tbl(spark, dir, "embeddings"), "vec_id", "embedding",
      numCentroids = 16, graphDegree = 6, numEntries = 2,
      beam = 10, numQueries = 10)
    try {
      // r18: the search runs round-wise with the bounded frontier
      // collected to a local relation per round, so the inspectable
      // plan is one round's shape — the vector table joined
      // against the broadcast candidate set and broadcast queries.
      // The guard strengthens accordingly: NO join in the search may
      // be anything but a broadcast (previously only a count was
      // pinned), and nothing may go cartesian.
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), "graph search went cartesian")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"graph search joins must all broadcast:\n${p.take(800)}")
      assert(count(p, "BroadcastHashJoin") +
        count(p, "BroadcastNestedLoopJoin") >= 2,
        s"graph search lost its broadcasts:\n${p.take(800)}")
    } finally pinned.foreach { d =>
      d.unpersist()
      org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpointed(d)
    }
  }

  test("knn_graph / knn_graph_incremental release every cache they " +
      "pin (VERDICT r16 #4): the context's persistent-RDD set returns " +
      "to its pre-call state after the query completes") {
    // typeinfer_roundtrip and split_leakage_safe release their
    // localCheckpoint pins through the same collectReleased
    for (q <- Seq("knn_graph", "knn_graph_incremental",
        "typeinfer_roundtrip", "split_leakage_safe")) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      SparkEntry.registry(q).run(spark, dir).count()
      val after = spark.sparkContext.getPersistentRDDs.keySet
      assert(after == before,
        s"$q leaked cached RDDs: ${(after -- before).toSeq.sorted}")
    }
  }

  test("knn_ivf and decontaminate_semantic: the only cross joins are " +
      "against explicit broadcasts (centroids / benchmark)") {
    for (q <- Seq("knn_ivf", "decontaminate_semantic")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q went cartesian")
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastHashJoin"), s"$q lost its broadcast")
    }
  }

  test("summary_lineitem_approx: the assembled summary frame never " +
      "re-scans the table (the single data pass lives in the sketch " +
      "aggregate job)") {
    val p = planOf("summary_lineitem_approx")
    assert(!p.contains("FileScan") && !p.contains("Scan parquet"),
      s"summary output re-reads the input:\n${p.take(600)}")
    assert(count(p, "Exchange") <= 2, s"exchange count grew:\n$p")
  }

  test("dedup_exact: content dedup is one hash aggregation, not a " +
      "self-join") {
    val p = planOf("dedup_exact")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "dedup_exact must not join")
  }

  test("tpch_q19: the disjunction's union bounds push to BOTH scans " +
      "and part stays the broadcast side") {
    val p = planOf("tpch_q19")
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(p.contains("BroadcastHashJoin"), "part join lost broadcast")
    // lineitem scan carries the quantity hull, part scan the brand IN
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
      p.contains("LessThanOrEqual(l_quantity,30.0)"),
      "quantity hull not pushed to the lineitem scan")
    assert(p.contains("In(p_brand"), "brand list not pushed to part")
  }

  test("tpch_q21: the exists/not-exists reformulation joins the fact " +
      "tables ONCE — no second lineitem scan, no cartesian") {
    val p = planOf("tpch_q21")
    assert(!p.contains("CartesianProduct"), p.take(400))
    // reference Q21 touches lineitem three times (l1, l2, l3); the
    // per-order aggregate form scans it exactly once
    assert(count(p, "lineitem.parquet") == 1,
      s"lineitem scanned more than once:\n${p.take(800)}")
  }

  test("tpch_q13: the priority filter is pushed into the orders scan " +
      "below the outer join") {
    val p = planOf("tpch_q13")
    assert(p.contains("o_orderpriority"), "filter lost")
    assert(!p.contains("CartesianProduct"))
  }

  test("readWhere: the residual predicate reaches the file-pruned " +
      "parquet scan as pushed filters (file-level skip AND row-group " +
      "skip compose)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = graft.config.Scratch.runDir + "/plan_readwhere"
    graft.sources.VersionedTable.destroy(spark, root)
    val df = (1L to 1000L).map(k => (k, k * 2)).toDF("k", "v")
    graft.sources.VersionedTable.commitWithStats(
      df.repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      root, statsCols = Seq("k"))
    val p = graft.sources.VersionedTable
      .readWhere(spark, root, col("k") >= 100L && col("k") <= 200L)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters"), p.take(400))
    assert(p.contains("GreaterThanOrEqual(k,100)") ||
      p.contains("k >= 100") || p.contains("(k,100)"),
      s"range filter not pushed into the scan:\n${p.take(600)}")
  }

  test("event_transitions: the lead() window is partitioned per user " +
      "(no global sort over the event stream)") {
    val p = planOf("event_transitions")
    // a Window with an empty partition spec plans a single-partition
    // Exchange; the per-user spec must hashpartition on user_id
    assert(p.contains("hashpartitioning(user_id"),
      s"window not user-partitioned:\n${p.take(600)}")
    assert(!p.contains("SinglePartition"),
      "event stream collapsed to one partition")
  }

  test("unigram/bigram LM scorers: no full-vocabulary broadcast — " +
      "the dictionary joins as a bounded top-K head (broadcast) plus " +
      "an anti-routed shuffle tail") {
    // with auto-broadcast off, only EXPLICIT broadcast() hints plan a
    // BroadcastHashJoin — so any hint on the unbounded dictionary
    // (the reverted shape) would surface, while Catalyst remains free
    // to stats-broadcast the small tail at small scale in production
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      Seq("unigram_logprob", "bigram_logprob").foreach { q =>
        val p = planOf(q)
        // the Zipf head is a LIMIT over the count-sorted dictionary —
        // the ONLY thing hinted to broadcast besides the 1-row total
        assert(p.contains("TakeOrderedAndProject"),
          s"$q lost the bounded dictionary head:\n${p.take(600)}")
        // the router: facts not in the head leave via anti-join...
        assert(p.contains("LeftAnti"),
          s"$q lost the head/tail router:\n${p.take(600)}")
        // ...into a SHUFFLE join (no hint on the full dictionary)
        assert(p.contains("SortMergeJoin") ||
          p.contains("ShuffledHashJoin"),
          s"$q tail join carries a broadcast hint:\n${p.take(600)}")
        // every hinted broadcast subtree is bounded: a head limit or
        // the grand-total single row — never the raw dictionary
        // (bigram plans up to 9: two head joins' hot+anti sides, the
        // second pair replicated into both union branches, + total)
        val broadcasts = count(p, "BroadcastExchange")
        assert(broadcasts <= (if (q == "bigram_logprob") 9 else 4),
          s"$q broadcasts too much:\n${p.take(900)}")
      }
    } finally spark.conf.set(key, saved)
  }

  test("profile exact quantiles: rank ranges come from the " +
      "range-partitioned prefix sum — no window partitioned by the " +
      "melt key (the per-column single-partition histogram sort)") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
    // the rank bases are driver-side literals, so the plan does not
    // depend on the non-missing counts passed in
    val p = graft.operators.Profile
      .histogramRanked(df, IndexedSeq.fill(df.columns.length)(0L))
      .queryExecution.executedPlan.toString
    // the old shape planned `Window [...], [i#N], [vn#M ASC ...]` — one
    // partition per COLUMN, sized by the column's distinct count; the
    // windows that remain partition by __graft_pid (range buckets) or
    // run over partition-count/column-count rows only
    assert("""\], \[i#\d+\], \[vn#""".r.findFirstIn(p).isEmpty,
      s"per-column window partition re-entered the exact profile:\n$p")
    assert(p.contains("__graft_pid"), p.take(600))
    assert(p.contains("BroadcastHashJoin"),
      "the prefix sum's offset join must broadcast its " +
        "one-row-per-partition side")
  }
}
