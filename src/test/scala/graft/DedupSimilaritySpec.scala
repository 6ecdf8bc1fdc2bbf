package graft

import org.apache.spark.sql.functions.{col, lit, max, min, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " +
    "while the cat watches from the warm windowsill nearby today"
  private lazy val docs = (
    Seq(
      (0L, base, "a"),
      (1L, base + " extra", "a"),              // near-dup of 0
      (2L, base.replace("quick", "slow"), "a"), // near-dup of 0
      (3L, "completely different text about spark query engines and " +
        "distributed columnar execution plans at scale", "b"),
      (4L, base, "b")                           // exact dup of 0
    )).toDF("doc_id", "text", "source")

  test("exact dedup groups identical content, keeps min id") {
    val rows = Dedup.exactByContent(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(0L) == 2L) // docs 0 and 4 collapse onto id 0
    assert(rows(1L) == 1L)
    assert(!rows.contains(4L))
  }

  test("minhash LSH finds true near-dups and nothing else") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 4L))) // identical → jaccard 1.0
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("salted LSH path is pair-identical to the direct expansion") {
    // force the replicated cell blocks (every bucket over the cap
    // splits into ceil(n / cap) cells) and require the exact same
    // verified pairs and candidates as the default direct expansion:
    // on the five docs, and on a hot corpus whose 40-id buckets split
    // into ~20, ~14 and ~8 cells, so off-diagonal blocks of nc >= 3
    // cells are expanded
    val hot = (0 until 40).map(i => (100L + i,
      if (i % 4 == 0) base else base.replace("dog", s"dog$i"), "h"))
      .toDF("doc_id", "text", "source").union(docs)
    def verified = Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def candidates = Dedup.minhashCandidates(hot, "doc_id", "text",
      numHashes = 16, bands = 8, shingleSize = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (direct, directCand) = (verified, candidates)
    val same = (0 until 40 by 4).map(100L + _)
    assert(same.combinations(2).forall(p => directCand((p(0), p(1)))))
    assert(directCand.forall(p => p._1 < p._2))
    for (cap <- Seq(2, 3, 5)) {
      System.setProperty("graft.lsh.bucket.cap", cap.toString)
      try {
        assert(verified == direct, s"cap $cap")
        assert(candidates == directCand, s"cap $cap")
      } finally System.clearProperty("graft.lsh.bucket.cap")
    }
  }

  test("degenerate hot bucket (5k identical docs) completes salted " +
      "and emits the complete pair set") {
    // 5000 identical docs collide in EVERY band: unsalted, one task
    // would expand 12.5M pairs per band. With the default 1024 cap
    // the bucket salts into 5 cells; the candidate set must still be
    // exactly all n(n-1)/2 pairs.
    val n = 5000
    val degen = spark.range(n).toDF("doc_id")
      .withColumn("text", lit(base))
    val pairs = Dedup.minhashCandidates(degen, "doc_id", "text",
      numHashes = 4, bands = 2, shingleSize = 3)
    assert(pairs.count() == n.toLong * (n - 1) / 2)
  }

  test("pair expansion sorts each bucket once: no ArraySort inside " +
      "the pair lambdas of the optimized plan") {
    import org.apache.spark.sql.catalyst.expressions.{ArraySort,
      LambdaFunction}
    val plan = Dedup.minhashCandidates(docs, "doc_id", "text",
      numHashes = 4, bands = 2, shingleSize = 3)
      .queryExecution.optimizedPlan
    val exprs = plan.collect { case p => p.expressions }.flatten
    val sorts = exprs.flatMap(_.collect { case s: ArraySort => s })
    val inLambda = exprs.flatMap(_.collect { case l: LambdaFunction => l })
      .flatMap(_.collect { case s: ArraySort => s })
    // one sort, of the lo cell's ids, in the one expansion branch
    assert(sorts.size == 1, plan.toString)
    assert(inLambda.isEmpty, plan.toString)
  }

  test("LSH candidate plan: native band keys, no join, one collect_list " +
      "aggregate") {
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import graft.functions.MinHashBandKeys
    val plan = Dedup.minhashCandidates(docs, "doc_id", "text",
      numHashes = 4, bands = 2, shingleSize = 3)
      .queryExecution.optimizedPlan
    assert(plan.collect { case j: Join => j }.isEmpty, plan.toString)
    val keyNodes = plan.collect {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[MinHashBandKeys])) => p
    }
    assert(keyNodes.size == 1, plan.toString)
    assert(!keyNodes.head.expressions.exists(_.exists(
      _.isInstanceOf[LambdaFunction])), plan.toString)
    val collects = plan.collect {
      case a: Aggregate if a.aggregateExpressions.exists(_.exists(
        _.isInstanceOf[CollectList])) => a
    }
    assert(collects.size == 1, plan.toString)
  }

  test("minhash verification rejects below-threshold candidates") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.999).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 4L))) // only the exact duplicate survives
  }

  test("simhash: identical docs at hamming 0; blocking finds them") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Int]("hamming"))).toSeq
    val exact = pairs.find(p => p._1 == 0L && p._2 == 4L)
    assert(exact.isDefined && exact.get._3 == 0)
  }

  test("blocked jaccard respects the blocking key") {
    val pairs = Dedup.blockedJaccardPairs(docs, "doc_id", "text",
      "source", threshold = 0.5, shingleSize = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 0 and 4 are identical but in different blocks → not compared
    assert(!pairs.contains((0L, 4L)))
    assert(pairs.contains((0L, 1L))) // same block, near-dup
  }

  test("blocked jaccard spill path reproduces the exact blocked pair set " +
      "at t=0.9 (deterministic hashes, fixed data)") {
    // 120 random 30-word docs, each with a copy that has 0-3 words
    // replaced (Jaccard 1.0, ~0.93, ~0.87, ~0.8: both sides of 0.9),
    // in three 80-doc blocks; a 50-row bound sends every block down
    // the banded spill path
    val rnd = new scala.util.Random(7)
    def word(): String = s"w${rnd.nextInt(300)}"
    val fixture = (0 until 120).flatMap { i =>
      val toks = Array.fill(30)(word())
      val edited = toks.clone()
      (0 until i % 4).foreach(_ => edited(rnd.nextInt(30)) = word())
      Seq((2L * i, toks.mkString(" "), s"b${i % 3}"),
        (2L * i + 1, edited.mkString(" "), s"b${i % 3}"))
    }.toDF("doc_id", "text", "blk")
    val banded = Dedup.blockedJaccardPairs(fixture, "doc_id", "text", "blk",
        threshold = 0.9, maxBlockSize = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.exactBlockedJaccardPairs(fixture, "doc_id", "text",
        "blk", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 60)
    assert(banded == exact,
      s"spill path missed ${exact.diff(banded).size} of ${exact.size} " +
        s"pairs, added ${banded.diff(exact).size}")
  }

  test("blocked jaccard spill path salts a hot bucket: n identical docs " +
      "in one oversized block give exactly n(n-1)/2 verified pairs") {
    // every band of every doc hashes alike, so each band is one
    // 1500-id bucket; a 256 cap salts it into 6 cells. One-row bands
    // (raised to 4 for the miss target) keep the candidate volume at
    // 4 x n(n-1)/2.
    val n = 1500
    val degen = spark.range(n).toDF("doc_id")
      .withColumn("text", lit(base)).withColumn("blk", lit("x"))
    System.setProperty("graft.lsh.bucket.cap", "256")
    try {
      val pairs = Dedup.blockedJaccardPairs(degen, "doc_id", "text", "blk",
        threshold = 0.9, numHashes = 2, bands = 2, maxBlockSize = 100,
        sorted = false)
      assert(pairs.count() == n.toLong * (n - 1) / 2)
    } finally System.clearProperty("graft.lsh.bucket.cap")
  }

  test("minhash banding reproduces the exact pair set at t=0.7 on the " +
      "sf0.001 documents (deterministic hashes, fixed data)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = Dedup.exactBlockedJaccardPairs(
        docs.withColumn("all", lit(1)), "doc_id", "text", "all",
        threshold = 0.7, shingleSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(exact)) // verification: precision 1.0 always
    assert(mh == exact,
      s"banding missed ${exact.diff(mh).size} of ${exact.size} pairs")
  }

  test("simhash chunk blocking reproduces brute-force hamming pairs " +
      "on the sf0.001 documents (pigeonhole completeness, empirically)") {
    import org.apache.spark.sql.functions.{bit_count, col, size => asize}
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val sigs = docs.select(col("doc_id"),
        graft.functions.SetExpressions.simhash64(
          graft.functions.TextFunctions.tokens(col("text"))).as("sim"))
      .where(asize(graft.functions.TextFunctions.tokens(col("text"))) > 0)
    val a = sigs.select(col("doc_id").as("id_a"), col("sim").as("sim_a"))
    val b = sigs.select(col("doc_id").as("id_b"), col("sim").as("sim_b"))
    val brute = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .where(bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= 3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute,
      s"blocking missed ${brute.diff(blocked).size} of ${brute.size}")
    assert(brute.nonEmpty)
  }

  test("incremental dedup admits only unseen content, exact under " +
      "bloom false positives") {
    val seen = Seq((1L, "doc one"), (2L, "doc two"), (3L, "doc three"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "doc two"),        // exact duplicate of seen -> dropped
      (11L, "doc four"),       // new -> kept
      (12L, "doc five"),       // new -> kept
      (13L, "doc three"))      // duplicate -> dropped
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNew(batch, seen, "text")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(11L, 12L))
    // tiny expectedSeen forces a saturated, high-fpp bloom: every row
    // goes down the verify path and the result must not change
    val gotSaturated = Dedup.incrementalNew(batch, seen, "text",
        expectedSeen = 1L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(gotSaturated == Seq(11L, 12L))
    // empty seen corpus: everything is new (the bloom aggregate evals
    // to NULL there — must not null out the filter)
    val gotEmptySeen = Dedup.incrementalNew(batch,
        seen.where(lit(false)), "text")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(gotEmptySeen == Seq(10L, 11L, 12L, 13L))
  }

  test("incremental near-dup gates a batch against the seen corpus: " +
      "near-dups of history blocked, novel docs admitted") {
    val batch = Seq(
      (10L, base + " trailing words appended here", "c"), // near-dup of 0
      (11L, "an entirely unrelated report about morton codes and " +
        "parquet footers and nothing else at all", "c"), // novel
      (12L, "tiny", "c")) // < 3 tokens: no shingles, always admitted
      .toDF("doc_id", "text", "source")
    val got = Dedup.incrementalNearNew(batch, docs, "doc_id", "text",
      threshold = 0.5).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(11L, 12L), s"admitted $got")
    // empty seen corpus: everything is admitted
    val all = Dedup.incrementalNearNew(batch, docs.where(lit(false)),
      "doc_id", "text", threshold = 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(all == Seq(10L, 11L, 12L))
  }

  test("keep-best dedup keeps the highest-scored copy, ties to min id") {
    val d = Seq((1L, "same text", 0.2), (2L, "same text", 0.9),
      (3L, "same text", 0.9), (4L, "other", 0.1))
      .toDF("doc_id", "text", "score")
    val kept = Dedup.exactByContentKeepBest(d, "doc_id", "text", "score")
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    // group {1,2,3}: max score 0.9 shared by 2 and 3 → min id 2 wins
    assert(kept == Seq(2L, 4L))
  }

  test("duplicate clustering resolves transitive components to the " +
      "min-id representative") {
    // components: {1,2,3,7} via chain 1-2, 2-3, 3-7; {5,9}; singleton
    // pairs only — no isolated nodes appear in the output
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (5L, 9L))
      .toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      5L -> 5L, 9L -> 5L))
  }

  test("r18 size gate: the driver union-find fast path and the " +
      "distributed rounds produce identical labels on a mixed graph") {
    // paths, cliques, stars and singleton pairs with shuffled ids —
    // run both arms over the same edges and require row-identical
    // output (the gate must be a pure execution-strategy choice)
    val rnd = new scala.util.Random(7)
    val ids = rnd.shuffle((0L until 400L).toVector)
    val edges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    // 20-node paths
    ids.take(100).grouped(20).foreach { g =>
      edges ++= g.zip(g.tail) }
    // 6-node cliques
    ids.slice(100, 160).grouped(6).foreach { g =>
      for (a <- g; b <- g if a < b) edges += ((a, b)) }
    // stars
    ids.slice(160, 220).grouped(10).foreach { g =>
      g.tail.foreach(x => edges += ((g.head, x))) }
    // plain pairs
    ids.slice(220, 300).grouped(2).foreach { g =>
      edges += ((g(0), g(1))) }
    val pairs = edges.toSeq.map { case (a, b) =>
      (math.min(a, b), math.max(a, b)) }.toDF("id_a", "id_b")
    val fast = Dedup.duplicateClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val dist = Dedup.duplicateClusters(pairs, driverGateEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(fast.sameElements(dist))
    assert(fast.nonEmpty && fast.length == dist.length)
  }

  test("duplicate clustering gate boundary: gate = edge count runs " +
      "driver-side, gate = count - 1 and a null id run distributed, " +
      "with equal labels") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // the driver path returns a frame over the collected rows
    def driverSide(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation])
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().filterNot(_.isNullAt(0))
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 7L), (5L, 9L), (11L, 12L))
    val pairs = edges.toDF("id_a", "id_b")
    val n = edges.size.toLong
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      5L -> 5L, 9L -> 5L, 11L -> 11L, 12L -> 11L)
    val atGate = Dedup.duplicateClusters(pairs, driverGateEdges = n)
    val overGate = Dedup.duplicateClusters(pairs, driverGateEdges = n - 1)
    assert(driverSide(atGate) && !driverSide(overGate))
    assert(labels(atGate) == expected && labels(overGate) == expected)
    // one null id under the gate: the driver union-find cannot take it
    val withNull = (edges.map { case (a, b) => (Option(a), Option(b)) } :+
      ((Option(13L), Option.empty[Long]))).toDF("id_a", "id_b")
    val nulls = Dedup.duplicateClusters(withNull)
    assert(!driverSide(nulls))
    assert(labels(nulls) == expected + (13L -> 13L))
  }

  test("duplicate clustering reads a caller's checkpoint as it is: " +
      "one job, the checkpoint survives, equal labels") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val plain = Seq((1L, 2L), (2L, 3L), (3L, 7L), (5L, 9L))
      .toDF("id_a", "id_b").coalesce(1)
    val ckpt = plain.localCheckpoint(true)
    val pinned = sc.getPersistentRDDs.keySet
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // (labels, jobs the call ran); the driver path returns local rows
    def run(pairs: org.apache.spark.sql.DataFrame): (Map[Long, Long], Int) = {
      org.apache.spark.TestListenerBus.drain(sc)
      jobs.set(0)
      val out = Dedup.duplicateClusters(pairs)
      org.apache.spark.TestListenerBus.drain(sc)
      val n = jobs.get
      (out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, n)
    }
    sc.addSparkListener(listener)
    try {
      val (fromPlain, plainJobs) = run(plain)
      // a projection of the checkpoint, as a caller's renamed columns
      val (fromCkpt, ckptJobs) = run(ckpt.select(col("id_a"), col("id_b")))
      assert(fromCkpt == fromPlain && fromPlain == Map(1L -> 1L,
        2L -> 1L, 3L -> 1L, 7L -> 1L, 5L -> 5L, 9L -> 5L))
      // the plain input is checkpointed, then collected; the caller's
      // checkpoint is only collected
      assert(plainJobs == 2 && ckptJobs == 1, s"$plainJobs / $ckptJobs jobs")
      assert(pinned.subsetOf(sc.getPersistentRDDs.keySet),
        "the caller's checkpoint was released")
      assert(ckpt.count() == 4L)
    } finally {
      sc.removeSparkListener(listener)
      org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpointed(ckpt)
    }
  }

  test("duplicate clustering converges on a long path graph and under " +
      "the reliable-checkpoint option") {
    // a 16-node path with the min id in the middle — worst case for
    // one-hop propagation, exercises pointer-doubling across rounds
    val ids = Seq(9L, 4L, 12L, 1L, 7L, 15L, 3L, 0L, 11L, 6L, 13L, 2L,
      10L, 5L, 14L, 8L)
    val pairs = ids.zip(ids.tail)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("id_a", "id_b")
    val expected = ids.map(_ -> 0L).toMap
    // driverGateEdges = 0 pins the DISTRIBUTED rounds (the r18 size
    // gate would otherwise route this bench-scale graph driver-side)
    val got = Dedup.duplicateClusters(pairs, driverGateEdges = 0)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // reliable checkpoint: same result, labels persisted to parquet
    val dir = graft.config.Scratch.dir + "/cc_reliable_test"
    val got2 = Dedup.duplicateClusters(pairs,
        checkpointDir = Some(dir), driverGateEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == expected)
    assert(new java.io.File(s"$dir/cc_pairs").exists())
  }

  test("component freezing: cliques that converge in round one drop " +
      "out of later rounds without changing any label") {
    // one slow component (a 12-node path, needs several rounds) mixed
    // with two cliques that are label-consistent after round one — the
    // first convergence check freezes the cliques, later rounds only
    // shuffle the path's edges, and the final union must still carry
    // every node with its component-min label
    val path = (100L to 111L).sliding(2)
      .map(w => (w.head, w.last)).toSeq
    val cliqueA = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val cliqueB = Seq((20L, 21L), (20L, 22L), (21L, 22L), (20L, 23L),
      (21L, 23L), (22L, 23L))
    val pairs = (path ++ cliqueA ++ cliqueB).toDF("id_a", "id_b")
    val expected =
      (100L to 111L).map(_ -> 100L).toMap ++
        Seq(1L, 2L, 3L).map(_ -> 1L).toMap ++
        Seq(20L, 21L, 22L, 23L).map(_ -> 20L).toMap
    // checkEvery=1 forces a freeze opportunity after every round
    val got = Dedup.duplicateClusters(pairs, checkEvery = 1,
        driverGateEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // and the reliable-checkpoint path takes the same freeze branches
    val dir = graft.config.Scratch.runDir + "/cc_freeze_test"
    val got2 = Dedup.duplicateClusters(pairs, checkEvery = 1,
        checkpointDir = Some(dir), driverGateEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == expected)
    // EVEN checkEvery regression: consecutive checks land on the same
    // round%2 parity, so a parity-keyed materialize path would
    // overwrite the cc_frozen_/cc_edges_ parquet it is reading (the
    // check-count ping-pong is what keeps read and write apart)
    val dir2 = graft.config.Scratch.runDir + "/cc_freeze_even_test"
    val got3 = Dedup.duplicateClusters(pairs, checkEvery = 2,
        checkpointDir = Some(dir2), driverGateEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got3 == expected)
  }

  private lazy val vecs = {
    // 8-dim: three tight cluster members + two far points
    val rows = Seq(
      (0L, Array(1.0f, 0.1f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (1L, Array(1.0f, 0.12f, 0.01f, 0f, 0f, 0f, 0f, 0f)),
      (2L, Array(0.99f, 0.09f, 0f, 0.01f, 0f, 0f, 0f, 0f)),
      (3L, Array(0f, 0f, 0f, 0f, 1.0f, 0.2f, 0f, 0f)),
      (4L, Array(0f, 0f, 0f, 0f, 0f, 0f, 1.0f, 0.3f)))
    rows.toDF("vec_id", "embedding")
  }

  test("embedding near-dup finds the tight cluster pairs only") {
    val pairs = Dedup.embeddingNearDup(vecs, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("knn brute force ranks by cosine with deterministic ties") {
    val out = Similarity.knnBruteForce(vecs, "vec_id", "embedding",
      numQueries = 1, k = 2).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rn"),
        r.getAs[Long]("neighbor_id")))
    // query 0: nearest are 1 and 2 (order by cosine)
    assert(out.map(_._3).toSet == Set(1L, 2L))
    assert(out.map(_._2).toSeq == Seq(1, 2))
  }

  test("IVF with nprobe = numCentroids degenerates to exact search") {
    val exact = Similarity.knnBruteForce(vecs, "vec_id", "embedding",
      numQueries = 2, k = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val ivf = Similarity.knnIvf(vecs, "vec_id", "embedding",
      numCentroids = 3, nprobe = 3, numQueries = 2, k = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(ivf == exact)
  }

  private lazy val realVecs =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("hyperplane LSH: precision 1.0 vs exact pairs, recall above the " +
      "s-curve floor (measured on the sf0.001 embeddings)") {
    val t = 0.45
    val exact = Dedup.embeddingNearDup(realVecs, "vec_id", "embedding", t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(realVecs, "vec_id", "embedding", t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // exact-cosine verification of candidates ⇒ no false positives
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact)}")
    // per-pair collision prob at cos=0.45 is 1-(1-0.6477^6)^8 ≈ 0.46
    // (6 bits × 8 tables); most qualifying pairs sit near the
    // threshold, so assert a floor below the theoretical mean
    val recall = lsh.size.toDouble / exact.size
    info(f"lsh recall at t=$t: ${lsh.size}/${exact.size} = $recall%.3f")
    assert(recall >= 0.25,
      f"recall $recall%.3f below the 0.25 floor (${lsh.size}/${exact.size})")
  }

  test("IVF recall vs brute force at nprobe=4/16 (sf0.001 embeddings)") {
    val exact = Similarity.knnBruteForce(realVecs, "vec_id", "embedding",
        numQueries = 10, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.knnIvf(realVecs, "vec_id", "embedding",
        numCentroids = 16, nprobe = 4, numQueries = 10, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"))).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    info(f"ivf recall at nprobe=4/16: $recall%.3f")
    assert(recall >= 0.5,
      f"ivf recall $recall%.3f below the 0.5 floor")
  }

  test("SQ8 recall vs brute force at the registered shortlist " +
      "(sf0.001 embeddings)") {
    val exact = Similarity.knnBruteForce(realVecs, "vec_id", "embedding",
        numQueries = 10, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"))).toSet
    val sq = Similarity.knnSq8(realVecs, "vec_id", "embedding",
        numQueries = 10, k = 5, shortlist = 50)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"))).toSet
    val recall = sq.intersect(exact).size.toDouble / exact.size
    info(f"sq8 recall at shortlist=50: $recall%.3f")
    // byte quantization of 64 dims loses almost nothing through a
    // 50-candidate shortlist + exact rerank
    assert(recall >= 0.9,
      f"sq8 recall $recall%.3f below the 0.9 floor")
  }

  // every message along an exception's cause chain: a length guard
  // fails inside a task (wrapped in the job's SparkException) or, over
  // a local relation, while the optimizer folds the projection
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")

  test("SQ8 fails fast when dim does not match the corpus vectors " +
      "instead of silently corrupting the shortlist") {
    val e = intercept[Exception] {
      Similarity.knnSq8(realVecs, "vec_id", "embedding",
        numQueries = 2, k = 2, shortlist = 10, dim = 48).count()
    }
    assert(messages(e).contains("has length 64, expected dim=48"),
      messages(e))
  }

  // the same in-plan guard in each operator that slices or projects
  // vectors by position: the 8-dim fixture against dim = 16
  for ((name, run) <- Seq[(String, () => Long)](
      "replayable hyperplane LSH" -> (() =>
        Similarity.lshNearDupPairsReplayable(vecs, "vec_id", "embedding",
          threshold = 0.9, dim = 16).count()),
      "PQ" -> (() => Similarity.knnPq(vecs, "vec_id", "embedding",
        numCodes = 5, numSubspaces = 4, numQueries = 2, k = 2, dim = 16,
        shortlist = 2).count()),
      "SQ8" -> (() => Similarity.knnSq8(vecs, "vec_id", "embedding",
        numQueries = 2, k = 2, shortlist = 2, dim = 16).count()),
      "IVF-PQ" -> (() => Similarity.knnIvfPq(vecs, "vec_id", "embedding",
        numCentroids = 2, nprobe = 1, numCodes = 5, numSubspaces = 4,
        numQueries = 2, k = 2, dim = 16, shortlist = 2,
        iterations = 1).count())))
    test(s"$name fails on a vector whose length is not dim, naming " +
        "the id and both lengths") {
      val msg = messages(intercept[Exception](run()))
      assert(msg.matches("(?s).*vector id [0-4] has length 8, " +
        "expected dim=16.*"), msg)
    }

  test("k-means-trained IVF meets the 0.94 recall bar at its " +
      "registered config (sf0.001 embeddings)") {
    val exact = Similarity.knnBruteForce(realVecs, "vec_id", "embedding",
        numQueries = 10, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"))).toSet
    def recallOf(ivf: Set[(Long, Long)]): Double =
      ivf.intersect(exact).size.toDouble / exact.size
    // honest characterization: at EQUAL nprobe=4 the trained quantizer
    // measured 0.88 vs 0.94 untrained here — the label-clustered
    // synthetic corpus happens to match the seed vectors, so training
    // buys nothing locally (its value is bounded list sizes when seeds
    // are unrepresentative, which no 500-vector fixture shows). The
    // registered config (nprobe=6, iterations=2) must clear the same
    // 0.94 bar the untrained operator set.
    val trained = recallOf(Similarity.knnIvfTrained(realVecs, "vec_id",
        "embedding", numCentroids = 16, nprobe = 6, numQueries = 10,
        k = 5, iterations = 2)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"))).toSet)
    info(f"trained ivf recall at nprobe=6/16: $trained%.3f")
    assert(trained >= 0.94,
      f"trained recall $trained%.3f below the 0.94 bar")
  }

  test("knn_graph: bounded degree, recall at or above the IVF tier " +
      "on the registered config, exact when the graph is complete") {
    val emb = spark.read.parquet(
      "/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity.knnBruteForce(emb, "vec_id", "embedding",
      numQueries = 10, k = 5)
    val graph = Similarity.knnGraph(emb, "vec_id", "embedding",
      numCentroids = 16, graphDegree = 6, numEntries = 2,
      beam = 10, rounds = 2, numQueries = 10, k = 5)
    val rec = Similarity.recallAtK(exact, graph, k = 5)
      .agg(org.apache.spark.sql.functions.avg("recall_at_5"))
      .head().getDouble(0)
    // measured 2026-08-16 on the sf0.001 corpus: 0.94 for the
    // registered config — the same recall the IVF tier reaches (the
    // synthetic labels cluster tightly, so two rounds from two entry
    // points cover most true neighbors); floor set under it to catch
    // structural regressions, not noise
    assert(rec >= 0.8, s"graph recall@5 regressed: $rec")
    // incremental maintenance: two-batch build (evens then odds
    // against the pool) searches within noise of the one-shot graph —
    // the reverse edges give settled vectors paths toward arrivals
    val cents = Similarity.ivfSeedCentroids(emb, "vec_id", "embedding",
      numCentroids = 16)
    val evens = emb.where(col("vec_id") % 2 === 0)
    val odds = emb.where(col("vec_id") % 2 === 1)
    val e0 = Similarity.graphIndexEdges(evens, "vec_id", "embedding",
      cents, None, graphDegree = 6)
    val pool0 = Similarity.ivfIndexAssign(evens, "vec_id", "embedding",
      cents)
    val e1 = Similarity.graphIndexEdges(odds, "vec_id", "embedding",
      cents, Some(pool0), graphDegree = 6)
    val incr = Similarity.knnGraphOnIndex(e0.union(e1),
      pool0.union(Similarity.ivfIndexAssign(odds, "vec_id",
        "embedding", cents)), cents,
      numEntries = 2, beam = 10, rounds = 2, numQueries = 10, k = 5)
    val recI = Similarity.recallAtK(exact, incr, k = 5)
      .agg(org.apache.spark.sql.functions.avg("recall_at_5"))
      .head().getDouble(0)
    assert(recI >= 0.7, s"incremental graph recall@5 regressed: $recI")

    // one giant cluster (numCentroids=1) + beam covering the corpus
    // degenerates to exact search — the completeness sanity arm
    // (200-vector subset: the complete graph is O(n²) by design)
    val sub = emb.where(col("vec_id") < 200)
    val n = sub.count().toInt
    val complete = Similarity.knnGraph(sub, "vec_id", "embedding",
      numCentroids = 1, graphDegree = n, numEntries = 1,
      beam = n + 1, rounds = 1, numQueries = 5, k = 5)
    val exact5 = Similarity.knnBruteForce(sub, "vec_id", "embedding",
      numQueries = 5, k = 5)
    val recC = Similarity.recallAtK(exact5, complete, k = 5)
      .agg(org.apache.spark.sql.functions.avg("recall_at_5"))
      .head().getDouble(0)
    assert(recC == 1.0, s"complete graph must be exact: $recC")
  }

  test("knn_graph GDPR erasure: a MoR-deleted vector never surfaces " +
      "in search results and the remaining graph still answers") {
    // the ANN twin of stream_gdpr_erasure: the persisted index is a
    // graft table, so erasure is deleteKeysMor on the vector table —
    // metadata-time, no index rebuild. Stale edges toward the erased
    // id keep routing (they expand candidates) but the score join is
    // INNER on the vector table, so the erased vector itself can
    // never appear in any beam or result.
    val emb = spark.read.parquet(
      "/root/testdata/sf0.001/embeddings.parquet")
    val root = s"${graft.config.Scratch.runDir}/graphgdpr_vec"
    val eroot = s"${graft.config.Scratch.runDir}/graphgdpr_edge"
    graft.sources.VersionedTable.destroy(spark, root)
    graft.sources.VersionedTable.destroy(spark, eroot)
    val cents = Similarity.ivfSeedCentroids(emb, "vec_id", "embedding",
      numCentroids = 16)
    graft.sources.VersionedTable.commit(
      Similarity.ivfIndexAssign(emb, "vec_id", "embedding", cents),
      root)
    graft.sources.VersionedTable.commit(
      Similarity.graphIndexEdges(emb, "vec_id", "embedding", cents,
        None, graphDegree = 6), eroot)
    def search() = Similarity.knnGraphOnIndex(
      graft.sources.VersionedTable.read(spark, eroot),
      graft.sources.VersionedTable.read(spark, root), cents,
      numEntries = 2, beam = 10, rounds = 2, numQueries = 10, k = 5)
    // pick a vector that IS currently a returned neighbor, erase it
    val victim = search().where(col("neighbor_id") >= 10)
      .select("neighbor_id").as[Long].head()
    graft.sources.VersionedTable.deleteKeysMor(spark, root,
      Seq(victim).toDF("id"), tag = "erase")
    val after = search()
    assert(after.where(col("neighbor_id") === victim).count() == 0L,
      s"erased vector $victim still returned")
    // every query still gets a full k result list from survivors
    assert(after.count() == 50L)
  }

  test("PQ with a lossless codebook equals exact search") {
    // every vector is its own codebook entry (numCodes ≥ n), so ADC
    // squared-L2 over normalized slices reduces to 2−2·cos and the
    // ranking must equal brute force's, tie-breaks included
    val exact = Similarity.knnBruteForce(vecs, "vec_id", "embedding",
      numQueries = 2, k = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // shortlist = k: the exact rerank only reorders the ADC top-k, so
    // an ADC misrank that drops a true neighbor fails the comparison
    val pq = Similarity.knnPq(vecs, "vec_id", "embedding",
      numCodes = 5, numSubspaces = 4, numQueries = 2, k = 2, dim = 8,
      shortlist = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(pq == exact)
  }

  test("PQ recall vs brute force at the registered config " +
      "(sf0.001 embeddings)") {
    val exact = Similarity.knnBruteForce(realVecs, "vec_id", "embedding",
        numQueries = 10, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"))).toSet
    // pure ADC with the untrained 16-entry codebook measured 0.22 —
    // quantization error dominates; the registered config reranks a
    // 50-candidate ADC shortlist with exact cosine, the standard
    // PQ deployment shape
    val pq = Similarity.knnPq(realVecs, "vec_id", "embedding",
        numCodes = 16, numSubspaces = 8, numQueries = 10, k = 5,
        shortlist = 50)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"))).toSet
    val recall = pq.intersect(exact).size.toDouble / exact.size
    info(f"pq recall at 8x16 codes, rerank 50: $recall%.3f")
    assert(recall >= 0.85,
      f"pq recall $recall%.3f below the 0.85 floor")
  }

  test("IVF-PQ recall vs brute force at the registered config, at " +
      "least the flat-PQ floor at the same shortlist (sf0.001 " +
      "embeddings)") {
    val exact = Similarity.knnBruteForce(realVecs, "vec_id", "embedding",
        numQueries = 10, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"))).toSet
    // residual quantization + the 8/16-list probe: a true neighbor is
    // lost only when its list goes unprobed or ADC drops it from the
    // 50-candidate shortlist — the exact rerank fixes all ordering
    val ivfpq = Similarity.knnIvfPq(realVecs, "vec_id", "embedding",
        numCentroids = 16, nprobe = 8, numCodes = 32, numSubspaces = 8,
        numQueries = 10, k = 5, shortlist = 50, iterations = 2)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"))).toSet
    val recall = ivfpq.intersect(exact).size.toDouble / exact.size
    info(f"ivfpq recall at 8/16 probes, 8x32 residual codes, " +
      f"rerank 50: $recall%.3f")
    assert(recall >= 0.85,
      f"ivfpq recall $recall%.3f below the 0.85 flat-PQ floor")
  }

  test("PQ and hard-negative plans broadcast the small side and never " +
      "plan a raw cartesian product") {
    for (df <- Seq(
      Similarity.knnPq(realVecs, "vec_id", "embedding",
        numCodes = 16, numSubspaces = 8, numQueries = 10, k = 5,
        shortlist = 50),
      Similarity.hardNegatives(realVecs, "vec_id", "embedding",
        numQueries = 10, k = 5, simLo = 0.3, simHi = 0.8))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"unbroadcast cartesian in plan:\n$plan")
      assert(plan.contains("Broadcast"),
        s"expected a broadcast join in plan:\n$plan")
    }
  }

  test("hard negatives stay inside the band and below the near-dup " +
      "zone (sf0.001 embeddings)") {
    val out = Similarity.hardNegatives(realVecs, "vec_id", "embedding",
      numQueries = 10, k = 5, simLo = 0.3, simHi = 0.8).collect()
    assert(out.nonEmpty)
    assert(out.forall { r =>
      val s = r.getDouble(3); s >= 0.3 && s < 0.8
    }, "similarity outside the mining band")
    // per query: ranks are 1..n and similarities non-increasing
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to rs.length))
      val sims = sorted.map(_.getDouble(3)).toSeq
      assert(sims == sims.sorted.reverse)
    }
  }

  test("semantic dedup: precision 1.0 vs exact pairs, positive " +
      "within-cluster recall (sf0.001 embeddings)") {
    val t = 0.45
    val exact = Dedup.embeddingNearDup(realVecs, "vec_id", "embedding", t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = Similarity.semanticNearDupPairs(realVecs, "vec_id",
        "embedding", numCentroids = 16, threshold = t)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(exact.nonEmpty)
    // exact-cosine verification within clusters ⇒ no false positives
    assert(sem.subsetOf(exact), s"false positives: ${sem.diff(exact)}")
    // cross-centroid pairs are missed by design; fewer, bigger
    // clusters recover them — at 1 centroid the pair set is exact
    assert(sem.nonEmpty, "no within-cluster pairs found")
    val all = Similarity.semanticNearDupPairs(realVecs, "vec_id",
        "embedding", numCentroids = 1, threshold = t)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(all == exact,
      s"single-cluster semantic dedup must equal the exact pair set")
    info(s"semantic recall at 16 centroids: ${sem.size}/${exact.size}")
  }

  test("hyperplane LSH always buckets identical vectors together") {
    val dup = vecs.union(Seq((5L, Array(1.0f, 0.1f, 0f, 0f, 0f, 0f, 0f,
      0f))).toDF("vec_id", "embedding"))
    for (pairs <- Seq(
        Similarity.lshNearDupPairs(dup, "vec_id", "embedding",
          threshold = 0.9999),
        Similarity.lshNearDupPairsReplayable(dup, "vec_id", "embedding",
          threshold = 0.9999, dim = 8)))
      assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
        .contains((0L, 5L))) // identical vector, cos = 1
  }

  test("containmentPairs catches near-subset docs symmetric Jaccard " +
      "misses, and never pairs across blocks") {
    import graft.operators.Dedup
    // doc 1 is fully contained in doc 2 (5 of 25 tokens → Jaccard
    // 0.2, containment 1.0); doc 4 shares nothing; doc 5 duplicates
    // doc 1 in ANOTHER block, so blocking must keep (1,5) apart
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "s1"),
      (2L, "alpha beta gamma delta epsilon " +
        ((1 to 20).map(i => s"w$i").mkString(" ")), "s1"),
      (4L, "zeta eta theta iota kappa", "s1"),
      (5L, "alpha beta gamma delta epsilon", "s2"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", "source",
        threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
    // the same pair scores far below a 0.9 JACCARD bar — the
    // asymmetric ratio is the point of the operator
    val jac = Dedup.exactBlockedJaccardPairs(docs, "doc_id", "text",
      "source", threshold = 0.9).collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("boilerplateChunkFilter drops chunks above the distinct-doc " +
      "threshold from EVERY doc and keeps the rest in order") {
    // chunkSize=2: "x y" is the shared boilerplate chunk in 3 docs
    // (above maxDocs=2); "p q" is shared by exactly 2 (kept in both)
    val df = Seq(
      (0L, "x y a b"), (1L, "x y c d"), (2L, "x y p q"),
      (3L, "p q e f"), (4L, "solo text")).toDF("doc_id", "text")
    val got = Dedup.boilerplateChunkFilter(df, "doc_id", "text",
        chunkSize = 2, maxDocs = 2)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(0L) == ((2L, 1L, "a b")))
    assert(got(1L) == ((2L, 1L, "c d")))
    assert(got(2L) == ((2L, 1L, "p q")))
    assert(got(3L) == ((2L, 2L, "p q e f")))
    assert(got(4L) == ((1L, 1L, "solo text")))
    // a doc that is ALL boilerplate survives as an empty row, so the
    // output row count is input-stable
    val all = Seq((0L, "x y"), (1L, "x y"), (2L, "x y"))
      .toDF("doc_id", "text")
    val wiped = Dedup.boilerplateChunkFilter(all, "doc_id", "text",
        chunkSize = 2, maxDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(wiped.length == 3 && wiped.forall(t => t._2 == 0L &&
      t._3 == ""))
  }

  test("intraDocChunkDedup drops later repeats of a chunk within one " +
      "doc but never across docs") {
    val df = Seq(
      (0L, "a b a b c d"),   // chunk 'a b' repeats inside doc 0
      (1L, "a b x y"),       // same chunk in ANOTHER doc: untouched
      (2L, "e f e f e f")    // pure loop: collapses to one chunk
    ).toDF("doc_id", "text")
    val got = Dedup.intraDocChunkDedup(df, "doc_id", "text",
        chunkSize = 2)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(0L) == ((3L, 2L, "a b c d")))
    assert(got(1L) == ((2L, 2L, "a b x y")))
    assert(got(2L) == ((3L, 1L, "e f")))
  }

  test("softDedupWeights: 1/multiplicity per copy, effective corpus " +
      "size = number of distinct contents") {
    val df = Seq((0L, "aaa"), (1L, "aaa"), (2L, "aaa"), (3L, "bbb"),
      (4L, "ccc"), (5L, "ccc")).toDF("doc_id", "text")
    val got = Dedup.softDedupWeights(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 6)
    val byId = got.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(0L) == ((3L, 0.333333)) && byId(2L) == ((3L, 0.333333)))
    assert(byId(3L) == ((1L, 1.0)))
    assert(byId(4L) == ((2L, 0.5)) && byId(5L) == ((2L, 0.5)))
    val eff = got.map(_._3).sum
    assert(math.abs(eff - 2.999999) < 1e-6) // 3 distinct contents
  }

  test("recallAtK grades an approximate neighbor list per query, " +
      "missing queries in the approx side score zero") {
    val exact = Seq((0L, 10L), (0L, 11L), (1L, 12L), (1L, 13L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((0L, 10L), (0L, 99L)).toDF("query_id", "neighbor_id")
    val got = Similarity.recallAtK(exact, approx, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((0L, 1L, 0.5), (1L, 0L, 0.0)))
  }

  test("vector moments aggregate: exact n/mean/cov across a " +
      "multi-partition merge") {
    val pts = Seq(
      Array(1f, 2f), Array(3f, 4f), Array(5f, 6f), Array(7f, 9f),
      Array(2f, 1f))
    val df = pts.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding").repartition(5)
    val r = df.agg(graft.functions.VectorMomentsAgg.vectorMoments(
        org.apache.spark.sql.functions.transform(
          org.apache.spark.sql.functions.col("embedding"),
          x => x.cast("double"))).as("m"))
      .select("m.n", "m.sums", "m.prods").head()
    assert(r.getLong(0) == 5L)
    assert(r.getSeq[Double](1).toSeq == Seq(18.0, 22.0))
    // upper triangle of sum x x^T: [sum x0², sum x0x1, sum x1²]
    assert(r.getSeq[Double](2).toSeq == Seq(
      1.0 + 9 + 25 + 49 + 4, 2.0 + 12 + 30 + 63 + 2,
      4.0 + 16 + 36 + 81 + 1))
  }

  test("pcaTopComponent recovers a planted dominant direction and " +
      "certifies convergence on the real embeddings table") {
    // planted: spread along (0.6, 0.8, 0) with tiny orthogonal noise
    val planted = (0 until 40).map { i =>
      val t = (i - 20).toDouble
      val noise = 0.01 * ((i % 3) - 1)
      (i.toLong, Array((0.6 * t + 0.8 * noise).toFloat,
        (0.8 * t - 0.6 * noise).toFloat, (0.02 * ((i % 5) - 2)).toFloat))
    }.toDF("vec_id", "embedding")
    val p = Similarity.pcaTopComponent(planted, "embedding")
    assert(p.dim == 3 && p.n == 40)
    val align = math.abs(p.eigenvector(0) * 0.6 + p.eigenvector(1) * 0.8)
    assert(align > 0.9999, s"eigvec=${p.eigenvector.toSeq}")
    assert(p.explainedRatio > 0.99)
    assert(p.residual < 1e-8, s"residual=${p.residual}")
    // the registered contract's convergence bound must hold on the
    // real table at the default iteration budget
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = Similarity.pcaTopComponent(emb, "embedding")
    assert(q.dim == 64 && q.n == 500)
    assert(q.explainedRatio > 0 && q.explainedRatio <= 1.0)
    assert(q.residual < 1e-8,
      s"residual=${q.residual} ratio=${q.explainedRatio}")
  }

  test("pcaTopK deflation yields orthogonal descending components; " +
      "abttCorrect removes mean and dominant directions") {
    // two planted directions with variances ~46 and ~5, plus tiny
    // third-axis noise
    val pts = (0 until 60).map { i =>
      val t = (i - 30).toDouble / 2.5
      val u = ((i * 7) % 11 - 5).toDouble
      (i.toLong, Array((0.6 * t + 0.8 * u * 0.5).toFloat,
        (0.8 * t - 0.6 * u * 0.5).toFloat, (0.01 * ((i % 4) - 1)).toFloat))
    }.toDF("vec_id", "embedding")
    val comps = Similarity.pcaTopK(pts, "embedding", 2)
    assert(comps(0).eigenvalue > comps(1).eigenvalue)
    val ortho = (0 until 3).map(i =>
      comps(0).eigenvector(i) * comps(1).eigenvector(i)).sum
    assert(math.abs(ortho) < 1e-6, s"dot=$ortho")
    val (_, mean0, cov0) = Similarity.momentsOf(pts, "embedding")
    val corrected = Similarity.abttCorrect(pts, "vec_id", "embedding",
      mean0, cov0, numComponents = 2)
    val (n, mean, _) = Similarity.momentsOf(corrected, "corrected")
    assert(n == 60 && mean.forall(m => math.abs(m) < 1e-9))
    // with both planted directions removed only the third-axis noise
    // remains
    val resid = Similarity.pcaTopComponent(corrected, "corrected")
    assert(resid.eigenvalue < comps(1).eigenvalue / 10,
      s"resid=${resid.eigenvalue} vs ${comps(1).eigenvalue}")
  }

  test("minhashEval: exact ground truth matches the verified LSH " +
      "pair set on the fixture, floors grade both directions") {
    val verified = Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5).count()
    val r = Dedup.minhashEval(docs, "doc_id", "text", threshold = 0.5,
      sampleLimit = Long.MaxValue, precisionFloor = 0.5,
      recallFloor = 0.5).collect()(0)
    // inverted-index truth is complete, so it can never be smaller
    // than what LSH+verify found; on this fixture they coincide
    assert(r.getLong(0) == verified)
    assert(r.getInt(1) == 1 && r.getInt(2) == 1)
    // unattainable floors must grade 0 — the booleans are live
    val bad = Dedup.minhashEval(docs, "doc_id", "text", threshold = 0.5,
      sampleLimit = Long.MaxValue, precisionFloor = 1.01,
      recallFloor = 1.01).collect()(0)
    assert(bad.getInt(1) == 0 && bad.getInt(2) == 0)
    // the sample bound is honored: only ids < 2 participate
    val lim = Dedup.minhashEval(docs, "doc_id", "text", threshold = 0.5,
      sampleLimit = 2L, precisionFloor = 0.5, recallFloor = 0.5)
      .collect()(0)
    assert(lim.getLong(0) == 1L) // only the (0, 1) pair remains
  }

  test("semanticDecontaminate flags only corpus vectors within the " +
      "cosine threshold of a benchmark vector, argmax ties to the " +
      "larger bench id") {
    // bench 100 = e1, bench 101 = e2; corpus: 0 == e1 (sim 1.0 to
    // bench 100), 1 == e1+e2 (sim ~0.707 to BOTH benches — tie must
    // resolve to bench 101), 2 == e3 (orthogonal, never flagged)
    val bench = Seq((100L, Array(1f, 0f, 0f)), (101L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(1f, 1f, 0f)),
      (2L, Array(0f, 0f, 1f))).toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(
        corpus, bench, "vec_id", "embedding", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((0L, 100L, 1.0), (1L, 101L, 0.707107)))
  }

  test("substring dedup finds planted cross-doc spans: maximal " +
      "merged intervals, first corpus-order occurrence unspanned, " +
      "chunk-boundary straddlers caught") {
    def words(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val span = words("dup", 12) // a 12-token span shared across docs
    val planted = Seq(
      // doc 0: the span at positions 5..16 — the FIRST occurrence
      (0L, words("a", 5) + " " + span + " " + words("b", 4)),
      // doc 1: the same span at 3..14 (straddles any fixed 10-token
      // chunk boundary) → one maximal span, 3 windows merged
      (1L, words("c", 3) + " " + span + " " + words("d", 6)),
      // doc 2: TWO copies back-to-back at 0..23 → windows overlap
      // and abut into ONE maximal span
      (2L, span + " " + span + " " + words("e", 3)),
      // doc 3: all-unique tokens → no candidates at all
      (3L, words("f", 20))
    ).toDF("doc_id", "text")
    val got = Dedup.substringDedup(planted, "doc_id", "text", k = 10)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 1: dup windows start at 3,4,5 (12-token span → 3 k=10
    // windows), merged span = [3, 14]. doc 2: dup windows at
    // 0,1,2 (first copy, repeating doc 0's) and 12,13,14 (second
    // copy); pos 12 ABUTS the running end 11, so all six merge into
    // ONE maximal island [0, 23]. docs 0 (first corpus-order
    // occurrence) and 3 (all-unique) carry no spans — applying the
    // candidates never deletes all copies.
    assert(got == Seq((1L, 3L, 14L), (2L, 0L, 23L)), got)
    // the edit: covered tokens drop, survivors rejoin in order, every
    // doc keeps its row (docs 0 and 3 pass through untouched)
    val applied = Dedup.substringDedupApply(
      planted, "doc_id", "text", k = 10)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(applied == Seq(
      (0L, 21L, 0L, words("a", 5) + " " + span + " " + words("b", 4)),
      (1L, 21L, 12L, words("c", 3) + " " + words("d", 6)),
      (2L, 27L, 24L, words("e", 3)),
      (3L, 20L, 0L, words("f", 20))), applied)
  }

  test("substring dedup degenerate hot span (VERDICT r15 #6): one " +
      "hyper-frequent k-token span serializes only span-frequency " +
      "state and the edit keeps exactly the first copy") {
    // 4000 docs all carrying the SAME 10-token span: every window of
    // every doc lands in ONE Window.partitionBy("h") group — the
    // documented worst case. The state is 4000 fixed-width rows (the
    // span's frequency, NOT corpus bytes), far inside one task; the
    // pick must keep doc 0 unspanned and fully span all 3999 others.
    val n = 4000
    val hotSpan = (0 until 10).map(i => s"hot$i").mkString(" ")
    val degen = spark.range(n).toDF("doc_id")
      .withColumn("text", lit(hotSpan))
    val spans = Dedup.substringDedup(degen, "doc_id", "text", k = 10)
    assert(spans.count() == (n - 1).toLong)
    assert(spans.agg(min("doc_id"), max("span_start"), max("span_end"))
      .collect().head.toSeq == Seq(1L, 0L, 9L))
    val edited = Dedup.substringDedupApply(degen, "doc_id", "text",
      k = 10)
    // rows stable; total survivors = the one unspanned first copy
    assert(edited.count() == n.toLong)
    assert(edited.agg(sum(col("n_tokens") - col("n_removed")))
      .collect().head.getLong(0) == 10L)
  }
}
