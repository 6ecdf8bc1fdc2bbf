package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ranking

/** Pins the distributed global-ranking operator: exact agreement with
  * the single-partition `row_number` window it replaces, regardless of
  * input partitioning, plus the no-data-sized-single-partition plan
  * guarantee.
  */
class RankingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("globalRowNumber equals the single-partition row_number window " +
      "on a total order, for any input partitioning") {
    val rows = (1L to 500L).map(i => (i, (i * 7919) % 501))
    for (parts <- Seq(1, 3, 8)) {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, parts)).toDF("id", "k")
      val expected = df.withColumn("rn",
          row_number().over(Window.orderBy(col("k"), col("id"))))
        .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
      val got = Ranking.globalRowNumber(df,
          Seq(col("k"), col("id")), numPartitions = 4)
        .collect().map(r => (r.getLong(0), r.getLong(2).toInt)).toMap
      assert(got == expected, s"mismatch at input partitions=$parts")
    }
  }

  test("globalRowNumber ranks descending orders too") {
    val df = Seq((1L, 10.0), (2L, 30.0), (3L, 20.0)).toDF("id", "x")
    val got = Ranking.globalRowNumber(df,
        Seq(col("x").desc, col("id")), numPartitions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got == Map(2L -> 1L, 3L -> 2L, 1L -> 3L))
  }

  test("prefixSums equals the single-partition running-sum window " +
      "for any input partitioning") {
    val rows = (1L to 300L).map(i => (i, (i * 31) % 301, i % 5, i % 3))
    for (parts <- Seq(1, 4)) {
      val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, parts))
        .toDF("id", "k", "x", "y")
      val w = Window.orderBy(col("k"), col("id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val expected = df
        .withColumn("cx", sum(col("x")).over(w))
        .withColumn("cy", sum(col("y")).over(w))
        .collect().map(r => (r.getLong(0), (r.getLong(4), r.getLong(5))))
        .toMap
      val got = Ranking.prefixSums(df, Seq(col("k"), col("id")),
          Seq("x" -> "cx", "y" -> "cy"), numPartitions = 4)
        .collect().map(r => (r.getLong(0), (r.getLong(4), r.getLong(5))))
        .toMap
      assert(got == expected, s"mismatch at input partitions=$parts")
    }
  }

  test("ksStatistic is exact on a hand-computed example and zero for " +
      "identical distributions") {
    import graft.operators.Drift
    // A = {1,2,3}, B = {2,3,4}: CDF gap peaks at v=1 (1/3 vs 0) and
    // v=3 (3/3 vs 2/3) → D = 1/3; numerator max |cumA*nB - cumB*nA| = 3
    val df = Seq(("A", 1.0), ("A", 2.0), ("A", 3.0),
        ("B", 2.0), ("B", 3.0), ("B", 4.0))
      .toDF("g", "v")
    val r = Drift.ksStatistic(df, "v", "g", "A", "B", numPartitions = 2)
      .head()
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) ==
      ((3L, 3L, 3.0)))
    assert(r.getDouble(3) == 0.333333)
    // a slice against an identically-distributed slice drifts by 0
    val same = Seq(("A", 1.0), ("A", 7.0), ("B", 1.0), ("B", 7.0))
      .toDF("g", "v")
    val r0 = Drift.ksStatistic(same, "v", "g", "A", "B").head()
    assert(r0.getDouble(2) == 0.0 && r0.getDouble(3) == 0.0)
    // NULL values are not CDF points: an all-NULL extra slice-A batch
    // must not move D
    val withNulls = df.union(
      spark.sql("SELECT 'A' AS g, CAST(NULL AS DOUBLE) AS v"))
    val rn = Drift.ksStatistic(withNulls, "v", "g", "A", "B").head()
    assert((rn.getLong(0), rn.getDouble(3)) == ((3L, 0.333333)))
  }

  test("ksMatrix matches ksStatistic pairwise (cross-law) and scores " +
      "identical groups zero") {
    import graft.operators.Drift
    val rnd = new scala.util.Random(20260813L)
    val rows = Seq("A", "B", "C").flatMap { g =>
      (1 to 80).map(_ => (g, (rnd.nextInt(12) +
        (if (g == "C") 4 else 0)).toLong))
    } ++ (1 to 80).map(i => ("D", (i % 12).toLong)) // D ~ uniform
    val df = rows.toDF("g", "v")
    val got = Drift.ksMatrix(df, "v", "g").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.size == 6) // C(4,2) unordered pairs
    for (Seq(a, b) <- Seq("A", "B", "C", "D").combinations(2)) {
      val one = Drift.ksStatistic(
        df.where(col("g").isin(a, b)), "v", "g", a, b).head()
      assert(got((a, b)) ==
        ((one.getLong(0), one.getLong(1), one.getDouble(3))),
        s"pair ($a,$b) disagrees with ksStatistic")
    }
    // a group against itself (two copies under different names) is 0
    val same = ((1 to 50).map(i => ("X", i.toLong)) ++
      (1 to 50).map(i => ("Y", i.toLong))).toDF("g", "v")
    assert(Drift.ksMatrix(same, "v", "g").head().getDouble(4) == 0.0)
  }

  test("psi is zero for identical slices and large for a shifted one") {
    import graft.operators.Drift
    val same = (1 to 100).flatMap(i =>
      Seq(("A", i.toDouble), ("B", i.toDouble))).toDF("g", "v")
    assert(Drift.psi(same, "v", "g", "A", "B").head().getDouble(2) == 0.0)
    // B concentrated in A's top decile → far beyond the 0.25 alarm bar
    val shifted = ((1 to 100).map(i => ("A", i.toDouble)) ++
      (1 to 100).map(i => ("B", 95.0 + (i % 5)))).toDF("g", "v")
    val r = Drift.psi(shifted, "v", "g", "A", "B").head()
    assert(r.getLong(0) == 100L && r.getLong(1) == 100L)
    assert(r.getDouble(2) > 0.25, s"psi ${r.getDouble(2)} not > 0.25")
  }

  test("equiDepthHistogram cuts equal-count buckets, keeps heavy " +
      "values whole, and is partitioning-invariant") {
    import graft.operators.Profile
    // 1..10 once each, 5 buckets → 2 rows per bucket, tight ranges
    val even = (1 to 10).map(i => Tuple1(i.toDouble)).toDF("x")
    val e = Profile.equiDepthHistogram(even, "x", 5).collect()
      .map(r => r.getInt(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3))))
    assert(e.toSeq == (0 until 5).map(b =>
      b -> ((2.0 * b + 1, 2.0 * b + 2, 2L))))
    // one value holding 60% of rows lands whole in ONE bucket; counts
    // stay exact and sum to the total
    val skewed = ((1 to 6).map(_ => 5.0) ++ Seq(1.0, 2.0, 8.0, 9.0))
      .map(Tuple1(_)).toDF("x")
    val s = Profile.equiDepthHistogram(skewed, "x", 2).collect()
      .map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(s(0) == ((1.0, 5.0, 8L, 3L))) // 1,2 + the six 5s
    assert(s(1) == ((8.0, 9.0, 2L, 2L)))
    assert(s.values.map(_._3).sum == 10L)
    // numPartitions must not change the cut (range partitioning is an
    // implementation detail of the prefix sum)
    val rnd = new scala.util.Random(42)
    val big = (1 to 500).map(_ => Tuple1(rnd.nextInt(40).toDouble))
      .toDF("x")
    val p1 = Profile.equiDepthHistogram(big, "x", 7, numPartitions = 1)
      .collect().toSeq.map(_.toSeq)
    val p9 = Profile.equiDepthHistogram(big, "x", 7, numPartitions = 9)
      .collect().toSeq.map(_.toSeq)
    assert(p1 == p9)
  }

  test("globalRowNumber and prefixSums fuzz against the window " +
      "baseline over random data, duplicates, and partitionings") {
    val rnd = new scala.util.Random(20260813L)
    for (round <- 1 to 5) {
      val n = 50 + rnd.nextInt(400)
      // heavy duplicate pressure on the sort key: only ~12 distinct
      // key values, so ordering is total ONLY with the id tiebreaker
      val rows = (1L to n).map(i => (i, rnd.nextInt(12).toLong,
        rnd.nextInt(100).toLong))
      val parts = 1 + rnd.nextInt(6)
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, parts)).toDF("id", "k", "x")
      val w = Window.orderBy(col("k"), col("id"))
      val expected = df
        .withColumn("rn", row_number().over(w))
        .withColumn("cx", sum(col("x")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .collect()
        .map(r => (r.getLong(0), (r.getInt(3), r.getLong(4)))).toMap
      val ranked = Ranking.globalRowNumber(df,
          Seq(col("k"), col("id")), 1 + rnd.nextInt(8))
        .collect().map(r => (r.getLong(0), r.getLong(3).toInt)).toMap
      val summed = Ranking.prefixSums(df, Seq(col("k"), col("id")),
          Seq("x" -> "cx"), 1 + rnd.nextInt(8))
        .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
      rows.foreach { case (id, _, _) =>
        assert(ranked(id) == expected(id)._1,
          s"rank mismatch at id=$id round=$round")
        assert(summed(id) == expected(id)._2,
          s"prefix-sum mismatch at id=$id round=$round")
      }
    }
  }

  test("globalRowNumber, prefixSums and equiDepthHistogram over a " +
      "persisted input under adaptive execution equal the " +
      "single-partition window") {
    import graft.operators.Profile
    assert(spark.conf.get("spark.sql.adaptive.enabled").toBoolean)
    val rnd = new scala.util.Random(20261020L)
    // more rows per input partition than the range sampler draws, so
    // two range exchanges would sample different bounds; the string
    // column is one the offsets branch never reads
    val rows = (1L to 20000L).map(i =>
      (i, rnd.nextInt(1000).toLong, rnd.nextInt(100).toLong, s"s$i"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 6))
      .toDF("id", "k", "x", "s").persist()
    try {
      val w = Window.orderBy(col("k"), col("id"))
      val expected = df
        .withColumn("rn", row_number().over(w))
        .withColumn("cx", sum(col("x")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .collect()
        .map(r => (r.getLong(0), (r.getInt(4).toLong, r.getLong(5)))).toMap
      val hist = Profile.equiDepthHistogram(df, "k", 7, numPartitions = 1)
        .collect().toSeq.map(_.toSeq)
      for (run <- 1 to 3) {
        val ranked = Ranking.globalRowNumber(df,
            Seq(col("k"), col("id")), numPartitions = 4)
          .collect().map(r => (r.getLong(0), r.getLong(4))).toMap
        val summed = Ranking.prefixSums(df, Seq(col("k"), col("id")),
            Seq("x" -> "cx"), numPartitions = 4)
          .collect().map(r => (r.getLong(0), r.getLong(4))).toMap
        val bad = rows.count { case (id, _, _, _) =>
          ranked(id) != expected(id)._1 || summed(id) != expected(id)._2 }
        assert(bad == 0, s"$bad misranked rows in run $run")
        assert(Profile.equiDepthHistogram(df, "k", 7, numPartitions = 4)
          .collect().toSeq.map(_.toSeq) == hist, s"run $run")
      }
    } finally df.unpersist()
  }

  test("ranking, prefix-sum, drift, and grouped-quantile operators " +
      "return empty results on empty input") {
    import graft.operators.{Drift, Profile}
    val e = Seq.empty[(Long, Double)].toDF("id", "x")
    assert(Ranking.globalRowNumber(e,
      Seq(col("x"), col("id")), 4).count() == 0)
    assert(Ranking.prefixSums(e, Seq(col("x")),
      Seq("id" -> "cum_id"), 4).count() == 0)
    val eg = Seq.empty[(String, Double)].toDF("g", "v")
    assert(Drift.ksStatistic(eg, "v", "g", "A", "B").count() == 0)
    assert(Drift.ksMatrix(eg, "v", "g").count() == 0)
    assert(Profile.groupedCountQuantiles(
      Seq.empty[(String, Int)].toDF("g", "v"), "g", "v",
      Seq(50)).count() == 0)
    assert(Profile.equiDepthHistogram(e, "x", 4).count() == 0)
    // undefined correlations (no rows / zero variance) are ABSENT,
    // not NaN rows
    assert(Profile.corrMatrix(
      Seq.empty[(Double, Double)].toDF("x", "y"), Seq("x", "y"))
      .count() == 0)
    val const = (1 to 10).map(i => (i.toDouble, 5.0)).toDF("x", "y")
    assert(Profile.corrMatrix(const, Seq("x", "y")).count() == 0)
  }

  test("globalRowNumber's plan has no data-sized single-partition " +
      "window (every window is partitioned by the range-partition id)") {
    val df = spark.range(1000).toDF("id")
    val plan = Ranking.globalRowNumber(df, Seq(col("id")), 4)
      .queryExecution.executedPlan.toString
    // the only unpartitioned window in the plan must be the offset
    // prefix-sum over per-partition counts (bounded by numPartitions)
    val windows = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan.toLowerCase).map(_.group(1)).toSeq
    assert(windows.nonEmpty)
    val overData = windows.filterNot(_.contains("__graft_pid"))
    // offset window runs over the count aggregate, whose plan node
    // groups by __graft_pid — data rows never hit it
    assert(overData.size <= 1,
      s"unexpected unpartitioned windows over data rows: $windows")
  }
}
