package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.operators.{DateShift, Sampling}

class SamplingDateShiftSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val nums = (1 to 10000).toDF("n")

  test("exactK returns exactly k rows, a subset of the input " +
      "(whiteRRabbit.R:225-272)") {
    val s = Sampling.exactK(nums, 100, seed = 1L).collect().map(_.getInt(0))
    assert(s.length == 100)
    assert(s.distinct.length == 100)
    assert(s.forall(n => n >= 1 && n <= 10000))
  }

  test("exactK is reproducible per seed and varies across seeds") {
    val a = Sampling.exactK(nums, 50, seed = 7L).collect().map(_.getInt(0))
    val b = Sampling.exactK(nums, 50, seed = 7L).collect().map(_.getInt(0))
    val c = Sampling.exactK(nums, 50, seed = 8L).collect().map(_.getInt(0))
    assert(a.toSeq == b.toSeq)
    assert(a.toSeq != c.toSeq)
  }

  test("exactK pre-thin: filter precedes the top-k in the plan and the " +
      "sample is bit-identical to the unthinned path") {
    // range-backed (a LocalRelation would be folded driver-side and
    // hide the Filter node the assertion needs)
    val big = spark.range(10000).select(col("id").cast("int").as("n"))
    val thinned = Sampling.exactK(big, 100, seed = 1L,
      totalRows = Some(10000L))
    val plan = thinned.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
    // the threshold cut sits between the scan and the top-k, so the
    // final merge sees ~k survivors instead of P·k heap outputs
    val filterAt = plan.indexOf("Filter")
    assert(filterAt >= 0 && plan.contains("__rand"),
      s"no pre-thin filter in plan:\n$plan")
    assert(plan.indexOf("TakeOrderedAndProject") < filterAt,
      "pre-thin filter must run below the top-k")
    // shared random key => identical rows, identical order
    val legacy = Sampling.exactK(big, 100, seed = 1L)
      .collect().map(_.getInt(0))
    assert(thinned.collect().map(_.getInt(0)).toSeq == legacy.toSeq)
  }

  test("exactK pre-thin falls back exactly on survivor shortfall " +
      "(totalRows wildly overstated)") {
    // p = target/10^9 admits ~0 of the 10k rows: the survivor count
    // catches the shortfall and the unthinned path must take over
    val s = Sampling.exactK(nums, 100, seed = 1L,
      totalRows = Some(1000000000L)).collect().map(_.getInt(0))
    val legacy = Sampling.exactK(nums, 100, seed = 1L)
      .collect().map(_.getInt(0))
    assert(s.toSeq == legacy.toSeq)
  }

  test("cap: maxRows<=0 keeps everything; k>n keeps n") {
    assert(Sampling.cap(nums, -1, randomSample = true).count() == 10000)
    // the reference caps only for maxRows > 0 (whiteRRabbit.R:225):
    // 0 must NOT truncate to an empty table
    assert(Sampling.cap(nums, 0, randomSample = true).count() == 10000)
    assert(Sampling.exactK(nums, 20000, 1L).count() == 10000)
  }

  test("weighted sampling oversamples heavy rows, exact k, seeded") {
    // 500 rows at weight 10, 500 at weight 1: P(heavy in sample) per
    // A-Res is ~10x a light row's; at k=200 the heavy share
    // concentrates far above 1/2 (binomial tail ~0 below 0.7)
    val df = ((1 to 500).map(i => (i.toLong, 10.0)) ++
      (501 to 1000).map(i => (i.toLong, 1.0))).toDF("id", "w")
    val a = Sampling.weightedExactK(df, "w", 200, seed = 7L).collect()
    assert(a.length == 200)
    assert(a.map(_.getLong(0)).distinct.length == 200)
    val heavy = a.count(_.getDouble(1) == 10.0)
    assert(heavy > 140, s"heavy share ${heavy / 200.0} not oversampled")
    // reproducible per seed
    val b = Sampling.weightedExactK(df, "w", 200, seed = 7L).collect()
    assert(a.map(_.getLong(0)).toSeq == b.map(_.getLong(0)).toSeq)
    // zero/negative weights never sampled
    val withBad = df.unionByName(
      Seq((2000L, 0.0), (2001L, -1.0)).toDF("id", "w"))
    val c = Sampling.weightedExactK(withBad, "w", 1002, seed = 7L)
      .collect().map(_.getLong(0)).toSet
    assert(!c.contains(2000L) && !c.contains(2001L))
    // the exact ladder counts make the pre-thin selection-identical
    // to the unthinned path (shared key), and the thinned plan cuts
    // before the top-k (range-backed so the Filter is not folded)
    val bigW = spark.range(1000).select(col("id"),
      when(col("id") < 500, 10.0).otherwise(1.0).as("w"))
    val thin = Sampling.weightedExactK(bigW, "w", 200, seed = 7L)
    val plain = Sampling.weightedExactK(bigW, "w", 200, seed = 7L,
      preThin = false)
    assert(thin.collect().map(_.getLong(0)).toSeq ==
      plain.collect().map(_.getLong(0)).toSeq)
    val plan = thin.queryExecution.executedPlan.toString
    // the key-threshold Filter (not the w>0 filter) must cut below
    // the top-k
    val keyFilter = "(?s)Filter[^\\n]*__key".r.findFirstMatchIn(plan)
    assert(plan.contains("TakeOrderedAndProject") && keyFilter.nonEmpty &&
      plan.indexOf("TakeOrderedAndProject") < keyFilter.get.start,
      s"weighted pre-thin key filter missing below the top-k:\n$plan")
  }

  test("stratified sampling caps each group at k, reproducibly") {
    val df = (1 to 1000).map(i => (i, s"g${i % 3}")).toDF("id", "g")
    val a = Sampling.stratifiedExactK(df, "g", 50, seed = 3L).collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(a.length == 150)
    assert(a.groupBy(_._2).forall(_._2.length == 50))
    assert(a.map(_._1).distinct.length == 150)
    // a group smaller than k is kept whole
    val tiny = Sampling.stratifiedExactK(
      (1 to 10).map(i => (i, if (i < 4) "s" else "b")).toDF("id", "g"),
      "g", 5).collect().map(r => r.getString(1))
    assert(tiny.count(_ == "s") == 3 && tiny.count(_ == "b") == 5)
    val b = Sampling.stratifiedExactK(df, "g", 50, seed = 3L).collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(a.sorted.toSeq == b.sorted.toSeq)
    // per-group pre-thin (default) selects the same rows as the
    // unthinned window — shared key + exact per-group survivor check
    val plain = Sampling.stratifiedExactK(df, "g", 50, seed = 3L,
      preThin = false).collect().map(r => (r.getInt(0), r.getString(1)))
    assert(a.sorted.toSeq == plain.sorted.toSeq)
    // NULL group keys survive the null-safe thin join as their own group
    val withNull = spark.createDataFrame(
      spark.sparkContext.parallelize((1 to 600).map(i =>
        org.apache.spark.sql.Row(i, if (i % 2 == 0) null else "x"))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("g",
          org.apache.spark.sql.types.StringType))))
    val nullSampled = Sampling.stratifiedExactK(withNull, "g", 40, seed = 3L)
      .collect().map(r => Option(r.getString(1)))
    assert(nullSampled.count(_.isEmpty) == 40)
    assert(nullSampled.count(_.nonEmpty) == 40)
  }

  test("weighted stratified sampling: per-group exact k, heavy rows " +
      "oversampled within groups, pre-thin selection-identical") {
    // two groups of 600; each group: 300 rows at weight 10, 300 at 1
    // (id mod 4 ∈ {0,1} is heavy — one heavy, one light residue per
    // id-parity group)
    val df = spark.range(0, 1200).select(
      col("id"),
      concat(lit("g"), (col("id") % 2)).as("g"),
      when(pmod(col("id"), lit(4)) < 2, 10.0).otherwise(1.0).as("w"))
    val a = Sampling.weightedStratifiedExactK(df, "g", "w", 100,
      seed = 5L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(a.length == 200)
    val byG = a.groupBy(_._2)
    assert(byG.keySet == Set("g0", "g1"))
    assert(byG.forall(_._2.length == 100))
    assert(a.map(_._1).distinct.length == 200)
    // within EACH group the weight-10 rows dominate (A-Res bias)
    byG.foreach { case (g, rows) =>
      val heavy = rows.count(_._3 == 10.0)
      assert(heavy > 70, s"group $g heavy share $heavy/100 not biased")
    }
    // reproducible, and the exact-ladder pre-thin must select the
    // SAME rows as the unthinned per-group rank (shared key)
    val b = Sampling.weightedStratifiedExactK(df, "g", "w", 100,
      seed = 5L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(a.sorted.toSeq == b.sorted.toSeq)
    val plain = Sampling.weightedStratifiedExactK(df, "g", "w", 100,
      seed = 5L, preThin = false).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(a.sorted.toSeq == plain.sorted.toSeq)
    // a group smaller than k is kept whole; non-positive weights drop
    val tiny = Sampling.weightedStratifiedExactK(
      spark.range(0, 10).select(col("id"),
        when(col("id") < 7, "s").otherwise("t").as("g"),
        when(col("id") === 0, 0.0).otherwise(2.0).as("w")),
      "g", "w", 5).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(tiny.count(_._2 == "t") == 3)
    assert(tiny.count(_._2 == "s") == 5)
    assert(!tiny.map(_._1).contains(0L)) // zero-weight row never drawn
  }

  test("fuzz: weighted stratified pre-thin selects identically to the " +
      "unthinned rank across random weights, group counts, and k") {
    val rnd = new scala.util.Random(4242L)
    for (round <- 1 to 4) {
      val nGroups = 1 + rnd.nextInt(4)
      val n = 500 + rnd.nextInt(1500)
      val k = 1 + rnd.nextInt(60)
      val seed = rnd.nextLong()
      val rows = (0 until n).map { i =>
        // weights spanning 5 orders of magnitude incl. tiny groups
        (i.toLong, s"s${i % nGroups}",
          math.pow(10.0, rnd.nextDouble() * 5 - 2))
      }
      val df = rows.toDF("id", "g", "w")
        .repartition(7) // layout-independent keys need a fixed layout
      val thin = Sampling.weightedStratifiedExactK(df, "g", "w", k,
        seed).collect().map(_.getLong(0)).sorted.toSeq
      val plain = Sampling.weightedStratifiedExactK(df, "g", "w", k,
        seed, preThin = false).collect().map(_.getLong(0)).sorted.toSeq
      assert(thin == plain,
        s"round $round (n=$n k=$k groups=$nGroups): pre-thin selected " +
          s"${thin.size} vs ${plain.size}")
    }
  }

  test("cap rejects maxRows above Int.MaxValue instead of overflowing") {
    intercept[IllegalArgumentException] {
      Sampling.cap(nums, Int.MaxValue.toLong + 1, randomSample = true)
    }
  }

  test("leakage-safe split keeps every near-dup pair in one split and " +
      "assigns every doc (sf0.001 documents)") {
    val out = SparkEntry.registry("split_leakage_safe").run(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.map(_.getLong(1)).sum == 500, "every doc gets a split")
    assert(out.forall(_.getLong(3) == 0L),
      s"near-dup pairs straddle splits: ${out.mkString(", ")}")
    // clusters collapse docs: strictly fewer clusters than docs overall
    assert(out.map(_.getLong(2)).sum < 500)
  }

  test("asof join matches the latest right row at-or-before each left " +
      "row, null when none precedes") {
    import graft.operators.AsofJoin
    val l = Seq((1L, 5L, 100L), (2L, 10L, 100L), (3L, 20L, 100L),
      (4L, 10L, 200L), (5L, 3L, 999L)).toDF("lid", "t", "k")
    val r = Seq((10L, 100L, "a"), (4L, 100L, "b"), (15L, 100L, "c"),
      (10L, 200L, "d")).toDF("t", "k", "v")
    val got = AsofJoin.asofJoin(l, "k", "t", r, "k", "t", "v")
      .collect().map(x => x.getAs[Long]("lid") -> x.getAs[String]("v"))
      .toMap
    // lid 1 (t=5,k=100): only r t=4 precedes → b
    // lid 2 (t=10): inclusive tie → a; lid 3 (t=20): latest is c (t=15)
    // lid 4 (k=200, t=10): d; lid 5 (t=3): nothing precedes → null
    assert(got == Map(1L -> "b", 2L -> "a", 3L -> "c", 4L -> "d",
      5L -> null))
  }

  test("directional asof: forward takes the earliest at-or-after, " +
      "nearest takes the closer side with exact ties backward") {
    import graft.operators.AsofJoin
    val l = Seq((1L, 5L, 100L), (2L, 10L, 100L), (3L, 20L, 100L),
      (4L, 10L, 200L), (5L, 3L, 999L)).toDF("lid", "t", "k")
    val r = Seq((10L, 100L, "a"), (4L, 100L, "b"), (15L, 100L, "c"),
      (10L, 200L, "d")).toDF("t", "k", "v")
    def run(dir: String) = AsofJoin.asofJoinDirectional(
      l, "k", "t", r, "k", "t", "v", direction = dir)
      .collect().map(x => x.getAs[Long]("lid") ->
        ((x.getAs[String]("v"), x.getAs[Any]("matched_ts")))).toMap
    val fwd = run("forward")
    // lid1 (t=5): earliest ≥ 5 is t=10 "a"; lid2 (t=10): inclusive
    // tie "a"; lid3 (t=20): nothing follows; lid4: "d"; lid5: no key
    assert(fwd == Map(1L -> (("a", 10L)), 2L -> (("a", 10L)),
      3L -> ((null, null)), 4L -> (("d", 10L)), 5L -> ((null, null))))
    val near = run("nearest")
    // lid1: backward t=4 (d=1) beats forward t=10 (d=5); lid2: exact
    // tie prefers backward (= the same t=10 row); lid3: backward only
    assert(near == Map(1L -> (("b", 4L)), 2L -> (("a", 10L)),
      3L -> (("c", 15L)), 4L -> (("d", 10L)), 5L -> ((null, null))))
    // backward direction reproduces the classic asofJoin
    val back = run("backward")
    assert(back.view.mapValues(_._1).toMap == Map(1L -> "b", 2L -> "a",
      3L -> "c", 4L -> "d", 5L -> null))
  }

  test("range join matches points to containing intervals across " +
      "bucket boundaries") {
    import graft.operators.RangeJoin
    val pts = Seq((1L, 50L, 7L), (2L, 150L, 7L), (3L, 250L, 7L),
      (4L, 150L, 8L)).toDF("pid", "t", "k")
    // interval [40, 160] spans buckets 0 and 1 at granularity 100;
    // [200, 260] covers only point 3; key 8 has no interval
    val ivs = Seq((40L, 160L, 7L, "a"), (200L, 260L, 7L, "b"))
      .toDF("s", "e", "ik", "iv")
    val got = RangeJoin.pointInInterval(pts, "k", "t", ivs, "ik",
        "s", "e", granularityUs = 100L)
      .collect().map(r => r.getAs[Long]("pid") -> r.getAs[String]("iv"))
      .sorted.toSeq
    assert(got == Seq(1L -> "a", 2L -> "a", 3L -> "b"))
  }

  test("ScanMain.parse accepts bare store_true flags and rejects " +
      "malformed options (whiteRRabbit.R:67-82)") {
    val c = ScanMain.parse(Array("--working_folder", "/in",
      "--shift_dates", "--random_sample", "--maxRows", "500"))
    assert(c.workingFolder == "/in")
    assert(c.shiftDates && c.randomSample)
    assert(c.maxRows == 500L)
    // explicit boolean value still accepted
    val c2 = ScanMain.parse(Array("--working_folder", "/in",
      "--shift_dates", "false"))
    assert(!c2.shiftDates)
    // a value-taking option with no value fails loudly (the old
    // sliding-pair parser silently misaligned everything after it)
    intercept[IllegalArgumentException] {
      ScanMain.parse(Array("--working_folder", "/in", "--maxRows"))
    }
    intercept[IllegalArgumentException] {
      ScanMain.parse(Array("stray", "--working_folder", "/in"))
    }
  }

  test("date shift stays within ±5 days and only touches date columns " +
      "(whiteRRabbit.R:283-291)") {
    val df = (1 to 2000)
      .map(i => (i, f"2023-${i % 12 + 1}%02d-15 10:00:00"))
      .toDF("id", "ts_s")
      .selectExpr("id", "CAST(ts_s AS TIMESTAMP) AS ts")
    val shifted = DateShift.shiftDates(df, seed = 5L)
      .withColumnRenamed("ts", "ts2").withColumnRenamed("id", "id2")
    val joined = df.join(shifted, col("id") === col("id2"))
      .select(datediff(to_date(col("ts2")), to_date(col("ts"))).as("d"),
        (col("id") - col("id2")).as("idDiff"))
    val (dmin, dmax, idBad) = {
      val r = joined.agg(min("d"), max("d"),
        sum(abs(col("idDiff")))).head()
      (r.getInt(0), r.getInt(1), r.getLong(2))
    }
    assert(dmin >= -5 && dmax <= 5)
    assert(dmin == -5 && dmax == 5) // 2000 draws over 11 values
    assert(idBad == 0L)             // non-date column untouched
    assert(shifted.count() == 2000)
  }

  test("date shift is seeded-reproducible (engine addition, " +
      "SURVEY §7.4.8)") {
    val df = (1 to 100).map(i => Tuple1(s"2023-01-15 00:00:0${i % 10}"))
      .toDF("s").selectExpr("CAST(s AS TIMESTAMP) AS ts")
    val a = DateShift.shiftDates(df, 9L).collect().map(_.get(0).toString)
    val b = DateShift.shiftDates(df, 9L).collect().map(_.get(0).toString)
    assert(a.toSeq == b.toSeq)
  }
}
