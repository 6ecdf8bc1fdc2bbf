package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Frequency, Profile}

/** Profile counters/stat suites (whiteRRabbit.R:313-423) and frequency
  * semantics (whiteRRabbit.R:329-352) on hand-checked fixtures.
  */
class ProfileFrequencySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val mixed = Seq(
    (Some(1.0), "a", Some("2023-01-01 00:00:00")),
    (Some(2.0), "b", Some("2023-01-02 00:00:00")),
    (Some(3.0), "",  Some("2023-01-03 00:00:00")),
    (Some(4.0), "a", None),
    (None,      null, Some("2023-01-05 00:00:00")))
    .toDF("num", "str", "ts_s")
    .selectExpr("num", "str", "CAST(ts_s AS TIMESTAMP) AS ts")

  private lazy val summary = Profile.summarize(mixed).collect()
    .map(r => r.getString(0) -> r).toMap

  test("missing/empty/non-missing counters (whiteRRabbit.R:313-325)") {
    val s = summary("str")
    assert(s.getAs[Long]("total_count") == 5)
    assert(s.getAs[Long]("missing_count") == 1)
    assert(s.getAs[Long]("empty_count") == 1)
    assert(s.getAs[Long]("non_missing") == 3)
    val n = summary("num")
    assert(n.getAs[Long]("missing_count") == 1)
    assert(n.getAs[Long]("empty_count") == 0)
    assert(n.getAs[Long]("non_missing") == 4)
  }

  test("distinct excludes NULL and empty string (whiteRRabbit.R:327)") {
    assert(summary("str").getAs[Long]("distinct_count") == 2) // a, b
    assert(summary("num").getAs[Long]("distinct_count") == 4)
  }

  test("numeric suite: type-7 quartiles, sample sd " +
      "(whiteRRabbit.R:354-376)") {
    val n = summary("num")
    assert(n.getAs[Double]("min_val") == 1.0)
    assert(n.getAs[Double]("max_val") == 4.0)
    assert(n.getAs[Double]("mean_val") == 2.5)
    assert(n.getAs[Double]("median_val") == 2.5)
    // R quantile type 7 on (1,2,3,4): q1 = 1.75, q3 = 3.25
    assert(math.abs(n.getAs[Double]("q1_val") - 1.75) < 1e-12)
    assert(math.abs(n.getAs[Double]("q3_val") - 3.25) < 1e-12)
    assert(math.abs(n.getAs[Double]("iqr_val") - 1.5) < 1e-12)
    // sample sd of (1,2,3,4) = sqrt(5/3)
    assert(math.abs(n.getAs[Double]("sd_val") - math.sqrt(5.0 / 3)) < 1e-12)
  }

  test("date suite: median may interpolate between instants " +
      "(whiteRRabbit.R:389-398)") {
    val t = summary("ts")
    val day = 86400000000L
    val base = 1672531200000000L // 2023-01-01T00:00:00Z in micros
    assert(t.getAs[Long]("earliest_us") == base)
    assert(t.getAs[Long]("latest_us") == base + 4 * day)
    // values: Jan 1,2,3,5 → median = (2nd+3rd)/2 = Jan 2 12:00
    assert(t.getAs[Long]("median_us") == base + day + day / 2)
  }

  test("reference summary shape: 18 fields, R class names " +
      "(whiteRRabbit.R:402-423)") {
    val ref = Profile.referenceSummary(Profile.summarize(mixed))
    assert(ref.columns.length == 18)
    assert(ref.columns.head == "Column")
    val types = ref.collect().map(r =>
      r.getAs[String]("Column") -> r.getAs[String]("DataType")).toMap
    assert(types("num") == "numeric")
    assert(types("str") == "character")
    assert(types("ts") == "POSIXct, POSIXt")
  }

  test("quartiles and date median hold when every rank base is " +
      "non-zero (numeric and timestamp columns after string columns " +
      "with NULLs and \"\")") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("s1", StringType),
      StructField("s2", StringType), StructField("amount", DoubleType),
      StructField("ts", TimestampType), StructField("k", LongType)))
    def ts(day: Int) = java.time.Instant.parse(f"2023-01-$day%02dT00:00:00Z")
    val rows = Seq(
      Row("x", "a", 10.0, ts(1), 1L),
      Row("y", "", 3.0, ts(2), 2L),
      Row(null, "b", 7.0, null, 3L),
      Row("", "c", 1.0, ts(5), 4L),
      Row("z", null, null, ts(10), 5L),
      Row("x", "d", 4.0, null, 6L),
      Row("w", "e", 4.0, null, 7L))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val s = Profile.summarize(df).collect()
      .map(r => r.getString(0) -> r).toMap
    // rank bases 0, 5, 10, 16, 20: s1 and s2 each hold 5 non-missing
    assert(s("s1").getAs[Long]("non_missing") == 5L)
    assert(s("s2").getAs[Long]("non_missing") == 5L)
    assert(s("s1").getAs[Long]("distinct_count") == 4L)
    // R: quantile(c(10, 3, 7, 1, 4, 4), c(.25, .5, .75)) = 3.25, 4, 6.25
    val a = s("amount")
    assert(a.getAs[Double]("q1_val") == 3.25)
    assert(a.getAs[Double]("median_val") == 4.0)
    assert(a.getAs[Double]("q3_val") == 6.25)
    assert(a.getAs[Double]("iqr_val") == 3.0)
    assert(a.getAs[Long]("distinct_count") == 5L)
    // R: quantile(1:7, c(.25, .5, .75)) = 2.5, 4, 5.5
    val k = s("k")
    assert(k.getAs[Double]("q1_val") == 2.5)
    assert(k.getAs[Double]("median_val") == 4.0)
    assert(k.getAs[Double]("q3_val") == 5.5)
    // Jan 1, 2, 5, 10: h = 1.5 → Jan 2 + 1.5 days = Jan 3 12:00
    val day = 86400000000L
    val jan1 = 1672531200000000L
    assert(s("ts").getAs[Long]("median_us") == jan1 + 2 * day + day / 2)
    assert(s("ts").getAs[Long]("earliest_us") == jan1)
    assert(s("ts").getAs[Long]("latest_us") == jan1 + 9 * day)
    // each column's histogram must hold its counters' non-missing
    // count: a mismatch fails naming the column, not a wrong rank
    val counts = df.columns.toIndexedSeq.map(c =>
      s(c).getAs[Long]("non_missing"))
    assert(Profile.histogramStats(df, counts).size == df.columns.length)
    val e = intercept[IllegalStateException] {
      Profile.histogramStats(df, counts.updated(2, counts(2) + 1))
    }
    assert(e.getMessage.contains("'amount'"), e.getMessage)
  }

  private lazy val freqInput = (
    Seq.fill(10)("x") ++ Seq.fill(7)("y") ++ Seq.fill(7)("b") ++
      Seq.fill(3)("rare") ++ Seq("", "", null))
    .map(Tuple1(_)).toDF("v")

  test("frequency: threshold, truncation, retained-sum percentage " +
      "(whiteRRabbit.R:335-344)") {
    val rows = Frequency.frequencies(freqInput, Seq("v"),
      minCellCount = 5, maxDistinctValues = 2).collect()
    // 'rare' (3 < 5) dropped by threshold; top-2 keeps x(10) and b(7)
    // — tie between y and b broken by value asc → b wins
    assert(rows.map(_.getAs[String]("value")).toSeq == Seq("x", "b"))
    // percentage denominator = 10 + 7 (retained only), not 27
    val pct = rows.map(r =>
      r.getAs[String]("value") -> r.getAs[Double]("pct")).toMap
    assert(math.abs(pct("x") - 10.0 / 17) < 1e-12)
    assert(math.abs(pct("b") - 7.0 / 17) < 1e-12)
  }

  private def checkApproxAgainstExact(
      approxDf: org.apache.spark.sql.DataFrame): Unit = {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val exact = Profile.summarize(li).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = approxDf.collect()
      .map(r => r.getString(0) -> r).toMap
    exact.foreach { case (c, e) =>
      val a = approx(c)
      // counters are exact in both paths
      assert(a.getAs[Long]("total_count") == e.getAs[Long]("total_count"))
      assert(a.getAs[Long]("missing_count") ==
        e.getAs[Long]("missing_count"))
      // HLL at rsd=0.05: allow 3 sigma ≈ 15% relative error
      val (de, da) =
        (e.getAs[Long]("distinct_count"), a.getAs[Long]("distinct_count"))
      assert(math.abs(da - de) <= math.max(5L, (0.15 * de).toLong),
        s"$c distinct: exact=$de approx=$da")
      // sketch quantiles: judge by RANK error, not value distance —
      // on a discrete column the adjacent value is a correct answer
      // whenever the target rank falls near the boundary. The fraction
      // of values at-or-below the approx quantile must reach p - tol,
      // and the fraction strictly below must not exceed p + tol.
      import org.apache.spark.sql.functions.{avg, col, when}
      for ((f, p) <- Seq("q1_val" -> 0.25, "median_val" -> 0.5,
             "q3_val" -> 0.75)
           if !e.isNullAt(e.fieldIndex(f))) {
        val av = a.getAs[Double](f)
        val r = li.agg(
          avg(when(col(c).cast("double") <= av, 1.0).otherwise(0.0)),
          avg(when(col(c).cast("double") < av, 1.0).otherwise(0.0)))
          .head()
        val (le, lt) = (r.getDouble(0), r.getDouble(1))
        assert(le >= p - 0.02 && lt <= p + 0.02,
          s"$c $f: approx=$av covers ranks [$lt, $le], target $p")
      }
      // min/max are exact in every approx path; mean/sd accumulate in
      // a different order than the exact agg, so allow float slack
      for ((f, tol) <- Seq("min_val" -> 0.0, "max_val" -> 0.0,
             "mean_val" -> 1e-9, "sd_val" -> 1e-6)
           if !e.isNullAt(e.fieldIndex(f)) &&
             !a.isNullAt(a.fieldIndex(f))) {
        val (ev, avv) = (e.getAs[Double](f), a.getAs[Double](f))
        assert(math.abs(avv - ev) <= tol * math.max(1.0, math.abs(ev)),
          s"$c $f: exact=$ev approx=$avv")
      }
    }
  }

  test("approx profile tracks the exact profile within sketch " +
      "tolerances (sf0.001 lineitem)") {
    checkApproxAgainstExact(Profile.summarizeApprox(
      spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")))
  }

  test("one-pass sketch profile tracks the exact profile within the " +
      "same sketch tolerances (sf0.001 lineitem)") {
    checkApproxAgainstExact(Profile.summarizeOnePass(
      spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")))
  }

  test("profile handles empty tables and all-null columns") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("n", DoubleType),
      StructField("s", StringType)))
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    val es = Profile.summarize(empty).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(es("n").getAs[Long]("total_count") == 0)
    assert(es("n").getAs[Long]("distinct_count") == 0)
    assert(es("n").isNullAt(es("n").fieldIndex("median_val")))
    // the one-pass sketch path handles the same degenerate shapes
    val os = Profile.summarizeOnePass(empty).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(os("n").getAs[Long]("total_count") == 0)
    assert(os("n").getAs[Long]("distinct_count") == 0)
    assert(os("n").isNullAt(os("n").fieldIndex("median_val")))
    // all-null numeric column: counters exact, stats null
    val nulls = Seq.fill(5)((None: Option[Double], "x")).toDF("n", "s")
    val ns = Profile.summarize(nulls).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(ns("n").getAs[Long]("missing_count") == 5)
    assert(ns("n").getAs[Long]("distinct_count") == 0)
    assert(ns("n").isNullAt(ns("n").fieldIndex("q1_val")))
    assert(ns("s").getAs[Long]("distinct_count") == 1)
  }

  test("frequency renders integral doubles without trailing .0 " +
      "(whiteRRabbit.R:333-343 table()/as.character)") {
    import spark.implicits._
    val df = Seq.fill(5)(1.0) ++ Seq.fill(5)(2.5) ++ Seq.fill(5)(-3.0)
    val rows = Frequency.frequencies(df.toDF("d"), Seq("d"), 5, 100)
      .collect().map(_.getAs[String]("value")).toSet
    assert(rows == Set("1", "2.5", "-3"))
    // the other rendering traps, five rows per value so minCellCount 5
    // keeps each; -0.0 (3x) and 0.0 (2x) only reach 5 merged under "0"
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("d", DoubleType),
      StructField("f", FloatType), StructField("dec", DecimalType(10, 2)),
      StructField("l", LongType), StructField("s", StringType),
      StructField("day", DateType)))
    val traps = (0 until 25).map { k =>
      val (block, first) = (k / 5, k / 5 == 0)
      Row(Seq(1.0, 1.5, if (k % 5 < 3) -0.0 else 0.0, Double.NaN,
          1e15)(block),
        if (first) 0.1f else null,
        Seq(BigDecimal("1.50").bigDecimal, BigDecimal("-2.00").bigDecimal)
          .lift(block).orNull,
        if (first) 12345678901234567L else null,
        Seq("a", "", null).lift(block).orNull,
        java.sql.Date.valueOf("2023-01-01"))
    }
    val trapDf = spark.createDataFrame(
      java.util.Arrays.asList(traps: _*), schema)
    val got = Frequency.frequencies(trapDf, trapDf.columns.toSeq, 5, 100)
      .collect().map(r => (r.getAs[String]("col_name"),
        r.getAs[String]("value"), r.getAs[Long]("cnt"))).toSet
    assert(got == Set(
      ("d", "1", 5L), ("d", "1.5", 5L), ("d", "0", 5L), ("d", "NaN", 5L),
      ("d", "1.0E15", 5L), // past the 1e15 guard: the plain cast
      ("f", "0.1", 5L), // the float's own rendering, not its double's
      ("dec", "1.50", 5L), ("dec", "-2.00", 5L), // cast(string)
      ("l", "12345678901234567", 5L), // exact past 2^53
      ("s", "a", 5L))) // "" and NULL excluded; the date column: no table
  }

  test("frequency excludes NULL and empty and date columns " +
      "(whiteRRabbit.R:320-331)") {
    val all = Frequency.frequencies(freqInput, Seq("v"), 1, 100).collect()
    assert(!all.exists(r => r.getAs[String]("value") == "" ||
      r.getAs[String]("value") == null))
    assertThrows[IllegalArgumentException] {
      Frequency.frequencies(mixed.select("ts"), Seq("ts"), 1, 100)
    }
  }

  test("Misra-Gries top-k is exact above the distinct count and " +
      "bounded-undercount below it") {
    import spark.implicits._
    // hot 500x, warm 200x, 100 tail values 5x each; n = 1200
    val vals = Seq.fill(500)("hot") ++ Seq.fill(200)("warm") ++
      (0 until 100).flatMap(i => Seq.fill(5)(f"tail$i%03d"))
    val df = vals.toDF("v").repartition(8) // force real partial merges
    // exact regime: capacity >= 102 distincts -> counts match groupBy
    val exact = Frequency.approxTopK(df, Seq("v"), k = 3, capacity = 512)
      .collect().map(r => (r.getAs[String]("value"), r.getAs[Long]("cnt")))
    assert(exact.toSeq == Seq(("hot", 500L), ("warm", 200L),
      ("tail000", 5L)))
    // sketch regime: capacity 8 << 102 distincts. Guarantees: any value
    // with true share > n/capacity (= 150) is present; estimates
    // undercount by at most n/capacity
    val approx = Frequency.approxTopK(df, Seq("v"), k = 2, capacity = 8)
      .collect().map(r => (r.getAs[String]("value"), r.getAs[Long]("cnt")))
    val m = approx.toMap
    assert(approx.head._1 == "hot")
    assert(m("hot") <= 500L && m("hot") >= 500L - 1200L / 8)
    assert(m.contains("warm") && m("warm") <= 200L &&
      m("warm") >= 200L - 1200L / 8)
  }

  test("equi-width histogram buckets span [min,max], count every row, " +
      "and collapse a constant column to bucket 0") {
    import spark.implicits._
    val df = (0 to 100).map(_.toDouble).toDF("v")
    val h = Profile.numericHistogram(df, "v", buckets = 4).collect()
    assert(h.map(_.getAs[Int]("bucket")).toSeq == Seq(0, 1, 2, 3))
    assert(h.map(_.getAs[Long]("n_rows")).sum == 101L)
    // width 25: bucket 0 = [0,25), ..., bucket 3 = [75,100] (max value
    // folds into the last bucket via the least() clamp)
    assert(h(0).getAs[Double]("b_min") == 0.0 &&
      h(0).getAs[Double]("b_max") == 24.0)
    assert(h(3).getAs[Double]("b_min") == 75.0 &&
      h(3).getAs[Double]("b_max") == 100.0)
    val const = Seq(7.0, 7.0, 7.0).toDF("v")
    val hc = Profile.numericHistogram(const, "v", buckets = 4).collect()
    assert(hc.length == 1 && hc.head.getAs[Int]("bucket") == 0 &&
      hc.head.getAs[Long]("n_rows") == 3L)
    // nulls are excluded, not bucketed
    val withNull = Seq(Some(1.0), None, Some(2.0)).toDF("v")
    assert(Profile.numericHistogram(withNull, "v", 2)
      .agg(org.apache.spark.sql.functions.sum("n_rows"))
      .head.getLong(0) == 2L)
  }

  test("Tukey fences flag injected outliers and none on a tight " +
      "uniform column") {
    import spark.implicits._
    // 1..100 uniform: q1=25.75, q3=75.25, iqr=49.5, fences [-48.5, 149.5]
    val base = (1 to 100).map(_.toDouble)
    val clean = Profile.outlierFences(base.toDF("v"), "v").head
    assert(clean.getAs[Double]("q1") == 25.75 &&
      clean.getAs[Double]("q3") == 75.25)
    assert(clean.getAs[Long]("n_below") == 0L &&
      clean.getAs[Long]("n_above") == 0L)
    // inject two far outliers on each side; fences move but the four
    // extremes stay far outside them
    val dirty = (base ++ Seq(-1000.0, -900.0, 900.0, 1000.0)).toDF("v")
    val d = Profile.outlierFences(dirty, "v").head
    assert(d.getAs[Long]("n_below") == 2L && d.getAs[Long]("n_above") == 2L)
    assert(d.getAs[Long]("n_rows") == 104L)
    assert(d.getAs[Double]("lo_fence") < 0 &&
      d.getAs[Double]("hi_fence") > 100)
  }

  test("grouped count-quantiles pick the exact type-1 per-group " +
      "quartiles without buffering values") {
    // group a: values 1..4 → p25=1, p50=2, p75=3 (cum·100 ≥ total·p);
    // group b: {5,5,5,9} → p25=p50=p75 land on 5,5,9? cum(5)=3:
    // 300≥100 ✓ p25=5, 300≥200 ✓ p50=5, 300≥300 ✓ p75=5
    val df = (Seq(("a", 1), ("a", 2), ("a", 3), ("a", 4)) ++
      Seq(("b", 5), ("b", 5), ("b", 5), ("b", 9))).toDF("g", "v")
    val got = Profile.groupedCountQuantiles(df, "g", "v", Seq(25, 50, 75))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("a") == ((1L, 2L, 3L, 4L)))
    assert(got("b") == ((5L, 5L, 5L, 4L)))
    // p100 is the group max by construction
    val p100 = Profile.groupedCountQuantiles(df, "g", "v", Seq(100))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(p100 == Map("a" -> 4L, "b" -> 9L))
  }

  test("mutual information: zero for independent columns, equal to " +
      "the entropy when one column determines the other") {
    import graft.operators.Profile
    // balanced independent pair: every (x, y) combination equally
    // likely -> pxy = px*py exactly -> every MI term ln(1) = 0
    val indep = (for { x <- Seq("a", "b"); y <- Seq("u", "v") }
      yield (x, y)).flatMap(p => Seq.fill(5)(p)).toDF("x", "y")
    val ri = Profile.mutualInfo(indep, "x", "y").head()
    assert(ri.getDouble(0) == 0.0)
    // y = f(x): MI = H(x) = H(y) = ln 2 for a balanced binary column
    val dep = (Seq.fill(10)(("a", "u")) ++ Seq.fill(10)(("b", "v")))
      .toDF("x", "y")
    val rd = Profile.mutualInfo(dep, "x", "y").head()
    assert(math.abs(rd.getDouble(0) - math.log(2.0)) < 1e-5)
    assert(rd.getDouble(0) == rd.getDouble(1)) // MI == H(x)
    assert(rd.getLong(3) == 2L)
  }

  test("grouped top-k sketch is exact per group above capacity and " +
      "ranks (cnt DESC, value ASC)") {
    import graft.operators.Frequency
    val rows = Seq.fill(5)(("g1", "x")) ++ Seq.fill(3)(("g1", "y")) ++
      Seq.fill(3)(("g1", "z")) ++ Seq.fill(7)(("g2", "q")) ++
      Seq(("g2", "x"))
    val got = Frequency.groupedApproxTopK(
        rows.toDF("g", "v"), "g", "v", k = 2, capacity = 16)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3))).toSet
    // g1 y/z tie at 3 → value ASC puts y at rank 2
    assert(got == Set(("g1", 1, "x", 5L), ("g1", 2, "y", 3L),
      ("g2", 1, "q", 7L), ("g2", 2, "x", 1L)))
  }

  test("corrMatrix: exact +1/-1 on linear columns, matches Spark's " +
      "corr aggregate on random data") {
    import graft.operators.Profile
    val lin = (1 to 50).map(i =>
      (i.toDouble, 3.0 * i + 7, -2.0 * i + 1)).toDF("x", "y", "z")
    val got = Profile.corrMatrix(lin, Seq("x", "y", "z")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(got(("x", "y")) == 1.0 && got(("x", "z")) == -1.0 &&
      got(("y", "z")) == -1.0)
    val rnd = new scala.util.Random(7L)
    val noisy = (1 to 400).map { _ =>
      val a = rnd.nextInt(1000) / 10.0
      (a, a + rnd.nextInt(500) / 10.0, rnd.nextInt(1000) / 10.0)
    }.toDF("a", "b", "c")
    val cm = Profile.corrMatrix(noisy, Seq("a", "b", "c")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    import org.apache.spark.sql.functions.corr
    val ref = noisy.select(corr("a", "b"), corr("a", "c"),
      corr("b", "c")).head()
    assert(math.abs(cm(("a", "b")) - ref.getDouble(0)) < 1e-6)
    assert(math.abs(cm(("a", "c")) - ref.getDouble(1)) < 1e-6)
    assert(math.abs(cm(("b", "c")) - ref.getDouble(2)) < 1e-6)
  }
}
