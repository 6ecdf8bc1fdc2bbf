package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.ScanConfig
import graft.operators.{DateShift, Frequency, Profile, Sampling,
  TypeInference}
import graft.sources.DelimitedSource

/** The histogram-first [[Scan.scanTable]] against the per-cell
  * pipeline it replaced, kept here as the reference: cap → per-cell
  * inference → promote → optional date shift → [[Profile.summarize]]
  * → [[Frequency.referenceFrequencies]]. Decisions, summary rows and
  * frequency rows must be identical, on fixtures built for the
  * histogram's traps: raw spellings of one number ("1", "1.0", " 1",
  * "01") that must merge after promotion, -0.0 and 0.0, "NaN", NA,
  * "", whitespace-only cells, date spellings of one day, a date past
  * 2^53 µs (9999-12-31), date rates either side of the 0.8 threshold
  * and an all-empty column.
  */
class ScanEquivalenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val n = 120

  /** Cell r of each fixture column. */
  private def cell(c: String, r: Int): String = c match {
    case "num" => Seq("1", "1.0", " 1", "01", "2", "-0.0", "0.0", "NaN",
      "3.5", "", "NA", "7")(r % 12)
    case "dt" => Seq("2020-01-01", "2020-1-1", "01/01/2020", "9999-12-31",
      "2021-06-15 10:30:00", "", "NA", "   ", "2019-12-31")(r % 9)
    // 100 non-empty cells each: 79 (d79) and 81 (d81) of them dates
    case "d79" => if (r < 79) s"2022-03-${r % 28 + 1}"
      else if (r < 100) s"x${r % 3}" else ""
    case "d81" => if (r < 81) s"2022-04-${r % 28 + 1}"
      else if (r < 100) s"y${r % 3}" else "NA"
    case "blank" => if (r % 2 == 0) "" else "NA"
    case "txt" => Seq("a", "b", "   ", "", "a", "NA", "c ", "a")(r % 8)
    case "zero" => Seq("-0.0", "0.0", "0", "1e0", "-1")(r % 5)
  }
  private val cols = Seq("num", "dt", "d79", "d81", "blank", "txt", "zero")

  private lazy val tsv: String = {
    val dir = graft.config.Scratch.runDir + "/scan_equivalence"
    Files.createDirectories(Paths.get(dir))
    val path = s"$dir/fixture.tsv"
    val lines = cols.mkString("\t") +:
      (0 until n).map(r => cols.map(cell(_, r)).mkString("\t"))
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    path
  }

  /** The per-cell reference of `Scan.scanTable(df0, totalRows, cfg)`. */
  private def reference(df0: DataFrame, totalRows: Long, cfg: ScanConfig)
      : (Map[String, TypeInference.InferredType], Array[Row], Array[Row]) = {
    val capped = Sampling.cap(df0, cfg.maxRows, cfg.randomSample, cfg.seed,
      totalRows = Some(totalRows))
    val inference = TypeInference.infer(capped)
    val promoted = TypeInference.promote(capped, inference)
    val typed =
      if (cfg.shiftDates) DateShift.shiftDates(promoted, cfg.seed)
      else promoted
    val summary = Profile.summarize(typed, cfg.exactQuantiles,
      cfg.quantileAccuracy).collect()
      .filterNot(r => cfg.excludeCols.contains(r.getString(0)))
    val profiled = typed.drop(cfg.excludeCols: _*)
    val freqCols = profiled.schema.fields
      .filterNot(f => Profile.isDateLike(f.dataType)).map(_.name).toSeq
    val freq = Frequency.referenceFrequencies(profiled, freqCols,
      cfg.minCellCount, cfg.maxDistinctValues).collect()
    (inference, summary, freq)
  }

  private def assertEquivalent(df0: DataFrame, totalRows: Long,
      cfg: ScanConfig): Unit = {
    val (inference, summary, freq) = reference(df0, totalRows, cfg)
    val got = Scan.scanTable(spark, df0, "fixture", totalRows, cfg)
    assert(got.inference == inference)
    val gotSummary = got.summary.collect()
    assert(gotSummary.toSeq == summary.toSeq,
      s"\n${gotSummary.mkString("\n")}\nvs\n${summary.mkString("\n")}")
    assert(got.freq.collect().toSeq == freq.toSeq)
    assert(got.nRowsChecked == summary.head.getAs[Long]("total_count"))
  }

  private def raw: DataFrame = DelimitedSource.read(spark, tsv, "\t")

  test("fixture decisions straddle the histogram's traps") {
    import TypeInference.{CharacterT, DatetimeT, NumericT}
    // dt: 6 dates of 7 non-empty cells (one whitespace-only) per 9 rows
    assert(TypeInference.infer(raw) == Map("num" -> NumericT,
      "dt" -> DatetimeT, "d79" -> CharacterT, "d81" -> DatetimeT,
      "blank" -> CharacterT, "txt" -> CharacterT, "zero" -> NumericT))
  }

  test("histogram-first scanTable equals the per-cell pipeline: " +
      "whole table, sampled, head, excluded columns, shifted dates, " +
      "sketch summary") {
    val whole = ScanConfig(maxRows = 1000L)
    Seq(whole,
      ScanConfig(maxRows = 60L, seed = 7L),
      whole.copy(maxRows = 80L, randomSample = false),
      whole.copy(excludeCols = Seq("txt", "d81")),
      whole.copy(shiftDates = true),
      whole.copy(exactQuantiles = false),
      whole.copy(minCellCount = 1L, maxDistinctValues = 2)
    ).foreach(assertEquivalent(raw, n + 1L, _))
  }

  test("histogram-first scanTable equals the per-cell pipeline on " +
      "typed multi-partition input with no row cap") {
    val big = java.sql.Timestamp.valueOf("9999-12-31 23:59:59.999999")
    val typed = spark.range(0, 90, 1, 3).select(
      (col("id") % 7).cast("int").as("k"),
      when(col("id") % 10 === 0, lit(Double.NaN))
        .when(col("id") % 10 === 1, lit(-0.0))
        .when(col("id") % 10 === 2, lit(0.0))
        .when(col("id") % 10 =!= 3, (col("id") % 13).cast("double") / 4)
        .as("x"),
      when(col("id") % 9 === 0, lit(big))
        .when(col("id") % 9 =!= 1,
          timestamp_seconds(col("id") * 86400L + 1600000000L)).as("ts"),
      when(col("id") % 4 =!= 0, (col("id") % 3).cast("string")).as("s"),
      (col("id") % 5 + 1).cast("string").as("sn"))
    // three parquet files: a multi-partition input whose row order is
    // the same on every read, as the per-row date shift needs
    val path = graft.config.Scratch.runDir + "/scan_equivalence_typed"
    typed.coalesce(3).write.mode("overwrite").parquet(path)
    val parquet = spark.read.parquet(path)
    assert(parquet.rdd.getNumPartitions > 1)
    Seq(ScanConfig(maxRows = -1L),
      ScanConfig(maxRows = -1L, excludeCols = Seq("k")),
      ScanConfig(maxRows = -1L, shiftDates = true))
      .foreach(assertEquivalent(parquet, 90L, _))
  }

  /** Cell r of the over-the-bound fixture's column c: a distinct key
    * per row in ten columns, raw spellings that merge after promotion,
    * empties and NAs, and two low-cardinality columns for frequency
    * rows.
    */
  private def wideCell(c: Int, r: Int): String =
    if (r % 97 == c) "" else if (r % 89 == c) "NA" else c match {
      case 0 => s"${r / 8.0}"
      case 1 => if (r % 3 == 0) s"$r.0" else s"$r"
      case 2 => s" ${r - 10000}"
      case 3 => f"${r / 100.0}%.2f"
      case 4 => java.time.LocalDate.of(1950, 1, 1).plusDays(r).toString
      case 5 => val d = java.time.LocalDate.of(1900, 1, 1).plusDays(r)
        s"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear}"
      case 6 => java.time.LocalDateTime.of(2000, 1, 1, 0, 0)
        .plusSeconds(r * 7321L).toString.replace('T', ' ')
      case 7 => if (r % 10 == 0) s"x$r"
        else java.time.LocalDate.of(2010, 1, 1).plusDays(r).toString
      case 8 => s"id$r"
      case 9 => s"k${r % 40}"
      case 10 => s"v $r w"
      case _ => if (r % 2 == 0) s"${r % 9}" else s"${r % 9}.0"
    }

  test("histogram-first scanTable equals the per-cell pipeline on a " +
      "table past the driver-walk bound, run after run") {
    // 21k rows x 12 columns: ~247k non-missing cells and ~206k distinct
    // typed keys, so both sides take the distributed rank walk, the
    // scan's over a typed histogram read from the persisted raw one
    val rows = 21000
    val dir = graft.config.Scratch.runDir + "/scan_equivalence"
    Files.createDirectories(Paths.get(dir))
    val path = s"$dir/wide.tsv"
    val lines = (0 until 12).map(c => s"c$c").mkString("\t") +:
      (0 until rows).map(r => (0 until 12).map(wideCell(_, r))
        .mkString("\t"))
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    val wide = DelimitedSource.read(spark, path, "\t")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Seq(ScanConfig(), ScanConfig(), ScanConfig(shiftDates = true))
      .foreach(assertEquivalent(wide, rows + 1L, _))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    import TypeInference.{CharacterT, DatetimeT, NumericT}
    assert(TypeInference.infer(wide) == Map("c0" -> NumericT,
      "c1" -> NumericT, "c2" -> NumericT, "c3" -> NumericT,
      "c4" -> DatetimeT, "c5" -> DatetimeT, "c6" -> DatetimeT,
      "c7" -> DatetimeT, "c8" -> CharacterT, "c9" -> CharacterT,
      "c10" -> CharacterT, "c11" -> NumericT))
  }

  test("the driver walk and the distributed rank walk give identical " +
      "stats on the same histogram") {
    val big = java.sql.Timestamp.valueOf("9999-12-31 23:59:59.999999")
    val fixture = TypeInference.promote(raw, TypeInference.infer(raw))
      .withColumn("ts_big", when(col("num") > 1, lit(big)))
    // thousands of distinct keys per column: the rank walk's range
    // exchange samples its bounds instead of reading every key
    val wide = spark.range(0, 4000, 1, 4).select(
      ((col("id") * 7919) % 4001 / 3.0).as("x"),
      (col("id") % 97).as("k"),
      when(col("id") === 7, lit(big))
        .otherwise(timestamp_seconds(col("id") * 3607 + 1000000000L))
        .as("ts"))
    Seq(fixture, wide).foreach { typed =>
      val fields = typed.schema.fields
      val nonMissing = Profile.summarize(typed).collect().toIndexedSeq
        .map(_.getAs[Long]("non_missing"))
      val hist = Profile.valueHistogram(typed, fields.indices)
      val onDriver = Profile.driverStats(hist, fields, nonMissing)
      val ranked = Profile.rankedStats(hist, fields, nonMissing)
      // toString: a NaN quartile must match a NaN quartile
      assert(onDriver.toSeq.sortBy(_._1).toString ==
        ranked.toSeq.sortBy(_._1).toString)
      assert(onDriver.keySet ==
        fields.indices.filter(nonMissing(_) > 0).toSet)
    }
  }

  test("a table over the driver-walk bound takes the rank walk, " +
      "matches Spark's exact percentile and persists nothing") {
    // 420k non-missing cells, 210k distinct doubles: past the 200k-cell
    // driver walk
    val df = spark.range(0, 210000, 1, 4).select(
      ((col("id") * 7919) % 210011 / 7.0).as("x"),
      timestamp_seconds(col("id") * 61 + 1000000000L).as("ts"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val s = Profile.summarize(df).collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    val x = s.find(_.getString(0) == "x").get
    val q = df.selectExpr("percentile(x, array(0.25, 0.5, 0.75))")
      .head().getSeq[Double](0)
    // the same type-7 interpolation, up to the last ulp of its order
    // of operations
    Seq(x.getAs[Double]("q1_val"), x.getAs[Double]("median_val"),
      x.getAs[Double]("q3_val")).zip(q).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-9 * math.abs(b), s"$a vs $b") }
    assert(x.getAs[Long]("distinct_count") == 210000L)
    val ts = s.find(_.getString(0) == "ts").get
    assert(ts.getAs[Long]("earliest_us") == 1000000000L * 1000000L)
    assert(ts.getAs[Long]("latest_us") ==
      (209999L * 61 + 1000000000L) * 1000000L)
  }
}
