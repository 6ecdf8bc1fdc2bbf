package graft

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TypeInference
import graft.operators.TypeInference.{CharacterT, DatetimeT, NumericT}

/** Mirrors the reference's only unit-tested surface
  * (tests/testthat/test_robust_parse.R:5-38) plus the semantic traps
  * from SURVEY §7.4 (all-or-nothing numeric, 20% date tolerance,
  * mdY-before-dmy preference).
  */
class TypeInferenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def inferOne(values: Seq[String]): TypeInference.InferredType =
    TypeInference.infer(values.toDF("c"), randomSample = false)("c")

  /** The reference's sampled decision procedure (whiteRRabbit.R:147-151
    * numeric, :172-187 date), the reference for [[TypeInference.infer]]:
    * per column, up to `sampleSize` seeded random non-empty values vote
    * first. Numeric goes on to full-column validation (every non-empty
    * value must parse) only when the sampled numeric rate ≥ threshold;
    * datetime needs BOTH the sampled and the full-column date rate ≥
    * threshold.
    */
  private def sampleVote(df: DataFrame, sampleSize: Int = 1000,
      threshold: Double = 0.8,
      seed: Long = 42L): Map[String, TypeInference.InferredType] = {
    import org.apache.spark.sql.functions.{avg, col, count, lit, rand,
      when}
    df.columns.toSeq.zipWithIndex.map { case (c, i) =>
      val v = col(s"`$c`")
      val nonEmpty = v.isNotNull && v =!= lit("")
      def rateOf(parsed: Column) =
        avg(when(parsed.isNotNull, 1.0).otherwise(0.0))
      val voted = df.select(v).where(nonEmpty)
        .orderBy(rand(seed + i)).limit(sampleSize)
        .agg(rateOf(TypeInference.numericParse(c)),
          rateOf(TypeInference.dateParse(c))).head()
      val full = df.agg(
        count(when(nonEmpty && TypeInference.numericParse(c).isNull,
          lit(1))),
        count(when(nonEmpty, lit(1))),
        avg(when(nonEmpty, when(TypeInference.dateParse(c).isNotNull,
          1.0).otherwise(0.0)))).head()
      val numericOk = !voted.isNullAt(0) &&
        voted.getDouble(0) >= threshold &&
        full.getLong(1) > 0L && full.getLong(0) == 0L
      val dateOk = !voted.isNullAt(1) && voted.getDouble(1) >= threshold &&
        !full.isNullAt(2) && full.getDouble(2) >= threshold
      c -> (if (numericOk) NumericT else if (dateOk) DatetimeT
        else CharacterT)
    }.toMap
  }

  test("numeric strings with NA and empty promote to numeric " +
      "(test_robust_parse.R:5-12)") {
    val vals = Seq("1", "2.5", null, "", "4e2", " 7 ")
    assert(inferOne(vals) == NumericT)
    val promoted = TypeInference.promote(vals.toDF("c"),
      Map("c" -> NumericT)).collect().map(r =>
        if (r.isNullAt(0)) null else r.getDouble(0))
    assert(promoted.toSeq == Seq(1.0, 2.5, null, null, 400.0, 7.0))
  }

  test("mostly non-numeric stays character (test_robust_parse.R:16-20)") {
    assert(inferOne(Seq("a", "b", "3", "x", "y")) == CharacterT)
  }

  test("ISO dates promote to datetime (test_robust_parse.R:24-30)") {
    assert(inferOne(Seq("2023-01-15", "2023-02-20", "2023-03-25"))
      == DatetimeT)
    assert(inferOne(Seq("2023-01-15 10:30:00", "2023-02-20 00:00:00"))
      == DatetimeT)
  }

  test("mixed non-date stays character (test_robust_parse.R:34-38)") {
    assert(inferOne(Seq("2023-01-15", "apple", "banana", "cherry",
      "dog")) == CharacterT)
  }

  test("numeric promotion is all-or-nothing on the full column " +
      "(whiteRRabbit.R:156-159)") {
    // 90% numeric passes the sample vote but one bad value reverts all
    val vals = (1 to 900).map(_.toString) ++ (1 to 100).map(i => s"x$i")
    assert(inferOne(vals) == CharacterT)
  }

  test("date promotion tolerates up to 20% unparseable " +
      "(whiteRRabbit.R:199-201)") {
    val good = (1 to 85).map(i => f"2023-01-${i % 28 + 1}%02d")
    val bad = (1 to 15).map(i => s"junk$i")
    assert(inferOne(good ++ bad) == DatetimeT)
    val tooMany = (1 to 70).map(i => f"2023-01-${i % 28 + 1}%02d") ++
      (1 to 30).map(i => s"junk$i")
    assert(inferOne(tooMany) == CharacterT)
  }

  test("ambiguous slash dates resolve mdY before dmy " +
      "(whiteRRabbit.R:174-178)") {
    val df = Seq("01/02/2023", "03/04/2023").toDF("c")
    val promoted = TypeInference.promote(df, Map("c" -> DatetimeT))
      .collect().map(_.get(0).toString).sorted
    // mdY: Jan 2 and Mar 4 — not Feb 1 / Apr 3
    assert(promoted.head.startsWith("2023-01-02"))
    assert(promoted(1).startsWith("2023-03-04"))
  }

  test("unambiguous dmy dates still parse via the dmy fallback") {
    val df = Seq("25/12/2023").toDF("c")
    val promoted = TypeInference.promote(df, Map("c" -> DatetimeT))
      .collect().map(_.get(0).toString)
    assert(promoted.head.startsWith("2023-12-25"))
  }

  test("4-digit codes mixed with words stay character, not bare-year " +
      "datetime") {
    val codes = (1 to 90).map(i => (1000 + i * 37).toString)
    val words = (1 to 10).map(i => s"word$i")
    assert(inferOne(codes ++ words) == CharacterT)
  }

  test("numeric is preferred over datetime when both could apply") {
    // all-digit strings parse as numbers, not yyyyMMdd dates
    assert(inferOne(Seq("20230115", "20230216", "20230317")) == NumericT)
  }

  test("a 95%-empty column promotes from its own non-empty values " +
      "(whiteRRabbit.R:147-148 per-column sampling)") {
    // the reference votes on ≤1000 non-empty values PER COLUMN, so
    // emptiness cannot starve the vote; a shared row sample could
    val sparseNum = Seq.fill(950)("") ++ (1 to 50).map(_.toString)
    assert(inferOne(sparseNum) == NumericT)
    val sparseDate = Seq.fill(990)("") ++
      (1 to 10).map(i => f"2023-01-${i % 28 + 1}%02d")
    assert(inferOne(sparseDate) == DatetimeT)
  }

  test("numeric full-column veto falls through to the date decision " +
      "(whiteRRabbit.R:275-279 revert then robust_parse_date)") {
    // 80% compact dates parse as numbers, but the ISO 20% veto the
    // all-or-nothing numeric promotion; the reference then re-tests as
    // date — both shapes parse, so the column must become datetime
    val vals = (1 to 80).map(i => f"2023010${i % 9 + 1}") ++
      (1 to 20).map(i => f"2023-01-0${i % 9 + 1}")
    assert(inferOne(vals) == DatetimeT)
  }

  test("dotted and compact datetime formats promote " +
      "(lubridate separator tolerance, whiteRRabbit.R:174-178)") {
    assert(inferOne(Seq("2023.01.15", "2023.02.20", "2023.03.25"))
      == DatetimeT)
    assert(inferOne(Seq("15.01.2023", "20.02.2023", "25.12.2023"))
      == DatetimeT)
    // space-separated compact datetime (not numeric-parseable)
    assert(inferOne(Seq("20230115 103000", "20230216 000000"))
      == DatetimeT)
    // separator-free compact datetime in a mixed column: the dashes
    // veto numeric, then both shapes parse as datetime
    val df = Seq("20230115103000", "2023-02-16 00:00:00").toDF("c")
    assert(TypeInference.infer(df, randomSample = false)("c") == DatetimeT)
    val promoted = TypeInference.promote(df,
      Map("c" -> TypeInference.DatetimeT)).collect()
      .map(_.get(0).toString).sorted
    assert(promoted.head.startsWith("2023-01-15 10:30:00"))
  }

  test("month-name dates promote to datetime " +
      "(lubridate %b/%B orders, whiteRRabbit.R:174-181)") {
    // dmy with short month name
    assert(inferOne(Seq("15-Aug-2024", "01-Jan-2023", "09-Dec-2022"))
      == DatetimeT)
    // mdY with short month name + comma
    assert(inferOne(Seq("Aug 15, 2024", "Jan 2, 2023")) == DatetimeT)
    // full month names
    assert(inferOne(Seq("15 August 2024", "2 January 2023")) == DatetimeT)
    // values parse to the right instants
    val df = Seq("15-Aug-2024", "Jan 2, 2023").toDF("c")
    val promoted = TypeInference.promote(df, Map("c" -> DatetimeT))
      .collect().map(_.get(0).toString).sorted
    assert(promoted.head.startsWith("2023-01-02"))
    assert(promoted(1).startsWith("2024-08-15"))
  }

  test("letter strings that are not month-name dates stay character") {
    assert(inferOne(Seq("foo-bar-2024", "baz-qux-2023")) == CharacterT)
    // contains a month token but is not a date — gate admits it, the
    // parser cascade rejects it
    assert(inferOne(Seq("may-fly", "january-sale", "march-of-time"))
      == CharacterT)
  }

  test("sampleVote compatibility mode agrees with the full-column " +
      "default away from the 0.8 boundary (VERDICT r4 #8)") {
    // per-column true parse rates far from threshold: with 1000-value
    // samples the noise is sigma <= 0.016, so 0.95 / 0.5 / 0.0 / 1.0
    // columns cannot flip across the 0.8 gate in either mode
    val n = 2000
    val rows = (0 until n).map { i =>
      (i.toString, // pure numeric
        f"2023-01-${i % 28 + 1}%02d", // pure date
        if (i % 20 == 0) s"junk$i" else f"2024-03-${i % 28 + 1}%02d", // 95% date
        if (i % 2 == 0) "not a date" else "2022-05-01", // 50% date
        s"text value $i", // pure text
        if (i < 5) i.toString else "") // mostly empty, numeric core
    }
    val df = rows.toDF("num", "date", "date95", "date50", "txt",
      "sparse")
    val full = TypeInference.infer(df)
    val voted = sampleVote(df)
    assert(full == voted, s"modes disagree: full=$full voted=$voted")
    assert(voted("num") == NumericT && voted("date") == DatetimeT &&
      voted("date95") == DatetimeT && voted("date50") == CharacterT &&
      voted("txt") == CharacterT && voted("sparse") == NumericT)
  }

  test("infer's seed and randomSample do not change any decision " +
      "(date column just above the 0.8 threshold)") {
    // date81: 81 of every 100 values parse as dates — a rate of 0.81,
    // where any sampled vote would flip with the seed
    val rows = (0 until 1000).map { i =>
      (i.toString,
        if (i % 100 < 81) f"2023-02-${i % 28 + 1}%02d" else s"memo $i",
        if (i % 100 < 79) f"2023-03-${i % 28 + 1}%02d" else s"memo $i",
        s"text $i")
    }
    val df = rows.toDF("num", "date81", "date79", "txt")
    val want = Map("num" -> NumericT, "date81" -> DatetimeT,
      "date79" -> CharacterT, "txt" -> CharacterT)
    for (seed <- Seq(1L, 977L); randomSample <- Seq(true, false))
      assert(TypeInference.infer(df, seed = seed,
        randomSample = randomSample) == want,
        s"seed=$seed randomSample=$randomSample")
  }

  test("the never-date fast gate is speed-only: gated parse equals " +
      "the ungated cascade over adversarial near-date shapes") {
    import org.apache.spark.sql.functions.{coalesce, col, lit, trim,
      try_to_timestamp, when}
    // phone numbers, IPs, versions, decimals, long digits, mixed
    // separators, real dates in every family, date-shaped non-dates
    val values = Seq(
      "415-555-0123", "192.168.0.1", "1.2.3.4.5", "10-200-30",
      "1-2-3-4", "1.2.3", "12345", "3.14", "007", "1234567",
      "123456789012345", "12-345-67", "415-55-0123", "0-0-0",
      "99-99-9999", "1/2", "may-fly",
      "2024-08-15", "2024-08-15 10:00:00", "20240815", "8/15/2024",
      "2024.8.5", "Aug 15, 2024", "20240815 101112",
      "2024-08-15T10:11:12", "9999", "2023", "202311")
    val df = values.toDF("v")
    // the format-free ISO parse is never tried on pure digits: it
    // would read bare years ("2023") and year-month runs ("202311")
    // as dates, which the reference's Ymd families do not
    val v = trim(col("v"))
    val ungated = coalesce((when(!v.rlike("^[0-9]+$"),
      try_to_timestamp(v)) +:
      TypeInference.dateFormats.map(f => try_to_timestamp(v, lit(f)))): _*)
    val rows = df.select(col("v"),
        TypeInference.dateParse("v").as("gated"),
        ungated.as("raw")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2) &&
        (r.isNullAt(1) || r.get(1) == r.get(2)),
        s"gate changed the parse for '${r.getString(0)}': " +
          s"gated=${r.get(1)} ungated=${r.get(2)}")
    }
    // and the gate actually fires on the never shapes (speed claim)
    val neverShapes = Seq("415-555-0123", "192.168.0.1", "1.2.3.4.5",
      "10-200-30", "3.14", "1234567", "2023", "12345", "202311", "9999")
    rows.filter(r => neverShapes.contains(r.getString(0)))
      .foreach(r => assert(r.isNullAt(1), r.getString(0)))
  }

  /** The date-parser bits (ISO = 0, dateFormats(k-1) = k) the shape
    * kernel sets for each value.
    */
  private def dateBits(values: Seq[String]): Seq[Set[Int]] = {
    import org.apache.spark.sql.functions.{col, trim}
    import graft.functions.ParseShape
    values.toDF("v").repartition(2)
      .select(col("v"), ParseShape.parseShape(trim(col("v"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .pipe(m => values.map(v => (0 to TypeInference.dateFormats.size)
        .filter(k => (m(v) & ParseShape.dateBit(k)) != 0L).toSet))
  }

  private def bit(format: String): Int =
    TypeInference.dateFormats.indexOf(format) + 1

  test("shape kernel keeps the plausibility cuts: an out-of-range " +
      "fixed-width field reaches no parser") {
    // each fixed-width field just outside its range: MM 00/13, dd
    // 00/32, HH 24, mm 60, ss 60, in the compact date and timestamp
    val cut = Seq("10000001", "20231301", "20230100", "20230132",
      "20230102240000", "20230102236000", "20230102235960")
    dateBits(cut).zip(cut).foreach { case (b, v) =>
      assert(b.isEmpty, s"'$v' reached parsers $b") }
    // spaced: only the ISO parse, which fails without an exception
    val spaced = Seq("20230102 2400", "20230102 2360", "20230102 240000",
      "20230102 236000", "20230102 235960", "20231302 1011")
    dateBits(spaced).zip(spaced).foreach { case (b, v) =>
      assert(b == Set(0), s"'$v' reached parsers $b") }
    // the bounds are plausibility, not validity: Feb 31 still tries
    // (and fails) its one parser, a valid value gets its format's bit
    val kept = Seq("20230231" -> "yyyyMMdd",
      "20230102235959" -> "yyyyMMddHHmmss")
    dateBits(kept.map(_._1)).zip(kept).foreach { case (b, (v, f)) =>
      assert(b == Set(bit(f)), s"'$v' -> $b") }
    val keptSpaced = Seq("20230102 2359" -> "yyyyMMdd HHmm",
      "20230102 235959" -> "yyyyMMdd HHmmss")
    dateBits(keptSpaced.map(_._1)).zip(keptSpaced).foreach {
      case (b, (v, f)) => assert(b == Set(0, bit(f)), s"'$v' -> $b") }
    // the ISO parse is never tried on pure digits
    dateBits(Seq("2023", "202311", "1", "123456789012345"))
      .foreach(b => assert(b.isEmpty))
  }

  test("shape kernel: a date-shaped value that fails pays only its " +
      "candidate parsers") {
    val Seq(feb30, noDay, phone, iso, dmyName) =
      dateBits(Seq("2/30/2023", "13/13/2023", "415-55-0123",
        "2023-01-02 10:11:12", "15-Aug-2024"))
    // month 30 is no d/M/y: M/d/y only, not the 45 other parsers
    assert(feb30 == Set(bit("M/d/yyyy")))
    assert(noDay.isEmpty)
    // 415 is no year, month or day: only the (exception-free) ISO parse
    assert(phone == Set(0))
    assert(iso == Set(0, bit("yyyy-M-d H:m:s")))
    assert(dmyName == Set(0, bit("d-MMM-yyyy")))
  }

  test("shape kernel: a pattern outside the derived shapes keeps its " +
      "bit on for every admitted value") {
    import graft.functions.{ParseShape, ShapeClassifier}
    import org.apache.spark.unsafe.types.UTF8String
    // day-of-year has no derived shape; yyyy-M-d has one
    val c = new ShapeClassifier(Seq("yyyy-DDD", "yyyy-M-d"))
    def bits(v: String): Long =
      c.mask(UTF8String.fromString(v)) & ~ParseShape.NumericBit
    val Seq(iso, doy, ymd) = (0 to 2).map(ParseShape.dateBit)
    assert(bits("2023-100") == (iso | doy))
    assert(bits("2023-1-2") == (iso | doy | ymd))
    assert(bits("abc") == 0L && bits("3.14") == 0L)
  }

  test("shape kernel runs once per value: one classifier call per " +
      "column serves both parses in a projection and in an aggregate") {
    import org.apache.spark.sql.functions.{col, count, lit, when}
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val df = s2.createDataFrame(Seq(("2023-01-02", "1/2/2023"),
      ("abc", "12"))).toDF("a", "b").repartition(2)
    def calls(d: DataFrame): Int = d.queryExecution.debug.codegenToSeq()
      .map(c => "\\.mask\\(".r.findAllIn(c._2).size).sum
    val cols = Seq("a", "b")
    assert(calls(df.select(cols.flatMap(c => Seq(TypeInference.numericParse(c),
      TypeInference.dateParse(c))): _*)) == 2)
    assert(calls(df.agg(count(when(TypeInference.numericParse("a").isNull, 1)),
      count(TypeInference.dateParse("a")))) == 1)
    assert(calls(TypeInference.promote(df,
      Map("a" -> DatetimeT, "b" -> NumericT))) == 2)
    assert(calls(TypeInference.parsed(df.select(lit(0).as("i"),
      col("a").as("vs")), Seq(0))) == 1)
  }
}
