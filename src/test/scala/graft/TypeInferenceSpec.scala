package graft

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
    val voted = TypeInference.infer(df, sampleVote = true)
    assert(full == voted, s"modes disagree: full=$full voted=$voted")
    assert(voted("num") == NumericT && voted("date") == DatetimeT &&
      voted("date95") == DatetimeT && voted("date50") == CharacterT &&
      voted("txt") == CharacterT && voted("sparse") == NumericT)
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
}
