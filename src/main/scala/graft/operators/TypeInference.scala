package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ParseShape

/** Statistical type promotion for all-string tables — the reference's
  * single most load-bearing semantic (whiteRRabbit.R:139-204).
  *
  * Rules reproduced exactly:
  *   - numeric (whiteRRabbit.R:139-161): vote on a sample of up to 1000
  *     non-empty values; if ≥80% parse as numeric, validate the FULL
  *     column; if the full parse would introduce ANY new NA on a
  *     non-empty value, revert to string (all-or-nothing).
  *   - datetime (whiteRRabbit.R:164-204, only tried if still string):
  *     same sample vote against 10 ordered lubridate format families;
  *     promote only if sample success ≥0.8 AND full-column success ≥0.8
  *     — i.e. dates tolerate up to 20% unparseable values (they become
  *     NULL), unlike numeric's zero tolerance.
  *   - format preference order decides ambiguous values (mdY before
  *     dmy: "01/02/2023" is January 2nd — whiteRRabbit.R:174-178).
  *
  * Plan shape: inference on a table costs exactly ONE extra job — a
  * single global aggregation computing the vote counts of ALL string
  * columns at once — then a single cast projection. The exact scan
  * sums the same votes over its value histogram instead, so the parse
  * cascade runs once per distinct value rather than once per cell
  * ([[votes]]). All parsing
  * runs in codegen'd builtins (`try_cast`, `try_to_timestamp`) behind
  * one native shape classifier ([[graft.functions.ParseShape]]); no
  * UDFs. The date cascade stays affordable full-column because each
  * value tries only the parsers its shape can match (see
  * [[dateParse]]).
  *
  * Divergence (documented): the reference votes on ≤1000 sampled
  * non-empty values per column (unseeded); here every non-empty value
  * of the column votes (the infinite-sample limit), so mostly-empty
  * columns get a full-strength per-column decision instead of a noisy
  * handful of votes. Decisions differ from a given reference run only
  * for columns whose true rate sits within sampling noise of the 0.8
  * boundary — where the unseeded reference is itself
  * nondeterministic. See [[infer]] for why the numeric sample vote is
  * redundant.
  */
object TypeInference {

  sealed trait InferredType { def label: String }
  case object NumericT extends InferredType { val label = "numeric" }
  case object DatetimeT extends InferredType { val label = "datetime" }
  case object CharacterT extends InferredType { val label = "character" }

  /** Concrete datetime patterns expanding the reference's ordered
    * lubridate families "Ymd HMS","Ymd HM","Ymd","YmdT","mdY HMS",
    * "mdY HM","mdY","dmy HMS","dmy HM","dmy" (whiteRRabbit.R:174-178),
    * preference order preserved. lubridate's parsers are
    * separator-flexible — each family expands to `-`, `/`, and `.`
    * separated variants plus the compact (separator-free) date and
    * datetime shapes ("20230102 120000", "20230102120000").
    */
  val dateFormats: Seq[String] = Seq(
    // Ymd HMS family
    "yyyy-M-d H:m:s", "yyyy/M/d H:m:s", "yyyy.M.d H:m:s",
    "yyyyMMdd HHmmss", "yyyyMMddHHmmss",
    // Ymd HM
    "yyyy-M-d H:m", "yyyy/M/d H:m", "yyyy.M.d H:m", "yyyyMMdd HHmm",
    // Ymd
    "yyyy-M-d", "yyyy/M/d", "yyyy.M.d", "yyyyMMdd",
    // YmdT
    "yyyy-M-d'T'H:m:s",
    // mdY HMS / HM / date — lubridate's m matches month NAMES too
    // (%b/%B as well as %m, whiteRRabbit.R:174-181), so each family
    // carries MMM/MMMM variants: "Aug 15, 2024", "August 15 2024".
    "M/d/yyyy H:m:s", "M-d-yyyy H:m:s", "M.d.yyyy H:m:s",
    "M/d/yyyy H:m", "M-d-yyyy H:m", "M.d.yyyy H:m",
    "M/d/yyyy", "M-d-yyyy", "M.d.yyyy",
    "MMM d, yyyy", "MMM d yyyy", "MMM-d-yyyy", "MMM/d/yyyy",
    "MMMM d, yyyy", "MMMM d yyyy",
    // dmy HMS / HM / date (+ month-name variants: "15-Aug-2024")
    "d/M/yyyy H:m:s", "d-M-yyyy H:m:s", "d.M.yyyy H:m:s",
    "d/M/yyyy H:m", "d-M-yyyy H:m", "d.M.yyyy H:m",
    "d/M/yyyy", "d-M-yyyy", "d.M.yyyy",
    "d-MMM-yyyy H:m:s", "d-MMM-yyyy",
    "d MMM yyyy", "d/MMM/yyyy", "d.MMM.yyyy",
    "d MMMM yyyy", "d-MMMM-yyyy")

  /** Parse a string column as double, NULL on failure (R as.numeric):
    * `try_cast` of the trimmed value, tried only when its shape could
    * be a double literal ([[graft.functions.ParseShape.NumericBit]]).
    */
  def numericParse(name: String): Column = {
    val t = trim(col(s"`$name`"))
    ParseShape.gate(ParseShape.parseShape(t), ParseShape.NumericBit, t)
      .try_cast(DoubleType)
  }

  /** Parse a string column as timestamp via the ordered format list;
    * coalesce implements the reference's first-match preference. The
    * leading format-free `try_to_timestamp` covers the ISO family
    * (Ymd / Ymd HMS / YmdT — the reference's top-priority formats)
    * including variable-length fractional seconds, which fixed
    * patterns cannot express; the explicit list then covers the
    * slash/dash/dot-separated, compact and month-name mdY/dmy
    * families in preference order.
    *
    * Each parser is guarded by its bit of the value's shape
    * ([[graft.functions.ParseShape]]): one native pass over the bytes
    * reads the value's token shape and sets the bit of every parser
    * that could accept it. A failed `try_to_timestamp(_, fmt)` costs
    * an exception per value, so a value tries only the parsers its
    * shape can match — a decimal, phone-number or free-text value
    * none, "1/2/2023" only `M/d/yyyy` and `d/M/yyyy` — and an
    * 8-digit ID ("10000001", month 00) none, because the fixed-width
    * fields keep their plausibility bounds (MM 01–12, dd 01–31, HH
    * 00–23, mm and ss 00–59). Every bit is a superset of what its
    * parser accepts, so the guards change the cost, never a result.
    *
    * What the shape rules do decide is the date language this parse
    * has always had: a value is a date candidate only when it starts
    * with a digit and holds only digits and `Tt:zZ+ ./-`, or holds a
    * month token and only letters, digits and `:, ./-`; the ISO parse
    * is never tried on pure digits (it reads "2023" as 2023-01-01 and
    * "202311" as the year 202311, while the reference's Ymd families
    * need a month and a day — a column of 4-digit codes would turn
    * datetime); the ISO parse is never tried on a time-only value
    * ("12:30", "1:2", "12:30:00"), which it reads as that time on the
    * day the scan runs — a column of clock times would turn datetime,
    * with summary dates that change from day to day, and none of the
    * reference's orders is time-only; and three `./-`-joined digit
    * groups whose middle group has three or more digits are not dates.
    * So "\t2023-01-02", "T12:30", "12:30", "+2023-01-02" and
    * "2023-001-02" stay NULL, though a parser alone would read them.
    * TypeInferenceSpec and ExpressionFuzzSpec pin guarded == unguarded
    * over this language.
    */
  def dateParse(name: String): Column = {
    val t = trim(col(s"`$name`"))
    val shape = ParseShape.parseShape(t)
    def input(k: Int) = ParseShape.gate(shape, ParseShape.dateBit(k), t)
    coalesce((try_to_timestamp(input(0)) +: dateFormats.zipWithIndex.map {
      case (f, k) => try_to_timestamp(input(k + 1), lit(f))
    }): _*)
  }

  /** `cells` — (i, vs, cnt, …) histogram rows, one per distinct value
    * of the columns i — plus each string value's parses: `num`
    * ([[numericParse]]) and `dt` ([[dateParse]] as epoch micros), for
    * the string columns `strIdx` only, so the parse cascade runs once
    * per distinct (column, value).
    */
  private[graft] def parsed(cells: DataFrame, strIdx: Seq[Int]): DataFrame = {
    // NULL outside the string columns, so both parses read one column
    // and the shape of a value is read once for both
    val s = "__str_vs"
    cells.withColumn(s, when(col("i").isin(strIdx: _*), col("vs")))
      .withColumn("num", numericParse(s))
      .withColumn("dt", unix_micros(dateParse(s)))
      .drop(s)
  }

  /** A string column's votes: `n` non-empty values, `bad` of them
    * failing the numeric parse, `hits` of them passing the date parse.
    */
  private[graft] final case class Votes(n: Long, bad: Long, hits: Long)

  /** The three vote counts of one string column as aggregates over
    * rows carrying one of its values `value` with multiplicity
    * `weight`, and that value's parses `num` ([[numericParse]]) and
    * `dt` ([[dateParse]]).
    */
  private def voteAggs(value: Column, num: Column, dt: Column,
      weight: Column): Seq[Column] = {
    val nonEmpty = value.isNotNull && value =!= lit("")
    def weighted(c: Column) =
      coalesce(sum(when(nonEmpty && c, weight)), lit(0L))
    Seq(weighted(lit(true)), weighted(num.isNull), weighted(dt.isNotNull))
  }

  private def votesOf(r: org.apache.spark.sql.Row, at: Int): Votes =
    Votes(r.getLong(at), r.getLong(at + 1), r.getLong(at + 2))

  /** Each string column's votes over [[parsed]] histogram rows, each
    * value weighted by its count: one grouped aggregate.
    */
  private[graft] def votes(cells: DataFrame,
      strIdx: Seq[Int]): Map[Int, Votes] = {
    val aggs = voteAggs(col("vs"), col("num"), col("dt"), col("cnt"))
    cells.where(col("i").isin(strIdx: _*))
      .groupBy("i").agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => r.getInt(0) -> votesOf(r, 1))
      .toMap
  }

  /** A string column's promotion decision from its votes:
    * numeric iff it has ≥1 non-empty value and every one parses, else
    * datetime iff the date-parse rate hits/n ≥ `threshold` (the same
    * double `avg` of 0/1 votes gives), else character.
    */
  private[graft] def decide(v: Option[Votes], threshold: Double): InferredType =
    v match {
      case Some(Votes(n, 0L, _)) if n > 0L => NumericT
      case Some(Votes(n, _, hits))
          if n > 0L && hits.toDouble / n.toDouble >= threshold => DatetimeT
      case _ => CharacterT
    }

  /** Infer a promotion decision for every string column of `df`.
    *
    * Decision semantics (whiteRRabbit.R:139-204, per-column loop at
    * :275-280):
    *   - numeric: promoted iff the column has ≥1 non-empty value and
    *     EVERY non-empty value parses. The reference's sample vote is
    *     provably redundant here — all-or-nothing full validation
    *     (rate 1.0) forces every sample's rate to 1.0 ≥ 0.8 — so the
    *     full-column check alone reproduces it, with no sample-size
    *     sensitivity.
    *   - datetime: tried whenever numeric did not promote — including
    *     after a full-column numeric veto, matching the reference's
    *     revert-then-robust_parse_date flow (whiteRRabbit.R:275-279).
    *     The decision is the FULL-COLUMN parse rate ≥ threshold: every
    *     non-empty value votes, the infinite-sample limit of the
    *     reference's per-column ≤1000-value sample (identical decision
    *     except for sample luck within ~±0.03 of the boundary, where
    *     the unseeded reference is itself nondeterministic).
    *
    * Both decisions come from ONE global aggregation pass over the
    * string columns, each cell weighing 1 — the same vote aggregates
    * the scan sums over its value histogram ([[votes]]), decided by the
    * same [[decide]]; the shape classifier makes the full date
    * validation as cheap on numeric columns as a sampled pre-filter
    * would make skipping them.
    *
    * `seed` and `randomSample` do not affect the decision. They are
    * kept because the benchmark harness (perfbench/Workloads.scala)
    * calls `infer` with them by name.
    */
  def infer(
      df: DataFrame,
      threshold: Double = 0.8,
      seed: Long = 42L,
      randomSample: Boolean = true): Map[String, InferredType] = {
    val names = df.schema.fields.filter(_.dataType == StringType)
      .map(_.name).toSeq
    if (names.isEmpty) return Map.empty
    val aggs = names.flatMap(c => voteAggs(col(s"`$c`"), numericParse(c),
      dateParse(c), lit(1L)))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    names.zipWithIndex.map { case (c, k) =>
      c -> decide(Some(votesOf(r, 3 * k)), threshold)
    }.toMap
  }

  /** Apply an inference result as a single cast projection. */
  def promote(df: DataFrame,
      inference: Map[String, InferredType]): DataFrame = {
    val cols = df.schema.fields.map { f =>
      inference.getOrElse(f.name, CharacterT) match {
        case NumericT if f.dataType == StringType =>
          numericParse(f.name).as(f.name)
        case DatetimeT if f.dataType == StringType =>
          dateParse(f.name).as(f.name)
        case _ => col(s"`${f.name}`")
      }
    }
    df.select(cols.toSeq: _*)
  }

  /** infer + promote in one call (whiteRRabbit.R:275-280 per-column loop). */
  def inferAndPromote(df: DataFrame, threshold: Double = 0.8)
      : (DataFrame, Map[String, InferredType]) = {
    val inf = infer(df, threshold)
    (promote(df, inf), inf)
  }
}
