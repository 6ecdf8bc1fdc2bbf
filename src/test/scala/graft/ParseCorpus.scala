package graft

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{coalesce, col, expr, lit, trim,
  try_to_timestamp, when}

import graft.operators.TypeInference

/** References and a seeded input corpus for the parse-shape kernel
  * ([[graft.functions.ParseShape]]) behind [[TypeInference.dateParse]]
  * and [[TypeInference.numericParse]].
  */
object ParseCorpus {

  /** The date language: the charset rule (a digit-led value of digits
    * and `Tt:zZ+ ./-`, or a month-token value of letters, digits and
    * `:, ./-`) minus three `./-`-joined digit groups with a 3+-digit
    * middle group. The ISO parse is tried neither on pure digits nor on
    * a time-only value (a digit run then `:`), which it would read as
    * that time today.
    */
  private val charset =
    "^[0-9][0-9Tt:zZ+ ./-]*$|" +
      "(?i)^(?=.*(?:jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec))" +
      "[0-9a-z:, ./-]+$"
  private val wideMiddle = "^[0-9]+[./-][0-9]{3,}[./-][0-9]+$"
  private val timeOnly = "^[0-9]+:"

  private def parsers(t: Column): Seq[Column] =
    when(!t.rlike("^[0-9]+$") && !t.rlike(timeOnly), try_to_timestamp(t)) +:
      TypeInference.dateFormats.map(f => try_to_timestamp(t, lit(f)))

  /** Every parser of the cascade, unguarded, over the date language:
    * what the guarded [[TypeInference.dateParse]] must equal.
    */
  def ungatedDate(name: String): Column = {
    val t = trim(col(s"`$name`"))
    when(t.rlike(charset) && !t.rlike(wideMiddle), coalesce(parsers(t): _*))
  }

  /** Plain `try_cast`: what the guarded numeric parse must equal. */
  def ungatedNumeric(name: String): Column =
    expr(s"try_cast(trim(`$name`) AS DOUBLE)")

  /** The regex-gated date parse the kernel replaced: the charset gate,
    * the never-date shapes, and the two compact shapes for pure digits;
    * since time-only values left the date language, its ISO parse skips
    * them too.
    */
  def regexGatedDate(name: String): Column = {
    val never = "^(?:[0-9]{1,7}|[0-9]{9,13}|[0-9]{15,}|[0-9]+\\.[0-9]+" +
      "|(?:[0-9]+[./-]){3,}[0-9]+" +
      "|[0-9]+[./-][0-9]{3,}[./-][0-9]+)$"
    val compactDate = "^[0-9]{4}(0[1-9]|1[0-2])(0[1-9]|[12][0-9]|3[01])$"
    val compactTs = "^[0-9]{4}(0[1-9]|1[0-2])(0[1-9]|[12][0-9]|3[01])" +
      "([01][0-9]|2[0-3])[0-5][0-9][0-5][0-9]$"
    val t = trim(col(s"`$name`"))
    when(t.rlike(charset) && !t.rlike(never),
      when(t.rlike("^[0-9]+$"),
        coalesce(
          when(t.rlike(compactDate), try_to_timestamp(t, lit("yyyyMMdd"))),
          when(t.rlike(compactTs),
            try_to_timestamp(t, lit("yyyyMMddHHmmss")))))
        .otherwise(coalesce((when(!t.rlike(timeOnly), try_to_timestamp(t)) +:
          TypeInference.dateFormats.map(f =>
            try_to_timestamp(t, lit(f)))): _*)))
  }

  /** Hand-picked edges: number literals Java and Spark accept or
    * reject, signs, padding, line terminators, zone suffixes, and
    * date shapes a parser reads that the date language excludes.
    */
  val edges: Seq[String] = Seq(
    "1d", "1D ", "1f", "0x1p3", "0X1P-3d", "0x1.p1", "0x.8p1", "0x.p1",
    "0x1", "0x", "0xp1", "0x1p", "0x1p+", "0x1p+1", "\t5\t", "5\u0000",
    "\u00a05", "-INF", "+inf", "inf", "Infinity", "-Infinity",
    "iNfInItY", "infinit", "Infinityd", "infd", "nan", "NaN", "-NaN",
    "+nan", "-nan", "1_000", "1,000", "1.", ".5", "+.5", "-.e5", "e5",
    "1e", "1e+", "1e5D", "1.5e-3f", "1ee5", "1.2.3", "+-1", "--1", "-",
    "+", ".", "", " ", "\u0661\u0662", "0", "-0", "007", "3.14",
    "2023", "202311", "10000001", "20231302", "20230100", "20230132",
    "20230231", "20230102", "2023010224000", "20230102240000",
    "20230102236000", "20230102235960", "20230102235959", "120230102",
    "202301021011", "20230102 2400", "20230102 2360", "20230102 2359",
    "20230102 101112", "20230102\n", "2023-01-02\n", "2023-01-02\r\n",
    "2023-01-02\r", "2023-01-02\u0085", "2023-01-02\u2028",
    "2023-01-02\n\n", "12:30:00\n", "\t2023-01-02", "2023-01-02\t",
    "T12:30:00", "T10:00 America/Marigot",
    "2023-01-02 10:00 America/Marigot", "2023-01-02 10:00:00 UTC",
    "2023-01-02T10:00:00Z", "2023-01-02T10:00:00+05:00",
    "2023-01-02 10:11:12 z", "2023-01-02 10:11:12.+05", "2023Z",
    "12Z", "12:30", "1:2", "12:30Z", "2023-1-2-", "2023-", "2023--01",
    "+2023-01-02", "-2023-01-02", "2023-001-02", "1/002/2023",
    "001/2/2023", "2023-1-0002", "1/2/12023", "1/2/+12023", "1/2/-2023",
    "1/2/+2023", "1/2/-02023", "1/2/0000", "2023-1-2 -0:5:6",
    "1/2/2023 -0:0:0", "1/2/2023 24:0:0", "1/2/2023 0:60:0", "0/2/2023",
    "1/0/2023", "1/32/2023", "2/30/2023", "Aug 015, 2024",
    "Aug 15, 02024", "Sept 15 2024", "jan  2, 2023", "may-fly",
    "415-555-0123", "192.168.0.1", "1.2.3.4.5", "10-200-30", "99-99-9999",
    "2023-01-02T10:11:12zz", "2023T10:11", "2023 10:11")

  private val dateNoise = "0123456789-/.: ,+TtZzaeugJnMy\t"

  /** `size` seeded strings (edges first): dateFormats entries
    * rendered from random instants, ISO renderings, number literals
    * and random separator/digit runs, most of them mutated by a char
    * swap, insert or delete, padding, a sign, a case change, or a
    * suffix such as `Z`, `.123` or ` 12:30`.
    */
  def strings(seed: Long, size: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val formatters = TypeInference.dateFormats.map(f =>
      DateTimeFormatter.ofPattern(f.replace("yyyy", "uuuu"), Locale.US))
    val iso = Seq("uuuu-MM-dd'T'HH:mm:ss.SSS", "uuuu-MM-dd HH:mm:ss'+05:00'",
      "uuuu-MM-dd'T'HH:mm:ss'Z'", "HH:mm", "HH:mm:ss", "uuuu-MM", "uuuu-M",
      "uuuu-MM-dd HH", "uuuu-MM-dd'T'HH:mm", "uuuu-MM-dd HH:mm:ss.SSSSSS")
      .map(DateTimeFormatter.ofPattern(_, Locale.US))
    def instant(): LocalDateTime = {
      val year =
        if (rnd.nextInt(10) == 0) 1 + rnd.nextInt(9999)
        else 1900 + rnd.nextInt(200)
      LocalDateTime.of(year, 1 + rnd.nextInt(12), 1 + rnd.nextInt(28),
        rnd.nextInt(24), rnd.nextInt(60), rnd.nextInt(60),
        rnd.nextInt(1000) * 1000000)
    }
    def pick(s: String): Char = s(rnd.nextInt(s.length))
    def number(): String = rnd.nextInt(9) match {
      case 0 => rnd.nextInt(100000).toString
      case 1 => (rnd.nextLong() % 100000000000000L).toString
      case 2 => f"${rnd.nextDouble() * 1000}%.3f"
      case 3 => (rnd.nextGaussian() * 1e6).toString
      case 4 => f"${rnd.nextDouble()}%.2e"
      case 5 => java.lang.Double.toHexString(rnd.nextGaussian() * 100)
      case 6 => Seq("nan", "inf", "infinity")(rnd.nextInt(3))
      case 7 => s"${rnd.nextInt(1000)}${pick("dDfF")}"
      case _ => s".${rnd.nextInt(1000)}"
    }
    def mutate(s: String): String = {
      val i = if (s.isEmpty) 0 else rnd.nextInt(s.length)
      rnd.nextInt(10) match {
        case 0 if s.length > 1 =>
          val j = math.min(i + 1, s.length - 1)
          s.updated(i, s(j)).updated(j, s(i))
        case 1 => s.patch(i, pick(dateNoise + "\u00e9\u0661").toString, 0)
        case 2 if s.nonEmpty => s.patch(i, "", 1)
        case 3 =>
          val pad = Seq(" ", "\t", "\n", "\r\n", "\u00a0", "\u2028", "\u0000")(
            rnd.nextInt(7))
          if (rnd.nextBoolean()) pad + s else s + pad
        case 4 =>
          val sign = pick("+-").toString
          val at = s.lastIndexWhere(c => !c.isDigit) + 1
          if (rnd.nextBoolean()) sign + s else s.patch(at, sign, 0)
        case 5 => rnd.nextInt(3) match {
          case 0 => s.toUpperCase(Locale.ROOT)
          case 1 => s.toLowerCase(Locale.ROOT)
          case _ => s.map(c => if (rnd.nextBoolean()) c.toUpper else c)
        }
        case 6 => s + Seq("Z", ".123", " 12:30", "T10:11:12", " +05:00",
          " UTC", " America/Marigot", ":00", "e5", "d")(rnd.nextInt(10))
        case 7 => Seq("T", "0", "1", "-", "+")(rnd.nextInt(5)) + s
        case 8 if s.exists(_.isDigit) =>
          val d = s.indexWhere(_.isDigit, i) match {
            case -1 => s.indexWhere(_.isDigit)
            case k => k
          }
          s.patch(d, s(d).toString, 0)
        case _ => s
      }
    }
    val out = scala.collection.mutable.ArrayBuffer[String](edges: _*)
    while (out.size < size) {
      val base = rnd.nextInt(20) match {
        case k if k < 12 =>
          formatters(rnd.nextInt(formatters.size)).format(instant())
        case k if k < 14 => iso(rnd.nextInt(iso.size)).format(instant())
        case k if k < 18 => number()
        case _ => (0 to rnd.nextInt(16)).map(_ => pick(dateNoise)).mkString
      }
      out += (rnd.nextInt(10) match {
        case k if k < 3 => base
        case k if k < 8 => mutate(base)
        case _ => mutate(mutate(base))
      })
    }
    out.toSeq
  }
}
