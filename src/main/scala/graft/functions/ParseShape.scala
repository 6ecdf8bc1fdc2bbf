package graft.functions

import java.time.Month
import java.time.format.TextStyle
import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** The parsers a string value's shape admits, as ONE native Catalyst
  * expression: "filter before you parse" (Sparser, Palkar et al., VLDB
  * 2018) for the type-inference parse cascade.
  *
  * One pass over the value's bytes reads its token shape — digit runs,
  * letter runs and separators — and returns a bit set over the parsers
  * of `TypeInference`:
  *   - bit k for date parser k in preference order: 0 is the
  *     format-free ISO parse, k ≥ 1 is `TypeInference.dateFormats(k-1)`;
  *   - [[ParseShape.NumericBit]] when the value could be a Java/Spark
  *     double literal.
  * Each bit is a superset of what its parser accepts, so a parser
  * guarded by its bit returns what it returns unguarded; a value whose
  * bit is clear skips a `try_to_timestamp` that would fail by throwing
  * and catching an exception. See [[ShapeClassifier]] for the rules.
  *
  * No regex and no allocation per value: the codegen calls
  * [[ShapeClassifier.dates]]'s `mask` over the UTF8String bytes, the
  * interpreted path calls the same method.
  */
case class ParseShape(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "parse_shape"

  override def nullSafeEval(input: Any): Any =
    ShapeClassifier.dates.mask(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = ShapeClassifier.getClass.getName
    defineCodeGen(ctx, ev, s => s"$c.MODULE$$.dates().mask($s)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object ParseShape {
  /** The "could be a double literal" bit. */
  val NumericBit: Long = 1L << 62

  /** Bit of date parser k (0 = ISO, k ≥ 1 =
    * `TypeInference.dateFormats(k-1)`).
    */
  def dateBit(k: Int): Long = 1L << k

  /** Column entry point: the parser bit set of the string `value`
    * (NULL for NULL).
    */
  def parseShape(value: Column): Column =
    ColumnBridge.column(ParseShape(ColumnBridge.expression(value)))

  /** `value` where the bit set `shape` holds `bit`, else NULL: the
    * input of a parser that only runs when its bit is set.
    */
  def gate(shape: Column, bit: Long, value: Column): Column =
    ColumnBridge.column(ShapeGate(ColumnBridge.expression(shape),
      ColumnBridge.expression(value), bit))
}

/** [[ParseShape.gate]]: one small node per guarded parser. A CASE WHEN
  * over a bit test per parser generated 126k chars of code for one
  * column's date parse (this form: 62k; the unguarded cascade: 46k)
  * and parsed each value about twice as slowly, its methods too large
  * for the JIT. `value` is evaluated only when the bit is set.
  */
case class ShapeGate(shape: Expression, value: Expression, bit: Long)
    extends BinaryExpression {
  override def left: Expression = shape
  override def right: Expression = value
  override def dataType: DataType = value.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "shape_gate"

  override def eval(input: InternalRow): Any = {
    val s = shape.eval(input)
    if (s == null || (s.asInstanceOf[Long] & bit) == 0L) null
    else value.eval(input)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val s = shape.genCode(ctx)
    val v = value.genCode(ctx)
    ev.copy(code = code"""
      |${s.code}
      |boolean ${ev.isNull} = true;
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  ${CodeGenerator.defaultValue(dataType)};
      |if (!${s.isNull} && (${s.value} & ${bit}L) != 0L) {
      |  ${v.code}
      |  ${ev.isNull} = ${v.isNull};
      |  ${ev.value} = ${v.value};
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(shape = newLeft, value = newRight)
}

/** The shape rules behind [[ParseShape]] for a list of date formats
  * (date parser k ≥ 1 is `formats(k-1)`); [[ShapeClassifier.dates]] is
  * the one over `TypeInference.dateFormats`.
  *
  * Date bits. A value is a date candidate only if the date language
  * admits it — the rules `TypeInference.dateParse` has always applied
  * before any parser, read here on the value without one trailing line
  * terminator (where a regex `$` matches):
  *   - charset: it starts with a digit and holds only digits and
  *     `Tt:zZ+ ./-`, or it holds a month token (jan … dec, any case)
  *     and only ASCII letters, digits and `:, ./-`;
  *   - it is not a single-dot decimal (`3.14`), nor four or more
  *     digit groups joined by single `./-` separators, nor three such
  *     groups whose middle group has three or more digits.
  * An admitted value then gets:
  *   - the ISO bit unless it is all digits (the ISO parse reads "2023"
  *     as a date, the reference's Ymd families do not), and only when
  *     it opens, after an optional sign, with a digit run followed by
  *     its end, `-`, `:`, space or a `T`, or with a `T` run followed
  *     by digits — the openings Spark's string-to-timestamp accepts;
  *   - format k's bit when its token kinds equal the format's and
  *     every field is plausible. The shape is derived from the
  *     pattern: `yyyy` is a digit run of exactly its width, or at
  *     least it after a sign; `M`, `d`, `H`, `m`, `s` any digit run
  *     whose value lies in the field's range (1–12, 1–31, 0–23, 0–59);
  *     `MM`, `dd`, `HH`, `mm`, `ss` exactly two digits in that range;
  *     adjacent number fields share one run, the fixed widths taken
  *     from its end; `MMM`/`MMMM` the US-English short/full month
  *     names in any case; quoted letters that literal in any case; a
  *     separator itself. So "10000001" (month 00) reaches no parser.
  *     A pattern using anything else keeps its bit on for every
  *     admitted value.
  *
  * Numeric bit: after trimming chars ≤ ' ' (what `Double.parseDouble`
  * trims), an optional sign, then `nan`, `inf` or `infinity` in any
  * case, or a hex literal `0x…p…`, or the decimal grammar
  * digits[.digits][e[sign]digits] with at least one digit, either of
  * the last two with an optional `fFdD` suffix.
  */
final class ShapeClassifier private[graft] (formats: Seq[String]) {
  import ShapeClassifier._

  require(formats.size < 62, s"too many date formats: ${formats.size}")

  /** Sorted token-kind signatures and, per signature, the format
    * variants with that signature; `anyBits` are the formats whose
    * pattern has no derived shape.
    */
  private val (sigKeys, sigVariants, anyBits) = {
    val compiled = formats.zipWithIndex.map { case (f, k) =>
      (1L << (k + 1), variantsOf(f))
    }
    val vs = compiled.flatMap { case (bit, v) =>
      v.toSeq.flatten.map(e => Variant(bit, e)) }
    val bySig = vs.groupBy(v => signature(v.elems)).toSeq.sortBy(_._1)
    (bySig.map(_._1).toArray, bySig.map(_._2.toArray).toArray,
      compiled.collect { case (bit, None) => bit }.foldLeft(0L)(_ | _))
  }

  /** The parser bit set of `s` (see the class doc). */
  def mask(s: UTF8String): Long = {
    val len = s.numBytes
    (if (numeric(s, len)) ParseShape.NumericBit else 0L) |
      dateMask(s, len - terminatorBytes(s, len))
  }

  private def dateMask(s: UTF8String, n: Int): Long = {
    if (n == 0) return 0L
    var allA = isDigit(s.getByte(0))
    var allB = true
    var hasMonth = false
    var sig = 0L
    var ntok = 0
    // the first three tokens' kinds and first bytes, for the ISO bit
    var k0, k1, k2 = 0
    var b1, b2 = 0
    // never-date shapes: digit groups alternating with one ./- each
    var alternating = true
    var groups = 0
    var midLen = 0
    var dotSep = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      val k = kindOf(b)
      var j = i + 1
      if (k == Digits) {
        while (j < n && isDigit(s.getByte(j))) j += 1
      } else if (k == Letters) {
        while (j < n && isLetter(s.getByte(j))) j += 1
        var q = i
        while (allA && q < j) {
          val c = s.getByte(q) | 0x20
          allA = c == 't' || c == 'z'
          q += 1
        }
        if (allB && !hasMonth) hasMonth = holdsMonth(s, i, j)
      } else {
        allA &&= inA(b)
        allB &&= inB(b)
      }
      if (!allA && !allB) return 0L
      ntok += 1
      if (ntok <= MaxTokens) sig = (sig << 4) | k
      if (ntok == 1) k0 = k
      else if (ntok == 2) { k1 = k; b1 = s.getByte(i) }
      else if (ntok == 3) { k2 = k; b2 = s.getByte(i) }
      if (alternating) {
        if ((ntok & 1) == 1) {
          alternating = k == Digits
          groups += 1
          if (groups == 2) midLen = j - i
        } else {
          alternating = k == Dash || k == Slash || k == Dot
          if (ntok == 2) dotSep = k == Dot
        }
      }
      i = j
    }
    if (!allA && !(allB && hasMonth)) return 0L
    if (alternating && (ntok & 1) == 1 &&
        (groups >= 4 || (groups == 3 && midLen >= 3) ||
          (groups == 2 && dotSep))) return 0L
    val pureDigits = ntok == 1 && k0 == Digits
    var m = anyBits
    if (!pureDigits) {
      // the opening after an optional sign: token a, then token c
      val signed = k0 == Dash || k0 == Plus
      val a = if (signed) k1 else k0
      val c = if (signed) k2 else k1
      val aFirst = if (signed) b1 else s.getByte(0)
      val cFirst = if (signed) b2 else b1
      if ((a == Digits && (c == 0 || c == Dash || c == Colon ||
            c == Space || (c == Letters && (cFirst | 0x20) == 't'))) ||
          (a == Letters && (aFirst | 0x20) == 't' && c == Digits)) m |= 1L
    }
    if (ntok <= MaxTokens) {
      val at = java.util.Arrays.binarySearch(sigKeys, sig)
      if (at >= 0) {
        val vs = sigVariants(at)
        var v = 0
        while (v < vs.length) {
          if ((m & vs(v).bit) == 0L && vs(v).accepts(s)) m |= vs(v).bit
          v += 1
        }
      }
    }
    m
  }

  /** The double-literal grammar (see the class doc). */
  private def numeric(s: UTF8String, len: Int): Boolean = {
    var i = 0
    var n = len
    while (i < n && (s.getByte(i) & 0xff) <= ' ') i += 1
    while (n > i && (s.getByte(n - 1) & 0xff) <= ' ') n -= 1
    if (i < n && (s.getByte(i) == '+' || s.getByte(i) == '-')) i += 1
    if (i == n) false
    else if (isLetter(s.getByte(i)))
      foldEquals(s, i, n, "nan") || foldEquals(s, i, n, "inf") ||
        foldEquals(s, i, n, "infinity")
    else if (s.getByte(i) == '0' && i + 1 < n &&
        (s.getByte(i + 1) | 0x20) == 'x') {
      // hex digits with at most one point, then p[sign]digits
      var j = i + 2
      var digits = 0
      var point = false
      var go = true
      while (go && j < n) {
        val b = s.getByte(j)
        if (isHex(b)) { digits += 1; j += 1 }
        else if (b == '.' && !point) { point = true; j += 1 }
        else go = false
      }
      digits > 0 && j < n && (s.getByte(j) | 0x20) == 'p' &&
        exponentEnd(s, j + 1, n)
    } else {
      var j = i
      var digits = 0
      while (j < n && isDigit(s.getByte(j))) { digits += 1; j += 1 }
      if (j < n && s.getByte(j) == '.') {
        j += 1
        while (j < n && isDigit(s.getByte(j))) { digits += 1; j += 1 }
      }
      digits > 0 && (
        if (j < n && (s.getByte(j) | 0x20) == 'e') exponentEnd(s, j + 1, n)
        else suffixEnd(s, j, n))
    }
  }
}

object ShapeClassifier {
  // token kinds, 4 bits each in a signature
  private final val Digits = 1
  private final val Letters = 2
  private final val Dash = 3
  private final val Slash = 4
  private final val Dot = 5
  private final val Space = 6
  private final val Colon = 7
  private final val Comma = 8
  private final val Plus = 9
  private final val Other = 15
  private final val MaxTokens = 15

  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
  private def isLetter(b: Byte): Boolean = {
    val c = b | 0x20
    c >= 'a' && c <= 'z'
  }
  private def isHex(b: Byte): Boolean = {
    val c = b | 0x20
    isDigit(b) || (c >= 'a' && c <= 'f')
  }

  private def kindOf(b: Byte): Int =
    if (isDigit(b)) Digits
    else if (isLetter(b)) Letters
    else b match {
      case '-' => Dash
      case '/' => Slash
      case '.' => Dot
      case ' ' => Space
      case ':' => Colon
      case ',' => Comma
      case '+' => Plus
      case _ => Other
    }

  private def kindOfChar(c: Char): Int =
    if (c < 0x80) kindOf(c.toByte) else Other

  /** Non-letter bytes of the digit-led charset and of the month one. */
  private def inA(b: Byte): Boolean =
    isDigit(b) || b == ':' || b == '+' || b == ' ' || b == '.' ||
      b == '/' || b == '-'
  private def inB(b: Byte): Boolean =
    isDigit(b) || b == ':' || b == ',' || b == ' ' || b == '.' ||
      b == '/' || b == '-'

  /** Bytes of one trailing line terminator (\n, \r\n, \r, U+0085,
    * U+2028, U+2029), where a regex `$` also matches.
    */
  private def terminatorBytes(s: UTF8String, n: Int): Int = {
    def at(k: Int) = if (k >= 1 && k <= n) s.getByte(n - k) & 0xff else -1
    if (at(1) == '\n') { if (at(2) == '\r') 2 else 1 }
    else if (at(1) == '\r') 1
    else if (at(2) == 0xc2 && at(1) == 0x85) 2
    else if (at(3) == 0xe2 && at(2) == 0x80 &&
        (at(1) == 0xa8 || at(1) == 0xa9)) 3
    else 0
  }

  /** The month tokens of the date charset, as a bit per three-letter
    * code.
    */
  private val monthTokens: Array[Long] = {
    val bits = new Array[Long](26 * 26 * 26 / 64 + 1)
    Seq("jan", "feb", "mar", "apr", "may", "jun", "jul", "aug", "sep",
        "oct", "nov", "dec").foreach { t =>
      val c = ((t(0) - 'a') * 26 + (t(1) - 'a')) * 26 + (t(2) - 'a')
      bits(c >>> 6) |= 1L << (c & 63)
    }
    bits
  }

  private def holdsMonth(s: UTF8String, from: Int, until: Int): Boolean = {
    var i = from
    while (i + 3 <= until) {
      val c = (((s.getByte(i) | 0x20) - 'a') * 26 +
        ((s.getByte(i + 1) | 0x20) - 'a')) * 26 + ((s.getByte(i + 2) | 0x20) - 'a')
      if ((monthTokens(c >>> 6) & (1L << (c & 63))) != 0L) return true
      i += 1
    }
    false
  }

  /** Bytes [from, until) equal the lower-case ASCII `w` in any case. */
  private def foldEquals(s: UTF8String, from: Int, until: Int,
      w: String): Boolean = {
    if (until - from != w.length) return false
    var i = 0
    while (i < w.length) {
      if ((s.getByte(from + i) | 0x20) != w.charAt(i)) return false
      i += 1
    }
    true
  }

  /** [sign] digits, then an optional fFdD suffix, then the end. */
  private def exponentEnd(s: UTF8String, from: Int, n: Int): Boolean = {
    var j = from
    if (j < n && (s.getByte(j) == '+' || s.getByte(j) == '-')) j += 1
    val start = j
    while (j < n && isDigit(s.getByte(j))) j += 1
    j > start && suffixEnd(s, j, n)
  }

  private def suffixEnd(s: UTF8String, j: Int, n: Int): Boolean =
    j == n || (j == n - 1 && {
      val c = s.getByte(j) | 0x20
      c == 'f' || c == 'd'
    })

  /** Value of the digits [from, until), saturating past 10^9. */
  private def valueOf(s: UTF8String, from: Int, until: Int): Long = {
    var v = 0L
    var i = from
    while (i < until) {
      if (v < 1000000000L) v = v * 10 + (s.getByte(i) - '0')
      i += 1
    }
    v
  }

  /** A number field: `width` digits (0 = any count), value in
    * [lo, hi]; a year (`year`) has no range and takes exactly `width`
    * digits, or at least `width` after a sign.
    */
  private final case class Field(width: Int, lo: Int, hi: Int,
      year: Boolean = false)

  /** One token of a format's shape: its kind, and for a digit run its
    * fields (a variable lead, then fixed widths from the run's end) and
    * whether a sign token precedes it, for a letter run the words it
    * may spell in any case.
    */
  private final case class Elem(kind: Int, fields: Array[Field] = null,
      signed: Boolean = false, words: Array[String] = null) {

    def accepts(s: UTF8String, from: Int, until: Int): Boolean =
      if (kind == Digits) digitsOk(s, from, until)
      else if (kind == Letters) {
        var w = 0
        while (w < words.length) {
          if (foldEquals(s, from, until, words(w))) return true
          w += 1
        }
        false
      } else true

    private def digitsOk(s: UTF8String, from: Int, until: Int): Boolean = {
      var tail = 0
      var f = 1
      while (f < fields.length) { tail += fields(f).width; f += 1 }
      val lead = fields(0)
      val leadLen = until - from - tail
      val lengthOk =
        if (lead.year) (if (signed) leadLen >= lead.width
          else leadLen == lead.width)
        else if (lead.width == 0) leadLen >= 1
        else leadLen == lead.width
      if (!lengthOk) return false
      var at = from
      f = 0
      while (f < fields.length) {
        val fd = fields(f)
        val end = if (f == 0) from + leadLen else at + fd.width
        if (!fd.year) {
          val v = valueOf(s, at, end)
          if (v < fd.lo || v > fd.hi) return false
        }
        at = end
        f += 1
      }
      true
    }
  }

  /** A format's shape with one choice of year signs: `bit` is set for
    * values whose tokens match `elems` one to one.
    */
  private final case class Variant(bit: Long, elems: Array[Elem]) {
    def accepts(s: UTF8String): Boolean = {
      var i = 0
      var e = 0
      while (e < elems.length) {
        val el = elems(e)
        var j = i + 1
        if (el.kind == Digits) {
          while (j < s.numBytes && isDigit(s.getByte(j))) j += 1
        } else if (el.kind == Letters) {
          while (j < s.numBytes && isLetter(s.getByte(j))) j += 1
        }
        if (!el.accepts(s, i, j)) return false
        i = j
        e += 1
      }
      true
    }
  }

  private def signature(elems: Array[Elem]): Long =
    elems.foldLeft(0L)((sig, e) => (sig << 4) | e.kind)

  private def monthNames(style: TextStyle): Array[String] =
    Month.values.map(_.getDisplayName(style, Locale.US)
      .toLowerCase(Locale.ROOT))

  /** A pattern letter run as a number field or month words, None when
    * the shape rules do not cover it.
    */
  private def letterField(c: Char, n: Int): Option[Either[Field, Array[String]]] =
    (c, n) match {
      case ('y', w) if w >= 4 => Some(Left(Field(w, 0, 0, year = true)))
      case ('M', 1 | 2) => Some(Left(Field(2 * (n - 1), 1, 12)))
      case ('M', 3) => Some(Right(monthNames(TextStyle.SHORT)))
      case ('M', 4) => Some(Right(monthNames(TextStyle.FULL)))
      case ('d', 1 | 2) => Some(Left(Field(2 * (n - 1), 1, 31)))
      case ('H', 1 | 2) => Some(Left(Field(2 * (n - 1), 0, 23)))
      case ('m' | 's', 1 | 2) => Some(Left(Field(2 * (n - 1), 0, 59)))
      case _ => None
    }

  /** The token shapes of pattern `f` (one per choice of year signs),
    * None when some part of it has no derived shape.
    */
  private def variantsOf(f: String): Option[Seq[Array[Elem]]] = {
    // pattern parts: a number field, month words, or a literal char
    val parts = scala.collection.mutable.ArrayBuffer[Any]()
    var i = 0
    var ok = true
    while (ok && i < f.length) {
      val c = f(i)
      if (c == '\'') {
        var j = i + 1
        while (j < f.length && f(j) != '\'') { parts += f(j); j += 1 }
        ok = j < f.length && j > i + 1 // no '' escapes
        i = j + 1
      } else if (c.isLetter) {
        var j = i
        while (j < f.length && f(j) == c) j += 1
        letterField(c, j - i) match {
          case Some(Left(fd)) => parts += fd
          case Some(Right(words)) => parts += words
          case None => ok = false
        }
        i = j
      } else if (c == '[' || c == ']' || c == '{' || c == '}' || c == '#') {
        ok = false
      } else { parts += c; i += 1 }
    }
    // group the parts into tokens
    val elems = scala.collection.mutable.ArrayBuffer[Elem]()
    var p = 0
    while (ok && p < parts.length) parts(p) match {
      case _: Field =>
        var q = p
        while (q < parts.length && parts(q).isInstanceOf[Field]) q += 1
        val fs = parts.slice(p, q).map(_.asInstanceOf[Field]).toArray
        // a variable width may only lead; the rest are fixed
        ok = fs.tail.forall(fd => !fd.year && fd.width > 0)
        elems += Elem(Digits, fields = fs)
        p = q
      case words: Array[String] @unchecked =>
        ok = p + 1 == parts.length || !isLetterPart(parts(p + 1))
        elems += Elem(Letters, words = words)
        p += 1
      case c: Char if c.isLetter =>
        var q = p
        while (q < parts.length && parts(q).isInstanceOf[Char] &&
          parts(q).asInstanceOf[Char].isLetter) q += 1
        ok = (q == parts.length || !isLetterPart(parts(q))) &&
          parts.slice(p, q).forall(ch => ch.asInstanceOf[Char] < 0x80)
        elems += Elem(Letters, words = Array(
          parts.slice(p, q).mkString.toLowerCase(Locale.ROOT)))
        p = q
      case c: Char =>
        ok = !c.isDigit
        elems += Elem(kindOfChar(c))
        p += 1
    }
    if (!ok || elems.isEmpty) return None
    // each year may follow a sign token: + or -
    val variants = elems.foldLeft(Seq(Seq.empty[Elem])) { (acc, e) =>
      if (e.kind == Digits && e.fields(0).year)
        acc.flatMap(pre => Seq(pre :+ e) ++ Seq(Plus, Dash).map(sk =>
          pre :+ Elem(sk) :+ e.copy(signed = true)))
      else acc.map(_ :+ e)
    }.map(_.toArray)
    if (variants.exists(_.length > MaxTokens)) None else Some(variants)
  }

  private def isLetterPart(x: Any): Boolean = x match {
    case c: Char => c.isLetter
    case _: Array[_] => true
    case _ => false
  }

  /** The classifier of `TypeInference.dateFormats`, the one
    * [[ParseShape]] reads; last, so the tables above are built first.
    */
  val dates: ShapeClassifier =
    new ShapeClassifier(graft.operators.TypeInference.dateFormats)
}
