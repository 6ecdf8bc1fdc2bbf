package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.internal.{Cast => NCast, ColumnNode,
  Literal => NLit, UnresolvedAttribute => NAttr,
  UnresolvedFunction => NFn}

/** Conjunct-tree bound extraction from a unified Column predicate —
  * the introspection half of `VersionedTable.readWhere`'s automatic
  * data skipping. Lives in the sql package because the node classes
  * (`org.apache.spark.sql.internal.*` — what `col("k") >= lit(5)`
  * actually builds in Spark 4; catalyst conversion only happens at
  * analysis time) are `private[sql]`.
  *
  * Everything extracted is CONSERVATIVE: strict bounds widen to
  * closed ones, open bounds are the IEEE infinities (a file whose
  * stats hold literal Infinity values must stay admitted), one-sided
  * string lower bounds produce nothing (astral-plane code points
  * sort above any BMP sentinel; a lower bound only tightens a range
  * the same column's upper bound opened), and a conjunct the walker cannot
  * parse (OR, arithmetic, UDF) simply contributes no bound — the
  * caller always re-applies the full predicate row-level.
  */
object PredicateBounds {

  /** Per-column conjunctive bounds: numeric [lo, hi] ranges for the
    * `mn_`/`mx_` stats family, string ranges for the lexicographic
    * `smn_`/`smx_` family, and raw equality/IN probe values for the
    * Bloom sidecar.
    */
  case class Bounds(
      numeric: Seq[(String, Double, Double)],
      strings: Seq[(String, String, String)],
      probes: Seq[(String, Seq[Any])])

  /** UTC epoch value of a temporal literal on the same scale the
    * stats sidecar stores for the column's type: SECONDS for
    * timestamp columns (Spark's `cast(ts as double)`), DAYS for date
    * columns. String literals parse as ISO date / datetime (the
    * session timezone is pinned UTC throughout the engine). Returns
    * None — no bound, never a wrong one — for any literal that
    * cannot be mapped onto the column's scale.
    */
  private def temporalVal(v: Any,
      colDt: org.apache.spark.sql.types.DataType): Option[Double] = {
    import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
    import org.apache.spark.sql.types.{DateType, TimestampNTZType,
      TimestampType}
    def secs(i: Instant): Double =
      i.getEpochSecond.toDouble + i.getNano / 1e9
    val instant: Option[Instant] = v match {
      case t: java.sql.Timestamp => Some(t.toInstant)
      case i: Instant => Some(i)
      case dt: LocalDateTime => Some(dt.toInstant(ZoneOffset.UTC))
      case d: java.sql.Date =>
        Some(d.toLocalDate.atStartOfDay(ZoneOffset.UTC).toInstant)
      case d: LocalDate => Some(d.atStartOfDay(ZoneOffset.UTC).toInstant)
      case s: String =>
        scala.util.Try(LocalDate.parse(s)
            .atStartOfDay(ZoneOffset.UTC).toInstant).toOption
          .orElse(scala.util.Try(LocalDateTime
            .parse(s.replace(' ', 'T')).toInstant(ZoneOffset.UTC))
            .toOption)
      case _ => None
    }
    colDt match {
      case TimestampType | TimestampNTZType => instant.map(secs)
      case DateType => instant.map(i =>
        LocalDate.ofInstant(i, ZoneOffset.UTC).toEpochDay.toDouble)
      case _ => None
    }
  }

  def extract(pred: Column): Bounds = extract(pred, _ => None)

  /** Type-aware form: `colType` resolves a column name to its
    * snapshot data type, enabling TEMPORAL bounds — a predicate like
    * `col("ts") >= "2024-01-16"` prunes a time-clustered table
    * through the double-cast stats (the dominant access pattern on
    * event logs at scale). Without a resolvable type, temporal
    * literals contribute no bound.
    */
  def extract(pred: Column,
      colType: String => Option[org.apache.spark.sql.types.DataType])
      : Bounds = {
    def conjuncts(n: ColumnNode): Seq[ColumnNode] = n match {
      case f: NFn if f.functionName.equalsIgnoreCase("and") &&
          f.arguments.length == 2 =>
        f.arguments.flatMap(conjuncts)
      case x => Seq(x)
    }
    // the column a comparison side names, and whether it reaches it
    // through a stripped double cast
    def attrName(n: ColumnNode): Option[(String, Boolean)] = n match {
      case a: NAttr => a.nameParts.lastOption.map((_, false))
      // a cast is stripped ONLY when it is the identity on the stats
      // scale: numeric stats are collected as cast-to-double (epoch
      // seconds for timestamps), so `col(c).cast("double") >= L`
      // compares exactly the stored `mn_`/`mx_` scale whatever c's
      // type. Any OTHER cast (date-truncation of a timestamp, a
      // narrowing int cast) is monotone but NOT the stats scale —
      // mapping its literal onto the raw column's stats would prune
      // files whose rows match the predicate (silent row loss), so
      // those conjuncts contribute no bound.
      case c: NCast
          if c.dataType == org.apache.spark.sql.types.DoubleType =>
        attrName(c.child).map(a => (a._1, true))
      case _ => None
    }
    def numVal(n: ColumnNode): Option[Double] = n match {
      case l: NLit => l.value match {
        case v: Number => Some(v.doubleValue)
        case _ => None
      }
      case _ => None
    }
    def strVal(n: ColumnNode): Option[String] = n match {
      case l: NLit => l.value match {
        case v: String => Some(v)
        case _ => None
      }
      case _ => None
    }
    // raw JVM probe value for the Bloom sidecar. xxhash64 hashes by
    // the COLUMN's physical type (hashInt vs hashLong vs UTF8), so a
    // probe literal must re-materialize through lit() as exactly the
    // column's type — an Int literal probed as Long against an
    // IntegerType column hashes differently and would prune files
    // that contain the key. Unknown column type = no probe.
    def probeVal(n: ColumnNode,
        colDt: Option[org.apache.spark.sql.types.DataType])
        : Option[Any] = {
      import org.apache.spark.sql.types.{IntegerType, LongType,
        StringType}
      n match {
        case l: NLit => (l.value, colDt) match {
          case (v: java.lang.Long, Some(LongType)) => Some(v)
          case (v: java.lang.Integer, Some(LongType)) =>
            Some(v.longValue: java.lang.Long)
          case (v: java.lang.Integer, Some(IntegerType)) => Some(v)
          case (v: String, Some(StringType)) => Some(v)
          case _ => None
        }
        case _ => None
      }
    }

    def litValue(n: ColumnNode): Option[Any] = n match {
      case l: NLit => Option(l.value)
      case _ => None
    }
    def isTemporal(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt == org.apache.spark.sql.types.TimestampType ||
        dt == org.apache.spark.sql.types.TimestampNTZType ||
        dt == org.apache.spark.sql.types.DateType
    // per-column literal interpretation: a TEMPORAL column maps
    // temporal/string literals onto its stats scale (and accepts no
    // bare-number literal — seconds vs days is the column's business);
    // a STRING column takes both (Spark compares str-vs-num on the
    // double scale, which is exactly the numeric stats scale). Any
    // other/unknown column type takes numeric literals only: a string
    // literal against a numeric column (`col(n) <= "10"`) is compared
    // NUMERICALLY by Spark but the smn_/smx_ sidecar is
    // lexicographic — pruning through it would silently drop matching
    // files, so those conjuncts contribute no string bound. A column
    // compared through its double cast is on the double scale whatever
    // its type: numeric literals only, never a string bound or probe
    // (`col(s).cast("double") === "10"` matches the string "010").
    def boundsVal(a: (String, Boolean),
        l: ColumnNode): (Option[Double], Option[String]) =
      if (a._2) (numVal(l), None) else colType(a._1) match {
        case Some(t) if isTemporal(t) =>
          (litValue(l).flatMap(temporalVal(_, t)), None)
        case Some(org.apache.spark.sql.types.StringType) =>
          (numVal(l), strVal(l))
        case _ => (numVal(l), None)
      }
    // string bounds order as the sidecar does, by UTF8 bytes: in
    // UTF-16 order a supplementary character sorts BELOW U+E000-U+FFFF,
    // so an IN list mixing the two would get lo > hi and prune the
    // files that hold its keys
    val byUtf8: Ordering[String] = Ordering.fromLessThan((x, y) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x).compareTo(
        org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0)
    val numB = Seq.newBuilder[(String, Double, Double)]
    val strB = Seq.newBuilder[(String, String, String)]
    val strLoB = Seq.newBuilder[(String, String)]
    val probeB = Seq.newBuilder[(String, Seq[Any])]
    val inf = Double.PositiveInfinity
    def probe(a: (String, Boolean), l: ColumnNode): Option[Any] =
      if (a._2) None else probeVal(l, colType(a._1))
    def cmpAttr(op: String, a: (String, Boolean), l: ColumnNode): Unit = {
      val c = a._1
      val (nv, sv) = boundsVal(a, l)
      op match {
        case ">" | ">=" =>
          nv.foreach(v => numB += ((c, v, inf)))
          sv.foreach(v => strLoB += ((c, v)))
        case "<" | "<=" =>
          nv.foreach(v => numB += ((c, -inf, v)))
          sv.foreach(v => strB += ((c, "", v)))
        case "=" =>
          nv.foreach(v => numB += ((c, v, v)))
          sv.foreach(v => strB += ((c, v, v)))
          probe(a, l).foreach(v => probeB += ((c, Seq(v))))
        case _ => ()
      }
    }
    // attribute on either side of the comparison — the op flips
    def cmp(op: String, l: ColumnNode, r: ColumnNode): Unit =
      (attrName(l), attrName(r)) match {
        case (Some(c), None) => cmpAttr(op, c, r)
        case (None, Some(c)) =>
          val flipped = op match {
            case ">" => "<"; case ">=" => "<="
            case "<" => ">"; case "<=" => ">="
            case other => other
          }
          cmpAttr(flipped, c, l)
        case _ => ()
      }
    def inList(n: ColumnNode, vs: Seq[ColumnNode]): Unit =
      attrName(n).foreach { a =>
        val c = a._1
        if (vs.nonEmpty) {
          val pairs = vs.map(boundsVal(a, _))
          val nums = pairs.flatMap(_._1)
          if (nums.length == vs.length) numB += ((c, nums.min, nums.max))
          val strs = pairs.flatMap(_._2)
          if (strs.length == vs.length)
            strB += ((c, strs.min(byUtf8), strs.max(byUtf8)))
          val probes = vs.flatMap(probe(a, _))
          if (probes.length == vs.length) probeB += ((c, probes))
        }
      }
    conjuncts(ColumnBridge.node(pred)).foreach {
      case f: NFn =>
        f.functionName match {
          case ">" | ">=" | "<" | "<=" if f.arguments.length == 2 =>
            cmp(f.functionName, f.arguments(0), f.arguments(1))
          case "=" | "==" | "equalTo" if f.arguments.length == 2 =>
            cmp("=", f.arguments(0), f.arguments(1))
          case "in" if f.arguments.nonEmpty =>
            inList(f.arguments.head, f.arguments.tail)
          case "between" if f.arguments.length == 3 =>
            cmp(">=", f.arguments(0), f.arguments(1))
            cmp("<=", f.arguments(0), f.arguments(2))
          case _ => ()
        }
      case _ => () // unparseable conjunct: no bound, still row-filtered
    }
    // a string lower bound has no sound upper sentinel on its own, so
    // it only tightens a range the same column's upper bound or
    // equality opened (`between` on a string column prunes both ends)
    val strLo = strLoB.result().groupMapReduce(_._1)(_._2)(byUtf8.max)
    val strings = strB.result().map { case (c, lo, hi) =>
      (c, strLo.get(c).filter(byUtf8.gt(_, lo)).getOrElse(lo), hi)
    }
    Bounds(numB.result(), strings, probeB.result())
  }

  /** Rebuild a PARSED catalyst predicate as a public-DSL Column so
    * the bound walker above can introspect it — the SQL surface
    * (`OPTIMIZE t WHERE <text>`) arrives as a catalyst AST, which
    * wraps into a Column as an opaque node the walker cannot see
    * through. Supported shapes mirror the walker exactly (AND,
    * comparisons against literals in either order, IN over
    * literals); every other conjunct converts to `lit(true)` — for
    * the content-preserving maintenance verbs this feeds, a WIDER
    * selection is always safe (more files rewritten, none missed),
    * never wrong.
    */
  def fromCatalyst(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Column = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.functions.{col, lit}
    def attr(x: ce.Expression): Option[String] = x match {
      case a: org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute => Some(a.name)
      case _ => None
    }
    def litCol(x: ce.Expression): Option[Column] = x match {
      case l: ce.Literal if l.value != null =>
        import org.apache.spark.sql.types._
        l.dataType match {
          case _: IntegerType => Some(lit(l.value.asInstanceOf[Int]))
          case _: LongType => Some(lit(l.value.asInstanceOf[Long]))
          case _: DoubleType => Some(lit(l.value.asInstanceOf[Double]))
          case _: FloatType => Some(lit(l.value.asInstanceOf[Float]))
          case _: ShortType =>
            Some(lit(l.value.asInstanceOf[Short].toInt))
          case _: ByteType => Some(lit(l.value.asInstanceOf[Byte].toInt))
          case _: DecimalType =>
            Some(lit(l.value.asInstanceOf[Decimal].toJavaBigDecimal))
          case _: StringType => Some(lit(l.value.toString))
          // catalyst stores temporal literals on internal scales
          // (days / micros); re-materialize as java.time values so
          // lit() rebuilds the same typed literal temporalVal maps
          // onto the stats scale
          case _: DateType => Some(lit(
            java.time.LocalDate.ofEpochDay(
              l.value.asInstanceOf[Int].toLong)))
          case _: TimestampNTZType =>
            val us = l.value.asInstanceOf[Long]
            Some(lit(java.time.LocalDateTime.ofEpochSecond(
              Math.floorDiv(us, 1000000L),
              (Math.floorMod(us, 1000000L) * 1000L).toInt,
              java.time.ZoneOffset.UTC)))
          case _: TimestampType =>
            val us = l.value.asInstanceOf[Long]
            Some(lit(java.time.Instant.ofEpochSecond(
              Math.floorDiv(us, 1000000L),
              Math.floorMod(us, 1000000L) * 1000L)))
          case _: BooleanType =>
            Some(lit(l.value.asInstanceOf[Boolean]))
          case _ => None
        }
      case _ => None
    }
    def bin(a: ce.Expression, b: ce.Expression,
        fwd: (Column, Column) => Column,
        rev: (Column, Column) => Column): Column =
      (attr(a), litCol(b), attr(b), litCol(a)) match {
        case (Some(c), Some(l), _, _) => fwd(col(c), l)
        case (_, _, Some(c), Some(l)) => rev(col(c), l)
        case _ => lit(true)
      }
    def conv(x: ce.Expression): Column = x match {
      case ce.And(a, b) => conv(a) && conv(b)
      case ce.GreaterThan(a, b) => bin(a, b, _ > _, _ < _)
      case ce.GreaterThanOrEqual(a, b) => bin(a, b, _ >= _, _ <= _)
      case ce.LessThan(a, b) => bin(a, b, _ < _, _ > _)
      case ce.LessThanOrEqual(a, b) => bin(a, b, _ <= _, _ >= _)
      case ce.EqualTo(a, b) => bin(a, b, _ === _, _ === _)
      case ce.In(a, vs) =>
        (attr(a), vs.map(litCol)) match {
          case (Some(c), ls) if ls.nonEmpty && ls.forall(_.isDefined) =>
            col(c).isin(ls.flatten: _*)
          case _ => lit(true)
        }
      case _ => lit(true)
    }
    conv(e)
  }
}
