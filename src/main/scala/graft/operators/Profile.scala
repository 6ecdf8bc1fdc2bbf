package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column profile statistics — the reference's core product.
  *
  * The reference iterates over columns in driver memory and computes each
  * column's counters/stats separately (whiteRRabbit.R:309-423). Here every
  * column's counters and moments are expressions inside ONE `agg()` (one
  * scan, map-side partial aggregation, a single-row result), and every
  * per-value statistic — exact distinct counts, exact quartiles and the
  * frequency table ([[Frequency.frequencies]]) — comes from ONE melt into
  * a (column, value) → count histogram ([[valueHistogram]]). The results
  * are reshaped driver-side into one output row per column.
  *
  * Scale notes (100 TB): the histogram is distributed hash aggregation
  * with map-side combine; its heaviest state is one row per distinct
  * value, never a per-group value buffer. Where exactness is not needed,
  * [[summarizeApprox]] replaces it with HLL and quantile sketches —
  * single-pass, constant memory.
  */
object Profile {

  /** Typed summary schema. Numerics stay numeric and timestamps surface
    * as epoch microseconds, so results can be compared exactly against a
    * SQL oracle; [[referenceSummary]] maps this to the reference's
    * 18 string fields (whiteRRabbit.R:402-423).
    */
  val summarySchema: StructType = StructType(Seq(
    StructField("column_name", StringType, nullable = false),
    StructField("data_type", StringType, nullable = false),
    StructField("total_count", LongType, nullable = false),
    StructField("non_missing", LongType, nullable = false),
    StructField("missing_count", LongType, nullable = false),
    StructField("empty_count", LongType, nullable = false),
    StructField("distinct_count", LongType, nullable = false),
    StructField("min_val", DoubleType, nullable = true),
    StructField("max_val", DoubleType, nullable = true),
    StructField("mean_val", DoubleType, nullable = true),
    StructField("median_val", DoubleType, nullable = true),
    StructField("sd_val", DoubleType, nullable = true),
    StructField("q1_val", DoubleType, nullable = true),
    StructField("q3_val", DoubleType, nullable = true),
    StructField("iqr_val", DoubleType, nullable = true),
    StructField("earliest_us", LongType, nullable = true),
    StructField("latest_us", LongType, nullable = true),
    StructField("median_us", LongType, nullable = true)
  ))

  private def isNum(dt: DataType): Boolean = dt.isInstanceOf[NumericType]

  /** DATE, TIMESTAMP and TIMESTAMP_NTZ: the columns that get the date
    * stats and no frequency table (whiteRRabbit.R:331). Parquet written
    * without isAdjustedToUTC surfaces as TIMESTAMP_NTZ in Spark 4; with
    * the session tz pinned to UTC it denotes the same instant.
    */
  private[graft] def isDateLike(dt: DataType): Boolean =
    dt == TimestampType || dt == DateType || dt == TimestampNTZType

  private def epochMicros(c: Column, dt: DataType): Column =
    unix_micros(if (dt == TimestampType) c else c.cast(TimestampType))

  /** R class name for the summary's DataType field, matching what the
    * reference records after type promotion (whiteRRabbit.R:311, :403).
    */
  private def rClassName(dt: DataType): String = dt match {
    case StringType                         => "character"
    case t if isNum(t)                      => "numeric"
    case TimestampType | TimestampNTZType   => "POSIXct, POSIXt"
    case DateType                           => "Date"
    case other                              => other.simpleString
  }

  /** Widen a NARROW input to the session's parallelism before the
    * profile's compute-heavy passes (optimization r19, guide §2.5
    * "input skew — repartition immediately after the read"). A small
    * parquet table is one-to-three row groups = as many unsplittable
    * scan tasks however many cores the box has (the sf0.1 lineitem
    * profile ran its sketch and melt passes in 3 tasks at 32 cores).
    * The gate keeps this scale-neutral: a corpus-sized input already
    * scans wider than the cluster and passes through untouched.
    * Aggregation-only consumers make the round-robin order shift
    * semantically invisible.
    */
  private[graft] def widened(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Profile every column of `df`.
    * Semantics per column (whiteRRabbit.R:313-327):
    *   missing  = count of NULLs;
    *   empty    = count of "" (string columns only, 0 otherwise);
    *   nonMissing excludes NULL for all columns and also "" for strings;
    *   distinct is exact and excludes NULL (and "" for strings);
    *   numeric stats over non-NULL values: min/max/mean/sd(sample)/
    *     quartiles (type-7 linear interpolation = Spark exact percentile);
    *   date stats: earliest/latest/median epoch-microseconds (median may
    *     interpolate between two instants, whiteRRabbit.R:389-398).
    *
    * Plan shape: the counters job, then the value histogram's stats
    * ([[histogramStats]]) — 2 Spark jobs when the table has at most
    * 200k non-missing cells (the driver walk, [[statsOf]]), else the
    * counters job plus the distributed rank walk. The counters job
    * computes counters + moments for all columns in one codegen'd
    * `agg()`, and nothing with a heavy object buffer rides in it (a
    * mixed declarative/object aggregate forces the whole plan onto
    * ObjectHashAggregate, measured 2x slower than the jobs run apart;
    * N `countDistinct`s in one agg would plan an `Expand` that
    * multiplies every row N-fold, measured 10x). Its one row gives
    * each column's non-missing count. The value histogram answers the
    * exact distinct counts, the exact type-7 quantiles and the date
    * range — fully distributed hash aggregation, no per-group value
    * buffering anywhere in the exact path.
    *
    * Deliberately NOT [[widened]]: the histogram melt redistributes at
    * its own exchange already, and the measured effect of a
    * pre-repartition was a small REGRESSION on small tables
    * (summary_orders 2.53→2.87, customer 2.62→3.37 — two extra
    * full-row shuffles per profile) with lineitem flat.
    *
    * `exactQuantiles = false` is [[summarizeApprox]] at `accuracy`:
    * HLL distinct counts (rsd 0.05) and sketch quantiles with rank
    * error ≤ 1/accuracy.
    */
  def summarize(
      df: DataFrame,
      exactQuantiles: Boolean = true,
      accuracy: Int = 10000): DataFrame =
    if (!exactQuantiles) summarizeApprox(df, accuracy = accuracy)
    else {
      val fields = df.schema.fields
      require(fields.nonEmpty, "cannot profile a zero-column DataFrame")
      val aggs = counterAggs(fields)
      val counters = df.agg(aggs.head, aggs.tail: _*).head()
      val counts = fields.indices.map(countsOf(counters, _))
      val total = counters.getAs[Long]("total")
      summaryFrame(df.sparkSession, fields, total, counts, Some(counters),
        histogramStats(df, counts.map(c => total - c.missing - c.empty)))
    }

  /** The counters row's aggregates: the row count `total`, per column
    * i its NULL count `m_i` and its "" count `e_i` (string columns),
    * and the moments ([[momentAggs]]) of the numeric columns.
    */
  private[graft] def counterAggs(fields: Array[StructField]): Seq[Column] =
    (count(lit(1)).as("total") +: fields.toSeq.zipWithIndex.flatMap {
      case (f, i) =>
        val c = col(f.name)
        count(when(c.isNull, lit(1))).as(s"m_$i") +:
          (if (f.dataType == StringType)
            Seq(count(when(c === lit(""), lit(1))).as(s"e_$i"))
          else Nil)
    }) ++ momentAggs(fields, fields.indices.filter(i =>
      isNum(fields(i).dataType)))

  /** The moments `mn_i`/`mx_i`/`av_i`/`sd_i` (min, max, avg,
    * stddev_samp) of the numeric value of each column i of `idx`. A
    * numeric column's value is its double cast, a string column's is
    * [[TypeInference.numericParse]]: so the moments of a column promoted
    * to numeric come from the raw column — the same aggregate over the
    * same values in the same order as over the promoted column.
    */
  private[graft] def momentAggs(fields: Array[StructField],
      idx: Seq[Int]): Seq[Column] =
    idx.flatMap { i =>
      val f = fields(i)
      val v =
        if (f.dataType == StringType) TypeInference.numericParse(f.name)
        else col(f.name).cast(DoubleType)
      Seq(min(v).as(s"mn_$i"), max(v).as(s"mx_$i"), avg(v).as(s"av_$i"),
        stddev_samp(v).as(s"sd_$i"))
    }

  /** One column's NULL and "" counts. */
  private[graft] final case class ColCounts(missing: Long, empty: Long)

  private[graft] def countsOf(counters: Row, i: Int): ColCounts =
    ColCounts(counters.getAs[Long](s"m_$i"),
      if (counters.schema.fieldNames.contains(s"e_$i"))
        counters.getAs[Long](s"e_$i")
      else 0L)

  /** Column i's boxed moments (min, max, mean, sd) read off a row of
    * [[momentAggs]].
    */
  private def momentsOf(row: Row, i: Int): Seq[java.lang.Double] =
    Seq("mn", "mx", "av", "sd").map { m =>
      val at = row.fieldIndex(s"${m}_$i")
      if (row.isNullAt(at)) null else Double.box(row.getDouble(at))
    }

  /** The scan's census of its parsed raw histogram `h` — the (i, vs,
    * vn, cnt, num, dt) rows of [[melt]] with `raw`, parsed by
    * [[TypeInference.parsed]] — in one grouped aggregate: the row
    * count, each column's NULL count (no key at all) and "" count
    * (string columns only: a non-string column's string key can be ""
    * too), and each string column's inference votes. Integer sums of
    * the cell multiplicities, so each is the per-cell count exactly.
    */
  private[graft] final case class Census(total: Long,
      counts: IndexedSeq[ColCounts], votes: Map[Int, TypeInference.Votes])

  private[graft] def census(h: DataFrame, fields: Array[StructField],
      strIdx: Seq[Int]): Census = {
    val cnt = col("cnt")
    def weighted(c: Column) = coalesce(sum(when(c, cnt)), lit(0L))
    val aggs = Seq(weighted(lit(true)),
      weighted(col("vs").isNull && col("vn").isNull),
      weighted(col("vs") === lit(""))) ++
      TypeInference.voteAggs(col("vs"), col("num"), col("dt"), cnt)
    val byCol = h.groupBy("i").agg(aggs.head, aggs.tail: _*).collect()
      .map(r => r.getInt(0) -> r).toMap
    Census(byCol.values.headOption.fold(0L)(_.getLong(1)),
      fields.indices.map(i => byCol.get(i).fold(ColCounts(0L, 0L))(r =>
        ColCounts(r.getLong(2),
          if (strIdx.contains(i)) r.getLong(3) else 0L))),
      strIdx.flatMap(i =>
        byCol.get(i).map(r => i -> TypeInference.votesOf(r, 4))).toMap)
  }

  /** Columns `idx` of `df` melted to one row per cell: (i, vs, vn, cnt)
    * with i the field index, cnt = 1 and the keys
    *   - string: vs the value; with `raw` as written, else NULL for ""
    *     (whiteRRabbit.R:320-327);
    *   - float/double: vn the +0.0-normalized double (-0.0 and 0.0
    *     collapse like numeric DISTINCT does);
    *   - integral/decimal: vs the string identity (keeps DISTINCT exact
    *     past 2^53) and vn the double cast ranks use (a duplicate vn
    *     under distinct vs only reorders equal rank values);
    *   - date-like: vs the exact epoch micros as a string and vn the
    *     same micros as a double, since a double rounds beyond 2^53 µs
    *     (the date range reads vs, the ranks vn);
    *   - other: vs the string cast.
    * Without `raw`, cells with no key (NULL, "") are dropped.
    */
  private[graft] def melt(df: DataFrame, idx: Seq[Int],
      raw: Boolean): DataFrame = {
    val fields = df.schema.fields
    val nullS = lit(null).cast(StringType)
    val nullD = lit(null).cast(DoubleType)
    val kvs = idx.map { i =>
      val c = col(fields(i).name)
      val (vs, vn) = fields(i).dataType match {
        case StringType => (if (raw) c else when(c =!= lit(""), c), nullD)
        case FloatType | DoubleType => (nullS, c.cast(DoubleType) + lit(0.0))
        case t if isNum(t) => (c.cast(StringType), c.cast(DoubleType))
        case t if isDateLike(t) =>
          val u = epochMicros(c, t)
          (u.cast(StringType), u.cast(DoubleType))
        case _ => (c.cast(StringType), nullD)
      }
      struct(lit(i).as("i"), vs.as("vs"), vn.as("vn"))
    }
    val cells = df.select(explode(array(kvs: _*)).as("kv"))
      .select(col("kv.i").as("i"), col("kv.vs").as("vs"),
        col("kv.vn").as("vn"), lit(1L).as("cnt"))
    if (raw) cells
    else cells.where(col("vs").isNotNull || col("vn").isNotNull)
  }

  /** Sum melted or histogram rows by their (i, vs, vn) key. */
  private[graft] def regroup(rows: DataFrame): DataFrame =
    rows.groupBy("i", "vs", "vn").agg(sum(col("cnt")).as("cnt"))

  /** The value histogram of columns `idx` of `df`: (i, vs, vn) keys
    * ([[melt]]) with their multiplicities `cnt`. The exact profile
    * (distinct counts, quartiles, date range), the frequency table
    * ([[Frequency.frequencies]]) and [[approxContract]]'s exact
    * distinct counts all read it. NULLs, and "" in string columns,
    * are dropped (whiteRRabbit.R:320-327).
    * Only the `idx` columns are projected, so the plan prunes the
    * others (a frequency table over non-date columns never parses
    * dates).
    */
  private[graft] def valueHistogram(df: DataFrame,
      idx: Seq[Int]): DataFrame =
    regroup(melt(df, idx, raw = false))

  /** Per-column stats derived from the value histogram; `tsRange` is a
    * date-like column's exact (earliest, latest) epoch micros.
    */
  private[graft] final case class HistStats(
      distinct: Long,
      quartiles: Option[(Double, Double, Double)],
      tsMedianUs: Option[Double],
      tsRange: Option[(Long, Long)])

  /** The exact stats of every column of `df` from its value histogram
    * ([[statsOf]]). `nonMissing(i)` is column i's non-missing count
    * from the counters row.
    */
  private[graft] def histogramStats(df: DataFrame,
      nonMissing: IndexedSeq[Long]): Map[Int, HistStats] =
    statsOf(valueHistogram(df, df.schema.fields.indices),
      df.schema.fields, nonMissing)

  /** Histograms of at most this many rows are walked on the driver. A
    * histogram never has more rows than its columns have non-missing
    * values, so the walk is chosen from that sum, with no probe of the
    * histogram itself. One collected row is four fields (i, vn, cnt,
    * and a date column's micros), boxed in a Row: about 130 bytes, so
    * the walk holds under ~26 MB of driver heap (an estimate of the
    * JVM object layout, not a measurement). Larger histograms take
    * the distributed [[histogramRanked]] walk.
    */
  private val DriverWalkRows = 200000

  /** Exact distinct counts, type-7 quartiles, date medians and date
    * ranges of the columns `fields` from their typed value histogram
    * `hist` ((i, vs, vn, cnt) rows, as [[valueHistogram]] builds
    * them): collected in one job and walked on the driver
    * ([[driverStats]]) when Σ `nonMissing` is at most
    * [[DriverWalkRows]], else the distributed rank walk
    * ([[rankedStats]]). Both give the same stats, which the
    * scan-equivalence suite pins.
    *
    * Each column's histogram must hold exactly `nonMissing(i)` values
    * — the rank bases assume it — so a mismatch fails naming the
    * column instead of picking a wrong rank.
    */
  private[graft] def statsOf(hist: DataFrame, fields: Array[StructField],
      nonMissing: IndexedSeq[Long]): Map[Int, HistStats] =
    if (nonMissing.sum <= DriverWalkRows) driverStats(hist, fields, nonMissing)
    else rankedStats(hist, fields, nonMissing)

  /** A histogram row's exact epoch micros for the date-like columns of
    * `fields` (their vs key, [[melt]]), NULL for every other column.
    */
  private def exactMicros(fields: Array[StructField]): Column = {
    val dates = fields.indices.filter(i => isDateLike(fields(i).dataType))
    when(col("i").isin(dates: _*), col("vs").cast(LongType))
  }

  private def checkHeld(fields: Array[StructField],
      nonMissing: IndexedSeq[Long], held: Int => Long): Unit =
    fields.indices.foreach { i =>
      if (held(i) != nonMissing(i))
        throw new IllegalStateException(s"profile: column " +
          s"'${fields(i).name}' holds ${held(i)} values in its histogram " +
          s"but ${nonMissing(i)} non-missing values in its counters")
    }

  /** Type-7 quantile p of n ranked values, from `at`, the value at a
    * rank: the lower+(higher-lower)·frac interpolation between ranks
    * floor((n-1)p) and ceil((n-1)p) that Spark's exact `percentile`
    * uses.
    */
  private def type7(n: Long, p: Double, at: Long => Double): Double = {
    val h = (n - 1L) * p
    val x0 = at(math.floor(h).toLong)
    x0 + (at(math.ceil(h).toLong) - x0) * (h - math.floor(h))
  }

  private def histStats(dt: DataType, distinct: Long, q: Double => Double,
      range: => (Long, Long)): HistStats =
    HistStats(distinct,
      if (isNum(dt)) Some((q(0.25), q(0.5), q(0.75))) else None,
      if (isDateLike(dt)) Some(q(0.5)) else None,
      if (isDateLike(dt)) Some(range) else None)

  /** [[statsOf]] on the driver: `hist` collected as (i, vn, cnt, us)
    * rows in one job, each column's rows in Spark's (i, vn) order — NaN
    * greatest, by `java.lang.Double.compare` on the +0.0-normalized
    * keys — with each row covering the rank range [lo, lo + cnt).
    */
  private[graft] def driverStats(hist: DataFrame, fields: Array[StructField],
      nonMissing: IndexedSeq[Long]): Map[Int, HistStats] = {
    val byCol = hist.select(col("i"), col("vn"), col("cnt"),
      exactMicros(fields)).collect().groupBy(_.getInt(0))
    checkHeld(fields, nonMissing,
      i => byCol.get(i).fold(0L)(_.map(_.getLong(2)).sum))
    val byVn = Ordering.fromLessThan[Double](
      (a, b) => java.lang.Double.compare(a, b) < 0)
    byCol.map { case (i, rs) =>
      val dt = fields(i).dataType
      val ranked =
        if (isNum(dt) || isDateLike(dt)) rs.sortBy(_.getDouble(1))(byVn)
        else rs
      lazy val his = ranked.map(_.getLong(2)).scanLeft(0L)(_ + _).tail
      def at(r: Long): Double = ranked(his.indexWhere(r < _)).getDouble(1)
      i -> histStats(dt, rs.length.toLong, type7(nonMissing(i), _, at),
        (rs.map(_.getLong(3)).min, rs.map(_.getLong(3)).max))
    }
  }

  /** [[statsOf]] distributed: the quantile values are picked by rank
    * from the ranked histogram ([[histogramRanked]]) and interpolated
    * driver-side — no per-group value buffering and no per-column
    * window partition. (Exactness still costs a sorted pass over
    * distinct values, which is why [[summarizeApprox]] (sketches)
    * stays the recommended 100 TB default.)
    *
    * `hist` is walked as it is, also when it reads a cached relation
    * (the scan's typed histogram reads the persisted raw one):
    * `Ranking.prefixSums` reads one executed range-partitioned RDD in
    * both passes, so they share its bounds over any input.
    */
  private[graft] def rankedStats(hist: DataFrame, fields: Array[StructField],
      nonMissing: IndexedSeq[Long]): Map[Int, HistStats] = {
    val tags = Seq(0.25 -> "25", 0.5 -> "50", 0.75 -> "75")
    val us = exactMicros(fields)
    val aggs = Seq(count(lit(1)).as("dist"), sum(col("cnt")).as("held"),
        min(us).as("us_lo"), max(us).as("us_hi")) ++
      tags.flatMap { case (p, s) =>
        val h = (col("n") - lit(1L)).cast(DoubleType) * lit(p)
        val r0 = floor(h).cast(LongType)
        val r1 = ceil(h).cast(LongType)
        Seq(
          max(when(col("lo") <= r0 && r0 < col("hi"), col("vn")))
            .as(s"x0_$s"),
          max(when(col("lo") <= r1 && r1 < col("hi"), col("vn")))
            .as(s"x1_$s"))
      }
    val byCol = histogramRanked(hist, nonMissing)
      .groupBy("i").agg(aggs.head, aggs.tail: _*).collect()
      .map(r => r.getAs[Int]("i") -> r).toMap
    checkHeld(fields, nonMissing,
      i => byCol.get(i).fold(0L)(_.getAs[Long]("held")))
    val tag = tags.toMap
    byCol.map { case (i, r) =>
      // x0/x1 are the values at the floor/ceil ranks of p
      def q(p: Double) = type7(nonMissing(i), p, rank =>
        r.getAs[Double](
          if (rank == math.floor((nonMissing(i) - 1L) * p).toLong)
            s"x0_${tag(p)}"
          else s"x1_${tag(p)}"))
      i -> histStats(fields(i).dataType, r.getAs[Long]("dist"), q,
        (r.getAs[Long]("us_lo"), r.getAs[Long]("us_hi")))
    }
  }

  /** The value histogram `hist` with each row's rank range [lo, hi)
    * within its column and the column's size n, exposed
    * (`private[graft]`) so the plan-shape suite can pin its scale
    * property: NO window partitioned by the melt key.
    *
    * The rank ranges come from the engine's range-partition prefix sum
    * ([[Ranking.prefixSums]]): a GLOBAL inclusive running count ordered
    * by (i, vn, vs) — columns are contiguous in that order, and
    * (i, vs, vn) is the histogram's grouping key so the order is total
    * — minus the column's rank base, the sum of the earlier columns'
    * non-missing counts, a driver constant from the counters row.
    * (A Window.partitionBy("i").orderBy("vn") shape would put one
    * column's ENTIRE histogram in one partition: parallelism capped at
    * #columns and partition size at the column's distinct count — the
    * one plan that wouldn't survive a continuous column at 100 TB.)
    * A vn tie under distinct vs (integral identity past 2^53) only
    * reorders equal-rank values.
    */
  private[graft] def histogramRanked(hist: DataFrame,
      nonMissing: IndexedSeq[Long]): DataFrame = {
    val nPart = math.max(1,
      hist.sparkSession.sessionState.conf.numShufflePartitions)
    // only the columns both prefix-sum branches read: a column one
    // branch prunes makes their range exchanges differ, so they are
    // not reused, sample different bounds and misalign the offsets
    val global = Ranking.prefixSums(hist.select("i", "vs", "vn", "cnt"),
      Seq(col("i"), col("vn"), col("vs")), Seq("cnt" -> "hig"), nPart)
    def ofColumn(perColumn: Seq[Long]): Column =
      element_at(typedLit(perColumn.toArray), col("i") + 1)
    global
      .withColumn("n", ofColumn(nonMissing))
      .withColumn("hi", col("hig") - ofColumn(nonMissing.scanLeft(0L)(_ + _)))
      .withColumn("lo", col("hi") - col("cnt"))
  }

  /** Sketch-based profile for the 100 TB path: `approx_count_distinct`
    * (HLL++, mergeable, constant memory) instead of exact distinct, and
    * sketch quantiles instead of exact sort-based percentiles.
    * Semantics diverge from the reference (documented per SURVEY.md §2
    * op 10).
    *
    * One scan: every column's counters, moments, min/max, HLL distinct
    * and sketch quantiles fold inside a single custom
    * [[graft.functions.ProfileSketchAgg]] aggregate. Quantile values
    * buffer unboxed and flush in sorted batches (see ProfileSketch).
    * The sketches are the stock ones (HyperLogLogPlusPlusHelper,
    * QuantileSummaries), so the accuracy contracts are those of
    * approx_count_distinct / percentile_approx: `accuracy` bounds the
    * rank error by 1/accuracy.
    *
    * Defaults: rsd 0.05 = Spark's own approx_count_distinct default
    * (0.01 measured 16x slower HLL updates for precision a profile
    * report does not need); accuracy 100 = 1% rank error, well inside
    * report-grade quantile needs.
    */
  def summarizeApprox(df0: DataFrame, rsd: Double = 0.05,
      accuracy: Int = 100): DataFrame =
    sketchSummary(widened(df0), rsd, accuracy)

  /** [[summarizeApprox]]'s body over an already [[widened]] `df`. */
  private def sketchSummary(df: DataFrame, rsd: Double = 0.05,
      accuracy: Int = 100): DataFrame = {
    require(accuracy > 0, s"accuracy must be positive: $accuracy")
    import graft.functions.ProfileSketchAgg
    val fields = df.schema.fields
    require(fields.nonEmpty, "cannot profile a zero-column DataFrame")
    val nullNum = lit(null).cast(DoubleType)
    val aggs = fields.zipWithIndex.map { case (f, i) =>
      val c = col(f.name)
      val (value, num) = f.dataType match {
        case StringType => (c, nullNum)
        case t if isNum(t) => (c, c.cast(DoubleType))
        case t if isDateLike(t) => (c, epochMicros(c, t).cast(DoubleType))
        case _ => (c, nullNum)
      }
      ProfileSketchAgg.sketch(value, num,
        isString = f.dataType == StringType, rsd, 1.0 / accuracy)
        .as(s"s_$i")
    }
    val r = df.agg(aggs.head, aggs.tail.toSeq: _*).head()
    val rows: Seq[Row] = fields.zipWithIndex.toSeq.map { case (f, i) =>
      val s = r.getStruct(r.fieldIndex(s"s_$i"))
      val total = s.getAs[Long]("n")
      val missing = s.getAs[Long]("nulls")
      val empty = s.getAs[Long]("empties")
      def d(name: String): java.lang.Double =
        if (s.isNullAt(s.fieldIndex(name))) null
        else Double.box(s.getAs[Double](name))
      def us(name: String): java.lang.Long =
        if (s.isNullAt(s.fieldIndex(name))) null
        else Long.box(math.floor(s.getAs[Double](name)).toLong)
      val numeric = isNum(f.dataType)
      val ts = isDateLike(f.dataType)
      val (q1, med, q3) =
        if (numeric) (d("q1"), d("med"), d("q3"))
        else (null: java.lang.Double, null: java.lang.Double,
          null: java.lang.Double)
      val iqr: java.lang.Double =
        if (q1 != null && q3 != null) Double.box(q3 - q1) else null
      Row(f.name, rClassName(f.dataType), total, total - missing - empty,
        missing, empty, s.getAs[Long]("dist"),
        if (numeric) d("mn") else null, if (numeric) d("mx") else null,
        if (numeric) d("av") else null, med,
        if (numeric) d("sd") else null, q1, q3, iqr,
        if (ts) us("mn") else null, if (ts) us("mx") else null,
        if (ts) us("med") else null)
    }
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), summarySchema)
  }

  /** Driver-side reshape of the exact profile: each column's counters
    * and histogram stats into one summary row per column. Moments are
    * read off the `moments` row ([[momentAggs]]) for numeric columns
    * only, the date range and median for date-like ones.
    */
  private[graft] def summaryFrame(spark: SparkSession,
      fields: Array[StructField], total: Long, counts: IndexedSeq[ColCounts],
      moments: Option[Row],
      hist: Map[Int, HistStats]): DataFrame = {
    val rows: Seq[Row] = fields.toSeq.zipWithIndex.map { case (f, i) =>
      val c = counts(i)
      val h = hist.get(i)
      val Seq(mn, mx, av, sd) =
        if (isNum(f.dataType)) momentsOf(moments.get, i)
        else Seq.fill(4)(null)
      def q(pick: ((Double, Double, Double)) => Double): java.lang.Double =
        h.flatMap(_.quartiles).map(t => Double.box(pick(t))).orNull
      def us(pick: ((Long, Long)) => Long): java.lang.Long =
        h.flatMap(_.tsRange).map(r => Long.box(pick(r))).orNull
      Row(f.name, rClassName(f.dataType), total,
        total - c.missing - c.empty, c.missing, c.empty,
        h.fold(0L)(_.distinct), mn, mx, av, q(_._2), sd, q(_._1), q(_._3),
        q(t => t._3 - t._1), us(_._1), us(_._2),
        h.flatMap(_.tsMedianUs)
          .map(m => Long.box(math.floor(m).toLong)).orNull)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), summarySchema)
  }

  /** Map the typed summary to the reference's 18-field all-as-written
    * summary sheet schema (whiteRRabbit.R:402-423): Column, DataType,
    * TotalCount, NonMissingCount, MissingCount, EmptyCount,
    * DistinctCount, MinVal..IQRVal, EarliestVal/LatestVal/MedianDateVal
    * rendered as ISO strings.
    */
  def referenceSummary(typed: DataFrame): DataFrame = {
    def tsStr(c: Column): Column =
      date_format(timestamp_micros(c), "yyyy-MM-dd HH:mm:ss")
    typed.select(
      col("column_name").as("Column"),
      col("data_type").as("DataType"),
      col("total_count").as("TotalCount"),
      col("non_missing").as("NonMissingCount"),
      col("missing_count").as("MissingCount"),
      col("empty_count").as("EmptyCount"),
      col("distinct_count").as("DistinctCount"),
      col("min_val").as("MinVal"),
      col("max_val").as("MaxVal"),
      col("median_val").as("MedianVal"),
      col("mean_val").as("MeanVal"),
      col("sd_val").as("SDVal"),
      col("q1_val").as("Q1Val"),
      col("q3_val").as("Q3Val"),
      col("iqr_val").as("IQRVal"),
      tsStr(col("earliest_us")).as("EarliestVal"),
      tsStr(col("latest_us")).as("LatestVal"),
      tsStr(col("median_us")).as("MedianDateVal"))
  }

  /** Equi-width histogram of a numeric column — the distribution view
    * the reference's flat min/max/quantile summary
    * (`whiteRRabbit.R:306-329`) cannot show. Two passes, both fully
    * parallel: a tiny min/max aggregate broadcasts back, then one
    * map-side-combined groupBy on the bucket id — no sort, no window,
    * so the plan is a pair of scans at any scale (equi-DEPTH buckets
    * would need a global sort or quantile boundaries; use
    * [[summarizeApprox]]'s sketch path for those).
    *
    * Bucket assignment is `least(b-1, floor((x-lo)*b/(hi-lo)))` with
    * the arithmetic in exactly that order so a SQL oracle replays the
    * same IEEE doubles bit-for-bit. Empty buckets are absent from the
    * output (no row), which keeps the aggregate one-pass. For
    * equi-DEPTH buckets see [[equiDepthHistogram]].
    */
  def numericHistogram(df: DataFrame, valueCol: String,
      buckets: Int = 12): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    val mm = df.agg(min(col(valueCol)).cast("double").as("__lo"),
      max(col(valueCol)).cast("double").as("__hi"))
    df.select(col(valueCol).cast("double").as("__v"))
      .where(col("__v").isNotNull)
      .crossJoin(broadcast(mm))
      .select(when(col("__hi") === col("__lo"), lit(0))
        .otherwise(least(lit(buckets - 1),
          floor((col("__v") - col("__lo")) * buckets /
            (col("__hi") - col("__lo")))))
        .cast("int").as("bucket"), col("__v"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        round(min(col("__v")), 6).as("b_min"),
        round(max(col("__v")), 6).as("b_max"))
      .orderBy("bucket")
  }

  /** EXACT equi-depth histogram — `numBuckets` buckets of (as near as
    * the discrete data allows) equal row counts — without the global
    * sort it naively needs: distinct-value counts (one value-keyed
    * shuffle with map-side combine), a DISTRIBUTED prefix sum over
    * them ([[graft.operators.Ranking.prefixSums]]: range-partitioned,
    * never a single-partition window), then integral bucket
    * assignment `floor(rows_before * k / n)` per distinct value and a
    * tiny per-bucket aggregate. All rows of one distinct value land
    * in one bucket (the standard discrete-domain rule), so a value
    * holding more than n/k rows overflows its bucket and may leave
    * later buckets empty-and-absent — counts stay exact either way.
    *
    * The integral cut arithmetic is the same engine-portable
    * `DIV`-on-BIGINTs the quality-decile query uses, so a SQL oracle
    * replays it exactly; the companion [[numericHistogram]] covers
    * the equi-width view.
    */
  def equiDepthHistogram(df: DataFrame, valueCol: String,
      numBuckets: Int, numPartitions: Int = 32): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
    val counts = df.select(col(valueCol).cast("double").as("v"))
      .where(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
    val cum = Ranking.prefixSums(counts, Seq(col("v")),
      Seq("c" -> "cum"), numPartitions)
    val total = counts.agg(sum(col("c")).as("__n"))
    cum.crossJoin(broadcast(total))
      .withColumn("bucket",
        expr(s"CAST((cum - c) * $numBuckets DIV __n AS INT)"))
      .groupBy(col("bucket"))
      .agg(round(min(col("v")), 6).as("lo"),
        round(max(col("v")), 6).as("hi"),
        sum(col("c")).as("n_rows"),
        count(lit(1)).as("n_distinct"))
      .orderBy("bucket")
  }

  /** Tukey-fence outlier report for a numeric column: exact quartiles,
    * the 1.5×IQR fences, and how many rows fall outside them. The
    * fences are rounded to 6 decimals BEFORE the comparison on both
    * engine sides, so the in/out decision never hinges on the last ulp
    * of a quartile interpolation.
    *
    * The quartiles here use Spark's exact `percentile` aggregate
    * (value-map based — fine while the column's distinct-value count
    * is bounded, as money-like data is). At open-ended 100 TB scale
    * swap in `approx_percentile`, which changes only the fence
    * estimate, not the counting pass: the count is a broadcast of one
    * 2-value row back over the scan, never a sort.
    */
  def outlierFences(df: DataFrame, valueCol: String): DataFrame = {
    val q = df.agg(expr(
        s"percentile($valueCol, array(0.25D, 0.75D))").as("__q"))
      .select(col("__q").getItem(0).as("__q1"),
        col("__q").getItem(1).as("__q3"))
    df.select(col(valueCol).cast("double").as("__v"))
      .where(col("__v").isNotNull)
      .crossJoin(broadcast(q))
      .select(col("__v"), col("__q1"), col("__q3"),
        round(col("__q1") - lit(1.5) * (col("__q3") - col("__q1")), 6)
          .as("__lo"),
        round(col("__q3") + lit(1.5) * (col("__q3") - col("__q1")), 6)
          .as("__hi"))
      .groupBy(col("__q1"), col("__q3"), col("__lo"), col("__hi"))
      .agg(
        sum(when(col("__v") < col("__lo"), 1L).otherwise(0L)).as("n_below"),
        sum(when(col("__v") > col("__hi"), 1L).otherwise(0L)).as("n_above"),
        count(lit(1)).as("n_rows"))
      .select(round(col("__q1"), 6).as("q1"), round(col("__q3"), 6).as("q3"),
        round(col("__q3") - col("__q1"), 6).as("iqr"),
        col("__lo").as("lo_fence"), col("__hi").as("hi_fence"),
        col("n_below"), col("n_above"), col("n_rows"))
  }

  /** Rank-correctness contract for the approx profile path — the
    * oracle-facing gate the sketch outputs admit. A quantile estimate
    * m for fraction p is rank-correct iff the exact CDF brackets it:
    * count(x ≤ m)/n ≥ p − eps AND count(x < m)/n ≤ p + eps (the
    * guarantee percentile_approx's accuracy parameter makes); the HLL
    * distinct must land within `distinctTol` of exact — default 0.15,
    * i.e. 3σ of the profile's rsd = 0.05 (a 1σ gate flipped on a
    * borderline column at sf0.001 even though the sketch met its
    * contract; a genuinely broken sketch path is off by far more
    * than 3σ). Both checks are
    * DETERMINISTIC for a fixed dataset (sketches are hash-based, not
    * random), so the emitted 0/1 flags are stable and a SQL oracle
    * pins them at 1 — a regression in the sketch path flips rows red
    * instead of hiding behind "no oracle".
    *
    * Cost: the approx profile itself + one exact-distinct pass (the
    * shared [[valueHistogram]], one row per distinct value) + ONE
    * aggregation computing every CDF probe. Per-column collect is the
    * same report-bounded reshape the profile family already uses.
    */
  def approxContract(df0: DataFrame, eps: Double = 0.02,
      distinctTol: Double = 0.15): DataFrame = {
    // widened ONCE here: the contract's three passes (profile, exact
    // distinct, rank probes) all read the same narrow scan
    val df = widened(df0)
    val spark = df.sparkSession
    import spark.implicits._
    val fields = df.schema.fields
    // The sketch profile and the exact distinct counts are independent
    // full passes; submit them from driver threads so their jobs share
    // the cluster instead of queueing (optimization r18, guide §2.6 —
    // the probe aggregation below is the only pass that must wait,
    // since its rank probes need the profile's quantile values).
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val apF = Future(sketchSummary(df).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap)
    val exactDF = Future(valueHistogram(df, fields.indices)
      .groupBy("i").agg(count(lit(1)).as("d")).collect()
      .map(r => r.getAs[Int]("i") -> r.getAs[Long]("d")).toMap)
    val ap = Await.result(apF, Duration.Inf)
    val exactD = Await.result(exactDF, Duration.Inf)
    val probes = scala.collection.mutable.ArrayBuffer[Column]()
    fields.zipWithIndex.foreach { case (f, i) =>
      val r = ap(f.name)
      if (isNum(f.dataType)) {
        val cd = col(f.name).cast(DoubleType)
        probes += count(cd).as(s"n_$i")
        Seq("q1_val" -> "q1", "median_val" -> "md", "q3_val" -> "q3")
          .foreach { case (field, tag) =>
            val m = r.getAs[Double](field)
            probes += count(when(cd <= m, 1)).as(s"le_${tag}_$i")
            probes += count(when(cd < m, 1)).as(s"lt_${tag}_$i")
          }
      } else if (isDateLike(f.dataType)) {
        val us = unix_micros(col(f.name).cast(TimestampType))
        probes += count(us).as(s"n_$i")
        val m = r.getAs[Long]("median_us")
        probes += count(when(us <= m, 1)).as(s"le_md_$i")
        probes += count(when(us < m, 1)).as(s"lt_md_$i")
      }
    }
    val pr =
      if (probes.isEmpty) null
      else df.agg(probes.head, probes.tail.toSeq: _*).head()
    def rankOk(i: Int, tag: String, p: Double): Int = {
      if (pr == null || !pr.schema.fieldNames.contains(s"le_${tag}_$i")) 1
      else {
        val n = pr.getAs[Long](s"n_$i").toDouble
        val le = pr.getAs[Long](s"le_${tag}_$i") / n
        val lt = pr.getAs[Long](s"lt_${tag}_$i") / n
        if (le >= p - eps && lt <= p + eps) 1 else 0
      }
    }
    val rows = fields.zipWithIndex.map { case (f, i) =>
      val dAp = ap(f.name).getAs[Long]("distinct_count")
      val dEx = exactD.getOrElse(i, 0L)
      // absolute floor of 5: at tiny cardinalities (tens) HLL register
      // quantization dominates the relative rsd bound
      val dOk =
        if (math.abs(dAp - dEx) <= math.max(distinctTol * dEx, 5.0)) 1
        else 0
      (f.name, dOk, rankOk(i, "q1", 0.25), rankOk(i, "md", 0.5),
        rankOk(i, "q3", 0.75))
    }
    rows.toSeq
      .toDF("column_name", "distinct_ok", "q1_ok", "median_ok", "q3_ok")
      .orderBy("column_name")
  }

  /** Decimal-exact Pearson correlation matrix over numeric columns —
    * the numeric dependence view beside [[mutualInfo]]'s categorical
    * one (selectivity hints, redundant-feature discovery). ONE
    * single-pass aggregate computes every Σx and Σxy with each value
    * quantized to DECIMAL(18,6) first, so the sums are EXACT and
    * order-free where raw double sums would drift with partition
    * order; the closed-form correlation then runs in double
    * arithmetic from those exact sums — the identical expression a
    * SQL oracle evaluates, so the rounded result is engine-portable.
    * Output is the upper triangle (col_a < col_b by the given
    * order). Rows with a NULL in any requested column are dropped
    * (listwise completeness — per-pair masks would need per-pair
    * counts), and pairs whose correlation is undefined — fewer than
    * two rows, or a zero-variance column — are ABSENT from the
    * output rather than NaN rows.
    *
    * Scale shape: one codegen'd scan with map-side partial
    * aggregation producing a single k(k+3)/2-value row; the pair
    * reshape happens on that one row inside the plan. No shuffle
    * carries more than the aggregate state.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    val k = cols.size
    val d = df.na.drop(cols)
      .select(cols.map(c => col(c).cast("decimal(18,6)").as(c)): _*)
    val aggs = scala.collection.mutable.ArrayBuffer[Column](
      count(lit(1)).as("n"))
    for (i <- 0 until k) aggs += sum(col(cols(i))).as(s"s_$i")
    for (i <- 0 until k; j <- i until k)
      aggs += sum(col(cols(i)) * col(cols(j))).as(s"p_${i}_$j")
    val one = d.agg(aggs.head, aggs.tail.toSeq: _*)
    def dbl(name: String) = col(name).cast("double")
    def varTerm(i: Int) =
      dbl("n") * dbl(s"p_${i}_$i") - dbl(s"s_$i") * dbl(s"s_$i")
    val pairs = for (i <- 0 until k; j <- i + 1 until k) yield {
      // the when() guard keeps the division unevaluated when the
      // denominator is 0 (zero-variance column) or NULL (no rows) —
      // ANSI mode would otherwise raise DIVIDE_BY_ZERO; such pairs
      // surface as NULL and are filtered below
      val den = sqrt(varTerm(i)) * sqrt(varTerm(j))
      struct(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
        round(when(den > 0, (dbl("n") * dbl(s"p_${i}_$j") -
          dbl(s"s_$i") * dbl(s"s_$j")) / den), 6).as("corr"))
    }
    one.select(explode(array(pairs: _*)).as("c"))
      .select(col("c.col_a"), col("c.col_b"), col("c.corr"))
      .where(col("corr").isNotNull && !isnan(col("corr")))
      .orderBy("col_a", "col_b")
  }

  /** Shannon entropy (nats) of each column's value distribution — the
    * profiling signal that separates near-constant columns (entropy→0)
    * from identifier-like ones (entropy→ln n): a selectivity hint and
    * a quick anomaly flag (an entropy collapse between ingests means a
    * feed went constant). One melt + one (column, value)-keyed count —
    * the frequency-table shape, so ONE shuffle for all columns; the
    * per-column normalization window partitions over distinct values
    * (vocabulary-sized, never row-sized). The p·ln p terms are rounded
    * at 9 decimals and DECIMAL-summed per column, so the sum is
    * order-free and engine-portable.
    */
  def valueEntropy(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "valueEntropy: no columns requested")
    import org.apache.spark.sql.expressions.Window
    val pairs = df
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("c"), col(c).cast(StringType).as("v"))): _*))
        .as("e"))
      .select(col("e.c").as("c"), col("e.v").as("v"))
      .where(col("v").isNotNull)
    val w = Window.partitionBy("c")
    val p = col("n").cast(DoubleType) / sum(col("n")).over(w)
    pairs.groupBy(col("c"), col("v"))
      .agg(count(lit(1)).as("n"))
      .withColumn("term", round(-p * log(p), 9).cast("decimal(20,9)"))
      .groupBy(col("c").as("column_name"))
      .agg(round(sum(col("term")).cast(DoubleType), 6).as("entropy_nats"),
        count(lit(1)).as("n_distinct"))
      .orderBy("column_name")
  }

  /** Inclusion coefficient of column A in column B — the
    * foreign-key-discovery profile: |distinct(A) ∩ distinct(B)| /
    * |distinct(A)|. 1.0 means every A value exists in B (an FK
    * candidate, the relationship an ETL designer maps first); the
    * coefficient degrades gracefully under dirty data where a strict
    * subset check would flip to false on one orphan row. Scale shape:
    * both sides reduce to their distinct value sets (key-shuffled,
    * map-side combined) and meet in one equality join — never a
    * row-level comparison.
    */
  def inclusionCoefficient(dfA: DataFrame, colA: String,
      dfB: DataFrame, colB: String): DataFrame = {
    val a = dfA.select(col(colA).cast(StringType).as("v"))
      .where(col("v").isNotNull).distinct()
    val b = dfB.select(col(colB).cast(StringType).as("v"))
      .where(col("v").isNotNull).distinct()
    a.join(b.withColumn("__in_b", lit(1)), Seq("v"), "left")
      .agg(count(lit(1)).as("n_a"),
        sum(when(col("__in_b").isNotNull, 1L).otherwise(0L))
          .as("n_in_b"))
      .select(col("n_a"), col("n_in_b"),
        round(col("n_in_b").cast(DoubleType) /
          greatest(col("n_a"), lit(1L)), 6).as("inclusion"))
  }

  /** Mutual information (nats) between two discrete columns — the
    * dependency-discovery signal of a profiler (MI ≈ 0: independent
    * columns; MI ≈ min(H_x, H_y): one column determines the other,
    * a functional-dependency candidate). One (x, y)-keyed count —
    * joint-cardinality-sized — with the marginals derived from the
    * joint by two more tiny aggregations; every p·ln term is rounded
    * at 9 decimals and DECIMAL-summed (the engine-portable scheme the
    * entropy profiler uses). Output also carries both marginal
    * entropies so callers can normalize.
    */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joint = df
      .select(col(xCol).cast(StringType).as("x"),
        col(yCol).cast(StringType).as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n"))
    val all = Window.partitionBy(lit(1))
    val wx = Window.partitionBy(col("x"))
    val wy = Window.partitionBy(col("y"))
    val tot = sum(col("n")).over(all)
    val pxy = col("n").cast(DoubleType) / tot
    val px = sum(col("n")).over(wx).cast(DoubleType) / tot
    val py = sum(col("n")).over(wy).cast(DoubleType) / tot
    def decSum9(c: Column): Column =
      round(sum(round(c, 9).cast("decimal(20,9)")).cast(DoubleType), 6)
    joint
      .withColumn("mi_term", pxy * log(pxy / (px * py)))
      // entropy terms weighted inside the joint table: summing
      // -pxy*ln(px) over y reproduces -px*ln(px) exactly in decimal
      .withColumn("hx_term", -pxy * log(px))
      .withColumn("hy_term", -pxy * log(py))
      .agg(decSum9(col("mi_term")).as("mi_nats"),
        decSum9(col("hx_term")).as("h_x"),
        decSum9(col("hy_term")).as("h_y"),
        count(lit(1)).as("n_joint"))
  }

  /** EXACT per-group quantiles over a DISCRETE domain, with no value
    * buffering anywhere: counts per (group, value), a cumulative-count
    * window whose partitions are value-cardinality-sized (distinct
    * values per group — token counts, lengths, ratings — never row
    * counts), and the type-1 inverse-CDF pick `min v where
    * cum ≥ ⌈total·p/100⌉`, kept integral as `cum·100 ≥ total·p` so
    * both engines decide identically. This is the scale-safe exact
    * counterpart of `percentile()` (which buffers every value per
    * group); for continuous domains where distinct values ≈ rows, use
    * the sketch path ([[summarizeApprox]]) instead.
    *
    * `percents` are integer percentages (25, 50, 75); output has one
    * `p<pct>` column per entry plus the group size.
    */
  def groupedCountQuantiles(df: DataFrame, groupCol: String,
      valueCol: String, percents: Seq[Int]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p > 0 && p <= 100),
      s"percents must be integer percentages in (0, 100]: $percents")
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .groupBy(col(groupCol).as("__g"), col(valueCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val cumW = Window.partitionBy("__g").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = counts
      .withColumn("__cum", sum(col("__c")).over(cumW))
      .withColumn("__total",
        sum(col("__c")).over(Window.partitionBy("__g")))
    val aggs = percents.map { p =>
      min(when(col("__cum") * 100 >= col("__total") * p, col("__v")))
        .as(s"p$p")
    } :+ max(col("__total")).as("n_rows")
    cum.groupBy(col("__g").as(groupCol))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(groupCol)
  }
}
