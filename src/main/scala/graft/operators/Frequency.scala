package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Thresholded top-K value-frequency tables (whiteRRabbit.R:329-352).
  *
  * Semantics (exactly the reference's):
  *   - computed over non-missing values: NULL excluded always, and ""
  *     excluded for string columns (whiteRRabbit.R:320-325, table() on
  *     x_nonmissing at :333);
  *   - values with count < min_cell_count are dropped (:335) — the
  *     privacy threshold;
  *   - then truncated to the maxDistinctValues most frequent (:336-338);
  *   - Percentage = count / sum(retained counts) — the denominator is
  *     the POST-filter POST-truncation sum, not the column total (:344
  *     computes sum(tab) after :335-338 mutated tab);
  *   - date/timestamp columns get no frequency table (:331);
  *   - R's sort(table(...)) tie order is unspecified — we impose the
  *     deterministic tiebreak (count DESC, value ASC) per SURVEY §7.4.9.
  *
  * Plan shape / scale: instead of one groupBy job per column (the
  *  reference loops column-by-column), the counts are the profile's
  *  value histogram ([[Profile.valueHistogram]]): all requested columns
  *  melted into (column, value) keys and aggregated in a SINGLE shuffle
  *  with map-side partial aggregation — or, in a scan, the typed
  *  histogram the profile already reads, with no melt of its own
  *  ([[topK]]). The top-K rank is a second, much smaller shuffle over
  *  the already-thresholded counts. The
  *  min_cell_count filter runs before the rank window, so the window
  *  partition for a column holds only values with ≥ minCellCount
  *  occurrences — at 100 TB the long tail (the dangerous part of a
  *  per-column partition) is already gone.
  */
object Frequency {

  /** Frequency table for the given columns of `df`: the top-K
    * ([[topK]]) of their value histogram ([[Profile.valueHistogram]]).
    * Output: (col_name string, value string, cnt long, pct double),
    * ordered (col_name, cnt DESC, value).
    */
  def frequencies(
      df: DataFrame,
      cols: Seq[String],
      minCellCount: Long = 5L,
      maxDistinctValues: Int = 1000): DataFrame = {
    require(cols.nonEmpty, "frequencies: no columns requested")
    val fields = df.schema.fields
    val use = cols.map(df.schema.fieldIndex) // ref :331 — no date freq
      .filterNot(i => Profile.isDateLike(fields(i).dataType))
    require(use.nonEmpty, "frequencies: only date columns requested")
    topK(Profile.valueHistogram(df, use), fields, minCellCount,
      maxDistinctValues)
  }

  /** The thresholded top-K frequency table of a typed value histogram
    * `hist` ((i, vs, vn, cnt) rows of non-date columns, as
    * [[Profile.valueHistogram]] builds them) whose column i is
    * `fields(i)`. Same output as [[frequencies]].
    */
  private[graft] def topK(
      hist: DataFrame,
      fields: Array[StructField],
      minCellCount: Long,
      maxDistinctValues: Int): DataFrame = {
    // Render each histogram key as the reference's value string. Floating
    // columns are keyed by their (+0.0-normalized) double; every other
    // key already is cast(string). Rendering is injective on the keys,
    // so each rendered value keeps its own count.
    def floating(dt: DataType) =
      fields.indices.filter(fields(_).dataType == dt)
    val value =
      when(col("i").isin(floating(FloatType): _*),
        renderValue(col("vn").cast(FloatType), FloatType))
        .when(col("i").isin(floating(DoubleType): _*),
          renderValue(col("vn"), DoubleType))
        .otherwise(col("vs"))
    val counts = hist
      .where(col("cnt") >= lit(minCellCount))
      .select(element_at(typedLit(fields.map(_.name)), col("i") + 1)
        .as("col_name"), value.as("value"), col("cnt"))
      .where(col("value") =!= lit(""))

    // Two-level top-K so no single window partition ever holds a whole
    // column's retained values: level 1 ranks within (column, hash
    // bucket of value) — 64-way spread — and keeps each bucket's local
    // top-K; the global top-K is provably a subset of the union of
    // bucket top-Ks, so level 2 ranks at most 64*K rows per column.
    // Tiebreak (cnt DESC, value ASC) is identical at both levels,
    // keeping results deterministic (SURVEY §7.4.9).
    val bucketW = Window
      .partitionBy(col("col_name"), pmod(xxhash64(col("value")), lit(64)))
      .orderBy(col("cnt").desc, col("value").asc)
    val pre = counts
      .withColumn("rn1", row_number().over(bucketW))
      .where(col("rn1") <= lit(maxDistinctValues))
      .drop("rn1")

    val rankW = Window.partitionBy(col("col_name"))
      .orderBy(col("cnt").desc, col("value").asc)
    val top = pre
      .withColumn("rn", row_number().over(rankW))
      .where(col("rn") <= lit(maxDistinctValues))
      .drop("rn")

    val sumW = Window.partitionBy(col("col_name"))
    top
      .withColumn("pct", col("cnt") / sum(col("cnt")).over(sumW))
      .orderBy(col("col_name"), col("cnt").desc, col("value"))
  }

  /** Render a value for the frequency table. Integral doubles print
    * without the trailing ".0" — the reference's table()/as.character
    * renders promoted numerics as "1", not "1.0" (whiteRRabbit.R:333-343),
    * and post-promotion columns reaching this operator are doubles. The
    * magnitude guard keeps the long cast exact (and NaN/Inf, which
    * compare false against it under Spark's NaN ordering, fall through
    * to the plain double rendering).
    */
  private def renderValue(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      when(c === floor(c) && abs(c) < lit(1e15),
        c.cast(LongType).cast(StringType))
        .otherwise(c.cast(StringType))
    case _ => c.cast(StringType)
  }

  /** Approximate top-K frequency via a Misra-Gries heavy-hitter
    * sketch ([[graft.functions.TopKSketchAgg]]) — the 100 TB shape of
    * this operator when a column's distinct count itself is huge: one
    * pass, O(capacity) memory per task, and only `capacity` counters
    * per partition reach the shuffle, where the exact
    * [[frequencies]] shuffles every distinct (column, value) pair.
    * Counts are exact while `capacity` ≥ the column's distinct count
    * (no decrement ever fires — the oracle-checked regime); beyond
    * that they undercount by at most n/capacity and any value with
    * true share > 1/capacity is guaranteed present.
    *
    * Output matches [[frequencies]]: (col_name, value, cnt, pct) with
    * pct over the RETAINED top-k counts, ordered (col_name, cnt DESC,
    * value ASC).
    */
  def approxTopK(df: DataFrame, cols: Seq[String], k: Int,
      capacity: Int = 4096): DataFrame = {
    import graft.functions.TopKSketchAgg
    require(cols.nonEmpty, "approxTopK: no columns requested")
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val aggs = cols.zipWithIndex.map { case (c, i) =>
      TopKSketchAgg.approxTopK(
        when(renderValue(col(c), byName(c)) =!= lit(""),
          renderValue(col(c), byName(c))), k, capacity).as(s"t_$i")
    }
    // one tagged array concat + explode, NOT a per-column union of
    // row.select branches: each union branch re-executes the whole
    // aggregation lineage (3 columns = 3 full scans — seen in the
    // physical plan), while this shape runs the agg once
    val row = df.agg(aggs.head, aggs.tail: _*)
    val tagged = cols.zipWithIndex.map { case (c, i) =>
      transform(col(s"t_$i"), e =>
        struct(lit(c).as("col_name"), e.getField("value").as("value"),
          e.getField("cnt").as("cnt")))
    }
    val perCol = row.select(explode(concat(tagged: _*)).as("e"))
      .select(col("e.col_name").as("col_name"),
        col("e.value").as("value"), col("e.cnt").as("cnt"))
    val sumW = Window.partitionBy(col("col_name"))
    perCol
      .withColumn("pct", col("cnt") / sum(col("cnt")).over(sumW))
      .orderBy(col("col_name"), col("cnt").desc, col("value"))
  }

  /** Per-GROUP heavy hitters: one Misra-Gries sketch per group inside
    * a single shuffled aggregation — the "top tokens per source"
    * report. State is O(groups × capacity) across the cluster and the
    * shuffle carries one partial sketch per (partition, group); with
    * capacity ≥ the group's distinct count the result is exact (the
    * registered contract — see [[approxTopK]] for the undercount
    * bound beyond capacity). Output ranks are deterministic: the
    * sketch emits (cnt DESC, value ASC).
    */
  def groupedApproxTopK(df: DataFrame, groupCol: String,
      valueCol: String, k: Int, capacity: Int = 4096): DataFrame =
    df.groupBy(col(groupCol))
      .agg(graft.functions.TopKSketchAgg.approxTopK(col(valueCol),
        k, capacity).as("__tk"))
      .select(col(groupCol),
        posexplode(col("__tk")).as(Seq("rank", "__e")))
      .select(col(groupCol), (col("rank") + 1).cast("int").as("rank"),
        col("__e.value").as("value"), col("__e.cnt").as("cnt"))

  /** Reference-facing column names (whiteRRabbit.R:339-346). */
  def referenceFrequencies(
      df: DataFrame,
      cols: Seq[String],
      minCellCount: Long = 5L,
      maxDistinctValues: Int = 1000): DataFrame =
    asReference(frequencies(df, cols, minCellCount, maxDistinctValues))

  /** A frequency table under the reference's column names. */
  private[graft] def asReference(freq: DataFrame): DataFrame =
    freq.select(
      col("col_name").as("Column"),
      col("value").as("Value"),
      col("cnt").as("Count"),
      col("pct").as("Percentage"))
}
