package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Distributed global ranking — `row_number() OVER (ORDER BY ...)`
  * without the single-partition window it plans to by default.
  *
  * A global-ordered window in Spark moves EVERY row into one partition
  * (Catalyst warns "No Partition Defined for Window operation"), which
  * is the single worst scale trap in the window-function surface: fine
  * at 60k rows, a one-executor pile-up at 100 TB. The scalable shape is
  * the classic two-pass sort-merge rank:
  *
  *   1. range-repartition by the sort key (Spark's distributed sort —
  *      sampled boundaries, each partition holds a contiguous key
  *      range);
  *   2. count rows per partition (tiny: one row per partition);
  *   3. prefix-sum those counts into per-partition offsets (a window
  *      over partition-count rows, not data rows);
  *   4. rank locally within each partition and add the offset.
  *
  * The result is exact and deterministic whenever `order` is a TOTAL
  * order (no ties): any boundary the range sampler picks yields the
  * same global rank, because rank is a function of the ordering alone.
  * With ties, rows equal on the key may straddle a partition boundary
  * and their relative numbering follows the partitioning — pass a
  * tie-breaking column (an id) to make the order total, exactly as a
  * deterministic `row_number` would need anyway.
  */
object Ranking {
  private val pid = "__graft_pid"

  /** `df` range-partitioned by `order`, each row tagged with its
    * partition id, as a frame over ONE executed RDD that both passes of
    * the two-pass shape read, so the per-partition offsets and the
    * local ranks see the same partition boundaries. Planning the range
    * exchange inside each pass is not safe: every planned exchange
    * samples its own bounds, and the two passes share one only when
    * adaptive execution reuses it, which it does not when the input
    * reads a cached relation, nor when column pruning gives the offsets
    * pass a narrower exchange than the rank pass (seen as 14830 of
    * 20000 misranked rows over a persisted input, pinned by
    * RankingSpec). Building the frame runs the range exchange, which
    * both passes then read; nothing is persisted.
    */
  private def rangePartitioned(df: DataFrame, order: Seq[Column],
      numPartitions: Int): DataFrame =
    ColumnBridge.overExecutedRdd(df.repartitionByRange(numPartitions,
      order: _*).withColumn(pid, spark_partition_id()))

  /** `df` plus a `row_num` column (1-based global rank by `order`).
    *
    * `numPartitions` bounds per-partition sort size: at 100 TB pick
    * data-size/target-partition-size (the sf-test default of the
    * session's shuffle parallelism is fine at test scale).
    */
  def globalRowNumber(df: DataFrame, order: Seq[Column],
      numPartitions: Int): DataFrame = {
    require(order.nonEmpty, "globalRowNumber needs at least one sort key")
    val cnt = "__graft_cnt"
    val off = "__graft_off"
    val ranged = rangePartitioned(df, order, numPartitions)
    // one row per partition; the offset prefix-sum window runs over
    // `numPartitions` rows, so its single partition is bounded by
    // configuration, never by data
    val offsets = ranged.groupBy(col(pid))
      .agg(count(lit(1)).as(cnt))
      .withColumn(off, coalesce(
        sum(col(cnt)).over(Window.orderBy(col(pid))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(pid), col(off))
    val local = Window.partitionBy(col(pid)).orderBy(order: _*)
    ranged.join(broadcast(offsets), Seq(pid))
      .withColumn("row_num",
        row_number().over(local).cast("long") + col(off))
      .drop(pid, off)
  }

  /** `df` plus an inclusive running total of each `sums` entry
    * (inputCol -> outputCol) in `order` — the distributed prefix sum
    * underlying exact CDFs, cut points, and quota assignment. Same
    * two-pass shape as [[globalRowNumber]]: range-partition, sum each
    * partition (one row per partition), prefix the offsets, then add
    * a local running-sum window. The same total-order caveat applies:
    * with ties on `order`, tied rows' relative cumulative values
    * follow the partitioning — include a tiebreaker, or pre-aggregate
    * to distinct keys (a CDF does exactly that).
    */
  def prefixSums(df: DataFrame, order: Seq[Column],
      sums: Seq[(String, String)], numPartitions: Int): DataFrame = {
    require(order.nonEmpty, "prefixSums needs at least one sort key")
    require(sums.nonEmpty, "prefixSums needs at least one sum column")
    val ranged = rangePartitioned(df, order, numPartitions)
    val totals = sums.map { case (in, _) =>
      sum(col(in)).as(s"__graft_t_$in")
    }
    val offW = Window.orderBy(col(pid))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sums.foldLeft(
        ranged.groupBy(col(pid)).agg(totals.head, totals.tail: _*)) {
      case (d, (in, _)) =>
        d.withColumn(s"__graft_o_$in",
          coalesce(sum(col(s"__graft_t_$in")).over(offW), lit(0L)))
    }.select(col(pid) +: sums.map { case (in, _) =>
      col(s"__graft_o_$in")
    }: _*)
    val local = Window.partitionBy(col(pid)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    sums.foldLeft(ranged.join(broadcast(offsets), Seq(pid))) {
      case (d, (in, out)) =>
        d.withColumn(out,
          sum(col(in)).over(local) + col(s"__graft_o_$in"))
    }.drop(pid +: sums.map { case (in, _) => s"__graft_o_$in" }: _*)
  }
}
