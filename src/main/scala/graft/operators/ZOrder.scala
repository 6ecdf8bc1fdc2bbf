package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering layout — the multi-dimensional
  * data-skipping technique behind Delta/Iceberg `OPTIMIZE ZORDER BY`:
  * interleaving the bits of two normalized columns produces a 1-D sort
  * key whose contiguous ranges are 2-D tiles, so range-partitioning
  * files by the Z-value keeps per-file min/max statistics tight on
  * BOTH columns at once. A predicate on EITHER column then skips most
  * files, where a plain 1-D sort only ever skips on its sort column.
  *
  * Everything is plain integer/double column arithmetic (shift, mask,
  * multiply-add) — codegen'd end to end and bit-replayable in any
  * engine, which is what the contract oracle does.
  */
object ZOrder {

  /** Morton code of (x, y): each value is affinely mapped onto the
    * `bits`-bit grid over its caller-supplied [min, max] bounds
    * (clamped), then the grid coordinates' bits are interleaved
    * (x even positions, y odd). Bounds are parameters, not a data
    * scan: at 100 TB the writer knows its domain, and codes stay
    * stable across batches — re-deriving bounds per batch would
    * re-tile the space every ingest.
    */
  def mortonCode(x: Column, y: Column,
      xMin: Double, xMax: Double, yMin: Double, yMax: Double,
      bits: Int = 16): Column =
    mortonCodeN(Seq((x, xMin, xMax), (y, yMin, yMax)), bits)

  /** N-dimensional Morton code — real `OPTIMIZE ZORDER BY` takes any
    * number of columns: bit b of dimension i lands at position
    * b·d + i, so 2-D reduces to the classic x-even/y-odd interleave.
    * `bits · dims` must fit a positive BIGINT (≤ 62). Per-dimension
    * bounds are caller-supplied, same batch-stability argument as the
    * 2-D form.
    */
  def mortonCodeN(dims: Seq[(Column, Double, Double)],
      bits: Int = 16): Column = {
    val d = dims.size
    require(d >= 1, "at least one dimension")
    require(bits >= 1 && bits * d <= 62,
      s"bits*dims must be in [1, 62]: $bits*$d")
    // degenerate bounds would divide by zero and NaN every code —
    // corrupt layout, silently; fail fast instead
    dims.zipWithIndex.foreach { case ((_, lo, up), i) =>
      require(up > lo, s"degenerate Z-order bounds for dim $i: [$lo, $up]")
    }
    val hi = (1L << bits) - 1
    def grid(c: Column, lo: Double, up: Double): Column =
      least(greatest(
        floor((c.cast("double") - lo) * hi / (up - lo)).cast("long"),
        lit(0L)), lit(hi))
    val grids = dims.map { case (c, lo, up) => grid(c, lo, up) }
    (0 until bits).flatMap { b =>
      grids.zipWithIndex.map { case (g, i) =>
        shiftright(g, b).bitwiseAND(1) * (1L << (b * d + i))
      }
    }.reduce(_ + _)
  }

  /** The DuckDB expression computing the identical Morton code —
    * kept next to the operator so engine and oracle can never drift.
    */
  def mortonSql(x: String, y: String,
      xMin: Double, xMax: Double, yMin: Double, yMax: Double,
      bits: Int = 16): String =
    mortonSqlN(Seq((x, xMin, xMax), (y, yMin, yMax)), bits)

  /** The DuckDB expression computing [[mortonCodeN]] identically. */
  def mortonSqlN(dims: Seq[(String, Double, Double)],
      bits: Int = 16): String = {
    val d = dims.size
    require(d >= 1 && bits >= 1 && bits * d <= 62)
    dims.zipWithIndex.foreach { case ((_, lo, up), i) =>
      require(up > lo, s"degenerate Z-order bounds for dim $i: [$lo, $up]")
    }
    val hi = (1L << bits) - 1
    def grid(c: String, lo: Double, up: Double): String =
      s"least(greatest(CAST(floor((CAST($c AS DOUBLE) - $lo) * $hi " +
        s"/ (${up - lo})) AS BIGINT), 0), $hi)"
    val grids = dims.map { case (c, lo, up) => grid(c, lo, up) }
    (0 until bits).flatMap { b =>
      grids.zipWithIndex.map { case (g, i) =>
        s"((($g >> $b) & 1) * ${1L << (b * d + i)})"
      }
    }.mkString("(", " + ", ")")
  }

  /** Z-cluster `df` on a Morton `code` ([[mortonCode]] /
    * [[mortonCodeN]]): range-partition into `numFiles` contiguous
    * Z-ranges and sort each partition by Z, dropping the code column.
    * One shuffle at write time buys file-level skipping on every coded
    * dimension for every read after; write the result with
    * `write.parquet` or commit it as a [[graft.sources.VersionedTable]]
    * snapshot (what `OPTIMIZE ZORDER BY` is in Delta).
    */
  def clustered(df: DataFrame, code: Column, numFiles: Int): DataFrame =
    df.withColumn("__graft_zc", code)
      .repartitionByRange(numFiles, col("__graft_zc"))
      .sortWithinPartitions("__graft_zc")
      .drop("__graft_zc")
}
