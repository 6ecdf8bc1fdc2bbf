package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's private[sql] Column <-> Expression converters —
  * the supported Spark-4 way to lift a custom Catalyst Expression into
  * the public Column API (Column.expr / new Column(e) were removed
  * from the public surface in Spark 4's Column unification).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The unified-Column node tree (`org.apache.spark.sql.internal`) —
    * what `col("k") >= lit(5)` actually builds in Spark 4; predicate
    * introspection (VersionedTable.readWhere) walks this, since the
    * catalyst conversion happens only at analysis time.
    */
  def node(c: Column): org.apache.spark.sql.internal.ColumnNode = c.node

  /** Register a Catalyst expression builder as a session SQL function
    * (sessionState is private[sql], hence this bridge).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
      name: String, builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Lift a logical plan into a DataFrame (`classic.Dataset.ofRows`
    * is private[sql]) — used by commands that carry an unanalyzed
    * query subtree to execution time, and by specs pinning
    * parse-vs-analysis binding.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan)

  /** `df` as a frame over the one RDD its plan executes to, persisting
    * nothing: every plan that reads the frame reads that RDD, so an
    * exchange inside `df` runs, and samples its range bounds, once
    * however many branches read it. Building the frame plans `df` and,
    * under adaptive execution, runs its exchanges (`LogicalRDD` is
    * private[sql], hence this bridge).
    */
  def overExecutedRdd(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ofRows(df.sparkSession, org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false))
  }

  /** Unpersist the RDDs behind a `localCheckpoint`ed DataFrame
    * (optimization r18). `Dataset.unpersist` only clears CacheManager
    * entries; a localCheckpoint persists at the RDD level, so its
    * blocks otherwise linger until the ContextCleaner GC sweep — and
    * the cache-hygiene specs assert the persistent-RDD set is
    * restored IMMEDIATELY after a query returns. Walks the analyzed
    * plan for `LogicalRDD` leaves (what localCheckpoint produces;
    * `LogicalRDD` is private[sql], hence this bridge) and unpersists
    * any whose RDD reports a storage level.
    */
  def unpersistCheckpointed(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        if (lr.rdd.getStorageLevel
            != org.apache.spark.storage.StorageLevel.NONE) {
          lr.rdd.unpersist(blocking = false); ()
        }
      case _ => ()
    }

  /** Collect `out` to a local relation, then release every frame in
    * `pinned` — `Dataset.unpersist` for cache() pins and
    * [[unpersistCheckpointed]] for localCheckpoint blocks — on the
    * failure path too. For results that are report-sized by
    * construction: a long-lived session running such a query hundreds
    * of times (the bench sweep) must not accrue its pins until LRU
    * eviction or the ContextCleaner GC sweep. With no pins it only
    * cuts the lineage: downstream plans scan the in-memory rows.
    * Public because a `private[graft]` here would name this package,
    * not the top-level `graft` one.
    */
  def collectReleased(out: org.apache.spark.sql.DataFrame,
      pinned: org.apache.spark.sql.DataFrame*)
      : org.apache.spark.sql.DataFrame = {
    val rows =
      try out.collect()
      finally pinned.foreach { df =>
        scala.util.Try(df.unpersist())
        scala.util.Try(unpersistCheckpointed(df))
      }
    import scala.jdk.CollectionConverters._
    out.sparkSession.createDataFrame(rows.toSeq.asJava, out.schema)
  }
}
