package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Date anonymization: every value in every date/timestamp column is
  * shifted by an independent uniform random offset in [-range, +range]
  * days (whiteRRabbit.R:283-291; the reference hardcodes ±5 and is
  * unseeded — we take a seed so runs are reproducible and
  * oracle-checkable, SURVEY §7.4.8).
  *
  * Pure narrow projection (rand + timestampadd are codegen'd): no
  * shuffle, scales linearly.
  */
object DateShift {

  def shiftDates(df: DataFrame, seed: Long = 42L,
      range: Int = 5): DataFrame = {
    val span = 2 * range + 1
    val cols = df.schema.fields.zipWithIndex.map { case (f, i) =>
      if (Profile.isDateLike(f.dataType)) {
        // floor(rand*span)-range ∈ [-range, range], uniform; a distinct
        // seed per column keeps offsets independent across columns.
        expr(s"timestampadd(DAY, CAST(floor(rand(${seed + i}) * $span) " +
          s"AS INT) - $range, `${f.name}`)").as(f.name)
      } else col(s"`${f.name}`")
    }
    df.select(cols.toSeq: _*)
  }
}
