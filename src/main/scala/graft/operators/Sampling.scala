package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row sampling (whiteRRabbit.R:225-272).
  *
  * The reference draws exactly maxRows distinct line numbers and
  * pre-filters them with awk so unsampled lines are never parsed; it is
  * unseeded. The Spark analogue of that pre-filter is a seeded
  * threshold cut on the SAME random key that ranks the sample: keep
  * only rows with key below `p ≈ (k + 4√k + 16)/n`, then take the
  * exact top-k among the survivors. Because the thinning filter and
  * the rank share one key, the result is BIT-IDENTICAL to the
  * unthinned `orderBy(key).limit(k)` whenever at least min(k, n) rows
  * survive — the k best keys overall all sit below the threshold. The
  * ≥4σ Binomial margin makes a shortfall ~3e-5-rare; an exact survivor
  * count catches it and falls back to the unthinned path.
  *
  * Why this matters at 100 TB: plain `orderBy(rand).limit(k)` plans as
  * TakeOrderedAndProject — each partition keeps a k-sized heap, then
  * ALL P·k survivors funnel through ONE final merge. At k = 10^5 and
  * the ~10^5 scan partitions a 100 TB table needs, that is ~10^10 rows
  * on a single node. With the pre-thin, the merge input is the
  * survivor count (~1.05·k rows TOTAL, not per partition), because the
  * filter discards everything else before the heaps ever see it.
  *
  * A seed makes runs reproducible (engine improvement over the
  * reference, SURVEY §7.4.8).
  */
object Sampling {

  /** Oversampled survivor target: k + 4√k + 16 keeps the Binomial
    * shortfall probability under ~3e-5 while bounding the final merge
    * at ~k + O(√k) rows.
    */
  private def thinTarget(k: Int): Double =
    k + 4.0 * math.sqrt(k.toDouble) + 16.0

  /** Exactly min(k, n) uniformly-sampled rows, reproducible per seed.
    *
    * Pass `totalRows` (free from the parquet footer or
    * [[graft.sources.DelimitedSource.fastRowCount]]) to enable the
    * scale path: a `__rand < p` pre-thin ahead of the top-k, verified
    * by an exact survivor count (one column-pruned job: the rows of the
    * filtered scan counted as they stream, no aggregate) with automatic
    * fallback on the rare shortfall. Without it the plain
    * TakeOrderedAndProject runs — fine for small/unknown inputs, a
    * single-node P·k merge at cluster scale. An over- or under-stated
    * `totalRows` only shifts the oversampling margin; the survivor
    * count keeps the result exact either way.
    */
  def exactK(df: DataFrame, k: Int, seed: Long = 42L,
      totalRows: Option[Long] = None): DataFrame = {
    val keyed = df.withColumn("__rand", rand(seed))
    val thinned = totalRows match {
      case Some(n) if k > 0 && thinTarget(k) < n =>
        val pre = keyed.where(col("__rand") < lit(thinTarget(k) / n))
        // rand(seed) is partition-deterministic over an unchanged scan,
        // so this count sees the same keys the final job will.
        if (pre.select().queryExecution.toRdd.count() >= k) pre else keyed
      case _ => keyed
    }
    thinned.orderBy(col("__rand")).limit(k).drop("__rand")
  }

  /** Head-k, the reference's non-random path (whiteRRabbit.R:242,:257). */
  def headK(df: DataFrame, k: Int): DataFrame = df.limit(k)

  /** Exactly min(k, group size) uniformly-sampled rows PER GROUP —
    * the data-mixing primitive of a training pipeline (balance sources
    * / languages / quality buckets before sampling). A per-group rank
    * over a seeded random key.
    *
    * Scale path (on by default): group sizes come from one
    * vocabulary-sized aggregate, each hot group gets the same
    * shared-key threshold pre-thin as [[exactK]] (broadcast of the
    * (group, threshold) map), and an exact per-group survivor check
    * re-admits any shortfall group unthinned. The rank window then
    * orders ~thinTarget(k) rows per group instead of the full group —
    * the window's one-group-per-partition constraint stops being a
    * hot-key bottleneck. Groups are assumed vocabulary-sized
    * (sources, languages, priorities — not user ids).
    */
  def stratifiedExactK(df: DataFrame, groupCol: String, k: Int,
      seed: Long = 42L, preThin: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = df.withColumn("__rand", rand(seed))
    val thinned =
      if (!preThin) keyed
      else {
        val target = thinTarget(k)
        val sizes = df.groupBy(col(groupCol).as("__g"))
          .agg(count(lit(1)).as("__n"))
          .withColumn("__p",
            when(col("__n") > target, lit(target) / col("__n"))
              .otherwise(lit(1.0)))
        // null-safe join: a NULL group is still a group to the window
        val joined = keyed.join(broadcast(sizes),
          col(groupCol) <=> col("__g"))
        val pre = joined.where(col("__rand") < col("__p"))
        val shortfall = pre.groupBy(col("__g"))
          .agg(count(lit(1)).as("__m"), max(col("__n")).as("__n"))
          .where(col("__m") < least(lit(k.toLong), col("__n")))
          .select(col("__g")).collect().map(_.get(0)).toSeq
        val kept =
          if (shortfall.isEmpty) pre
          else joined.where(col("__rand") < col("__p") ||
            col("__g").isin(shortfall: _*) ||
            (col("__g").isNull && lit(shortfall.contains(null))))
        kept.drop("__g", "__n", "__p")
      }
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__rand"))
    thinned.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__rand", "__rn")
  }

  /** Exactly min(k, n) rows sampled WITHOUT replacement with
    * probability proportional to a positive weight column — the
    * "sample by quality score" primitive of a training-data mix.
    * Efraimidis-Spirakis A-Res in exponential form: each row draws
    * e = −ln(u)/w ~ Exp(w) for u ~ U(0,1) and the k SMALLEST e win —
    * the strictly monotone transform of the textbook u^(1/w) keys
    * (largest win), selecting the identical sample with better float
    * resolution at large weights. Rows with non-positive or NULL
    * weight are excluded (they would never be drawn).
    *
    * Scale path (on by default): since #{e_i < t} has mean
    * Σ(1−exp(−w_i·t)) ≤ t·W for W = Σw, the threshold ladder
    * t_j = thinTarget(k)/W · 2^j admits ~k survivors at j = 0 for
    * non-degenerate weight mixes. One aggregate computes the EXACT
    * survivor count at every ladder level plus n; the smallest level
    * with ≥ min(k, n) survivors becomes the pre-thin filter (shared
    * key ⇒ bit-identical to the unthinned top-k), and if even the top
    * level falls short the unthinned path runs. Cost: two
    * column-pruned passes (Σw, then the ladder) before the final
    * filter+top-k — the price that deletes the single-node P·k merge.
    */
  def weightedExactK(df: DataFrame, weightCol: String, k: Int,
      seed: Long = 42L, preThin: Boolean = true): DataFrame = {
    val pos = df.where(col(weightCol) > 0)
    val keyed = pos.withColumn("__key",
      -log(rand(seed)) / col(weightCol).cast("double"))
    val thinned =
      if (!preThin || k <= 0) keyed
      else {
        val wSumRow = pos
          .agg(sum(col(weightCol).cast("double")).as("w")).first()
        val wSum = if (wSumRow.isNullAt(0)) 0.0 else wSumRow.getDouble(0)
        if (!(wSum > 0)) keyed
        else {
          val ladder = (0 until 34).map(j =>
            thinTarget(k) / wSum * math.pow(2.0, j))
          val aggs = ladder.map(t =>
            sum(when(col("__key") < t, 1L).otherwise(0L))) :+
            count(lit(1))
          val counts = keyed.agg(aggs.head, aggs.tail: _*).first()
          val n = counts.getLong(ladder.length)
          val need = math.min(k.toLong, n)
          ladder.indices.find(j => counts.getLong(j) >= need) match {
            case Some(j) => keyed.where(col("__key") < lit(ladder(j)))
            case None => keyed
          }
        }
      }
    thinned.orderBy(col("__key")).limit(k).drop("__key")
  }

  /** Exactly min(k, positive-weight group size) rows PER GROUP,
    * sampled without replacement with probability proportional to
    * `weightCol` — the combined source-balancing + quality-weighting
    * primitive of a training-data mix (per source: k docs, biased by
    * quality). A-Res exponential keys ([[weightedExactK]]) ranked per
    * group.
    *
    * Scale path (on by default), one exact counting pass: every row's
    * ladder level ⌈log2(e·W_g / target)⌉ (clamped to [0, 63]) is a
    * DETERMINISTIC expression the final filter reuses verbatim, so
    * the per-(group, level) counts decide exactly how many rows each
    * candidate per-group threshold admits; the smallest level
    * admitting ≥ min(k, n_g) survivors becomes that group's cut (the
    * top level admits the whole group, so a cut always exists — no
    * fallback rerun). Only ~target survivors per group reach the rank
    * window, so hot groups never funnel their full membership through
    * one window partition. Groups are assumed vocabulary-sized.
    */
  def weightedStratifiedExactK(df: DataFrame, groupCol: String,
      weightCol: String, k: Int, seed: Long = 42L,
      preThin: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = df.where(col(weightCol) > 0)
    val keyed = pos.withColumn("__key",
      -log(rand(seed)) / col(weightCol).cast("double"))
    val thinned =
      if (!preThin || k <= 0) keyed
      else {
        val target = thinTarget(k)
        val stats = pos.groupBy(col(groupCol).as("__g"))
          .agg(sum(col(weightCol).cast("double")).as("__w"),
            count(lit(1)).as("__n"))
        val joined = keyed.join(broadcast(stats),
          col(groupCol) <=> col("__g"))
        val lvl = greatest(least(
          ceil(log(2.0, col("__key") * col("__w") / lit(target))),
          lit(63.0)), lit(0.0)).cast("int")
        val withLvl = joined.withColumn("__lvl", lvl)
        val counts = withLvl.groupBy(col("__g"), col("__lvl"))
          .agg(count(lit(1)).as("__c"))
          .collect().map(r => (r.get(0), r.getInt(1), r.getLong(2)))
        val needByG = stats.collect()
          .map(r => r.get(0) -> math.min(k.toLong, r.getLong(2))).toMap
        val cutByG: Map[Any, Int] = counts.groupBy(_._1).map {
          case (g, rows) =>
            val need = needByG.getOrElse(g, 0L)
            val byLvl = rows.map(r => r._2 -> r._3).toMap
            var cum = 0L
            var cut = 63
            var l = 0
            var found = false
            while (l <= 63 && !found) {
              cum += byLvl.getOrElse(l, 0L)
              if (cum >= need) { cut = l; found = true }
              l += 1
            }
            g -> cut
        }
        val cutExpr = cutByG.foldLeft(lit(63): Column) {
          case (acc, (g, c)) =>
            if (g == null) when(col(groupCol).isNull, lit(c)).otherwise(acc)
            else when(col(groupCol) <=> lit(g), lit(c)).otherwise(acc)
        }
        withLvl.where(col("__lvl") <= cutExpr)
          .drop("__g", "__w", "__n", "__lvl")
      }
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__key"))
    thinned.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__key", "__rn")
  }

  /** Deterministic train/validation/test splitting by key hash — the
    * assignment every training-data pipeline needs to be REPRODUCIBLE
    * and stable under reruns, appends, and repartitioning (unlike
    * `randomSplit`, whose assignment depends on partition layout). The
    * key is mixed with THREE iterated MINSTD Lehmer steps,
    * h ← (h·48271) mod (2^31−1) — one step leaves small ids
    * un-wrapped (id·48271 < 2^31 maps every small key below the first
    * cut); three spread any key range across the full interval. The
    * arithmetic stays inside BIGINT, so it is ANSI-safe in Spark and
    * replayable verbatim in a SQL oracle; the unit interval
    * h/(2^31−1) is cut at the cumulative split fractions.
    *
    * A pure projection: no shuffle, no state; the split column
    * partitions downstream writes (`partitionBy("split")`).
    *
    * @param splits (name, fraction) pairs summing to ~1; the last
    *   split absorbs rounding.
    */
  def assignSplits(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val m = 2147483647L // 2^31 - 1
    val h = (1 to 3).foldLeft(col(idCol).cast("long")) {
      (acc, _) => pmod(acc * lit(48271L), lit(m))
    }
    val u = h.cast("double") / lit(m.toDouble)
    val cuts = splits.scanLeft(0.0)(_ + _._2).tail
    val expr = splits.zip(cuts).init.foldRight(
      lit(splits.last._1): Column) {
      case (((name, _), cut), rest) => when(u < cut, lit(name)).otherwise(rest)
    }
    df.withColumn("split", expr)
  }

  /** The reference's row-cap policy: sample only when the table exceeds
    * maxRows (whiteRRabbit.R:225-272). The reference caps only for
    * maxRows > 0 (whiteRRabbit.R:225,:259,:268), so 0 and negative both
    * mean "all rows" — limit(0) would silently empty the table.
    * `totalRows` (the scan's already-computed line count) feeds
    * [[exactK]]'s pre-thin — the analogue of the reference's awk
    * line-number pre-filter, whiteRRabbit.R:229-236.
    */
  def cap(df: DataFrame, maxRows: Long, randomSample: Boolean,
      seed: Long = 42L, totalRows: Option[Long] = None): DataFrame =
    if (maxRows <= 0) df
    else {
      require(maxRows <= Int.MaxValue,
        s"maxRows $maxRows exceeds Int.MaxValue; use maxRows <= 0 for all rows")
      if (randomSample) exactK(df, maxRows.toInt, seed, totalRows)
      else headK(df, maxRows.toInt)
    }
}
