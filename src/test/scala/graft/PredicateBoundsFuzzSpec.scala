package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Equivalence fuzz of automatic data skipping: for RANDOM predicates
  * drawn from every extraction family in `PredicateBounds` — numeric /
  * string / temporal comparisons (attribute on either side, strict and
  * closed), BETWEEN, IN lists, Bloom-backed equality probes, and
  * unparseable mixtures (OR, NOT, arithmetic, cross-column) —
  * `readWhere(pred)` must equal `read().where(pred)` row-for-row on a
  * stats-clustered append chain AND on a Bloom-indexed table. The
  * extractor is conservative-by-construction; this spec is the
  * property check that conservatism never turns into row loss, and a
  * prune-rate counter proves the fuzz actually exercises file
  * skipping rather than the fallback full scan.
  */
class PredicateBoundsFuzzSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cats =
    Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel")

  private def ts(k: Long): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
        .plusHours(k))

  private def iso(k: Long): String =
    java.time.LocalDateTime.of(2026, 1, 1, 0, 0).plusHours(k)
      .toLocalDate.toString

  private def rows(lo: Long, n: Long) =
    (lo until lo + n).map(k =>
      (k, cats((k % cats.size).toInt), ts(k), k % 17))

  /** One random atom; most families parse to a bound, the rest are
    * deliberately unparseable (the conservative fallback family).
    */
  private def atom(r: scala.util.Random, maxK: Long): Column = {
    def k = r.nextLong(maxK)
    def cat = cats(r.nextInt(cats.size))
    r.nextInt(14) match {
      case 0 => col("k") >= k
      case 1 => col("k") < k
      case 2 => lit(k) <= col("k") // attribute on the right, op flips
      case 3 => col("k") === k // Bloom probe on the bloom table
      case 4 => col("k").between(k, k + r.nextLong(200))
      case 5 =>
        col("k").isin((0 until r.nextInt(4) + 1).map(_ => k): _*)
      case 6 => col("cat") === cat
      case 7 => col("cat") <= cat
      case 8 => col("cat").between(cat, "zulu")
      case 9 => col("cat").isin(cat, cats(r.nextInt(cats.size)))
      case 10 => col("ts") >= iso(k) // temporal via ISO string literal
      case 11 => col("ts") <= lit(ts(k)) // temporal via typed literal
      case 12 => col("k") % (r.nextLong(7) + 2) === 0 // unparseable
      case 13 => col("v") + col("k") > k // unparseable arithmetic
    }
  }

  /** Random predicate: an AND of 1–3 clauses, where a clause is an
    * atom, an OR of two atoms, or a negated atom — ORs and NOTs are
    * whole-conjunct unparseables the extractor must skip cleanly.
    */
  private def predicate(r: scala.util.Random, maxK: Long): Column =
    (0 until r.nextInt(3) + 1).map { _ =>
      r.nextInt(4) match {
        case 0 | 1 => atom(r, maxK)
        case 2 => atom(r, maxK) || atom(r, maxK)
        case 3 => !atom(r, maxK)
      }
    }.reduce(_ && _)

  test("readWhere == full-scan filter for random predicates over " +
      "every extraction family, on a stats append chain and a Bloom " +
      "table; pruning fires on a meaningful fraction of draws") {
    val statsRoot = s"${graft.config.Scratch.dir}/pbfuzz_stats"
    val bloomRoot = s"${graft.config.Scratch.dir}/pbfuzz_bloom"
    VersionedTable.destroy(spark, statsRoot)
    VersionedTable.destroy(spark, bloomRoot)
    val maxK = 3000L
    val base = rows(0, 2000).toDF("k", "cat", "ts", "v")
    val delta = rows(2000, 1000).toDF("k", "cat", "ts", "v")
    // stats table: range-clustered so numeric+temporal stats prune;
    // string stats on the category; then an APPEND extends the chain
    // (delta files covered by merged sidecar rows)
    VersionedTable.commitWithStats(
      base.repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      statsRoot, statsCols = Seq("k", "ts"),
      stringStatsCols = Seq("cat"))
    VersionedTable.commitAppendWithStats(
      delta.repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      statsRoot, statsCols = Seq("k", "ts"))
    // bloom table: hash-partitioned keys (range stats useless — the
    // probe families carry the pruning)
    VersionedTable.commitWithBloom(
      base.unionByName(delta).repartition(8, col("k")), bloomRoot,
      bloomCols = Seq("k", "cat"), expectedItemsPerFile = 10000L)
    val full = base.unionByName(delta)
      .collect().map(_.toSeq.map(String.valueOf).mkString("\u0001")).toSeq
    def modelOf(pred: Column): Seq[String] =
      base.unionByName(delta).where(pred)
        .collect().map(_.toSeq.map(String.valueOf).mkString("\u0001")).toSeq.sorted
    var pruned = 0
    var draws = 0
    for (seed <- Seq(7L, 19L, 31L)) {
      val r = new scala.util.Random(seed)
      for (i <- 1 to 25) {
        val pred = predicate(r, maxK)
        val want = modelOf(pred)
        for (root <- Seq(statsRoot, bloomRoot)) {
          val v = VersionedTable.latestVersion(spark, root).get
          val got = VersionedTable.readWhere(spark, root, pred)
            .collect().map(_.toSeq.map(String.valueOf).mkString("\u0001")).toSeq.sorted
          assert(got == want,
            s"seed $seed draw $i on $root diverged for $pred: " +
              s"${got.size} vs ${want.size} rows")
          draws += 1
          if (VersionedTable.prunedPathsWhere(spark, root, v, pred)
              .size < VersionedTable.dataFileCount(spark, root, v))
            pruned += 1
        }
      }
    }
    assert(full.size == 3000)
    // the fuzz must actually exercise skipping, not just the
    // conservative full-scan fallback
    assert(pruned * 5 >= draws,
      s"only $pruned of $draws draws pruned any file — the generator " +
        "is not reaching the extraction families")
    VersionedTable.destroy(spark, statsRoot)
    VersionedTable.destroy(spark, bloomRoot)
  }

  test("the string-literal-on-numeric-column trap stays sound: " +
      "lexicographic stats must not prune numerically-compared rows") {
    // col(k) <= '10' compares NUMERICALLY in Spark (k <= 10), but
    // '2' < '10' is FALSE lexicographically — a sidecar carrying
    // string stats for a numeric column must contribute no bound
    // (ADVICE r11: boundsVal gates string bounds on StringType)
    val root = s"${graft.config.Scratch.dir}/pbfuzz_trap"
    VersionedTable.destroy(spark, root)
    val df = (0L until 100L).map(k => (k, k % 5)).toDF("k", "v")
    // force lexicographic stats onto the NUMERIC column — the
    // commitWithStats API accepts arbitrary stringStatsCols
    VersionedTable.commitWithStats(
      df.repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      root, statsCols = Nil, stringStatsCols = Seq("k"))
    val got = VersionedTable.readWhere(spark, root, col("k") <= "10")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L to 10L).toSeq,
      s"string-stats pruning dropped numerically-matching rows: $got")
    VersionedTable.destroy(spark, root)
    // the same trap through a double cast on a STRING column: the
    // comparison runs on the double scale, so neither the string stats
    // nor the Bloom probe of the raw literal may prune ("010" == 10.0)
    val strs = (0L until 100L).map(k => (k, k.toString)).toDF("k", "s")
    VersionedTable.commitWithStats(
      strs.repartitionByRange(4, col("s")).sortWithinPartitions("s"),
      root, statsCols = Nil, stringStatsCols = Seq("s"))
    val le = col("s").cast("double") <= "10"
    assert(VersionedTable.readWhere(spark, root, le).count() == 11L)
    VersionedTable.destroy(spark, root)
    val padded = (0L until 100L).map(k => (k, f"$k%03d")).toDF("k", "s")
    VersionedTable.commitWithBloom(padded.repartition(8, col("k")), root,
      bloomCols = Seq("s"), expectedItemsPerFile = 1000L)
    val eq = col("s").cast("double") === "10"
    assert(VersionedTable.readWhere(spark, root, eq).count() == 1L)
    VersionedTable.destroy(spark, root)
    // an IN list's string range is ordered as the stats are (UTF8
    // bytes): U+FF61 sorts above a surrogate pair in UTF-16, below the
    // astral code point it encodes in UTF8
    val (halfwidth, astral) = ("\uFF61", "\uD83D\uDE00")
    val mixed = (0L until 300L).map(k => (k,
      if (k < 100) halfwidth else if (k < 200) "a" else astral))
      .toDF("k", "s")
    VersionedTable.commitWithStats(
      mixed.repartitionByRange(3, col("k")).sortWithinPartitions("k"),
      root, statsCols = Nil, stringStatsCols = Seq("s"))
    assert(VersionedTable.readWhere(spark, root,
      col("s").isin(halfwidth, astral)).count() == 200L)
    VersionedTable.destroy(spark, root)
    // and a double-cast numeric range prunes exactly as the stats
    // scale does, on a Long column and on a timestamp column (whose
    // stats hold epoch seconds)
    val events = (0L until 800L).map(k => (k,
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(k * 3600))))
      .toDF("k", "ts")
    val v = VersionedTable.commitWithStats(
      events.repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      root, statsCols = Seq("k", "ts"))
    for ((c, lo, hi) <- Seq(("k", 0d, 10d), ("ts", 0d, 36000d))) {
      val viaWhere = VersionedTable.prunedPathsWhere(spark, root, v,
        col(c).cast("double").between(lo, hi))
      assert(viaWhere ==
        VersionedTable.prunedPaths(spark, root, v, Seq((c, lo, hi))),
        s"$c: the double-cast range must prune through its stats")
      assert(viaWhere.size == 1, s"$c kept ${viaWhere.size} of 8 files")
    }
    VersionedTable.destroy(spark, root)
  }
}
