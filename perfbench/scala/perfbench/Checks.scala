package perfbench

import scala.collection.mutable

import perfbench.Gen.{ColTruth, FileTruth}

/** Output checks. Each returns the list of failures (empty = correct);
  * a failure counts into the run's `failed`.
  */
object Checks {

  /** A scan report read back from disk: the overview rows, and per
    * file `FileN` its summary and frequency rows, each a map from the
    * sheet's header to the cell (null for an empty cell).
    */
  final case class Report(overview: Seq[Map[String, String]],
      summary: Map[String, Seq[Map[String, String]]],
      freq: Map[String, Seq[Map[String, String]]])

  private def long(v: String): Long = if (v == null) -1L else v.toDouble.toLong

  /** `maxRows` is the scan's row cap; a file over it is sampled, so
    * only invariants hold for its counts, while a file under it must
    * match the generator's truth exactly.
    */
  def scan(rep: Report, truth: Seq[FileTruth], maxRows: Long,
      minCellCount: Long, maxDistinctValues: Int): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    def expect(cond: Boolean, what: => String): Unit = if (!cond) bad += what
    expect(rep.overview.length == truth.length,
      s"overview lists ${rep.overview.length} files, expected ${truth.length}")
    for (o <- rep.overview) {
      val fname = o("FileName")
      val table = o("Table")
      truth.find(_.name == fname) match {
        case None => bad += s"overview names unknown file $fname"
        case Some(t) =>
          val capped = maxRows > 0 && t.dataRows > maxRows
          val checked = if (capped) maxRows else t.dataRows.toLong
          expect(long(o("N_rows")) == t.dataRows + 1L,
            s"$fname N_rows ${o("N_rows")} != ${t.dataRows + 1}")
          expect(long(o("N_Fields")) == t.cols.length,
            s"$fname N_Fields ${o("N_Fields")} != ${t.cols.length}")
          expect(long(o("N_rows_checked")) == checked,
            s"$fname N_rows_checked ${o("N_rows_checked")} != $checked")
          val allEmpty = t.cols.count(_.nonMissing == 0)
          expect(long(o("N_Fields_Empty")) == allEmpty,
            s"$fname N_Fields_Empty ${o("N_Fields_Empty")} != $allEmpty")
          val sum = rep.summary.getOrElse(table, Nil)
          expect(sum.map(_("Column")).sorted == t.cols.map(_.name).sorted,
            s"$fname summary columns ${sum.map(_("Column"))}")
          for (s <- sum; c <- t.cols.find(_.name == s("Column")))
            bad ++= summaryRow(fname, s, c, checked, capped)
          bad ++= freq(fname, rep.freq.getOrElse(table, Nil), t, capped,
            minCellCount, maxDistinctValues)
      }
    }
    bad.toSeq
  }

  private def summaryRow(f: String, s: Map[String, String], c: ColTruth,
      checked: Long, capped: Boolean): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val at = s"$f.${c.name}"
    if (s("DataType") != c.intended)
      bad += s"$at DataType ${s("DataType")} != ${c.intended}"
    val (tot, nm, miss, emp, dist) = (long(s("TotalCount")),
      long(s("NonMissingCount")), long(s("MissingCount")),
      long(s("EmptyCount")), long(s("DistinctCount")))
    if (tot != checked) bad += s"$at TotalCount $tot != $checked"
    if (nm + miss + emp != tot) bad += s"$at counts do not add up to $tot"
    if (!capped) {
      if (nm != c.nonMissing) bad += s"$at NonMissingCount $nm != ${c.nonMissing}"
      if (miss != c.missing) bad += s"$at MissingCount $miss != ${c.missing}"
      if (emp != c.empty) bad += s"$at EmptyCount $emp != ${c.empty}"
      if (dist != c.distinct) bad += s"$at DistinctCount $dist != ${c.distinct}"
    } else {
      // a sample can only lose values
      if (nm > c.nonMissing) bad += s"$at NonMissingCount $nm > ${c.nonMissing}"
      if (dist > math.min(nm, c.distinct)) bad += s"$at DistinctCount $dist too high"
      if (c.nonMissing == 0 && nm != 0) bad += s"$at all-empty column has values"
    }
    bad.toSeq
  }

  /** Frequency tables of one file. Every file: per-table invariants.
    * A file under the cap: every non-date column has a table exactly
    * when one of its values reaches `minCellCount`, and the kinds whose
    * value counts the manifest keeps must list exactly those values
    * with their counts.
    */
  private def freq(f: String, rows: Seq[Map[String, String]], t: FileTruth,
      capped: Boolean, minCellCount: Long, maxDistinct: Int): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val byCol = rows.groupBy(_("Column"))
    for ((col, rs) <- byCol) {
      t.cols.find(_.name == col) match {
        case None => bad += s"$f freq names unknown column $col"
        case Some(c) =>
          if (c.intended == Gen.Datetime)
            bad += s"$f.$col is a date column with a frequency table"
          val pct = rs.map(_("Percentage").toDouble).sum
          if (math.abs(pct - 1.0) > 1e-9)
            bad += s"$f.$col frequency percentages sum to ${pct * 100}%"
          val counts = rs.map(r => long(r("Count")))
          if (counts.exists(_ < minCellCount))
            bad += s"$f.$col frequency count below min_cell_count"
          if (rs.length > maxDistinct)
            bad += s"$f.$col has ${rs.length} frequency rows > $maxDistinct"
          if (!capped && counts.sum > c.nonMissing)
            bad += s"$f.$col frequency counts exceed non-missing"
      }
    }
    if (!capped) for (c <- t.cols if c.intended != Gen.Datetime) {
      val has = byCol.contains(c.name)
      if (!has && c.maxCount >= minCellCount)
        bad += s"$f.${c.name} has no frequency table, its top value occurs ${c.maxCount}x"
      if (has && c.maxCount < minCellCount)
        bad += s"$f.${c.name} has a frequency table, no value occurs $minCellCount times"
      val kept = c.counts.filter(_._2 >= minCellCount)
      if (c.counts.nonEmpty && kept.size <= maxDistinct) {
        val got = byCol.getOrElse(c.name, Nil).map(r => r("Value") -> long(r("Count"))).toMap
        if (got != kept)
          bad += s"$f.${c.name} frequencies ${got.toSeq.sorted.take(4)} != ${kept.toSeq.sorted.take(4)}"
      }
    }
    bad.toSeq
  }

  /** What one corpus operation produced, collected for checking. */
  final case class CorpusOut(nDistinct: Long,
      pairs: Seq[(Long, Long, Double)], curatedIds: Set[Long],
      distinctIds: Set[Long], semPairs: Seq[(Long, Long, Double)])

  /** Connected components of `pairs` as id → smallest id of its component. */
  def components(pairs: Seq[(Long, Long, Double)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def corpus(o: CorpusOut, truth: Gen.CorpusTruth, texts: Int => String,
      vecs: Int => Array[Float], jaccardAt: Double,
      cosineAt: Double): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val exactRemoved = truth.nDocs - o.nDistinct
    if (exactRemoved != truth.exactCopies)
      bad += s"exact dedup removed $exactRemoved docs, planted ${truth.exactCopies}"
    for ((a, b, jac) <- o.pairs) {
      val j = Gen.jaccard(Gen.shingles(texts(a.toInt)), Gen.shingles(texts(b.toInt)))
      if (j < jaccardAt - 1e-6 || math.abs(j - jac) > 1e-6)
        bad += s"pair ($a,$b) reports Jaccard $jac, true $j"
    }
    val reported = o.pairs.map(p => (p._1, p._2)).toSet
    val missed = truth.nearPairs.filterNot(reported)
    if (missed.nonEmpty)
      bad += s"${missed.length} planted near-dup pairs missing, e.g. ${missed.head}"
    val comp = components(o.pairs)
    val expected = o.distinctIds -- comp.collect { case (k, r) if k != r => k }
    if (o.curatedIds != expected)
      bad += s"curated corpus has ${o.curatedIds.size} docs, expected ${expected.size}"
    for ((a, b, cos) <- o.semPairs) {
      val c = cosine(vecs(a.toInt), vecs(b.toInt))
      if (c < cosineAt - 1e-6 || math.abs(c - cos) > 1e-6)
        bad += s"semantic pair ($a,$b) reports cosine $cos, true $c"
    }
    bad.toSeq
  }
}
