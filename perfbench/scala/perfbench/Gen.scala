package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.util.Random

/** Seeded single-process input generator with a ground-truth manifest.
  *
  * The same (workload, seed) always gives byte-identical files: every
  * value comes from `java.util.Random` streams keyed by the seed and
  * is rendered without locale-dependent formatting. Inputs are written
  * once per (workload, seed) under `<work>/data` and reused, so
  * generation is never timed.
  */
object Gen {

  // Summary-sheet DataType labels for the three promotion outcomes
  val Numeric = "numeric"
  val Character = "character"
  val Datetime = "POSIXct, POSIXt"

  /** One generated cell: its text in the file, and its typed identity
    * after the scan reads and promotes it (null = missing: an empty
    * cell, or a value the promotion turns into NULL). Distinct counts
    * are counts of distinct non-null keys.
    */
  final case class Cell(text: String, key: Any)

  private val words = Vector("alpha", "bravo", "delta", "echo", "kilo",
    "lima", "oscar", "papa", "romeo", "sierra", "tango", "victor")
  private val garbage = Vector("unknown", "pending", "n/a", "tbd",
    "missing", "see notes")
  private val categories = Vector("inpatient" -> 40, "outpatient" -> 25,
    "emergency" -> 15, "home" -> 8, "telehealth" -> 5, "lab" -> 4,
    "pharmacy" -> 2, "other" -> 1)
  private val day0 = java.time.LocalDate.of(2015, 1, 1).toEpochDay
  private val MicrosPerDay = 86400L * 1000000L

  private def pad2(i: Int): String = if (i < 10) s"0$i" else i.toString

  private def isoDate(r: Random): Cell = {
    val d = java.time.LocalDate.ofEpochDay(day0 + r.nextInt(3650))
    Cell(s"${d.getYear}-${pad2(d.getMonthValue)}-${pad2(d.getDayOfMonth)}",
      d.toEpochDay * MicrosPerDay)
  }

  /** Column kinds of FIXTURES.md §B, each with the type the scan
    * should promote it to. `cell(r, i, n)` renders row i of n.
    */
  sealed abstract class Kind(val name: String, val intended: String) {
    /** Whether the manifest keeps the count of every value, so the
      * frequency table of an unsampled file can be checked exactly.
      */
    def exactFreq: Boolean = false
    def cell(r: Random, i: Int, n: Int): Cell
  }
  object Id extends Kind("id", Numeric) {
    def cell(r: Random, i: Int, n: Int) = Cell((i + 1).toString, (i + 1).toDouble)
  }
  object Amount extends Kind("amount", Numeric) {
    // missing cells are empty only: the program types a decimal column
    // with literal NA cells as character, where the reference (fread,
    // na.strings = "NA") reads NA as missing. The timed workloads must
    // run without failures, so that standing defect is left to
    // `--selftest`, which fails on it.
    def cell(r: Random, i: Int, n: Int) = {
      if (r.nextDouble() < 0.08) Cell("", null)
      else {
        val cents = r.nextInt(500000)
        val t = s"${cents / 100}.${pad2(cents % 100)}"
        Cell(t, java.lang.Double.parseDouble(t))
      }
    }
  }
  object Score extends Kind("score", Numeric) {
    def cell(r: Random, i: Int, n: Int) = {
      val v = r.nextInt(1000000)
      val t = s"${v / 1000}.${(v % 1000 + 1000).toString.substring(1)}"
      Cell(t, java.lang.Double.parseDouble(t))
    }
  }
  object AlmostNumeric extends Kind("almost_numeric", Character) {
    // one-decimal numbers: the program parses 4-6 digit integers as
    // bare years and promotes such a column to datetime, a standing
    // defect left to `--selftest` like Amount's NA cells
    def cell(r: Random, i: Int, n: Int) = {
      val t = if (r.nextDouble() < 0.85) s"${r.nextInt(1000)}.${r.nextInt(10)}"
        else words(r.nextInt(words.length))
      Cell(t, t)
    }
  }
  object MostlyText extends Kind("mostly_text", Character) {
    def cell(r: Random, i: Int, n: Int) = {
      val t = if (r.nextDouble() < 0.7)
          s"${words(r.nextInt(words.length))} ${words(r.nextInt(words.length))}"
        else r.nextInt(1000).toString
      Cell(t, t)
    }
  }
  object IsoDate extends Kind("iso_date", Datetime) {
    def cell(r: Random, i: Int, n: Int) =
      if (r.nextDouble() < 0.1) Cell("", null) else isoDate(r)
  }
  object UsDatetime extends Kind("us_datetime", Datetime) {
    def cell(r: Random, i: Int, n: Int) = {
      val d = java.time.LocalDate.ofEpochDay(day0 + r.nextInt(3650))
      val s = r.nextInt(86400)
      Cell(s"${pad2(d.getMonthValue)}/${pad2(d.getDayOfMonth)}/${d.getYear} " +
        s"${pad2(s / 3600)}:${pad2(s / 60 % 60)}:${pad2(s % 60)}",
        (d.toEpochDay * 86400L + s) * 1000000L)
    }
  }
  object DirtyDate extends Kind("dirty_date", Datetime) {
    def cell(r: Random, i: Int, n: Int) =
      if (r.nextDouble() < 0.15) Cell(garbage(r.nextInt(garbage.length)), null)
      else isoDate(r)
  }
  object Category extends Kind("category", Character) {
    override def exactFreq = true
    private val total = categories.map(_._2).sum
    def cell(r: Random, i: Int, n: Int) = {
      // two values sit below min_cell_count = 5: three rows each
      if (n >= 100 && i % (n / 3) == 7) Cell("rare_a", "rare_a")
      else if (n >= 100 && i % (n / 3) == 8) Cell("rare_b", "rare_b")
      else {
        var u = r.nextInt(total)
        val c = categories.find { case (_, w) => u -= w; u < 0 }.get._1
        Cell(c, c)
      }
    }
  }
  object HighCard extends Kind("high_card", Character) {
    def cell(r: Random, i: Int, n: Int) = {
      val t = "u" + r.nextInt(math.max(1, n / 2))
      Cell(t, t)
    }
  }
  object AllEmpty extends Kind("all_empty", Character) {
    def cell(r: Random, i: Int, n: Int) = Cell("", null)
  }
  object Code extends Kind("code", Character) {
    override def exactFreq = true
    def cell(r: Random, i: Int, n: Int) = {
      val t = "C" + (r.nextInt(40) * r.nextInt(40) / 40)
      Cell(t, t)
    }
  }

  val allKinds: Seq[Kind] = Seq(Id, Amount, AlmostNumeric, MostlyText,
    IsoDate, UsDatetime, DirtyDate, Category, HighCard, AllEmpty, Score, Code)

  /** Ground truth of one column over the WHOLE file. `empty` counts
    * cells the report lists as empty strings: the CSV read turns empty
    * fields into NULL, so it is zero for every kind. `maxCount` is the
    * count of the most frequent non-missing value; `counts` holds every
    * value's count for the kinds with `exactFreq`, else it is empty.
    */
  final case class ColTruth(name: String, intended: String,
      nonMissing: Long, missing: Long, empty: Long, distinct: Long,
      maxCount: Long, counts: Map[String, Long])
  final case class FileTruth(name: String, dataRows: Int,
      cols: Seq[ColTruth])

  /** Write one TSV of `rows` rows with the given kinds; returns its truth. */
  def writeTsv(f: File, kinds: Seq[Kind], rows: Int, r: Random): FileTruth = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), UTF_8), 1 << 16)
    val nonNull = Array.fill(kinds.length)(0L)
    val keys = Array.fill(kinds.length)(mutable.HashMap.empty[Any, Long])
    try {
      w.write(kinds.map(_.name).mkString("\t")); w.write('\n')
      var i = 0
      while (i < rows) {
        var j = 0
        while (j < kinds.length) {
          val c = kinds(j).cell(r, i, rows)
          if (j > 0) w.write('\t')
          w.write(c.text)
          if (c.key != null) {
            nonNull(j) += 1
            keys(j)(c.key) = keys(j).getOrElse(c.key, 0L) + 1
          }
          j += 1
        }
        w.write('\n')
        i += 1
      }
    } finally w.close()
    FileTruth(f.getName, rows, kinds.indices.map { j =>
      ColTruth(kinds(j).name, kinds(j).intended, nonNull(j),
        rows - nonNull(j), 0L, keys(j).size.toLong,
        keys(j).values.maxOption.getOrElse(0L),
        if (kinds(j).exactFreq) keys(j).map { case (k, v) => k.toString -> v }.toMap
        else Map.empty)
    })
  }

  // ---------------------------------------------------------------- corpus

  final case class CorpusTruth(nDocs: Int, exactCopies: Long,
      nearPairs: Seq[(Long, Long)], semPairs: Seq[(Long, Long)],
      nVecs: Int)

  /** Lowercased whitespace tokens → distinct 3-token shingles: the
    * set whose Jaccard `Dedup.minhashPairs` verifies (it hashes the
    * same shingles; only a 64-bit collision could tell them apart).
    */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = text.toLowerCase.split(" ", -1)
    if (t.length < n) Set.empty
    else t.sliding(n).map(_.mkString("\u0001")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Docs with planted exact-duplicate and near-duplicate groups, plus
    * clustered embeddings with planted near-duplicate vectors.
    *
    *   - vocabulary: 5000 random lowercase words, Zipf(1.07) usage;
    *     the word of rank k has 2 + k % 8 letters, so text lengths do
    *     not depend on the seed; 30-70 tokens per document (~330 chars
    *     mean);
    *   - of every 100 draws, 6 start an exact group of 2-4 identical
    *     copies and 5 a near group of a base plus 1-2 variants (one token
    *     appended, the last one dropped, or the first one replaced):
    *     every in-group pair has Jaccard ≥ 0.9, far above the 0.7
    *     threshold, so MinHash-LSH at 16×4 misses one with p < 1e-9;
    *   - embeddings: `clusters` Gaussian clusters in 64-d (within-cluster
    *     cosine ~0.7), vector i in cluster i % clusters; 3% of the
    *     vectors from id `clusters` on copy an earlier one plus tiny
    *     noise (cosine > 0.999). The first `clusters` vectors, which
    *     semanticNearDupPairs takes as its centroids, sit one in each
    *     cluster, so its bucket sizes do not depend on the seed either.
    */
  def writeCorpus(dir: File, nDocs: Int, nVecs: Int, r: Random,
      threshold: Double, clusters: Int): CorpusTruth = {
    val vocab = {
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < 5000)
        s += Iterator.fill(2 + s.size % 8)(('a' + r.nextInt(26)).toChar).mkString
      s.toVector
    }
    val cdf = {
      val w = vocab.indices.map(k => math.pow(k + 1, -1.07))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
    }
    def doc(): Vector[String] = Vector.fill(30 + r.nextInt(41))(word())

    val texts = mutable.ArrayBuffer.empty[String]
    val nearGroups = mutable.ArrayBuffer.empty[Seq[Int]]
    var exactCopies = 0L
    var draws = 0
    while (texts.length < nDocs) {
      val slot = draws % 100
      draws += 1
      val base = doc()
      val room = nDocs - texts.length
      if (slot < 6 && room >= 2) {
        val k = math.min(2 + r.nextInt(3), room)
        texts ++= Seq.fill(k)(base.mkString(" "))
        exactCopies += k - 1
      } else if (slot < 11 && room >= 2) {
        val variants = Seq(
          base :+ word(),
          base.init,
          { var w = word(); while (w == base.head) w = word(); w +: base.tail })
        val k = math.min(1 + r.nextInt(2), room - 1)
        val picked = r.shuffle(variants).take(k)
        val start = texts.length
        texts += base.mkString(" ")
        texts ++= picked.map(_.mkString(" "))
        nearGroups += (start to start + k)
      } else texts += base.mkString(" ")
    }
    // ids: a seeded permutation, so groups are spread over the file
    val perm = r.shuffle((0 until nDocs).toVector)
    val idOf = perm // idOf(position) = id
    val nearPairs = nearGroups.toSeq.flatMap { g =>
      val sh = g.map(p => shingles(texts(p)))
      for {
        a <- g.indices; b <- g.indices if a < b
        if jaccard(sh(a), sh(b)) >= threshold
      } yield {
        val (x, y) = (idOf(g(a)).toLong, idOf(g(b)).toLong)
        (math.min(x, y), math.max(x, y))
      }
    }.sorted
    val byId = new Array[String](nDocs)
    texts.indices.foreach(p => byId(idOf(p)) = texts(p))
    writeLines(new File(dir, "docs.tsv"),
      Iterator.range(0, nDocs).map(i => s"$i\t${byId(i)}"))

    val dim = 64
    val centers = Array.fill(clusters, dim)(r.nextGaussian().toFloat)
    val vecs = new Array[Array[Float]](nVecs)
    val semPairs = mutable.ArrayBuffer.empty[(Long, Long)]
    for (i <- 0 until nVecs) {
      vecs(i) =
        if (i >= clusters && r.nextDouble() < 0.03) {
          val src = r.nextInt(i)
          semPairs += ((src.toLong, i.toLong))
          vecs(src).map(x => (x + 0.01 * r.nextGaussian()).toFloat)
        } else {
          val c = centers(i % clusters)
          c.map(x => (x + 0.6 * r.nextGaussian()).toFloat)
        }
    }
    writeLines(new File(dir, "emb.tsv"), Iterator.range(0, nVecs).map(i =>
      s"$i\t${vecs(i).map(java.lang.Float.toString).mkString(",")}"))
    CorpusTruth(nDocs, exactCopies, nearPairs, semPairs.toSeq, nVecs)
  }

  def writeLines(f: File, lines: Iterator[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  /** Version of the generated files and manifests; bump it with any
    * change to what the generator writes.
    */
  val Version = 4

  /** Cache key of generated inputs: workload, seed and a digest of the
    * generator version, sizes and shapes, so a changed generator or a
    * resized workload never reads stale inputs.
    */
  def key(workload: String, seed: Long, shape: Any): String =
    f"$workload-s$seed-${(Version, shape).toString.hashCode}%08x"

  /** Generate into `<dir>.tmp-*`, then rename to `dir` — an interrupted
    * generation never leaves a half-written cache entry behind.
    */
  def cached(dir: File)(gen: File => Unit): File = {
    if (!new File(dir, ".done").isFile) {
      dir.getParentFile.mkdirs()
      val tmp = Files.createTempDirectory(dir.getParentFile.toPath,
        dir.getName + ".tmp-").toFile
      gen(tmp)
      new File(tmp, ".done").createNewFile()
      Util.rmrf(dir)
      Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    dir
  }
}
