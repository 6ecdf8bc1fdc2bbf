package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Scan, ScanMain, TableScanResult}
import graft.config.ScanConfig
import graft.operators.{Dedup, Frequency, Profile, Sampling, Similarity,
  TypeInference}
import graft.sinks.{ReportSink, XlsxSink}
import graft.sources.DelimitedSource

/** One benchmark workload: seeded inputs, the operation a user runs
  * on them, and the checks of its output.
  */
trait Workload {
  type Out
  def name: String
  /** Input rows (documents + vectors for the corpus) one operation reads. */
  def inputRows: Long
  /** Number of input tables; 0 when the workload has no scan. */
  def files: Int
  /** Seconds of unmeasured operations after the cold one, until the
    * JIT has compiled the operation's hot code and its time levels off.
    */
  def warmupS: Double = 12.0
  /** Generate the inputs of `seed` (or reuse them) and load their truth. */
  def prepare(data: File, seed: Long): Unit
  /** One operation, inputs → outputs under `out`. With a tracer each
    * call into a layer runs in its own span.
    */
  def run(spark: SparkSession, out: File, tr: Option[Tracer]): Out
  /** Failures in an operation's output; empty when it is correct. */
  def check(spark: SparkSession, out: File, o: Out): Seq[String]
  /** Per-layer counts of a traced operation (not times). */
  def counts(spark: SparkSession, out: File, o: Out): Map[String, Double]
  /** Standalone probes of the lazy layers of a traced operation. */
  def probes(tr: Tracer, o: Out): Unit = ()
  def release(o: Out): Unit = ()
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "scan_large" =>
      // File 1 is over the cap, so Sampling.cap draws a real sample;
      // file 2 passes whole.
      new ScanWorkload(name, Seq(
        ScanFile("claims.tsv", Gen.allKinds, 21000),
        ScanFile("visits.tsv", Seq(Gen.Id, Gen.Amount, Gen.IsoDate,
          Gen.DirtyDate, Gen.Category, Gen.HighCard, Gen.AllEmpty,
          Gen.AlmostNumeric), 5400)),
        Seq("--output_format", "tsv", "--maxRows", "10500",
          "--random_sample", "true"))
    case "scan_many_small" =>
      // Fixed shapes (the seed only changes cell values): 100-400 rows,
      // 6-10 columns, the kinds rotating through FIXTURES.md §B.
      val others = Gen.allKinds.tail
      new ScanWorkload(name, (0 until 8).map { k =>
        val ncols = 6 + k % 5
        val kinds = Gen.Id +: (others.drop(k % others.length) ++
          others.take(k % others.length)).take(ncols - 1)
        ScanFile(f"t$k%02d.tsv", kinds, 100 + (k * 131) % 301)
      }, Nil) // reference defaults: --maxRows 100000, xlsx output
    case "corpus_curate" => new CorpusWorkload(10000, 2500)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

final case class ScanFile(name: String, kinds: Seq[Gen.Kind], rows: Int)

/** One file of a traced scan: the frames the lazy layers build, for
  * the probes, and the file's scan result.
  */
final case class TracedFile(raw: DataFrame, capped: DataFrame,
    typed: DataFrame, result: TableScanResult, freqRows: Int)

/** What one corpus operation leaves for its checks: the materialized
  * distinct documents and pairs, the semantic pairs, the output dir.
  */
final case class CorpusRun(distinct: DataFrame, pairs: DataFrame,
    sem: Array[Row], out: File)

/** Folder of delimited files → scan report (the paper's product).
  * The untraced operation is `ScanMain.run`; the traced one calls the
  * layers per file in `Scan.scanTable`'s order, on the harness thread.
  */
final class ScanWorkload(val name: String, specs: Seq[ScanFile],
    options: Seq[String]) extends Workload {

  type Out = Seq[TracedFile]

  val inputRows: Long = specs.map(_.rows.toLong).sum
  val files: Int = specs.length
  private var in: File = _
  private[perfbench] var truth: Seq[Gen.FileTruth] = Nil

  def config(out: File, cores: Int): ScanConfig = ScanMain.parse((Seq(
    "--working_folder", in.getPath, "--output_dir", out.getPath,
    "--cpus", cores.toString) ++ options).toArray)

  def prepare(data: File, seed: Long): Unit = {
    val dir = Gen.cached(new File(data, Gen.key(name, seed, specs))) { d =>
      val inDir = new File(d, "in"); inDir.mkdirs()
      val t = specs.zipWithIndex.map { case (s, k) =>
        Gen.writeTsv(new File(inDir, s.name), s.kinds, s.rows,
          new Random(seed * 1000003L + k))
      }
      Util.writeString(new File(d, "truth.tsv"), t.flatMap { f =>
        s"file\t${f.name}\t${f.dataRows}" +: f.cols.flatMap { c =>
          Seq("col", f.name, c.name, c.intended, c.nonMissing, c.missing,
            c.empty, c.distinct, c.maxCount).mkString("\t") +:
          c.counts.toSeq.sorted.map { case (v, n) =>
            Seq("val", f.name, c.name, v, n).mkString("\t")
          }
        }
      }.mkString("", "\n", "\n"))
    }
    in = new File(dir, "in")
    val lines = Util.readLines(new File(dir, "truth.tsv")).map(_.split("\t", -1))
    truth = lines.filter(_(0) == "file").map { f =>
      def of(kind: String, l: Array[String]) = l(0) == kind && l(1) == f(1)
      Gen.FileTruth(f(1), f(2).toInt, lines.filter(of("col", _)).map { l =>
        Gen.ColTruth(l(2), l(3), l(4).toLong, l(5).toLong, l(6).toLong,
          l(7).toLong, l(8).toLong, lines.filter(v => of("val", v) && v(2) == l(2))
            .map(v => v(3) -> v(4).toLong).toMap)
      })
    }
  }

  private def cores(spark: SparkSession) = spark.sparkContext.defaultParallelism

  def run(spark: SparkSession, out: File, tr: Option[Tracer]): Out = {
    Util.rmrf(out)
    val cfg = config(out, cores(spark))
    tr match {
      case None => ScanMain.run(spark, cfg); Nil
      case Some(t) => traced(spark, t, cfg, out)
    }
  }

  private def isDateLike(dt: DataType): Boolean =
    dt == TimestampType || dt == DateType || dt == TimestampNTZType

  private def traced(spark: SparkSession, tr: Tracer, cfg: ScanConfig,
      out: File): Out = tr.span("op") {
    val paths = tr.span("sources.listFiles") {
      DelimitedSource.listFiles(spark, cfg.workingFolder, cfg.filePattern)
    }
    val perFile = paths.map(p => tr.span("file")(scanFile(spark, tr, p, cfg)))
    val results = perFile.map(_.result)
    val overview = Scan.overview(spark, results)
    def sink(call: String)(write: => Unit): Unit = {
      val before = Util.treeBytes(out)
      tr.span(s"sinks.$call") { write }
      tr.allSpans.last.bytesWritten = Util.treeBytes(out) - before
    }
    val (dir, prefix) = (cfg.outputDir, cfg.prefix)
    cfg.outputFormat match {
      case "tsv" =>
        sink("writeTsv")(ReportSink.writeTsv(dir, prefix, overview, results))
      case "xlsx" =>
        sink("writeXlsx")(ReportSink.writeXlsx(dir, prefix, overview, results))
        sink("writeWorkbook")(
          ReportSink.writeWorkbook(dir, prefix, overview, results))
    }
    perFile
  }

  /** `Scan.scanTable`'s steps, one span per layer call. The local
    * re-wrap of the collected sheets mirrors scanTable's.
    */
  private def scanFile(spark: SparkSession, tr: Tracer, path: String,
      cfg: ScanConfig): TracedFile = {
    val lines = tr.span("sources.fastRowCount") {
      DelimitedSource.fastRowCount(spark, path)
    }
    val raw = tr.span("sources.read")(DelimitedSource.read(spark, path, cfg.sep))
    val capped = tr.span("sampling.cap") {
      Sampling.cap(raw, cfg.maxRows, cfg.randomSample, cfg.seed, Some(lines))
    }
    val inference = tr.span("typeinference.infer") {
      TypeInference.infer(capped, threshold = 0.8, seed = cfg.seed,
        randomSample = cfg.randomSample)
    }
    val typed = tr.span("typeinference.promote") {
      TypeInference.promote(capped, inference)
    }
    val (summary, summaryRows) = tr.span("profile.summarize") {
      val s = Profile.summarize(typed, cfg.exactQuantiles, cfg.quantileAccuracy)
      (s, s.collect())
    }
    val freqCols = typed.schema.fields
      .filterNot(f => isDateLike(f.dataType)).map(_.name).toSeq
    val (freqSchema, freqRows) = tr.span("frequency.referenceFrequencies") {
      val f = Frequency.referenceFrequencies(typed, freqCols,
        cfg.minCellCount, cfg.maxDistinctValues)
      (f.schema, f.collect())
    }
    def local(rows: Array[Row], schema: StructType) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val result = TableScanResult(path, lines,
      summaryRows.head.getAs[Long]("total_count"), raw.columns.length,
      summaryRows.count(_.getAs[Long]("non_missing") == 0L).toLong,
      local(summaryRows, summary.schema), local(freqRows, freqSchema),
      inference)
    TracedFile(raw, capped, typed, result, freqRows.length)
  }

  override def probes(tr: Tracer, o: Out): Unit = tr.span("probe") {
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    o.foreach { f =>
      tr.span("sources.parse_probe")(noop(f.raw))
      tr.span("sampling.probe")(noop(f.capped))
      tr.span("typeinference.promote_probe")(noop(f.typed))
    }
  }

  def counts(spark: SparkSession, out: File, o: Out): Map[String, Double] = {
    val inf = o.flatMap(_.result.inference.values)
    Map(
      "sampling.rows_out" -> o.map(_.result.nRowsChecked).sum.toDouble,
      "frequency.rows_out" -> o.map(_.freqRows).sum.toDouble,
      "typeinference.numeric_cols" -> inf.count(_ == TypeInference.NumericT).toDouble,
      "typeinference.datetime_cols" -> inf.count(_ == TypeInference.DatetimeT).toDouble,
      "typeinference.character_cols" -> inf.count(_ == TypeInference.CharacterT).toDouble)
  }

  def check(spark: SparkSession, out: File, o: Out): Seq[String] = {
    val cfg = config(out, cores(spark))
    Checks.scan(readReport(cfg), truth, cfg.maxRows, cfg.minCellCount,
      cfg.maxDistinctValues)
  }

  /** Read the written report back: TSV sheet directories, or the xlsx
    * workbook (whose sibling Parquet workbook must also exist).
    */
  def readReport(cfg: ScanConfig): Checks.Report = {
    def asMaps(header: Seq[String], rows: Seq[Seq[String]]) =
      rows.map(r => header.zip(r).toMap)
    def tsv(sheet: String): Seq[Map[String, String]] = {
      val dir = new File(cfg.outputDir, s"${cfg.prefix}_$sheet")
      val parts = Option(dir.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      val lines = parts.flatMap(Util.readLines)
      if (lines.isEmpty) Nil
      else {
        val cell = (s: String) => if (s.isEmpty) null
          else if (s == "\"\"") "" else s
        asMaps(lines.head.split("\t", -1).toSeq,
          lines.tail.filter(_ != lines.head).map(_.split("\t", -1).toSeq.map(cell)))
      }
    }
    cfg.outputFormat match {
      case "tsv" =>
        val ov = tsv("Overview")
        val tables = ov.map(_("Table"))
        Checks.Report(ov, tables.map(t => t -> tsv(s"${t}_Summary")).toMap,
          tables.map(t => t -> tsv(s"${t}_Freq")).toMap)
      case "xlsx" =>
        val path = s"${cfg.outputDir}/${cfg.prefix}.xlsx"
        def sheet(n: String) = (asMaps _).tupled(XlsxSink.readSheet(path, n))
        val ov = sheet("Overview")
        val tables = ov.map(_("Table"))
        val wb = new File(cfg.outputDir, s"${cfg.prefix}_workbook")
        val wbOk = (Seq("Overview") ++ tables.map(t => s"${t}_Summary"))
          .forall(s => new File(wb, s"$s/_SUCCESS").isFile)
        val freqOf = (t: String) =>
          scala.util.Try(sheet(s"${t}freq")).getOrElse(Nil)
        Checks.Report(if (wbOk) ov else Nil,
          tables.map(t => t -> sheet(t)).toMap,
          tables.map(t => t -> freqOf(t)).toMap)
    }
  }
}

/** Corpus → curated corpus: exact dedup, MinHash near-dup pairs,
  * duplicate clusters, keep one representative per cluster, Parquet
  * write; plus semantic near-dup pairs over the embeddings. Each step
  * materializes its output (local checkpoint), as a pipeline would at
  * stage boundaries, so traced and untraced runs execute the same plans.
  */
final class CorpusWorkload(nDocs: Int, nVecs: Int) extends Workload {
  val name = "corpus_curate"
  val inputRows: Long = nDocs.toLong + nVecs
  val files = 0
  // its operations level off ~15 s after the cold one
  override val warmupS = 15.0
  val JaccardAt = 0.7
  val CosineAt = 0.95
  val Centroids = 16

  type Out = CorpusRun

  private var dir: File = _
  private[perfbench] var truth: Gen.CorpusTruth = _
  private lazy val texts: Array[String] = {
    val a = new Array[String](nDocs)
    Util.readLines(new File(dir, "docs.tsv")).foreach { l =>
      val t = l.indexOf('\t'); a(l.take(t).toInt) = l.drop(t + 1)
    }
    a
  }
  private lazy val vecs: Array[Array[Float]] = {
    val a = new Array[Array[Float]](nVecs)
    Util.readLines(new File(dir, "emb.tsv")).foreach { l =>
      val t = l.indexOf('\t')
      a(l.take(t).toInt) = l.drop(t + 1).split(",").map(_.toFloat)
    }
    a
  }

  def text(id: Int): String = texts(id)
  def vec(id: Int): Array[Float] = vecs(id)

  def prepare(data: File, seed: Long): Unit = {
    dir = Gen.cached(new File(data, Gen.key(name, seed, (nDocs, nVecs)))) { d =>
      val t = Gen.writeCorpus(d, nDocs, nVecs, new Random(seed * 7919L + 1),
        JaccardAt, Centroids)
      Util.writeString(new File(d, "truth.tsv"), (Seq(
        s"docs\t${t.nDocs}", s"exact_copies\t${t.exactCopies}",
        s"vecs\t${t.nVecs}") ++
        t.nearPairs.map { case (a, b) => s"near\t$a\t$b" } ++
        t.semPairs.map { case (a, b) => s"sem\t$a\t$b" }).mkString("", "\n", "\n"))
    }
    val lines = Util.readLines(new File(dir, "truth.tsv")).map(_.split("\t"))
    def one(k: String) = lines.find(_(0) == k).get(1).toLong
    def pairs(k: String) = lines.filter(_(0) == k).map(l => (l(1).toLong, l(2).toLong))
    truth = Gen.CorpusTruth(one("docs").toInt, one("exact_copies"),
      pairs("near"), pairs("sem"), one("vecs").toInt)
  }

  def run(spark: SparkSession, out: File, tr: Option[Tracer]): Out = {
    Util.rmrf(out)
    def sp[T](n: String)(body: => T): T = tr.fold(body)(_.span(n)(body))
    sp("op") {
      val docs = spark.read.schema("id LONG, text STRING")
        .option("sep", "\t").csv(new File(dir, "docs.tsv").getPath)
      val distinct = sp("dedup.exact") {
        val keep = Dedup.exactByContent(docs, "id", "text")
          .select(col("doc_id").as("id"))
        docs.join(keep, Seq("id"), "left_semi").localCheckpoint(true)
      }
      val pairs = sp("dedup.minhash") {
        Dedup.minhashPairs(distinct, "id", "text", threshold = JaccardAt)
          .localCheckpoint(true)
      }
      val clusters = sp("dedup.components")(Dedup.duplicateClusters(pairs))
      val before = Util.treeBytes(out)
      sp("sinks.writeCorpus") {
        val dropped = clusters.where(col("doc_id") =!= col("cluster_rep"))
          .select(col("doc_id").as("id"))
        distinct.join(dropped, Seq("id"), "left_anti")
          .write.mode("overwrite").parquet(new File(out, "curated").getPath)
      }
      tr.foreach(_.allSpans.last.bytesWritten = Util.treeBytes(out) - before)
      val sem = sp("similarity.semanticNearDupPairs") {
        val emb = spark.read.schema("id LONG, v STRING").option("sep", "\t")
          .csv(new File(dir, "emb.tsv").getPath)
          .select(col("id"), split(col("v"), ",").cast("array<float>").as("vec"))
        Similarity.semanticNearDupPairs(emb, "id", "vec", Centroids, CosineAt)
          .collect()
      }
      CorpusRun(distinct, pairs, sem, out)
    }
  }

  def collect(spark: SparkSession, o: Out): Checks.CorpusOut = {
    def ids(df: DataFrame) = df.select("id").collect().map(_.getLong(0)).toSet
    val distinctIds = ids(o.distinct)
    Checks.CorpusOut(distinctIds.size.toLong,
      o.pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
      ids(spark.read.parquet(new File(o.out, "curated").getPath)),
      distinctIds,
      o.sem.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("cos"))).toSeq)
  }

  def check(spark: SparkSession, out: File, o: Out): Seq[String] =
    Checks.corpus(collect(spark, o), truth, text, vec, JaccardAt, CosineAt)

  def counts(spark: SparkSession, out: File, o: Out): Map[String, Double] = {
    val c = collect(spark, o)
    val reported = c.pairs.map(p => (p._1, p._2)).toSet
    val planted = truth.nearPairs
    // exact cosine from a seeded sample of 200 vectors against all
    val sample = new Random(nVecs).shuffle((0 until nVecs).toVector).take(200)
    val exact = sample.flatMap { a =>
      (0 until nVecs).filter(b => b != a &&
        math.round(Checks.cosine(vecs(a), vecs(b)) * 1e6) / 1e6 >= CosineAt)
        .map(b => (math.min(a, b).toLong, math.max(a, b).toLong))
    }.toSet
    val sem = c.semPairs.map(p => (p._1, p._2)).toSet
    Map(
      "dedup.pairs" -> c.pairs.length.toDouble,
      "dedup.clusters" -> Checks.components(c.pairs).values.toSet.size.toDouble,
      "dedup.planted_recall" ->
        (if (planted.isEmpty) 1.0 else planted.count(reported).toDouble / planted.length),
      "similarity.recall" ->
        (if (exact.isEmpty) 1.0 else exact.count(sem).toDouble / exact.size))
  }

  override def release(o: Out): Unit = {
    org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpointed(o.distinct)
    org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpointed(o.pairs)
  }
}
