package perfbench

import java.io.File
import java.nio.file.Files

import scala.util.Random

/** Harness self-tests (`python3 perfbench/run.py --selftest`):
  *   - the generator is deterministic per seed;
  *   - every check passes on real output and rejects a corrupted copy
  *     (one mutated summary cell, one dropped planted pair);
  *   - traced spans nest and have non-negative self times.
  * Exit code 0 when all pass.
  */
object SelfTest {
  private var failures = 0

  private def expect(what: String)(cond: => Boolean): Unit = {
    val ok = scala.util.Try(cond).getOrElse(false)
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $what")
  }

  private def bytesOf(dir: File): Map[String, Seq[Byte]] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) bytesOf(f).map { case (k, v) => s"${f.getName}/$k" -> v }
      else Seq(f.getName -> Files.readAllBytes(f.toPath).toSeq)
    }.toMap

  def run(work: File): Int = {
    val root = new File(work, "selftest")
    Util.rmrf(root)
    val data = new File(root, "data")

    // ---- generator determinism
    def gen(seed: Long, tag: String): File = {
      val d = new File(root, s"gen-$tag"); d.mkdirs()
      Gen.writeTsv(new File(d, "a.tsv"), Gen.allKinds, 2000, new Random(seed))
      Gen.writeCorpus(d, 2000, 300, new Random(seed), 0.7, 16)
      d
    }
    val (a, b, c) = (bytesOf(gen(5, "a")), bytesOf(gen(5, "b")), bytesOf(gen(6, "c")))
    expect("generator: same seed gives byte-identical inputs")(a == b && a.nonEmpty)
    expect("generator: another seed gives other inputs")(
      a.keySet == c.keySet && a.keys.forall(k => a(k) != c(k)))

    // ---- BENCHMARK.json names exactly the metrics the harness prints
    val bench = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(work.getParentFile.getParentFile, "BENCHMARK.json"))
    def listed(key: String) = {
      val it = bench.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    }
    expect("BENCHMARK.json lists every end-to-end metric with its unit")(
      listed("end_to_end") == Main.EndToEnd)
    expect("BENCHMARK.json lists every per-layer metric with its unit")(
      listed("per_layer") == Main.PerLayer)

    val spark = Main.session(2, work)
    val tr = new Tracer(spark.sparkContext)

    // ---- scan checks, both report formats
    for ((fmt, opts) <- Seq(
        "tsv" -> Seq("--output_format", "tsv", "--maxRows", "2000",
          "--random_sample", "true"),
        "xlsx" -> Nil)) {
      val wl = new ScanWorkload(s"selftest_$fmt", Seq(
        ScanFile("a.tsv", Gen.allKinds, 3000),
        ScanFile("b.tsv", Seq(Gen.Id, Gen.IsoDate, Gen.Category, Gen.AllEmpty), 500)),
        opts)
      wl.prepare(data, 11)
      val out = new File(root, s"out-$fmt")
      for (traced <- Seq(false, true)) {
        val o = wl.run(spark, out, if (traced) Some(tr) else None)
        val bad = wl.check(spark, out, o)
        expect(s"scan $fmt (traced=$traced): checks pass on real output " +
          bad.take(3).mkString("; "))(bad.isEmpty)
      }
      val cfg = wl.config(out, 2)
      val rep = wl.readReport(cfg)
      def check(r: Checks.Report) = Checks.scan(r, wl.truth, cfg.maxRows,
        cfg.minCellCount, cfg.maxDistinctValues)
      // a corruption must add a failure to those of the real output
      val real = check(rep).toSet
      // b.tsv is under the cap: its counts are exact
      val t = rep.overview.find(_("FileName") == "b.tsv").get("Table")
      val rows = rep.summary(t)
      val i = rows.indexWhere(_("Column") == "category")
      val mutated = rows.updated(i, rows(i).updated("NonMissingCount",
        (rows(i)("NonMissingCount").toLong + 1).toString))
      expect(s"scan $fmt: check rejects one mutated summary cell")(
        check(rep.copy(summary = rep.summary.updated(t, mutated)))
          .exists(b => !real(b)))
      val noFreq = rep.freq(t).filterNot(_("Column") == "category")
      expect(s"scan $fmt: check rejects a dropped frequency table")(
        check(rep.copy(freq = rep.freq.updated(t, noFreq)))
          .exists(b => !real(b)))
      val recount = rep.freq(t).map { r =>
        if (r("Column") == "category" && r("Value") == "home")
          r.updated("Count", (r("Count").toLong + 1).toString) else r
      }
      expect(s"scan $fmt: check rejects one changed frequency count")(
        check(rep.copy(freq = rep.freq.updated(t, recount)))
          .exists(b => !real(b)))
    }

    // ---- corpus checks
    val cw = new CorpusWorkload(3000, 600)
    cw.prepare(data, 11)
    val cout = new File(root, "out-corpus")
    val co = cw.run(spark, cout, None)
    val got = cw.collect(spark, co)
    expect("corpus: checks pass on real output")(
      Checks.corpus(got, cw.truth, cw.text, cw.vec, cw.JaccardAt,
        cw.CosineAt).isEmpty)
    val planted = cw.truth.nearPairs.head
    val dropped = got.copy(pairs = got.pairs.filterNot(p => (p._1, p._2) == planted))
    expect("corpus: check rejects one dropped planted pair")(
      Checks.corpus(dropped, cw.truth, cw.text, cw.vec, cw.JaccardAt,
        cw.CosineAt).nonEmpty)
    cw.release(co)

    // ---- the two reference semantics the scan report must follow,
    // one column each: fread reads a literal NA as missing, so a
    // decimal column with NA cells is numeric; a column of 90% 4-digit
    // numbers and 10% words is vetoed as numeric and is no date
    val naDir = new File(root, "na/in"); naDir.mkdirs()
    Util.writeString(new File(naDir, "na.tsv"), "amount\talmost_numeric\n" +
      Seq("1.5", "NA", "", "2.25", "7.75", "NA", "3.0", "4.5", "0.25", "9.5")
        .zip((1234 to 9999 by 997).map(_.toString) :+ "pending")
        .map { case (a, n) => s"$a\t$n" }.mkString("", "\n", "\n"))
    val naOut = new File(root, "na/out")
    graft.ScanMain.run(spark, graft.ScanMain.parse(Array("--working_folder",
      naDir.getPath, "--output_dir", naOut.getPath, "--output_format", "tsv")))
    val naLines = Util.readLines(Option(new File(naOut, "ScanReport_File1_Summary")
      .listFiles()).toSeq.flatten.find(_.getName.startsWith("part-")).get)
      .map(_.split("\t"))
    val (ci, ti) = (naLines.head.indexOf("Column"), naLines.head.indexOf("DataType"))
    val naTypes = naLines.tail.map(r => r(ci) -> r(ti)).toMap
    expect(s"scan: decimals with literal NA cells are ${Gen.Numeric} " +
      s"(got ${naTypes.get("amount")})")(naTypes("amount") == Gen.Numeric)
    expect(s"scan: 4-digit numbers mixed with words are ${Gen.Character} " +
      s"(got ${naTypes.get("almost_numeric")})")(
      naTypes("almost_numeric") == Gen.Character)

    // ---- spans
    val spans = tr.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    val kids = spans.groupBy(_.parent)
    expect(s"spans: ${spans.length} recorded, every child inside its parent")(
      spans.length > 10 && spans.filter(_.parent >= 0).forall { s =>
        val p = byId(s.parent)
        p.startNs <= s.startNs && s.endNs <= p.endNs
      })
    expect("spans: self times are >= 0")(
      spans.forall(s => Trace.selfS(s, kids.getOrElse(s.id, Nil)) >= 0))
    expect("spans: layer spans carry the jobs of their calls")(
      spans.filter(_.name == "typeinference.infer").forall(_.c.jobs >= 1))

    spark.stop()
    Util.rmrf(root)
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }
}
