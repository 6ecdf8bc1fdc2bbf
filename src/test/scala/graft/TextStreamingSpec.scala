package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.Multimodal
import graft.streaming.StreamingProfile
import graft.streaming.StreamingProfile.SessionEvent

class TextStreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming IVM equals the batch rollup and reruns do not " +
      "double-count (sf0.001 events)") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    def run() = graft.streaming.StreamingIvm
      .runStreamingIvm(spark, dir)
      .select("event_type", "n", "sum_v", "min_v", "max_v", "avg_v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    val first = run()
    val batch = graft.sources.EventsSource.read(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_v"),
        min("value").cast("double").as("min_v"),
        max("value").cast("double").as("max_v"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSet
    assert(first.map(t => (t._1, t._2, t._3, t._4, t._5)) == batch)
    // a second full run restages and rebuilds state from scratch
    assert(run() == first, "rerun drifted — state leaked across runs")
  }

  test("language ID recognizes real multilingual snippets") {
    val samples = Seq(
      "the cat and the dog sat by the fire with a book for you",
      "der hund ist nicht mit der katze und ich bin zu hause",
      "el perro y los gatos juegan por la casa pero muy lejos",
      "le chien est dans la maison avec les chats pour toujours",
      "这是一个很好的例子我们都有自己的想法他是我的朋友",
      "zzz qqq xxx")
    val got = samples.toDF("text")
      .select(TextFunctions.langId(col("text"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("en", "de", "es", "fr", "zh", "und"))
  }

  test("punctuation ratio counts exactly the non-alnum-space chars") {
    // "ab, cd!" = 7 chars, 2 punctuation -> 2/7; all-clean and
    // all-punct edges pin the translate direction (delete KEEP chars,
    // count what remains — r5 briefly shipped the inverse)
    val r = Seq(("ab, cd!", "abc def", "?!."))
      .toDF("a", "b", "c")
      .select(TextFunctions.punctRatio(col("a")),
        TextFunctions.punctRatio(col("b")),
        TextFunctions.punctRatio(col("c"))).head()
    assert(math.abs(r.getDouble(0) - 2.0 / 7) < 1e-12)
    assert(r.getDouble(1) == 0.0)
    assert(r.getDouble(2) == 1.0)
  }

  test("shingles build distinct n-grams; short docs yield none") {
    val sh = Seq("a b c d", "a b").toDF("t")
      .select(TextFunctions.shingles(TextFunctions.tokens(col("t")), 3))
      .collect().map(_.getSeq[String](0))
    assert(sh(0).toSet == Set("a b c", "b c d"))
    assert(sh(1).isEmpty)
  }

  test("fingerprint is whitespace-insensitive") {
    val df = Seq(("Hello  World", "hello world")).toDF("a", "b")
    val r = df.select(
      TextFunctions.fingerprint(col("a")),
      TextFunctions.fingerprint(col("b"))).head()
    assert(r.getString(0) == r.getString(1))
  }

  test("regex token count splits words, numbers, punctuation") {
    val n = Seq("ab 12 c!d").toDF("t")
      .select(TextFunctions.regexTokenCount(col("t"))).head().getInt(0)
    assert(n == 5) // ab | 12 | c | ! | d
  }

  test("multimodal metadata and real BMP decode are deterministic") {
    val docs = Seq((1L, "hello"), (2L, "hello"), (3L, "other")).toDF(
      "doc_id", "text")
    val bin = Multimodal.binarize(docs, "doc_id", "text")
    val meta = bin.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Int]("n_bytes"), r.getAs[String]("content_hash"))).toMap
    assert(meta(1L)._1 == 5)
    assert(meta(1L) == meta(2L)) // same payload → same metadata
    val bmp = Multimodal.synthesizeBmp(docs, "doc_id", "text")
    val stats = Multimodal.decodeImageStats(bmp).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(stats(1L) == stats(2L))
    assert(stats(1L) != stats(3L))
  }

  test("dHash: identical images collide, a one-pixel edit moves few " +
      "bits, and pigeonhole blocking equals the brute-force scan") {
    // identical payloads -> identical hashes (hamming 0)
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "The quick brown fox jumps over the lazy dog!"),
      (4L, "completely different content here with other words"))
      .toDF("doc_id", "text")
    val hs = Multimodal.imageDhashes(
      Multimodal.synthesizeBmp(docs, "doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(2L), "identical images must collide")
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // a near-identical image (2-char edit) stays close; a different
    // one is far
    assert(hamming(hs(1L), hs(3L)) < hamming(hs(1L), hs(4L)),
      s"dHash must order by visual similarity: " +
        s"${hamming(hs(1L), hs(3L))} vs ${hamming(hs(1L), hs(4L))}")
    // blocking completeness on a seeded 64-bit corpus: every pair
    // within hamming 3 must surface
    val rnd = new scala.util.Random(77L)
    val base = Array.fill(40)(rnd.nextLong())
    // plant guaranteed near pairs: flip 1..3 bits of some bases
    val planted = base.zipWithIndex.collect {
      case (h, i) if i % 4 == 0 =>
        h ^ (1L << (i % 64)) ^ (if (i % 8 == 0) 1L << 63 else 0L)
    }
    val all = (base ++ planted).zipWithIndex
      .map { case (h, i) => (i.toLong, h) }
    val got = graft.operators.Dedup.hammingPairs64(
        all.toSeq.toDF("id", "h"), "id", "h", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val want = (for {
      (ia, ha) <- all; (ib, hb) <- all if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(got == want,
      s"blocking must equal brute force: ${got.size} vs ${want.size}")
    assert(want.nonEmpty, "fixture must plant near pairs")
  }

  test("audio fingerprint: identical clips collide, a trailing-pad " +
      "edit stays near, an unrelated clip is far") {
    def fp(s: Array[Short]) = Multimodal.audioFingerprint64(s)
    // structured audio: a triangle amplitude envelope (rise/fall every
    // 100 samples) gives a stable frame-energy contour — the signal
    // class the fingerprint is FOR (white noise has no contour)
    def tri(n: Int, phase: Int) = Array.tabulate(n)(k =>
      ((math.abs((k + phase) % 200 - 100)) * 300).toShort)
    val a = tri(650, 0)
    assert(fp(a) == fp(tri(650, 0)))
    // pad one frame-width of near-silence: boundaries shift by at
    // most one frame, so few contour comparisons flip
    val padded = a ++ Array.fill(10)(1.toShort)
    val b = tri(650, 100) // inverted contour
    def hd(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hd(fp(a), fp(padded)) < hd(fp(a), fp(b)),
      s"pad edit must stay nearer than an inverted contour: " +
        s"${hd(fp(a), fp(padded))} vs ${hd(fp(a), fp(b))}")
    // shorter than 65 samples: trailing frames are empty, no crash
    assert(fp(Array.fill(3)(100.toShort)) == fp(Array.fill(3)(100.toShort)))
  }

  test("WAV codec round-trips samples; corrupt headers are refused; " +
      "zero crossings hand-computed") {
    val rnd = new scala.util.Random(424242L)
    for (n <- Seq(1, 2, 7, 100)) {
      val s = Array.fill(n)((rnd.nextInt(65536) - 32768).toShort)
      val bytes = Multimodal.encodeWav(s, 16000)
      assert(bytes.length == 44 + 2 * n)
      val (rate, got) = Multimodal.decodeWav(bytes)
      assert(rate == 16000 && got.toSeq == s.toSeq, s"n=$n")
    }
    // refusals: bad magic, truncated data, stereo
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav("definitely not audio bytes".getBytes)
    }
    val ok = Multimodal.encodeWav(Array[Short](1, -1, 2), 8000)
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(ok.dropRight(2))
    }
    val stereo = ok.clone()
    stereo(22) = 2 // channel count
    intercept[IllegalArgumentException] { Multimodal.decodeWav(stereo) }
    val df = Seq((1L, "ab")).toDF("doc_id", "text")
    val stats = Multimodal.decodeAudioStats(
      Multimodal.synthesizeWav(df, "doc_id", "text")).collect().head
    // chars 'a'=97,'b'=98 → s1 = (97*131+7)%65536-32768 = -20054,
    // s2 = (98*131+14)%65536-32768 = -19916 → no crossing
    assert(stats.getLong(2) == 2L)
    assert(stats.getLong(3) == -20054L + -19916L)
    assert(stats.getLong(4) == -20054L + 2L * -19916L)
    assert(stats.getLong(5) == 0L)
  }

  test("BMP codec round-trips pixels through both row orders, row " +
      "padding, and extra header space; corrupt payloads are refused") {
    val rnd = new scala.util.Random(20260813L)
    // widths 1..5 exercise every row-padding remainder (w*3 mod 4)
    for (w <- 1 to 5; topDown <- Seq(false, true)) {
      val h = 1 + rnd.nextInt(4)
      val px = Array.fill(w * h * 3)(rnd.nextInt(256).toByte)
      val bytes = Multimodal.encodeBmp(px, w, h, topDown)
      val (gw, gh, gpx) = Multimodal.decodeBmp(bytes)
      assert((gw, gh) == ((w, h)), s"dims w=$w topDown=$topDown")
      assert(gpx.toSeq == px.toSeq, s"pixels w=$w topDown=$topDown")
    }
    // bfOffBits beyond 54 (legal: larger info headers) still decodes
    val px = Array.tabulate(2 * 2 * 3)(_.toByte)
    val base = Multimodal.encodeBmp(px, 2, 2)
    val padded = new Array[Byte](base.length + 8)
    System.arraycopy(base, 0, padded, 0, 54)
    System.arraycopy(base, 54, padded, 62, base.length - 54)
    val bb = java.nio.ByteBuffer.wrap(padded)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(10, 62) // bfOffBits
    assert(Multimodal.decodeBmp(padded)._3.toSeq == px.toSeq)
    // refusals: bad magic, truncated pixel array, unsupported bpp
    intercept[IllegalArgumentException] {
      Multimodal.decodeBmp("not a bitmap at all, only text".getBytes)
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeBmp(base.dropRight(3))
    }
    val bad = base.clone()
    java.nio.ByteBuffer.wrap(bad)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putShort(28, 8)
    intercept[IllegalArgumentException] { Multimodal.decodeBmp(bad) }
  }

  test("resizeBmp nearest-neighbor samples the exact source grid, " +
      "both downscale and upscale") {
    // 4x2 source with pixel value = its index (B=G=R=index)
    val px = Array.tabulate(4 * 2 * 3)(i => (i / 3).toByte)
    val bmp = Multimodal.encodeBmp(px, 4, 2)
    // downscale to 2x1: output (x,0) samples source (2x, 0)
    val (dw, dh, dpx) = Multimodal.decodeBmp(
      Multimodal.resizeBmp(bmp, 2, 1))
    assert((dw, dh) == ((2, 1)))
    assert(dpx.grouped(3).map(_(0).toInt).toSeq == Seq(0, 2))
    // upscale to 8x2: each source pixel repeats horizontally
    val (uw, uh, upx) = Multimodal.decodeBmp(
      Multimodal.resizeBmp(bmp, 8, 2))
    assert((uw, uh) == ((8, 2)))
    assert(upx.grouped(3).map(_(0).toInt).toSeq ==
      Seq(0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7))
  }

  test("synthesizeBmp fixture arithmetic lands in decodeImageStats " +
      "on a hand-computed image") {
    // text "ab": bytes 97,98 → w=8 forces one row with 6 pad pixels
    val docs = Seq((7L, "ab")).toDF("doc_id", "text")
    val r = Multimodal.decodeImageStats(
      Multimodal.synthesizeBmp(docs, "doc_id", "text")).head()
    val b = Seq(97, 98) ++ (2 until 8).map(k => (k * 7) % 256)
    val g = b.map(v => (3 * v + 1) % 256)
    val red = (0 until 8).map(_ % 256)
    assert(r.getInt(1) == 8 && r.getInt(2) == 1 && r.getInt(3) == 8)
    assert(r.getDouble(4) == math.rint(b.sum / 8.0 * 1e6) / 1e6)
    assert(r.getLong(7) == b.zipWithIndex.map {
      case (v, k) => (k + 1L) * v }.sum)
    assert(r.getLong(8) == g.zipWithIndex.map {
      case (v, k) => (k + 1L) * v }.sum)
    assert(r.getLong(9) == red.zipWithIndex.map {
      case (v, k) => (k + 1L) * v }.sum)
  }

  test("native expressions are SQL-registrable and correct") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT vector_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
        "sorted_intersect_count(array('a','b','c'), array('b','c','d')) " +
        "AS c, simhash64(array('x')) = simhash64(array('x')) AS same, " +
        "size(minhash_signature(array('a','b','c','d'), 16, 3)) AS k, " +
        "size(shingle_hash_set(array('a','b','c','d','a','b','c'), 3)) " +
        "AS ns")
      .head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 2)
    assert(r.getBoolean(2))
    assert(r.getInt(3) == 16)
    // windows: abc,bcd,cda,dab,abc → distinct {abc,bcd,cda,dab} = 4
    assert(r.getInt(4) == 4)
    // vector norm/cosine compose over VectorDot from pure SQL —
    // SQL-only users can run similarity without the Column API
    val v = spark.sql(
      "SELECT vector_norm(array(3.0d, 4.0d)) AS n, " +
        "round(vector_cosine(array(1.0d, 0.0d), array(1.0d, 1.0d)), 6) " +
        "AS cs, vector_cosine(array(2.0d, 0.0d), array(5.0d, 0.0d)) AS cp")
      .head()
    assert(v.getDouble(0) == 5.0)
    assert(v.getDouble(1) == 0.707107)
    assert(v.getDouble(2) == 1.0)
    // the tokenizer pair round-trips from pure SQL
    val t = spark.sql(
      "SELECT bpe_decode_pieces(bpe_encode_pieces(" +
        "'the  spark table', array('the', 'spark', 'tab'), true)) AS s, " +
        "bpe_encode_pieces('slow', array('slo')) AS p")
      .head()
    assert(t.getString(0) == "the spark table")
    assert(t.getSeq[String](1) == Seq("slo", "w"))
  }

  test("windowed profile DROPS events older than the watermark on a " +
      "later trigger (append mode) while on-time events count") {
    val base = graft.config.Scratch.dir + "/late_drop_spec"
    val src = s"$base/src"
    val fs = new java.io.File(base)
    if (fs.exists) {
      java.nio.file.Files.walk(fs.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    def mk(rows: Seq[(String, String, Long, Double)]) = rows
      .map { case (t, e, u, v) =>
        (java.sql.Timestamp.valueOf(t), e, u, v) }
      .toDF("ts", "event_type", "user_id", "value")
    // batch 0: two 10-o'clock events + a 13:00 event that pushes the
    // watermark to 12:00 once the batch commits
    val b0 = mk(Seq(("2024-01-01 10:00:00", "a", 1L, 1.0),
      ("2024-01-01 10:30:00", "a", 2L, 2.0),
      ("2024-01-01 13:00:00", "a", 3L, 1.0)))
    b0.coalesce(1).write.parquet(src)
    val name = "graft_late_drop_spec"
    val q = StreamingProfile.windowedProfile(
      spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1).parquet(src))
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .start()
    try {
      q.processAllAvailable()
      // batch 1: one event 2h older than the watermark (its window is
      // already closed — MUST be dropped) + one on-time event
      mk(Seq(("2024-01-01 10:15:00", "a", 9L, 100.0),
        ("2024-01-01 13:30:00", "a", 4L, 1.0)))
        .coalesce(1).write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val w10 = spark.table(name)
      .select(col("window.start").cast("string").as("ws"), col("n"),
        col("sum_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .filter(_._1.contains(" 10:"))
    // the finalized 10:00 window holds ONLY the two on-time events; a
    // batch recompute over the same files would count 3 (sum 103)
    assert(w10.length == 1, s"expected one finalized 10:00 window: " +
      w10.mkString(", "))
    assert(w10.head._2 == 2L && w10.head._3 == 3.0,
      s"late event leaked into the closed window: ${w10.head}")
  }

  test("GraftExtensions installs the native functions in a session " +
      "built with withExtensions") {
    import org.apache.spark.sql.SparkSession
    val old = spark // keep the shared session as default afterwards
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // reuses the JVM's SparkContext; only the session state is new
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        "SELECT vector_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
          "sorted_intersect_count(array('a','b'), array('b','c')) AS c")
        .head()
      assert(r.getDouble(0) == 11.0)
      assert(r.getInt(1) == 1)
    } finally {
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  test("stateful streaming sessionization matches the window-function " +
      "batch twin") {
    val gap = 100L
    // two users; user 1: gaps at 350 and >100 → 3 sessions
    val events = Seq(
      (1L, 0L), (1L, 50L), (1L, 400L), (1L, 450L), (1L, 999L),
      (2L, 10L), (2L, 500L))
      .map { case (u, t) => SessionEvent(u, t) }
    val stream = StreamingProfile.sessionize(events.toDS(), gap)
      .collect().map(s => (s.user_id, s.session_id, s.n_events,
        s.start_us, s.end_us)).sorted.toSeq
    val batch = StreamingProfile.sessionizeBatch(
      events.toDF().withColumnRenamed("ts_us", "ts_us"), gap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted.toSeq
    assert(stream == batch)
    assert(stream.count(_._1 == 1L) == 3)
    assert(stream.count(_._1 == 2L) == 2)
  }

  test("timeout-based sessionization emits an open session once the " +
      "watermark passes its gap (two real micro-batches)") {
    // Spark 4.1 moved MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingProfile.SessionEventT
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    val base = 1700000000000L // ms
    def ts(offsetSec: Long) = new java.sql.Timestamp(base + offsetSec * 1000)
    val src = MemoryStream[(Long, java.sql.Timestamp)]
    val events = src.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "0 seconds")
      .as[SessionEventT]
    val gapUs = 30L * 1000000 // 30 s inactivity gap
    val name = "graft_timeout_sessions"
    val q = StreamingProfile.sessionizeTimeout(events, gapUs)
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .start()
    try {
      // batch 1: user 1's two events, 10 s apart — one open session
      src.addData((1L, ts(0)), (1L, ts(10)))
      q.processAllAvailable()
      assert(spark.table(name).isEmpty,
        "open session must NOT flush at batch end")
      // batch 2: user 2 appears at +120 s — the watermark advances to
      // +120 s and the trailing no-data micro-batch fires user 1's
      // timeout (+10 s last event + 30 s gap < watermark); user 2
      // (+120 + 30 > watermark) stays open in state
      src.addData((2L, ts(120)))
      q.processAllAvailable()
      def rows() = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq.sorted
      assert(rows() == Seq((1L, 0L, 2L,
        base * 1000, (base + 10000) * 1000)))
      // batch 3: watermark reaches +240 s -> user 2 times out too
      src.addData((3L, ts(240)))
      q.processAllAvailable()
      assert(rows() == Seq(
        (1L, 0L, 2L, base * 1000, (base + 10000) * 1000),
        (2L, 0L, 1L, (base + 120000) * 1000, (base + 120000) * 1000)))
    } finally q.stop()
  }

  test("stream-stream funnel join matches the batch interval join " +
      "(sf0.001 events)") {
    val dir = "/root/testdata/sf0.001"
    val got = StreamingProfile.runFunnel(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val ev = graft.sources.EventsSource.read(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"),
        col("ts_us").as("p_us"))
    val c = ev.where(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id").as("cu"),
        col("ts_us").as("c_us"))
    val want = p.join(c, col("user_id") === col("cu") &&
        col("c_us") <= col("p_us") &&
        col("c_us") >= col("p_us") - lit(900000000L))
      .select("pid", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming dedup emits exactly the distinct key set " +
      "(sf0.001 events, single-batch bounded replay)") {
    val dir = "/root/testdata/sf0.001"
    val got = StreamingProfile.runStreamingDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val want = graft.sources.EventsSource.read(spark, dir)
      .select("user_id", "event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming decontamination gate emits exactly the complement " +
      "of the batch operator's contaminated set") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val clean = graft.streaming.StreamingProfile
      .runStreamingDecontaminate(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    val contaminated = graft.operators.TextMetrics.decontaminate(
        docs, "doc_id", "text",
        docs.where(org.apache.spark.sql.functions.col("doc_id") % 50
          === 0), "text", 3)
      .collect().map(_.getLong(0)).toSet
    val all = docs.collect().map(_.getLong(0)).toSet
    assert(clean.toSet == all -- contaminated)
    assert(clean.nonEmpty && contaminated.nonEmpty)
  }
}
