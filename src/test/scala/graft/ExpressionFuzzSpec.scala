package graft

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{MinHashExpression, SetExpressions, TextFunctions,
  VectorExpressions}

/** Deterministic fuzz over the hand-written codegen expressions — the
  * riskiest code in the engine — against independent reference
  * implementations, including a cross-law between ShingleHashSet and
  * MinHashSignature (per lane j, the signature must equal the minimum
  * of hashLong(h, j) over the shingle hash set: two separate codegen
  * paths over the same hashing scheme must agree).
  */
class ExpressionFuzzSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(20260812L)
  private def word(): String =
    (1 to (1 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(6)).toChar)
      .mkString
  private def doc(maxLen: Int): Seq[String] =
    (0 until rnd.nextInt(maxLen)).map(_ => word())

  private def hashTok(s: String): Long = {
    val b = s.getBytes("UTF-8")
    XXH64.hashUnsafeBytes(b,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  test("sortedIntersectCount (long + string paths) matches set " +
      "intersection over 200 random pairs") {
    val cases = (0 until 200).map { _ =>
      val a = doc(30).distinct.sorted
      val b = doc(30).distinct.sorted
      (a, b, (a.toSet & b.toSet).size)
    }
    val rows = cases.map { case (a, b, _) => (a, b) }
      .toDF("a", "b")
      .select(
        SetExpressions.sortedIntersectCount(col("a"), col("b")).as("s"),
        SetExpressions.sortedIntersectCount(
          expr("array_sort(transform(a, x -> xxhash64(x)))"),
          expr("array_sort(transform(b, x -> xxhash64(x)))")).as("l"))
      .collect()
    rows.zip(cases).foreach { case (r, (_, _, want)) =>
      assert(r.getInt(0) == want)
      assert(r.getInt(1) == want) // 64-bit collisions: ~0 at this size
    }
  }

  test("shingleHashSet size/content matches the distinct window set " +
      "and minhash lanes equal per-lane minima over it") {
    val numHashes = 16
    val n = 3
    val docs = (0 until 100).map(_ => doc(40).mkString(" "))
    val rows = docs.toDF("text")
      .select(
        SetExpressions.sortedShingleHashes(
          TextFunctions.tokens(col("text")), n).as("hs"),
        MinHashExpression.minhashSignature(
          TextFunctions.tokens(col("text")), numHashes, n).as("sig"))
      .collect()
    rows.zip(docs).foreach { case (r, d) =>
      val toks = d.toLowerCase.split(" ", -1).toSeq
      val windows = (0 to toks.length - n).map { i =>
        var h = hashTok(toks(i))
        (1 until n).foreach(g => h = XXH64.hashLong(hashTok(toks(i + g)), h))
        h
      }
      val want = windows.distinct.sorted
      val got = r.getSeq[Long](0).toSeq
      assert(got == want)
      if (windows.isEmpty) assert(r.isNullAt(1))
      else {
        val sig = r.getSeq[Long](1).toSeq
        val expected = (0 until numHashes).map(j =>
          windows.map(h => XXH64.hashLong(h, j)).min)
        assert(sig == expected)
      }
    }
  }

  test("simhash64 matches a reference bit-vote over 100 random docs") {
    val docs = (0 until 100).map(_ => doc(30)).filter(_.nonEmpty)
    val got = docs.map(d => d.mkString(" ")).toDF("text")
      .select(SetExpressions.simhash64(
        TextFunctions.tokens(col("text"))).as("s"))
      .collect().map(_.getLong(0))
    docs.zip(got).foreach { case (d, g) =>
      val toks = d.mkString(" ").toLowerCase.split(" ", -1)
      val votes = new Array[Int](64)
      toks.foreach { t =>
        val h = hashTok(t)
        (0 until 64).foreach { j =>
          votes(j) += ((((h >>> j) & 1L).toInt) << 1) - 1
        }
      }
      var want = 0L
      (0 until 64).foreach(j => if (votes(j) > 0) want |= 1L << j)
      assert(g == want)
    }
  }

  test("vectorDot/vectorNorm match plain folds over 100 random vectors") {
    val vecs = (0 until 100).map(_ =>
      ((0 until 16).map(_ => rnd.nextDouble() - 0.5).toArray,
        (0 until 16).map(_ => rnd.nextDouble() - 0.5).toArray))
    val rows = vecs.toDF("a", "b")
      .select(VectorExpressions.vectorDot(col("a"), col("b")).as("d"),
        VectorExpressions.vectorNorm(col("a")).as("na"))
      .collect()
    rows.zip(vecs).foreach { case (r, (a, b)) =>
      var dot = 0.0; var sq = 0.0
      (0 until 16).foreach { i => dot += a(i) * b(i); sq += a(i) * a(i) }
      assert(r.getDouble(0) == dot)
      assert(r.getDouble(1) == math.sqrt(sq))
    }
  }

  test("one-pass profile sketch matches exact counters/min/max/mean " +
      "on randomized mixed-null data") {
    import graft.operators.Profile
    // random longs with nulls, random strings with empties and nulls —
    // the shapes that break buffer/merge logic (empty partitions,
    // all-null slices, single values)
    val rows = (0 until 2000).map { i =>
      val n: java.lang.Long =
        if (rnd.nextInt(5) == 0) null else Long.box(rnd.nextInt(50).toLong)
      val s: String = rnd.nextInt(4) match {
        case 0 => null
        case 1 => ""
        case _ => word()
      }
      (n, s)
    }
    val df = rows.toDF("n", "s").repartition(7) // force multi-buffer merges
    val one = Profile.summarizeApprox(df).collect()
      .map(r => r.getString(0) -> r).toMap
    val exact = Profile.summarize(df).collect()
      .map(r => r.getString(0) -> r).toMap
    for (c <- Seq("n", "s")) {
      val (o, e) = (one(c), exact(c))
      for (f <- Seq("total_count", "missing_count", "empty_count"))
        assert(o.getAs[Long](f) == e.getAs[Long](f), s"$c.$f")
      // HLL at rsd 0.05: 3 sigma ≈ 15% relative (small floor for the
      // 50-distinct numeric column where the estimate is near-exact)
      val (de, da) = (e.getAs[Long]("distinct_count"),
        o.getAs[Long]("distinct_count"))
      assert(math.abs(da - de) <= math.max(5L, (0.15 * de).toLong),
        s"$c.distinct exact=$de approx=$da")
    }
    assert(one("n").getAs[Double]("min_val") ==
      exact("n").getAs[Double]("min_val"))
    assert(one("n").getAs[Double]("max_val") ==
      exact("n").getAs[Double]("max_val"))
    assert(math.abs(one("n").getAs[Double]("mean_val") -
      exact("n").getAs[Double]("mean_val")) < 1e-9)
    assert(math.abs(one("n").getAs[Double]("sd_val") -
      exact("n").getAs[Double]("sd_val")) < 1e-6)
  }

  test("bpeEncodePieces matches an independent greedy reference over " +
      "random vocabularies and texts, and round-trips the input") {
    import graft.functions.BpeExpressions.bpeEncodePieces
    def refEncode(text: String, pieces: Seq[String]): Seq[String] =
      text.split(" ").filter(_.nonEmpty).toSeq.flatMap { w =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var pos = 0
        while (pos < w.length) {
          val m = pieces.filter(p => w.startsWith(p, pos))
            .sortBy(-_.length).headOption
          val p = m.getOrElse(w.substring(pos, pos + 1))
          out += p; pos += p.length
        }
        out
      }
    for (round <- 1 to 20) {
      // small alphabet forces heavy piece overlap (prefix-of-prefix
      // cases are the interesting ones for longest-match)
      val vocab = (0 until (2 + rnd.nextInt(10)))
        .map(_ => (1 to (2 + rnd.nextInt(3)))
          .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
        .distinct
      val texts = (0 until 25).map(_ =>
        (0 until rnd.nextInt(8)).map(_ =>
          (0 until rnd.nextInt(7)).map(_ =>
            ('a' + rnd.nextInt(3)).toChar).mkString).mkString(" "))
      val got = texts.map(Tuple1(_)).toDF("text")
        .select(bpeEncodePieces(col("text"), vocab).as("p"))
        .collect().map(_.getSeq[String](0))
      texts.zip(got).foreach { case (t, g) =>
        assert(g == refEncode(t, vocab),
          s"round=$round vocab=$vocab text='$t'")
        // pieces always reassemble the spaceless input
        assert(g.mkString == t.split(" ").filter(_.nonEmpty).mkString,
          s"round-trip round=$round text='$t'")
      }
    }
  }
}
