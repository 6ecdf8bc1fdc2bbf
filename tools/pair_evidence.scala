// Near-duplicate pair evidence over a corpus_curate input folder IN:
// the documents that survive exact dedup, their MinHash-LSH candidates
// and their verified pairs at Jaccard >= 0.7, each as a row count and
// the md5 of the sorted rows. Writes the report to OUT. Driven by
// tools/pair_evidence.sh.
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

// one block, so the shell reads the continued lines as one input
{
  val in = sys.env("IN")
  val out = new java.io.PrintWriter(sys.env("OUT"))
  def md5(lines: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  def report(name: String, df: DataFrame): Unit = {
    val lines = df.collect().map(_.toSeq.mkString("\t")).sorted.toSeq
    out.println(s"$name\t${lines.size}\t${md5(lines)}")
  }
  val docs = spark.read.schema("id LONG, text STRING").option("sep", "\t")
    .csv(s"$in/docs.tsv")
  val keep = Dedup.exactByContent(docs, "id", "text")
    .select(col("doc_id").as("id"))
  val distinct = docs.join(keep, Seq("id"), "left_semi").cache()
  out.println(s"distinct_docs\t${distinct.count()}")
  // the candidate stage is package-private: reach it by reflection
  val candidates = Dedup.getClass.getMethods
    .find(_.getName == "minhashCandidates").get
    .invoke(Dedup, distinct, "id", "text", Int.box(64), Int.box(16),
      Int.box(3)).asInstanceOf[DataFrame]
  report("candidates", candidates.select("id_a", "id_b"))
  report("pairs", Dedup.minhashPairs(distinct, "id", "text", threshold = 0.7)
    .select("id_a", "id_b", "jac"))
  out.close()
}
System.exit(0)
