package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** SHALLOW CLONE: zero-copy table clones through absolute manifest
  * references. The properties that make the verb safe at scale:
  * no byte moves at clone time, full read/skip fidelity from commit
  * one, complete divergence isolation afterwards (appends, MoR
  * deletes, evolution), and the one-way vacuum contract — the clone
  * can never delete source bytes.
  */
class CloneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = s"${graft.config.Scratch.runDir}/clonespec_$name"
    VersionedTable.destroy(spark, root)
    root
  }

  private def rows(root: String): Set[(Long, Long)] =
    VersionedTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("clone is zero-copy and content-identical: no data directory " +
      "lands under the target root, reads agree, fsck healthy") {
    val src = freshRoot("src1")
    val dst = freshRoot("dst1")
    val df = spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
    VersionedTable.commit(df.repartition(4), src)
    VersionedTable.cloneShallow(spark, src, dst)
    assert(rows(dst) == rows(src))
    // zero-copy: the target root holds NO vN data dirs of its own
    val local = new java.io.File(dst).listFiles().map(_.getName)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
    assert(local.isEmpty, s"clone copied data dirs: ${local.toSeq}")
    assert(VersionedTable.fsck(spark, dst).isEmpty)
    // refuses a second clone into the now-non-empty target
    intercept[Exception] { VersionedTable.cloneShallow(spark, src, dst) }
  }

  test("divergence isolation: appends, MoR deletes and renames at " +
      "the clone never touch the source; source writes never show " +
      "at the clone") {
    val src = freshRoot("src2")
    val dst = freshRoot("dst2")
    VersionedTable.commit(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"), src)
    VersionedTable.cloneShallow(spark, src, dst)
    // clone-side life: append + MoR delete + rename
    VersionedTable.commitAppend(Seq((9L, 90L)).toDF("k", "v"), dst)
    VersionedTable.deleteKeysMor(spark, dst, Seq(2L).toDF("k"))
    VersionedTable.renameColumn(spark, dst, "v", "val")
    assert(VersionedTable.read(spark, dst).columns.toSeq ==
      Seq("k", "val"))
    assert(rows(dst) == Set((1L, 10L), (3L, 30L), (9L, 90L)))
    // source is untouched by all of it
    assert(VersionedTable.read(spark, src).columns.toSeq ==
      Seq("k", "v"))
    assert(rows(src) == Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // source-side writes after the clone never show at the clone
    VersionedTable.commitAppend(Seq((7L, 70L)).toDF("k", "v"), src)
    assert(!rows(dst).contains((7L, 70L)))
  }

  test("vacuum at the clone never deletes source bytes; the first " +
      "rewrite localizes the clone") {
    val src = freshRoot("src3")
    val dst = freshRoot("dst3")
    VersionedTable.commit(
      Seq((1L, 1L), (2L, 2L)).toDF("k", "v"), src)
    VersionedTable.cloneShallow(spark, src, dst)
    VersionedTable.commitAppend(Seq((3L, 3L)).toDF("k", "v"), dst)
    // rewrite localizes: all content lands under the target root
    VersionedTable.compact(spark, dst)
    // vacuum away the clone's foreign-referencing history
    VersionedTable.vacuum(spark, dst, keepLast = 1, orphanGraceMs = 0L)
    assert(rows(dst) == Set((1L, 1L), (2L, 2L), (3L, 3L)))
    // the source's bytes survived the clone's whole lifecycle
    assert(rows(src) == Set((1L, 1L), (2L, 2L)))
    assert(VersionedTable.fsck(spark, src).isEmpty)
  }

  test("clone carries data skipping and the field mapping: pruning " +
      "fires on the clone's first version, evolved schemas read " +
      "logically") {
    val src = freshRoot("src4")
    val dst = freshRoot("dst4")
    val df = spark.range(0, 4000)
      .select(col("id").as("k"), (col("id") % 97).as("v"))
    VersionedTable.commitWithStats(
      df.repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      src, statsCols = Seq("k"))
    VersionedTable.renameColumn(spark, src, "k", "doc_id")
    VersionedTable.cloneShallow(spark, src, dst)
    assert(VersionedTable.read(spark, dst).columns.toSeq ==
      Seq("doc_id", "v"))
    val all = VersionedTable.dataFileCount(spark, dst, 0L)
    val pruned = VersionedTable.prunedPaths(spark, dst, 0L,
      Seq(("doc_id", 100.0, 199.0)))
    assert(all == 8 && pruned.size < all && pruned.nonEmpty,
      s"clone lost skipping: ${pruned.size} of $all")
    assert(VersionedTable.readWhere(spark, dst,
      col("doc_id").between(100L, 199L)).count() == 100L)
  }

  test("sequence-scale rebase: carried deletes never erase clone-side " +
      "re-inserts, and a clone-side delete reaches EVERY carried dir " +
      "of a multi-append source") {
    val src = freshRoot("src_seq")
    val dst = freshRoot("dst_seq")
    // source: an append CHAIN with a late MoR delete — dir seqs
    // [0,1,2], delete seq 3, all far above the clone's own 1,2,…
    VersionedTable.commit(Seq((1L, 1L)).toDF("k", "v"), src)
    VersionedTable.commitAppend(Seq((2L, 2L)).toDF("k", "v"), src)
    VersionedTable.commitAppend(Seq((3L, 3L)).toDF("k", "v"), src)
    VersionedTable.deleteKeysMor(spark, src, Seq(2L).toDF("k"))
    VersionedTable.cloneShallow(spark, src, dst)
    assert(rows(dst) == Set((1L, 1L), (3L, 3L)))
    // clone-side RE-INSERT of the erased key: without the rebase the
    // carried delete (source seq 3) would anti-join the clone's
    // seq-1 append away
    VersionedTable.commitAppend(Seq((2L, 22L)).toDF("k", "v"), dst)
    assert(rows(dst) == Set((1L, 1L), (3L, 3L), (2L, 22L)))
    // clone-side DELETE must reach keys in EVERY carried dir — seqs
    // 1 and 2 at the source, which a verbatim carry would leave
    // above the clone delete's seq and silently skip
    VersionedTable.deleteKeysMor(spark, dst, Seq(1L, 3L).toDF("k"))
    assert(rows(dst) == Set((2L, 22L)))
    // the source never noticed any of it
    assert(rows(src) == Set((1L, 1L), (3L, 3L)))
  }

  test("cloning an older version pins that snapshot, not the head") {
    val src = freshRoot("src5")
    val dst = freshRoot("dst5")
    VersionedTable.commit(Seq((1L, 1L)).toDF("k", "v"), src)
    VersionedTable.commit(Seq((2L, 2L)).toDF("k", "v"), src)
    VersionedTable.cloneShallow(spark, src, dst, sourceVersion = 0L)
    assert(rows(dst) == Set((1L, 1L)))
  }

  test("clone of a MoR-deleted snapshot sees post-delete content and " +
      "sequence scoping survives (clone-side re-insert stays visible)") {
    val src = freshRoot("src6")
    val dst = freshRoot("dst6")
    VersionedTable.commit(
      Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("k", "v"), src)
    VersionedTable.deleteKeysMor(spark, src, Seq(2L).toDF("k"))
    VersionedTable.cloneShallow(spark, src, dst)
    assert(rows(dst) == Set((1L, 1L), (3L, 3L)))
    VersionedTable.commitAppend(Seq((2L, 22L)).toDF("k", "v"), dst)
    assert(rows(dst) == Set((1L, 1L), (3L, 3L), (2L, 22L)))
  }

  test("validate-before-commit (ADVICE r15): SQL SHALLOW CLONE and " +
      "CONVERT TO GRAFT with a taken catalog name fail WITHOUT " +
      "committing, so a corrected retry succeeds") {
    val src = freshRoot("src7")
    VersionedTable.commit(Seq((1L, 1L)).toDF("k", "v"), src)
    spark.sql("DROP TABLE IF EXISTS clonespec_taken")
    Seq((9L, 9L)).toDF("k", "v")
      .createOrReplaceTempView("clonespec_taken")
    try {
      // CLONE to a name shadowed by a temp view: must error BEFORE
      // cloneShallow commits anything to the target root
      val dst = freshRoot("dst7")
      val e1 = intercept[Exception] {
        spark.sql("CREATE TABLE clonespec_taken SHALLOW CLONE " +
          s"'$src' LOCATION '$dst'").collect()
      }
      assert(e1.getMessage.contains("already exists"), e1.getMessage)
      assert(VersionedTable.latestVersion(spark, dst).isEmpty,
        "failed CLONE left a committed target root")
      // the retry under a free name uses the SAME root — it must be
      // still-empty and succeed
      spark.sql("DROP TABLE IF EXISTS clonespec_free")
      spark.sql(s"CREATE TABLE clonespec_free SHALLOW CLONE '$src' " +
        s"LOCATION '$dst'").collect()
      assert(spark.table("clonespec_free").count() == 1L)
      spark.sql("DROP TABLE clonespec_free")

      // CONVERT with a taken AS name: same contract
      val pq = s"${graft.config.Scratch.runDir}/clonespec_pq7"
      Seq((5L, 5L)).toDF("k", "v").write.mode("overwrite").parquet(pq)
      val cv = freshRoot("cv7")
      val e2 = intercept[Exception] {
        spark.sql(s"CONVERT TO GRAFT parquet.`$pq` LOCATION '$cv' " +
          "AS clonespec_taken").collect()
      }
      assert(e2.getMessage.contains("already exists"), e2.getMessage)
      assert(VersionedTable.latestVersion(spark, cv).isEmpty,
        "failed CONVERT left a committed target root")
      spark.sql(s"CONVERT TO GRAFT parquet.`$pq` LOCATION '$cv' " +
        "AS clonespec_free2").collect()
      assert(spark.table("clonespec_free2").count() == 1L)
      spark.sql("DROP TABLE clonespec_free2")

      // a name in a NONEXISTENT database must also fail pre-commit
      // (review r16): tableExists is false there, so only the explicit
      // databaseExists check keeps the statement from committing and
      // then dying at CREATE TABLE
      val dst2 = freshRoot("dst7b")
      val e3 = intercept[Exception] {
        spark.sql("CREATE TABLE clonespec_nodb.t SHALLOW CLONE " +
          s"'$src' LOCATION '$dst2'").collect()
      }
      assert(e3.getMessage.contains("does not exist"), e3.getMessage)
      assert(VersionedTable.latestVersion(spark, dst2).isEmpty,
        "missing-db CLONE left a committed target root")
    } finally
      spark.catalog.dropTempView("clonespec_taken")
  }
}
