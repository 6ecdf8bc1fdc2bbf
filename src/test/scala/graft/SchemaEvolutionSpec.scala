package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.sources.VersionedTable

/** Non-additive schema evolution on the versioned table layer:
  * rename / drop / type-widen / add as METADATA-ONLY commits over a
  * field-ID mapping (Iceberg semantics through Delta-style column
  * mapping). The properties pinned here are the ones that make the
  * model sound at scale: zero data movement per evolution, per-
  * manifest mappings (time travel reads old names), physical-name
  * immutability (renamed columns keep their data-skipping sidecars),
  * and the re-add rule (a dropped column's bytes can never
  * resurrect).
  */
class SchemaEvolutionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = s"${graft.config.Scratch.runDir}/evospec_$name"
    VersionedTable.destroy(spark, root)
    root
  }

  test("rename is metadata-only: no data file changes, readers see " +
      "the new name, time travel sees the old one") {
    val root = freshRoot("rename")
    VersionedTable.commit(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, tag = "base")
    val before = VersionedTable.dataFileCount(spark, root, 0L)
    val v1 = VersionedTable.renameColumn(spark, root, "v", "label")
    assert(v1 == 1L)
    // same data directories — the commit wrote ONE manifest, no bytes
    assert(VersionedTable.dataFileCount(spark, root, v1) == before)
    assert(VersionedTable.read(spark, root).columns.toSeq ==
      Seq("k", "label"))
    assert(VersionedTable.read(spark, root).where(col("label") === "b")
      .select("k").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // the PRE-rename manifest carries no mapping: old snapshot reads
    // exactly as committed
    assert(VersionedTable.readVersion(spark, root, 0L).columns.toSeq ==
      Seq("k", "v"))
  }

  test("widen int->bigint: old dirs cast up at read, appends write " +
      "wide, and the appended delta unifies under the logical type") {
    val root = freshRoot("widen")
    VersionedTable.commit(
      Seq((1, 10), (2, 20)).toDF("k", "n"), root, tag = "narrow")
    VersionedTable.widenColumn(spark, root, "n", "BIGINT")
    val sch = VersionedTable.read(spark, root).schema
    assert(sch("n").dataType == LongType)
    // append a delta already carrying the wide type (plus values only
    // a long can hold)
    VersionedTable.commitAppend(
      Seq((3, 5000000000L)).toDF("k", "n"), root, tag = "wide-delta")
    val got = VersionedTable.read(spark, root)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == Set((1, 10L), (2, 20L), (3, 5000000000L)))
    // narrowing is refused — metadata-only widening must be lossless
    intercept[Exception] {
      VersionedTable.widenColumn(spark, root, "n", "INT")
    }
    // long -> double is LOSSY above 2^53 and refused; the lossless
    // route is DECIMAL(19+,0)
    intercept[Exception] {
      VersionedTable.widenColumn(spark, root, "n", "DOUBLE")
    }
    VersionedTable.widenColumn(spark, root, "n", "DECIMAL(19,0)")
    val big = VersionedTable.read(spark, root)
      .where(col("k") === 3).select("n").head().getDecimal(0)
    assert(big.longValueExact() == 5000000000L)
  }

  test("concurrent optimistic appends never revert a mapping " +
      "extension: the chain ends with every column and every row, " +
      "whatever the interleaving") {
    val root = freshRoot("race")
    VersionedTable.commit(Seq((0L, "base")).toDF("k", "v"), root)
    VersionedTable.renameColumn(spark, root, "v", "txt") // mapping on
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // A extends the mapping with a new column while B appends plain
    // deltas through the same optimistic retry path
    val a = Future {
      VersionedTable.commitAppendRetry(
        Seq((1L, "a", 7L)).toDF("k", "txt", "extra"), root)
    }
    val b = Future {
      (2 to 4).foreach(i => VersionedTable.commitAppendRetry(
        Seq((i.toLong, s"b$i")).toDF("k", "txt"), root))
    }
    Await.result(a, 60.seconds)
    Await.result(b, 60.seconds)
    val v = VersionedTable.latestVersion(spark, root).get
    val fields = VersionedTable.tableFields(spark, root, v).get
    assert(fields.exists(_._2 == "extra"),
      s"a concurrent plain append reverted the mapping extension: " +
        fields.mkString(","))
    val got = VersionedTable.read(spark, root)
      .select("k", "txt", "extra").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set((0L, "base", -1L), (1L, "a", 7L),
      (2L, "b2", -1L), (3L, "b3", -1L), (4L, "b4", -1L)))
  }

  test("drop then re-add the same name mints a fresh field id and " +
      "physical name: the dropped bytes never resurrect") {
    val root = freshRoot("readd")
    VersionedTable.commit(
      Seq((1L, "secret1"), (2L, "secret2")).toDF("k", "note"), root)
    VersionedTable.dropColumn(spark, root, "note")
    assert(VersionedTable.read(spark, root).columns.toSeq == Seq("k"))
    VersionedTable.addColumn(spark, root, "note", "STRING")
    // the re-added column reads as typed NULL everywhere — NOT the
    // old "secret" values still sitting in the v0 parquet files
    val got = VersionedTable.read(spark, root)
      .select("k", "note").collect()
      .map(r => (r.getLong(0), r.isNullAt(1))).toSet
    assert(got == Set((1L, true), (2L, true)))
    // and the mapping reserved the old physical name: the new field's
    // physical differs from "note"
    val fields = VersionedTable.tableFields(spark, root,
      VersionedTable.latestVersion(spark, root).get).get
    val live = fields.filter(_._2 == "note")
    assert(live.size == 1 && live.head._3 != "note")
    // an append that WRITES the re-added column lands under the fresh
    // physical name and reads back
    VersionedTable.commitAppend(
      Seq((3L, "fresh")).toDF("k", "note"), root)
    val got2 = VersionedTable.read(spark, root)
      .where(col("note").isNotNull).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got2 == Seq((3L, "fresh")))
  }

  test("a renamed column KEEPS its stats sidecar: pruning through " +
      "the new logical name still skips files") {
    val root = freshRoot("renstats")
    val df = spark.range(0, 4000)
      .select(col("id").as("k"), (col("id") % 97).as("payload"))
    val v0 = VersionedTable.commitWithStats(
      df.repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      root, statsCols = Seq("k"), tag = "clustered")
    val all = VersionedTable.dataFileCount(spark, root, v0)
    assert(all == 8)
    val v1 = VersionedTable.renameColumn(spark, root, "k", "doc_id")
    // pruning keys through the mapping onto the physical sidecar: a
    // needle range on the NEW name touches a strict file subset
    val pruned = VersionedTable.prunedPaths(spark, root, v1,
      Seq(("doc_id", 100.0, 199.0)))
    assert(pruned.size < all && pruned.nonEmpty)
    // and readWhere (automatic skipping) is exact under the new name
    val got = VersionedTable.readWhere(spark, root,
      col("doc_id").between(100L, 199L))
    assert(got.count() == 100L)
    assert(got.columns.toSeq == Seq("doc_id", "payload"))
  }

  test("MoR delete composes with evolution: keys named by the NEW " +
      "logical name bind to the immutable physical column, and a " +
      "post-rename re-insert stays visible (sequence scoping)") {
    val root = freshRoot("mordel")
    VersionedTable.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), root)
    VersionedTable.renameColumn(spark, root, "k", "id")
    VersionedTable.deleteKeysMor(spark, root,
      Seq(2L).toDF("id"), tag = "erase-2")
    assert(VersionedTable.read(spark, root).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // re-insert the erased key AFTER the delete: the append's dir is
    // sequenced above the delete, so the row is visible again
    VersionedTable.commitAppend(
      Seq((2L, "b2")).toDF("id", "v"), root, tag = "reinsert")
    val got = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (3L, "c"), (2L, "b2")))
    // a second rename on top of the live delete sidecar still reads
    VersionedTable.renameColumn(spark, root, "id", "doc")
    assert(VersionedTable.read(spark, root).columns.toSeq ==
      Seq("doc", "v"))
    assert(VersionedTable.read(spark, root).count() == 3)
  }

  test("a REWRITE re-baselines the mapping: compaction on an evolved " +
      "table keeps the logical schema and field-id continuity") {
    val root = freshRoot("rebase")
    VersionedTable.commit(
      Seq((1, "a"), (2, "b")).toDF("k", "v"), root)
    VersionedTable.renameColumn(spark, root, "v", "txt")
    VersionedTable.widenColumn(spark, root, "k", "BIGINT")
    val idBefore = VersionedTable.tableFields(spark, root,
      VersionedTable.latestVersion(spark, root).get).get
      .find(_._2 == "txt").get._1
    // compact = read logical + rewrite: physical snaps back to logical
    val vc = VersionedTable.compact(spark, root)
    val fields = VersionedTable.tableFields(spark, root, vc).get
    val txt = fields.find(_._2 == "txt").get
    assert(txt._1 == idBefore, "field id must survive the rewrite")
    assert(txt._3 == "txt", "physical snaps back to logical")
    assert(fields.find(_._2 == "k").get._4.toUpperCase == "BIGINT")
    val got = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b")))
  }

  test("fsck validates the mapping and stays healthy across the " +
      "whole evolution lifecycle") {
    val root = freshRoot("fsck")
    VersionedTable.commit(
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "v", "x"), root)
    VersionedTable.renameColumn(spark, root, "v", "label")
    VersionedTable.dropColumn(spark, root, "x")
    VersionedTable.addColumn(spark, root, "x", "DOUBLE")
    VersionedTable.commitAppend(
      Seq((3L, "c", 3.0)).toDF("k", "label", "x"), root)
    assert(VersionedTable.fsck(spark, root).isEmpty)
    // corrupt a mapping by hand: fsck reports it precisely
    val badRoot = freshRoot("fsckbad")
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "v"), badRoot)
    VersionedTable.publish(spark, badRoot, 1L, tag = "bad",
      dirs = Seq("v0"), fields = "1:k:k:BIGINT;1:v:v:STRING")
    val issues = VersionedTable.fsck(spark, badRoot)
    assert(issues.exists(_.contains("field ids not unique")), issues)
  }

  test("evolution ops refuse nonsense: unknown columns, name " +
      "collisions, dropping the last column") {
    val root = freshRoot("guards")
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "v"), root)
    intercept[Exception] {
      VersionedTable.renameColumn(spark, root, "nope", "x")
    }
    intercept[Exception] {
      VersionedTable.renameColumn(spark, root, "k", "v")
    }
    intercept[Exception] {
      VersionedTable.addColumn(spark, root, "k", "INT")
    }
    VersionedTable.dropColumn(spark, root, "v")
    intercept[Exception] {
      VersionedTable.dropColumn(spark, root, "k")
    }
  }

  test("append extends the mapping for never-seen columns with fresh " +
      "field ids (additive evolution folded into the append)") {
    val root = freshRoot("extend")
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "v"), root)
    VersionedTable.renameColumn(spark, root, "v", "txt") // mapping on
    VersionedTable.commitAppend(
      Seq((2L, "b", 9L)).toDF("k", "txt", "extra"), root)
    val v = VersionedTable.latestVersion(spark, root).get
    val fields = VersionedTable.tableFields(spark, root, v).get
    assert(fields.exists(f => f._2 == "extra" && f._4 == "BIGINT"))
    val got = VersionedTable.read(spark, root)
      .select("k", "txt", "extra").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set((1L, "a", -1L), (2L, "b", 9L)))
    assert(VersionedTable.read(spark, root).schema("extra")
      .dataType == LongType)
  }

  test("plan shape: an evolved append chain scans once per DISTINCT " +
      "physical schema, never once per directory") {
    val root = freshRoot("planshape")
    VersionedTable.commit(Seq((1, 1L)).toDF("k", "v"), root)
    // three more narrow appends — same physical schema as the base
    (2 to 4).foreach(i =>
      VersionedTable.commitAppend(Seq((i, i.toLong)).toDF("k", "v"),
        root))
    VersionedTable.widenColumn(spark, root, "k", "BIGINT")
    // one wide append — the second (and last) distinct schema
    VersionedTable.commitAppend(
      Seq((9000000000L, 9L)).toDF("k", "v"), root)
    val plan = VersionedTable.read(spark, root)
      .queryExecution.executedPlan.toString
    val scans = plan.sliding("Scan parquet".length)
      .count(_ == "Scan parquet")
    assert(scans == 2,
      s"expected 2 scans (narrow group + wide group), got $scans:\n" +
        plan.take(1200))
    val got = VersionedTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L),
      (9000000000L, 9L)))
  }

  test("widening a bloom-covered column drops ITS stale bloom (narrow-" +
      "type hashes would silently prune files that hold the key) but " +
      "keeps other columns' blooms and the stats sidecar") {
    val root = freshRoot("widenbloom")
    val d = spark.range(0L, 2000L).toDF("u")
      .select(col("u").cast("int").as("k"),
        (col("u") * 10).as("other"), (col("u") % 7).as("grp"))
      .repartition(8, col("k"))
    val v0 = VersionedTable.commitWithBloom(d, root,
      bloomCols = Seq("k", "other"), expectedItemsPerFile = 10000L)
    val nFiles = VersionedTable.dataFileCount(spark, root, v0)
    // pre-widen: the k bloom prunes
    assert(VersionedTable.bloomPrunedPaths(spark, root, v0,
      "k", Seq(1234)).size < nFiles)
    val v1 = VersionedTable.widenColumn(spark, root, "k", "BIGINT")
    // post-widen probes arrive as LONG literals: the carried INT-built
    // bloom would reject every file containing 1234 — the carry must
    // have dropped bf_k, so pruning falls back to the full listing
    assert(VersionedTable.bloomPrunedPaths(spark, root, v1,
      "k", Seq(1234L)).size == nFiles)
    // and the POINT LOOKUP — the row-loss path the stale bloom would
    // break — still finds the row
    val got = VersionedTable.readWhereVersion(spark, root, v1,
      col("k").isin(1234L)).select("k", "other").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1234L, 12340L)))
    // the untouched column's bloom survived the carry and still prunes
    assert(VersionedTable.bloomPrunedPaths(spark, root, v1,
      "other", Seq(12340L)).size < nFiles)
  }

  test("appending a delta WIDER than the logical field fails loudly " +
      "instead of silently truncating through the physical cast") {
    val root = freshRoot("widedelta")
    VersionedTable.commit(
      Seq((1, "a"), (2, "b")).toDF("n", "v"), root)
    VersionedTable.renameColumn(spark, root, "v", "txt") // mapping on
    // a LONG delta into the INT field would wrap 5e9 silently
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.commitAppend(
        Seq((5000000000L, "c")).toDF("n", "txt"), root)
    }
    assert(ex.getMessage.contains("losslessly"))
    // equal and narrower-than-logical deltas still append fine
    VersionedTable.widenColumn(spark, root, "n", "BIGINT")
    VersionedTable.commitAppend(
      Seq((3, "c")).toDF("n", "txt"), root) // INT delta into BIGINT
    val got = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("merged and plain reads agree on an evolved table (the " +
      "mapping IS the schema) and string types survive the round") {
    val root = freshRoot("agree")
    VersionedTable.commit(
      Seq((1L, "x"), (2L, "y")).toDF("k", "s"), root)
    VersionedTable.renameColumn(spark, root, "s", "name")
    val a = VersionedTable.read(spark, root)
    val b = VersionedTable.readMerged(spark, root)
    assert(a.columns.toSeq == b.columns.toSeq)
    assert(a.schema("name").dataType == StringType)
    assert(a.collect().map(_.toSeq).toSet ==
      b.collect().map(_.toSeq).toSet)
  }

  test("MoR delete keys must cast losslessly into an evolved table's " +
      "key type: a LONG key into an INT column fails loudly instead " +
      "of wrapping onto the wrong rows") {
    val root = freshRoot("delkeycast")
    // Int key column; the rename synthesizes the field mapping that
    // routes delete keys through the physical-name cast
    VersionedTable.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"), root)
    VersionedTable.renameColumn(spark, root, "v", "w")
    val wide = Seq(5000000000L).toDF("k")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.deleteKeysMor(spark, root, wide)
    }
    assert(e.getMessage.contains("losslessly"), e.getMessage)
    // same guard on the CDC-apply verb's delete-routed rows
    intercept[Exception] {
      VersionedTable.upsertMor(spark, root,
        Seq((5000000000L, "d")).toDF("k", "op"), Seq("k"),
        deleteIf = Some(col("op") === "d"))
    }
    // the table is untouched and a well-typed delete still works
    assert(VersionedTable.read(spark, root).count() == 2L)
    VersionedTable.deleteKeysMor(spark, root, Seq(1).toDF("k"))
    assert(VersionedTable.read(spark, root).count() == 1L)
  }
}
