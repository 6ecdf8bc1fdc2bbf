package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.operators.Ivm
import graft.sources.VersionedTable
import graft.streaming.StreamingIvm

class VersionedTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = s"${graft.config.Scratch.runDir}/vtspec_$name"
    VersionedTable.destroy(spark, root)
    root
  }

  test("commit/read/time-travel: every committed snapshot stays " +
      "readable by version id, latest wins the plain read") {
    val root = freshRoot("basic")
    val d0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val d1 = Seq((1L, "a2"), (3L, "c")).toDF("k", "v")
    assert(VersionedTable.commit(d0, root, tag = "base") == 0L)
    assert(VersionedTable.commit(d1, root) == 1L)
    assert(VersionedTable.versions(spark, root) == Seq(0L, 1L))
    assert(VersionedTable.latestVersion(spark, root).contains(1L))
    val got0 = VersionedTable.readVersion(spark, root, 0L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val got1 = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got0 == Set((1L, "a"), (2L, "b")))
    assert(got1 == Set((1L, "a2"), (3L, "c")))
  }

  test("manifest-last protocol: an orphan data dir (crash before " +
      "manifest) is invisible; uncommitted versions refuse to read") {
    val root = freshRoot("orphan")
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "v"), root)
    // simulate a crash mid-commit: data landed, manifest never did
    Seq((9L, "ghost")).toDF("k", "v")
      .write.parquet(s"$root/v99")
    assert(VersionedTable.versions(spark, root) == Seq(0L))
    assert(VersionedTable.read(spark, root).collect().map(_.getLong(0))
      .toSeq == Seq(1L))
    intercept[Exception] {
      VersionedTable.readVersion(spark, root, 99L)
    }
  }

  test("tags record the writer's idempotence handle per version") {
    val root = freshRoot("tags")
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "v"), root, tag = "0")
    assert(VersionedTable.latestTag(spark, root).contains("0"))
    VersionedTable.commit(Seq((2L, "b")).toDF("k", "v"), root, tag = "7")
    assert(VersionedTable.latestTag(spark, root).contains("7"))
    assert(VersionedTable.history(spark, root) ==
      Seq((0L, "0"), (1L, "7")))
  }

  test("copy-on-write delete and upsert commit new snapshots; the " +
      "pre-delete version retains the rows until vacuumed") {
    val root = freshRoot("crud")
    VersionedTable.commit(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("k", "v"), root)
    VersionedTable.deleteWhere(spark, root, col("k") === 2L,
      tag = "erase-2")
    assert(VersionedTable.read(spark, root).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // the eraser path: old version still holds the row (retention)
    assert(VersionedTable.readVersion(spark, root, 0L).count() == 3)
    VersionedTable.vacuum(spark, root, keepLast = 1)
    intercept[Exception] { VersionedTable.readVersion(spark, root, 0L) }
    // upsert: same-key replace + new-key append in one commit
    VersionedTable.upsert(spark, root,
      Seq((3L, "c2"), (9L, "z")).toDF("k", "v"), Seq("k"))
    val got = VersionedTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (3L, "c2"), (9L, "z")))
  }

  test("rollback commits the old snapshot forward; vacuum expires old " +
      "versions and crashed-commit orphans but keeps the retained " +
      "window readable") {
    val root = freshRoot("vacuum")
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "v"), root)   // v0
    VersionedTable.commit(Seq((2L, "b")).toDF("k", "v"), root)   // v1
    VersionedTable.commit(Seq((3L, "c")).toDF("k", "v"), root)   // v2
    // roll back to v0: history moves FORWARD (v3 = v0's data)
    val v3 = VersionedTable.rollback(spark, root, 0L)
    assert(v3 == 3L)
    assert(VersionedTable.read(spark, root).collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    assert(VersionedTable.history(spark, root).last ==
      ((3L, "rollback-to-v0")))
    // a crashed commit leaves an orphan dir
    Seq((9L, "ghost")).toDF("k", "v").write.parquet(s"$root/v99")
    VersionedTable.vacuum(spark, root, keepLast = 2)
    // v0/v1 (expired-manifest dirs, provably dead) are gone at once;
    // the FRESH orphan is age-guarded — it could be an in-flight
    // writer's data — and survives until the grace window passes
    assert(VersionedTable.versions(spark, root) == Seq(2L, 3L))
    intercept[Exception] { VersionedTable.readVersion(spark, root, 0L) }
    assert(!new java.io.File(s"$root/v0").exists)
    assert(new java.io.File(s"$root/v99").exists,
      "fresh orphan swept inside the grace window")
    VersionedTable.vacuum(spark, root, keepLast = 2, orphanGraceMs = 0L)
    assert(!new java.io.File(s"$root/v99").exists)
    assert(VersionedTable.readVersion(spark, root, 2L).collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    assert(VersionedTable.read(spark, root).collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("versioned Z-order layout: each commit is a complete clustered " +
      "layout, skipping holds on the latest, old layouts time-travel") {
    import graft.operators.ZOrder
    val root = freshRoot("zorder")
    val pts = spark.range(0, 20000).select(
      (pmod(xxhash64(col("id")), lit(10000L)) / 10.0).as("x"),
      (pmod(xxhash64(col("id"), lit(1)), lit(10000L)) / 10.0).as("y"))
    val code = ZOrder.mortonCode(col("x"), col("y"),
      0.0, 1000.0, 0.0, 1000.0)
    val v0 = VersionedTable.commit(ZOrder.clustered(pts, code, 4), root)
    // data grew / re-cluster finer: a NEW version, not an overwrite
    val v1 = VersionedTable.commit(ZOrder.clustered(pts, code, 16), root)
    assert(v0 == 0L && v1 == 1L)
    // both versions hold the full dataset
    assert(VersionedTable.readVersion(spark, root, v0).count() == 20000)
    assert(VersionedTable.read(spark, root).count() == 20000)
    // file-skipping evidence on the LATEST committed layout: a narrow
    // y-band touches a minority of the 16 z-files
    val files = VersionedTable.read(spark, root)
      .groupBy(input_file_name().as("f"))
      .agg(min("y").as("lo"), max("y").as("hi"))
    assert(files.count() == 16)
    val touched = files.where(col("lo") <= 420.0 && col("hi") >= 400.0)
      .count()
    assert(touched <= 8, s"$touched of 16 files intersect a 2% y-band")
    // the previous layout still reads with ITS file count
    val files0 = VersionedTable.readVersion(spark, root, v0)
      .select(input_file_name()).distinct().count()
    assert(files0 == 4)
  }

  test("versioned bucketed layout: registerVersioned serves the " +
      "latest fingerprint-matched snapshot Exchange-free; a source " +
      "change commits a new version; old versions register for time " +
      "travel") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import graft.sources.BucketedTable
    val root = freshRoot("bucketed")
    val dfA = spark.range(1, 1001)
      .select(col("id").as("ka"), (col("id") * 2).as("va"))
    val dfB = spark.range(1, 1001)
      .select(col("id").as("kb"), (col("id") * 3).as("vb"))
    // nothing committed yet -> caller must write
    assert(!BucketedTable.registerVersioned(s2, "vt_a", s"$root/a", "fp1"))
    assert(BucketedTable.writeVersioned(dfA, "vt_a", s"$root/a",
      "ka", 8, "fp1") == 0L)
    assert(BucketedTable.writeVersioned(dfB, "vt_b", s"$root/b",
      "kb", 8, "fpB") == 0L)
    // matching fingerprint registers the latest snapshot
    assert(BucketedTable.registerVersioned(s2, "vt_a", s"$root/a", "fp1"))
    assert(BucketedTable.registerVersioned(s2, "vt_b", s"$root/b", "fpB"))
    val joined = BucketedTable.colocatedJoin(s2, "vt_a", "ka", "vt_b", "kb")
    assert(!joined.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "versioned bucketed join lost co-location")
    assert(joined.count() == 1000)
    // source regenerated: fingerprint mismatch refuses the stale
    // layout, the rewrite lands as version 1
    assert(!BucketedTable.registerVersioned(s2, "vt_a", s"$root/a", "fp2"))
    val dfA2 = spark.range(1, 501)
      .select(col("id").as("ka"), (col("id") * 7).as("va"))
    assert(BucketedTable.writeVersioned(dfA2, "vt_a", s"$root/a",
      "ka", 8, "fp2") == 1L)
    assert(BucketedTable.registerVersioned(s2, "vt_a", s"$root/a", "fp2"))
    assert(s2.table("vt_a").count() == 500)
    // time travel: the ORIGINAL layout still registers by version id
    assert(BucketedTable.registerVersioned(s2, "vt_a_v0", s"$root/a",
      version = Some(0L)))
    assert(s2.table("vt_a_v0").count() == 1000)
    Seq("vt_a", "vt_b", "vt_a_v0").foreach(t =>
      s2.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("SCD2 dimension states as versions: base history at v0, " +
      "incremental merge at v1 equals the full rebuild, v0 stays " +
      "readable") {
    import graft.operators.Cdc
    val root = freshRoot("scd2")
    val baseLog = Seq(
      (1L, 10L, "a", 100L), (1L, 20L, "b", 101L),
      (2L, 10L, "x", 102L), (2L, 30L, "x", 103L))
      .toDF("k", "ts", "attr", "eid")
    val delta = Seq((1L, 40L, "c", 104L), (3L, 5L, "z", 105L))
      .toDF("k", "ts", "attr", "eid")
    val hist0 = Cdc.scd2(baseLog, "k", "ts", "attr", Seq("eid"))
    VersionedTable.commit(hist0, root, tag = "base")
    val merged = Cdc.scd2Merge(
      VersionedTable.read(spark, root), delta, "k", "ts", "attr",
      Seq("eid"))
    VersionedTable.commit(merged, root, tag = "merged")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "version", "attr", "valid_from", "valid_to",
        "is_current").collect()
        .map(_.toSeq).sortBy(_.mkString(",")).toSeq
    val full = Cdc.scd2(baseLog.unionByName(delta), "k", "ts", "attr",
      Seq("eid"))
    assert(canon(VersionedTable.read(spark, root)) == canon(full),
      "merged dimension state diverged from the full rebuild")
    assert(canon(VersionedTable.readVersion(spark, root, 0L)) ==
      canon(hist0), "base dimension state no longer time-travels")
  }

  test("streaming IVM survives a forced mid-stream crash-restart from " +
      "checkpoint: resumed state equals the batch recompute and a " +
      "replayed batch is skipped") {
    val base = freshRoot("crash")
    val src = s"$base/src"
    val ckpt = s"$base/ckpt"
    val stateRoot = s"$base/state"
    val keys = Seq("g")
    val b0 = Seq(("a", 1.0, 1L), ("a", 3.0, 2L), ("b", 2.0, 2L))
      .toDF("g", "v", "d")
    val b1 = Seq(("a", 5.0, 1L), ("b", 4.0, 3L), ("c", 7.0, 4L))
      .toDF("g", "v", "d")
    val schema = b0.schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(
          StreamingIvm.foldBatch(spark, stateRoot, keys, "v", "d") _)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // batch 0 arrives, the job "crashes" (stops) after committing it
    b0.coalesce(1).write.mode("overwrite").parquet(src)
    runOnce()
    assert(VersionedTable.latestTag(spark, stateRoot).contains("0"))
    // batch 1 arrives while the job is down; a NEW query resumes from
    // the SAME checkpoint and must fold exactly the unseen file
    b1.coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val fin = Ivm.finalizeState(
      VersionedTable.read(spark, stateRoot), keys)
      .select("g", "n", "sum_v", "min_v", "max_v", "avg_v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    val direct = Ivm.finalizeState(
      Ivm.aggState(b0.unionByName(b1), keys, "v", "d"), keys)
      .select("g", "n", "sum_v", "min_v", "max_v", "avg_v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    assert(fin == direct,
      s"resumed streaming state diverged: $fin vs $direct")
    // exactly one state version per batch — the resume did NOT refold
    // batch 0
    assert(VersionedTable.versions(spark, stateRoot) == Seq(0L, 1L))
    // at-least-once delivery: force a replay of batch 0 — the tag
    // check must skip it, leaving the state untouched
    StreamingIvm.foldBatch(spark, stateRoot, keys, "v", "d")(b0, 0L)
    assert(VersionedTable.versions(spark, stateRoot) == Seq(0L, 1L))
  }

  test("compaction bin-packs a fragmented snapshot into fewer files, " +
      "content-identical, history intact") {
    val root = freshRoot("compact")
    val base = spark.range(0, 10000)
      .select(col("id").as("k"), (col("id") * 3 % 97).as("v"))
    // fragmented commit: 32 files for a sub-MB table
    val v0 = VersionedTable.commit(base.repartition(32), root,
      tag = "frag")
    val beforeFiles = VersionedTable.dataFileCount(spark, root, v0)
    assert(beforeFiles == 32, s"fixture should fragment: $beforeFiles")
    val v1 = VersionedTable.compact(spark, root, targetBytes = 1L << 30)
    val afterFiles = VersionedTable.dataFileCount(spark, root, v1)
    assert(afterFiles == 1,
      s"sub-target table must compact to one file: $afterFiles")
    // content identical row-for-row
    val want = base.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    // the fragmented version stays time-travelable until vacuum
    assert(VersionedTable.versions(spark, root) == Seq(v0, v1))
    assert(VersionedTable.readVersion(spark, root, v0).count() == 10000L)
    // target sizing: ceil(bytes/target) files when target < data size
    val bytes = VersionedTable.dataBytes(spark, root, v1)
    val v2 = VersionedTable.compact(spark, root,
      targetBytes = math.max(1L, bytes / 4))
    val files2 = VersionedTable.dataFileCount(spark, root, v2)
    assert(files2 >= 4 && files2 <= 6,
      s"quarter-target should yield ~5 files: $files2")
    // policy hook: a well-packed table is a no-op (no new version),
    // a fragmented one compacts
    assert(VersionedTable.compactIfFragmented(spark, root,
      maxFiles = 64, targetBytes = 1L << 30).isEmpty)
    assert(VersionedTable.versions(spark, root).last == v2)
    val v3 = VersionedTable.compactIfFragmented(spark, root,
      maxFiles = files2 - 1, targetBytes = 1L << 30)
    assert(v3.contains(v2 + 1), s"fragmented table must compact: $v3")
    assert(VersionedTable.dataFileCount(spark, root, v3.get) == 1)
  }

  test("min/max stats sidecar prunes a clustered range scan to the " +
      "overlapping files only, losing no rows") {
    val root = freshRoot("pruned")
    val base = spark.range(0, 8000)
      .select(col("id").as("k"), (col("id") % 13).as("v"))
    val v = VersionedTable.commitWithStats(
      base.repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      root, statsCols = Seq("k"))
    val all = VersionedTable.dataFileCount(spark, root, v)
    assert(all == 8)
    // a 1000-wide needle on a 8000-wide domain: 1-2 of 8 files
    val picked = VersionedTable.prunedPaths(spark, root, v,
      Seq(("k", 2100d, 2900d)))
    assert(picked.size < all / 2,
      s"stats must prune most files: ${picked.size} of $all")
    val got = VersionedTable.readWhereVersion(spark, root, v,
      col("k").cast("double").between(2100d, 2900d))
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (2100L to 2900L),
      "pruned scan must equal the exact filter")
    // out-of-domain range: zero files, empty result, schema intact
    assert(VersionedTable.prunedPaths(spark, root, v,
      Seq(("k", 20000d, 30000d))).isEmpty)
    assert(VersionedTable.readWhereVersion(spark, root, v,
      col("k").cast("double").between(20000d, 30000d)).count() == 0L)
    // un-collected column falls back to all files, still correct
    val gotV = VersionedTable.readWhereVersion(spark, root, v,
      col("v").cast("double").between(3d, 3d))
    assert(gotV.count() == base.where(col("v") === 3).count())
    // vacuum drops the expired version's stats sidecar with it
    VersionedTable.commit(base.limit(10), root)
    VersionedTable.vacuum(spark, root, keepLast = 1)
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fsys.exists(
      new org.apache.hadoop.fs.Path(root, s"_graft_stats_v$v")),
      "vacuum must expire the stats sidecar")
  }

  test("compactSorted preserves clustering AND stats: file skipping " +
      "still works after the rewrite, where round-robin compact " +
      "would have destroyed it") {
    val root = freshRoot("compactsorted")
    val base = spark.range(0, 8000)
      .select(col("id").as("k"), (col("id") % 13).as("v"))
    VersionedTable.commitWithStats(
      base.repartitionByRange(16, col("k")).sortWithinPartitions("k"),
      root, statsCols = Seq("k"))
    // bin-pack 16 clustered files down to fewer, keeping the k sort
    val bytes = VersionedTable.dataBytes(spark, root, 0L)
    val v1 = VersionedTable.compactSorted(spark, root, Seq("k"),
      targetBytes = bytes / 8 + 1)
    val all = VersionedTable.dataFileCount(spark, root, v1)
    assert(all < 16 && all > 1, s"expected a real bin-pack, got $all")
    // content identical
    assert(VersionedTable.readVersion(spark, root, v1)
      .collect().map(_.getLong(0)).sorted.toSeq == (0L until 8000L))
    // and the needle still skips files through the REBUILT sidecar
    val picked = VersionedTable.prunedPaths(spark, root, v1,
      Seq(("k", 2100d, 2900d)))
    assert(picked.size < all,
      s"compacted table lost data skipping: ${picked.size} of $all")
    val got = VersionedTable.readWhereVersion(spark, root, v1,
      col("k").cast("double").between(2100d, 2900d))
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (2100L to 2900L))
  }

  test("append chains keep data skipping: delta stats merge into the " +
      "sidecar and uncovered files are conservatively read") {
    val root = freshRoot("appendstats")
    def ranged(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
    val v0 = VersionedTable.commitWithStats(ranged(0, 1000), root,
      statsCols = Seq("k"))
    val v1 = VersionedTable.commitAppendWithStats(ranged(1000, 2000),
      root, statsCols = Seq("k"))
    val v2 = VersionedTable.commitAppendWithStats(ranged(2000, 3000),
      root, statsCols = Seq("k"))
    assert(VersionedTable.dataFileCount(spark, root, v2) == 6)
    // a needle inside the SECOND batch prunes to that batch's files
    val picked = VersionedTable.prunedPaths(spark, root, v2,
      Seq(("k", 1200d, 1300d)))
    assert(picked.size <= 2,
      s"append-chain pruning must stay delta-tight: ${picked.size}")
    val got = VersionedTable.readWhereVersion(spark, root, v2,
      col("k").cast("double").between(1200d, 1300d))
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (1200L to 1300L))
    // a stats-less append leaves its files UN-covered: they must
    // always be read, never silently dropped
    val v3 = VersionedTable.commitAppend(ranged(3000, 4000), root)
    val got3 = VersionedTable.readWhereVersion(spark, root, v3,
      col("k").cast("double").between(3500d, 3600d))
      .collect().map(_.getLong(0)).sorted
    assert(got3.toSeq == (3500L to 3600L),
      "uncovered appended files must stay visible to pruned reads")
    assert(v0 == 0L && v1 == 1L && v2 == 2L && v3 == 3L)
  }

  test("fast append commits only the delta; history, compaction, and " +
      "directory-level vacuum liveness all hold") {
    val root = freshRoot("append")
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val b1 = Seq((3L, "c")).toDF("k", "v")
    val b2 = Seq((4L, "d")).toDF("k", "v")
    val v0 = VersionedTable.commit(b0.coalesce(1), root)
    val v1 = VersionedTable.commitAppend(b1.coalesce(1), root)
    val v2 = VersionedTable.commitAppend(b2.coalesce(1), root)
    // each snapshot sees its cumulative content; old versions intact
    def keys(v: Long) = VersionedTable.readVersion(spark, root, v)
      .collect().map(_.getLong(0)).toSet
    assert(keys(v0) == Set(1L, 2L))
    assert(keys(v1) == Set(1L, 2L, 3L))
    assert(keys(v2) == Set(1L, 2L, 3L, 4L))
    // the append wrote ONLY its delta dir
    assert(VersionedTable.resolveDirs(spark, root, v2) ==
      Seq("v0", "v1", "v2"))
    assert(VersionedTable.dataFileCount(spark, root, v2) == 3)
    // compaction rewrites the multi-dir snapshot into ONE dir (a
    // collision-free name since the round-14 pinned-base protocol —
    // a racing plain commit must never share the rewrite's directory)
    val v3 = VersionedTable.compact(spark, root, targetBytes = 1L << 30)
    assert(VersionedTable.resolveDirs(spark, root, v3).size == 1,
      VersionedTable.resolveDirs(spark, root, v3))
    assert(keys(v3) == Set(1L, 2L, 3L, 4L))
    // vacuum keeps every directory a RETAINED manifest references:
    // retaining (v2, v3) keeps v0/v1 alive because v2 references them
    VersionedTable.vacuum(spark, root, keepLast = 2)
    assert(VersionedTable.versions(spark, root) == Seq(v2, v3))
    assert(keys(v2) == Set(1L, 2L, 3L, 4L))
    // retaining only the compacted v3 lets v0..v2 go
    VersionedTable.vacuum(spark, root, keepLast = 1)
    assert(keys(v3) == Set(1L, 2L, 3L, 4L))
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("v0", "v1", "v2").foreach { d =>
      assert(!fsys.exists(new org.apache.hadoop.fs.Path(root, d)),
        s"unreferenced dir $d must be vacuumed")
    }
  }

  test("conjunction pruning skips on either and both Z-order dims " +
      "through the table API, losing no rows") {
    import graft.operators.ZOrder
    val root = freshRoot("pruned2")
    val pts = spark.range(0, 40000).select(
      pmod(xxhash64(col("id")), lit(1000L)).cast("double").as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(1000L)).cast("double").as("y"))
    val z = ZOrder.clustered(pts,
      ZOrder.mortonCode(col("x"), col("y"), 0.0, 1000.0, 0.0, 1000.0), 16)
    val v = VersionedTable.commitWithStats(z, root,
      statsCols = Seq("x", "y"))
    val all = VersionedTable.dataFileCount(spark, root, v)
    assert(all == 16)
    // the Z layout's headline: a narrow band on EITHER dim skips files
    val onX = VersionedTable.prunedPaths(spark, root, v,
      Seq(("x", 100d, 160d)))
    val onY = VersionedTable.prunedPaths(spark, root, v,
      Seq(("y", 100d, 160d)))
    assert(onX.size < all, s"x-band must skip: ${onX.size} of $all")
    assert(onY.size < all, s"y-band must skip: ${onY.size} of $all")
    // the conjunction prunes at least as hard as either dim alone
    val both = VersionedTable.prunedPaths(spark, root, v,
      Seq(("x", 100d, 160d), ("y", 100d, 160d)))
    assert(both.size <= math.min(onX.size, onY.size))
    // and the scan through the public API loses no rows vs the
    // exact two-predicate filter
    val got = VersionedTable.readWhereVersion(spark, root, v,
      col("x").cast("double").between(100d, 160d) &&
        col("y").cast("double").between(100d, 160d)).count()
    val want = pts.where(col("x").between(100, 160) &&
      col("y").between(100, 160)).count()
    assert(got == want, s"conjunction pruned scan lost rows: $got/$want")
  }

  test("compactZOrder re-clusters and re-collects stats: both-dim " +
      "skipping survives the bin-pack, content identical") {
    import graft.operators.ZOrder
    val root = freshRoot("compactz")
    val pts = spark.range(0, 40000).select(
      pmod(xxhash64(col("id")), lit(1000L)).cast("double").as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(1000L)).cast("double").as("y"))
    val z = ZOrder.clustered(pts,
      ZOrder.mortonCode(col("x"), col("y"), 0.0, 1000.0, 0.0, 1000.0), 16)
    VersionedTable.commitWithStats(z, root, statsCols = Seq("x", "y"))
    val bytes = VersionedTable.dataBytes(spark, root, 0L)
    val v1 = VersionedTable.compactZOrder(spark, root, Seq("x", "y"),
      targetBytes = bytes / 8 + 1)
    val all = VersionedTable.dataFileCount(spark, root, v1)
    assert(all < 16 && all > 1, s"expected a real bin-pack, got $all")
    // the rewritten layout still skips on either dim and on both
    val onX = VersionedTable.prunedPaths(spark, root, v1,
      Seq(("x", 100d, 160d)))
    val onY = VersionedTable.prunedPaths(spark, root, v1,
      Seq(("y", 100d, 160d)))
    assert(onX.size < all, s"x-band must still skip: ${onX.size} of $all")
    assert(onY.size < all, s"y-band must still skip: ${onY.size} of $all")
    // and no row is lost vs the exact filter
    val got = VersionedTable.readWhereVersion(spark, root, v1,
      col("x").cast("double").between(100d, 160d) &&
        col("y").cast("double").between(100d, 160d)).count()
    val want = pts.where(col("x").between(100, 160) &&
      col("y").between(100, 160)).count()
    assert(got == want, s"compacted Z scan lost rows: $got/$want")
  }

  test("compactZOrder degenerate dims fall back to the sorted " +
      "rewrite; compactIfFragmented on a stats-bearing table keeps " +
      "skipping alive") {
    val root = freshRoot("compactzdegen")
    // constant second dimension: no Z span — must not crash, must
    // still rewrite with stats coverage intact
    val base = spark.range(0, 4000)
      .select(col("id").as("k"), lit(7L).as("c"))
    VersionedTable.commitWithStats(
      base.repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      root, statsCols = Seq("k", "c"))
    val v1 = VersionedTable.compactZOrder(spark, root, Seq("k", "c"),
      targetBytes = VersionedTable.dataBytes(spark, root, 0L) / 4 + 1)
    assert(VersionedTable.readVersion(spark, root, v1).count() == 4000L)
    val all = VersionedTable.dataFileCount(spark, root, v1)
    val picked = VersionedTable.prunedPaths(spark, root, v1,
      Seq(("k", 100d, 400d)))
    assert(picked.size < all,
      s"degenerate-dim fallback lost skipping: ${picked.size} of $all")
    // the policy hook must take the clustering-preserving path when a
    // sidecar exists: fragment the table, trip the threshold, and the
    // new version must still prune
    VersionedTable.commitWithStats(
      base.repartition(16), root, statsCols = Seq("k"))
    val v3 = VersionedTable.compactIfFragmented(spark, root,
      maxFiles = 4,
      targetBytes = VersionedTable.dataBytes(spark, root, v1) / 4 + 1)
    assert(v3.isDefined)
    val all3 = VersionedTable.dataFileCount(spark, root, v3.get)
    val picked3 = VersionedTable.prunedPaths(spark, root, v3.get,
      Seq(("k", 100d, 400d)))
    assert(picked3.size < all3,
      s"policy-hook compaction destroyed skipping: ${picked3.size}/$all3")
    // a TWO-dimension sidecar must route through the Z rewrite: after
    // the hook, a needle on the SECOND dimension alone still skips
    // (a lexicographic re-sort would leave every file spanning y)
    val root2 = freshRoot("policyz")
    val pts = spark.range(0, 40000).select(
      pmod(xxhash64(col("id")), lit(1000L)).cast("double").as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(1000L)).cast("double").as("y"))
    VersionedTable.commitWithStats(pts.repartition(16), root2,
      statsCols = Seq("x", "y"))
    val vz = VersionedTable.compactIfFragmented(spark, root2,
      maxFiles = 4,
      targetBytes = VersionedTable.dataBytes(spark, root2, 0L) / 8 + 1)
    assert(vz.isDefined)
    val allZ = VersionedTable.dataFileCount(spark, root2, vz.get)
    val onY = VersionedTable.prunedPaths(spark, root2, vz.get,
      Seq(("y", 100d, 160d)))
    assert(onY.size < allZ,
      s"policy hook lost second-dim skipping: ${onY.size} of $allZ")
  }

  test("path resolution is duplicate-proof: a sidecar whose recorded " +
      "paths normalize differently (or point nowhere) can never " +
      "double-read or ghost-read a file") {
    val root = freshRoot("sidecarpaths")
    val base = spark.range(0, 8000)
      .select(col("id").as("k"), (col("id") % 13).as("v"))
    val v = VersionedTable.commitWithStats(
      base.repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      root, statsCols = Seq("k"))
    // doctor the sidecar: rewrite half the recorded paths into a
    // textually-different-but-equivalent URI form, and add a row for
    // a file that does not exist with stats that always match
    val sd = s"${root}/_graft_stats_v$v"
    val stats = spark.read.parquet(sd).collect()
    val doctored = stats.zipWithIndex.map { case (r, i) =>
      val p = r.getString(r.fieldIndex("path"))
      val q = if (i % 2 == 0)
        "file://" + new org.apache.hadoop.fs.Path(p).toUri.getPath
      else p
      (q, r.getAs[Double]("mn_k"), r.getAs[Double]("mx_k"))
    }.toSeq :+ (("/nonexistent/ghost.parquet", 0.0, 1e12))
    doctored.toDF("path", "mn_k", "mx_k").coalesce(1)
      .write.mode("overwrite").parquet(sd)
    val picked = VersionedTable.prunedPaths(spark, root, v,
      Seq(("k", 0d, 1e12)))
    // every file exactly once, every returned path really exists
    assert(picked.size == picked.distinct.size,
      "a path must never be returned twice")
    assert(picked.size == 8, s"all 8 covered files kept: ${picked.size}")
    assert(!picked.exists(_.contains("nonexistent")),
      "a sidecar row must never inject a path the listing lacks")
    val got = VersionedTable.readWhereVersion(spark, root, v,
        col("k").cast("double").between(2100d, 2900d))
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (2100L to 2900L),
      "doctored sidecar must not change scan results")
  }

  test("two concurrent commit/read cycles on distinct roots never " +
      "interfere (the hermeticity the contract queries rely on)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def cycle(name: String, n: Long): Future[Unit] = Future {
      val root = freshRoot(s"conc_$name")
      (0 until 3).foreach { _ =>
        VersionedTable.destroy(spark, root)
        val df = spark.range(0, n)
          .select(col("id").as("k"), (col("id") % 7).as("v"))
        val v = VersionedTable.commitWithStats(
          df.repartitionByRange(4, col("k")).sortWithinPartitions("k"),
          root, statsCols = Seq("k"))
        val got = VersionedTable.readWhereVersion(spark, root, v,
          col("k").cast("double").between(0d, n.toDouble)).count()
        assert(got == n, s"$name read $got of $n rows")
      }
    }
    Await.result(
      Future.sequence(Seq(cycle("a", 5000L), cycle("b", 3000L))),
      5.minutes): Unit
  }

  test("changes feed classifies insert/update/delete between any two " +
      "committed versions") {
    val root = freshRoot("changes")
    val d0 = Seq((1L, 10.0, "A"), (2L, 20.0, "B"), (3L, 30.0, "C"))
      .toDF("k", "price", "status")
    val d1 = Seq((1L, 10.0, "A"), (2L, 25.0, "B"), (4L, 40.0, "D"))
      .toDF("k", "price", "status")
    val v0 = VersionedTable.commit(d0, root)
    val v1 = VersionedTable.commit(d1, root)
    val got = VersionedTable.changes(spark, root, v0, v1, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .toSet
    // key 1 unchanged (absent), 2 updated in one column, 3 deleted,
    // 4 inserted
    assert(got == Set((2L, "update", 1), (3L, "delete", 0),
      (4L, "insert", 0)))
    // non-adjacent pairs work: v0 -> v2 skips the middle version
    val d2 = Seq((2L, 25.0, "B")).toDF("k", "price", "status")
    val v2 = VersionedTable.commit(d2, root)
    val got02 = VersionedTable.changes(spark, root, v0, v2, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got02 == Set((1L, "delete"), (2L, "update"), (3L, "delete")))
    intercept[IllegalArgumentException] {
      VersionedTable.changes(spark, root, v1, v1, Seq("k"))
    }
  }

  test("bloom sidecar admits the needle's file and skips the rest; " +
      "point lookup equals the plain filter; conservative fallbacks") {
    val root = freshRoot("bloom")
    // 16 hash-partitioned files: every file spans the key domain, so
    // min/max stats would prune NOTHING — the bloom's home turf
    val d = spark.range(0L, 4000L).toDF("k")
      .withColumn("v", col("k") * 10)
      .repartition(16, col("k"))
    val v = VersionedTable.commitWithBloom(d, root,
      bloomCols = Seq("k"), expectedItemsPerFile = 10000L)
    val allFiles = VersionedTable.dataFileCount(spark, root, v)
    assert(allFiles == 16)
    // one probed key lives in exactly one file; 3% fpp on the other
    // 15 leaves the admitted set far below the full listing
    val kept = VersionedTable.bloomPrunedPaths(spark, root, v,
      "k", Seq(1234L))
    assert(kept.nonEmpty && kept.size <= 4,
      s"bloom admitted ${kept.size} of $allFiles files")
    val got = VersionedTable.readWhereVersion(spark, root, v,
        col("k").isin(7L, 1234L, 3999L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((7L, 70L), (1234L, 12340L), (3999L, 39990L)))
    // a key outside the domain: every file may be bloom-rejected —
    // the lookup is empty, never an error
    assert(VersionedTable.readWhereVersion(spark, root, v,
      col("k").isin(999999L)).count() == 0L)
    // conservative fallbacks: un-bloomed column and un-bloomed commit
    // both fall back to the full listing
    assert(VersionedTable.bloomPrunedPaths(spark, root, v,
      "v", Seq(70L)).size == allFiles)
    val plain = VersionedTable.commit(d, root)
    assert(VersionedTable.bloomPrunedPaths(spark, root, plain,
      "k", Seq(1234L)).size ==
      VersionedTable.dataFileCount(spark, root, plain))
  }

  test("schema evolution: an appended delta adds a column; readMerged " +
      "surfaces it as NULL on pre-evolution rows, no rewrite") {
    val root = freshRoot("evolve")
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    val before = VersionedTable.dataBytes(spark, root, 0L)
    VersionedTable.commitAppend(
      Seq((3L, "c", 30)).toDF("k", "v", "extra"), root)
    // fast append never rewrites the base commit's bytes
    assert(VersionedTable.dataBytes(spark, root, 0L) == before)
    val got = VersionedTable.readMerged(spark, root)
      .select("k", "v", "extra")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSet
    assert(got == Set((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(30))))
    // the single-schema read still serves tables that never evolve
    assert(VersionedTable.read(spark, root).count() == 3L)
  }

  test("string stats prune a category-clustered scan to the matching " +
      "files; numeric pruning is blind to the same column") {
    val root = freshRoot("strstats")
    val cats = Seq("apple", "banana", "cherry", "date")
    val d = spark.range(0L, 400L).toDF("k")
      .withColumn("cat", element_at(
        typedLit(cats), (col("k") % 4 + 1).cast("int")))
    val v = VersionedTable.commitWithStats(
      d.repartitionByRange(4, col("cat")).sortWithinPartitions("cat"),
      root, statsCols = Nil, stringStatsCols = Seq("cat"))
    val allFiles = VersionedTable.dataFileCount(spark, root, v)
    assert(allFiles >= 3)
    // equality = degenerate range; one category lives in ~1 file
    val kept = VersionedTable.prunedPathsString(spark, root, v,
      Seq(("cat", "banana", "banana")))
    assert(kept.size < allFiles,
      s"string stats kept ${kept.size} of $allFiles files")
    // a string `between` prunes on BOTH ends, like the explicit range
    assert(VersionedTable.prunedPathsWhere(spark, root, v,
      col("cat").between("banana", "banana")) == kept)
    val got = VersionedTable.readWhereVersion(spark, root, v,
      col("cat").between("banana", "banana"))
    assert(got.count() == 100L)
    assert(got.select("cat").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("banana"))
    // the numeric sidecar never covered this column: conservative
    // full listing, not a wrong answer
    assert(VersionedTable.prunedPaths(spark, root, v,
      Seq(("cat", 0d, 1d))).size == allFiles)
  }

  test("vacuum sweeps expired bloom sidecars with their versions") {
    val root = freshRoot("bloomvac")
    val d = spark.range(0L, 100L).toDF("k")
    VersionedTable.commitWithBloom(d, root, Seq("k"))
    val v1 = VersionedTable.commitWithBloom(
      spark.range(100L, 200L).toDF("k"), root, Seq("k"))
    val dir = new java.io.File(root)
    assert(dir.listFiles().exists(_.getName == "_graft_bloom_v0"))
    VersionedTable.vacuum(spark, root, keepLast = 1)
    val names = dir.listFiles().map(_.getName).toSet
    assert(!names.contains("_graft_bloom_v0") && !names.contains("v0"))
    assert(names.contains("_graft_bloom_v1"))
    // the survivor still prunes
    assert(VersionedTable.readWhereVersion(spark, root, v1,
      col("k").isin(150L)).count() == 1L)
  }

  test("named refs: tags are immutable, branches move, vacuum " +
      "retains the tagged version past its retention window") {
    val root = freshRoot("refs")
    val v0 = VersionedTable.commit(Seq((1L, "a")).toDF("k", "v"), root)
    val v1 = VersionedTable.commit(Seq((2L, "b")).toDF("k", "v"), root)
    VersionedTable.createRef(spark, root, "release-1", v0)
    VersionedTable.createRef(spark, root, "main", v1, movable = true)
    assert(VersionedTable.listRefs(spark, root) ==
      Seq(("main", v1, true), ("release-1", v0, false)))
    // a tag can be neither re-created nor moved
    intercept[IllegalArgumentException] {
      VersionedTable.moveRef(spark, root, "release-1", v1)
    }
    intercept[Exception] {
      VersionedTable.createRef(spark, root, "release-1", v1)
    }
    // refs only target committed versions
    intercept[IllegalArgumentException] {
      VersionedTable.createRef(spark, root, "nope", 99L)
    }
    val v2 = VersionedTable.commit(Seq((3L, "c")).toDF("k", "v"), root)
    val v3 = VersionedTable.commit(Seq((4L, "d")).toDF("k", "v"), root)
    VersionedTable.moveRef(spark, root, "main", v3)
    assert(VersionedTable.resolveRef(spark, root, "main") == v3)
    // retention alone would keep only {v2, v3}; the release-1 tag
    // pins v0, while untagged v1 expires
    VersionedTable.vacuum(spark, root, keepLast = 2)
    assert(VersionedTable.versions(spark, root) == Seq(v0, v2, v3))
    assert(VersionedTable.readRef(spark, root, "release-1")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a")))
    // dropping the tag releases the pin: the next vacuum sweeps v0
    VersionedTable.dropRef(spark, root, "release-1")
    VersionedTable.vacuum(spark, root, keepLast = 2)
    assert(VersionedTable.versions(spark, root) == Seq(v2, v3))
    assert(VersionedTable.listRefs(spark, root) ==
      Seq(("main", v3, true)))
  }

  test("write-audit-publish: a staged commit that fails its audit " +
      "never reaches readers of the main ref") {
    val root = freshRoot("wap")
    val good = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val v0 = VersionedTable.commit(good, root, "seed")
    VersionedTable.createRef(spark, root, "main", v0, movable = true)
    // stage a bad snapshot (a NULL key) — versioned, but unreferenced
    val bad = Seq((Some(1L), "a"), (None, "oops"), (Some(3L), "c"))
      .toDF("k", "v")
    val v1 = VersionedTable.commit(bad, root, "staged")
    val staged = VersionedTable.readVersion(spark, root, v1)
    val nulls = staged.where(col("k").isNull).count()
    if (nulls == 0L) VersionedTable.moveRef(spark, root, "main", v1)
    // audit failed -> main still serves v0; the bad rows exist only
    // behind an explicit version read
    assert(VersionedTable.resolveRef(spark, root, "main") == v0)
    assert(VersionedTable.readRef(spark, root, "main").count() == 2L)
    assert(staged.count() == 3L)
    // a passing re-stage publishes
    val fixed = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val v2 = VersionedTable.commit(fixed, root, "restaged")
    if (VersionedTable.readVersion(spark, root, v2)
        .where(col("k").isNull).count() == 0L)
      VersionedTable.moveRef(spark, root, "main", v2)
    assert(VersionedTable.resolveRef(spark, root, "main") == v2)
    assert(VersionedTable.readRef(spark, root, "main").count() == 3L)
  }

  test("merge-on-read delete: sidecar-only commit, reads and time " +
      "travel honor it, appends carry it forward, a rewrite folds it, " +
      "vacuum sweeps expired sidecars") {
    val root = freshRoot("mor")
    def keys: Set[Long] = VersionedTable.read(spark, root)
      .select("k").as[Long].collect().toSet
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "v")
    val v0 = VersionedTable.commit(base, root)
    val v1 = VersionedTable.deleteWhereMor(spark, root,
      col("k") % 2 === 0, Seq("k"))
    assert(keys == Set(1L, 3L))
    // the delete wrote NO data: v1 resolves v0's directories verbatim,
    // and its manifest records a collision-free delete-sidecar dir
    val v1Side = VersionedTable.deleteSidecar(spark, root, v1)
    assert(v1Side.exists(d => new java.io.File(s"$root/$d").exists))
    assert(!new java.io.File(s"$root/v$v1").exists)
    // time travel: the pre-delete snapshot is intact
    assert(VersionedTable.readVersion(spark, root, v0).count() == 4L)
    // appends carry the sidecar — deleted keys stay deleted
    VersionedTable.commitAppendRetry(
      Seq((5L, "e")).toDF("k", "v"), root)
    assert(keys == Set(1L, 3L, 5L))
    // a second MoR delete accumulates into the key set
    val v3 = VersionedTable.deleteWhereMor(spark, root,
      col("k") === 3, Seq("k"))
    assert(keys == Set(1L, 5L))
    // key-shape mismatch is refused, never silently mixed
    intercept[IllegalArgumentException] {
      VersionedTable.deleteWhereMor(spark, root, col("k") === 1,
        Seq("k", "v"))
    }
    // folding back to copy-on-write: same content, no sidecar
    val v3Side = VersionedTable.deleteSidecar(spark, root, v3)
    assert(v3Side.isDefined)
    val v4 = VersionedTable.compactDeletes(spark, root)
    assert(keys == Set(1L, 5L))
    assert(VersionedTable.deleteSidecar(spark, root, v4).isEmpty)
    // retention sweeps the expired versions' sidecars with them
    VersionedTable.vacuum(spark, root, keepLast = 1, orphanGraceMs = 0L)
    assert(v3Side.exists(d => !new java.io.File(s"$root/$d").exists))
    assert(keys == Set(1L, 5L))
  }

  test("bloom coverage survives append chains: commitAppendWithBloom " +
      "merges delta filters into the sidecar, so point lookups keep " +
      "skipping files across the whole chain") {
    val root = freshRoot("bloomAppend")
    val base = (1L to 800L).map(k => (k, s"r$k")).toDF("k", "v")
    VersionedTable.commitWithBloom(base.repartition(8, col("k")),
      root, bloomCols = Seq("k"), expectedItemsPerFile = 1000L)
    val delta = (1001L to 1200L).map(k => (k, s"d$k")).toDF("k", "v")
    val v1 = VersionedTable.commitAppendWithBloom(
      delta.repartition(4, col("k")), root, bloomCols = Seq("k"),
      expectedItemsPerFile = 1000L)
    val all = VersionedTable.dataFileCount(spark, root, v1)
    assert(all >= 12)
    // one base key + one delta key: admission must skip most files on
    // BOTH sides of the chain
    val paths = VersionedTable.bloomPrunedPaths(spark, root, v1, "k",
      Seq(7L, 1100L))
    assert(paths.size < all / 2,
      s"bloom chain should skip files: ${paths.size} of $all")
    assert(VersionedTable.readWhereVersion(spark, root, v1,
      col("k").isin(7L, 1100L)).select("k", "v").as[(Long, String)]
      .collect().toSeq.sorted == Seq((7L, "r7"), (1100L, "d1100")))
    // readWhere routes the same probes through the merged sidecar
    assert(VersionedTable.readWhere(spark, root,
      col("k").isin(7L, 1100L)).select("k").as[Long]
      .collect().toSeq.sorted == Seq(7L, 1100L))
  }

  test("readWhere: automatic data skipping from an arbitrary Column " +
      "predicate — numeric ranges, string equality, bloom IN-probes; " +
      "unparseable conjuncts fall back to the row filter") {
    val root = freshRoot("readWhere")
    val src = (1L to 1000L)
      .map(k => (k, if (k <= 500) "alpha" else "beta", k * 2))
      .toDF("k", "cat", "v")
    val v = VersionedTable.commitWithStats(
      src.repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      root, statsCols = Seq("k"), stringStatsCols = Seq("cat"))
    val all = VersionedTable.dataFileCount(spark, root, v)
    assert(all >= 8)
    def check(pred: org.apache.spark.sql.Column,
        expectPrune: Boolean): Unit = {
      val paths = VersionedTable.prunedPathsWhere(spark, root, v, pred)
      if (expectPrune) assert(paths.size < all,
        s"expected pruning for $pred: ${paths.size} of $all files")
      else assert(paths.size == all)
      val got = VersionedTable.readWhere(spark, root, pred)
        .select("k", "cat", "v").as[(Long, String, Long)]
        .collect().toSeq.sorted
      val want = src.where(pred)
        .select("k", "cat", "v").as[(Long, String, Long)]
        .collect().toSeq.sorted
      assert(got == want, s"readWhere diverged for $pred")
    }
    // closed range on the clustered numeric column prunes; the
    // uncovered column's conjunct only row-filters
    check(col("k") >= 100L && col("k") < 200L && col("v") % 3 === 0,
      expectPrune = true)
    // literal-on-left forms normalize identically
    check(lit(950L) <= col("k"), expectPrune = true)
    // string equality prunes through the lexicographic sidecar
    check(col("cat") === "alpha" && col("k") =!= 17L,
      expectPrune = true)
    // an IN list prunes by its min/max envelope
    check(col("k").isin(5L, 9L, 23L), expectPrune = true)
    // an OR is not a conjunct tree readWhere can scope — full scan,
    // exact rows
    check(col("k") === 5L || col("cat") === "beta",
      expectPrune = false)
    // one-sided STRING bound: the "" lower bound is sound, the
    // unbounded side prunes nothing; rows stay exact
    check(col("cat") < "b", expectPrune = true)
    // between sugar parses to the same closed range
    check(col("k").between(300L, 350L), expectPrune = true)

    // time travel composes with pushdown: a later CoW delete does not
    // leak into the pinned version's filtered read
    val vDel = VersionedTable.deleteWhere(spark, root, col("k") <= 150L)
    assert(VersionedTable.readWhereVersion(spark, root, v,
      col("k") >= 100L && col("k") < 200L).count() == 100L)
    assert(VersionedTable.readWhereVersion(spark, root, vDel,
      col("k") >= 100L && col("k") < 200L).count() == 49L)

    // TEMPORAL predicate pruning: a time-clustered table with stats on
    // its timestamp column prunes a string-literal date range — the
    // event-log access pattern — and a timestamp literal agrees
    val rootT = freshRoot("readWhereTime")
    val ev = (0 until 960).map { i =>
      (i.toLong, java.sql.Timestamp.from(java.time.Instant
        .parse("2024-01-01T00:00:00Z").plusSeconds(i * 3600L)))
    }.toDF("id", "ts")
    val vT = VersionedTable.commitWithStats(
      ev.repartitionByRange(8, col("ts")).sortWithinPartitions("ts"),
      rootT, statsCols = Seq("ts"))
    val allT = VersionedTable.dataFileCount(spark, rootT, vT)
    val predT = col("ts") >= "2024-01-10" && col("ts") < "2024-01-12"
    assert(VersionedTable.prunedPathsWhere(spark, rootT, vT, predT)
      .size < allT, "temporal range should prune files")
    val gotT = VersionedTable.readWhere(spark, rootT, predT)
      .select("id").as[Long].collect().toSeq.sorted
    val wantT = ev.where(predT).select("id").as[Long]
      .collect().toSeq.sorted
    assert(gotT == wantT && gotT.nonEmpty)
    // explicit timestamp literal takes the same path
    val predT2 = col("ts") >=
      java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    assert(VersionedTable.prunedPathsWhere(spark, rootT, vT, predT2)
      .size < allT)
    assert(VersionedTable.readWhere(spark, rootT, predT2).count() ==
      ev.where(predT2).count())

    // hash-partitioned key + bloom sidecar: an isin probe skips the
    // files whose filter proves none of the keys
    val root2 = freshRoot("readWhereBloom")
    val v2 = VersionedTable.commitWithBloom(
      src.repartition(8, col("k")), root2, bloomCols = Seq("k"),
      expectedItemsPerFile = 1000L)
    val all2 = VersionedTable.dataFileCount(spark, root2, v2)
    val paths2 = VersionedTable.prunedPathsWhere(spark, root2, v2,
      col("k").isin(7L, 900L))
    assert(paths2.size < all2,
      s"bloom probe should skip files: ${paths2.size} of $all2")
    assert(VersionedTable.readWhere(spark, root2,
      col("k").isin(7L, 900L)).select("k").as[Long]
      .collect().toSeq.sorted == Seq(7L, 900L))
  }

  test("sequence-scoped MoR deletes: a later append re-inserts an " +
      "erased key (visible exactly once), older copies stay erased, " +
      "time travel and the CoW fold agree") {
    val root = freshRoot("morReinsert")
    def cur = VersionedTable.read(spark, root)
    def keys: Set[Long] = cur.select("k").as[Long].collect().toSet
    val v0 = VersionedTable.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v"),
      root)
    val v1 = VersionedTable.deleteKeysMor(spark, root,
      Seq(2L, 4L).toDF("k"))
    assert(keys == Set(1L, 3L))
    // re-registering key 2 through a LATER append: the erasure's seq
    // precedes the delta's, so the new row is visible — while the v0
    // copy of key 2 stays anti-joined (count 3, not 4, and the
    // surviving row carries the NEW value)
    VersionedTable.commitAppend(Seq((2L, "b2")).toDF("k", "v"), root)
    assert(keys == Set(1L, 2L, 3L) && cur.count() == 3L)
    assert(cur.where(col("k") === 2).select("v").as[String]
      .collect().toSeq == Seq("b2"))
    // the optimistic append path scopes identically
    VersionedTable.commitAppendRetry(Seq((4L, "d2")).toDF("k", "v"),
      root)
    assert(keys == Set(1L, 2L, 3L, 4L) && cur.count() == 4L)
    // time travel to the erasure version: both keys still erased there
    assert(VersionedTable.readVersion(spark, root, v1)
      .select("k").as[Long].collect().toSet == Set(1L, 3L))
    // a SECOND erasure of key 2 sequences above the re-insert and
    // removes it again; key 4's re-inserted copy is untouched
    VersionedTable.deleteKeysMor(spark, root, Seq(2L).toDF("k"))
    assert(keys == Set(1L, 3L, 4L) && cur.count() == 3L)
    // folding to copy-on-write preserves exactly the scoped content
    VersionedTable.compactDeletes(spark, root)
    assert(keys == Set(1L, 3L, 4L) && cur.count() == 3L)
    assert(VersionedTable.readVersion(spark, root, v0).count() == 4L)
  }

  test("scoped deletes through the pruned-scan path: a stats-pruned " +
      "range read sees the re-inserted key, not the erased original") {
    val root = freshRoot("morPruned")
    val base = (1L to 100L).map(k => (k, s"r$k")).toDF("k", "v")
    val v0 = VersionedTable.commitWithStats(
      base.repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      root, statsCols = Seq("k"))
    VersionedTable.deleteKeysMor(spark, root, Seq(10L, 20L).toDF("k"))
    VersionedTable.commitAppendWithStats(
      Seq((10L, "r10-new")).toDF("k", "v"), root, statsCols = Seq("k"))
    val v = VersionedTable.latestVersion(spark, root).get
    val got = VersionedTable.readWhereVersion(spark, root, v,
        col("k").cast("double").between(1d, 25d))
      .select("k", "v").as[(Long, String)].collect().toSeq.sorted
    val want = ((1L to 25L).filterNot(Set(10L, 20L))
      .map(k => (k, s"r$k")) :+ (10L, "r10-new")).sorted
    assert(got == want)
  }

  test("sidecars survive data-preserving commits: a MoR delete and a " +
      "plain append carry the stats forward (old files keep pruning, " +
      "the uncovered delta is conservatively read)") {
    val root = freshRoot("carryStats")
    val src = (1L to 1000L).map(k => (k, k * 2)).toDF("k", "v")
    val v0 = VersionedTable.commitWithStats(
      src.repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      root, statsCols = Seq("k"))
    val all0 = VersionedTable.dataFileCount(spark, root, v0)
    // MoR delete: no data rewritten, skipping must survive
    val v1 = VersionedTable.deleteKeysMor(spark, root, Seq(15L).toDF("k"))
    val p1 = VersionedTable.prunedPathsWhere(spark, root, v1,
      col("k") >= 10L && col("k") <= 20L)
    assert(p1.size < all0, s"delete dropped skipping: ${p1.size}/$all0")
    assert(VersionedTable.readWhere(spark, root,
      col("k") >= 10L && col("k") <= 20L).count() == 10L)
    // plain append: prior files keep their stats, the delta is
    // uncovered and always read
    val v2 = VersionedTable.commitAppend(
      Seq((2000L, 0L)).toDF("k", "v"), root)
    val all2 = VersionedTable.dataFileCount(spark, root, v2)
    val p2 = VersionedTable.prunedPathsWhere(spark, root, v2,
      col("k") >= 10L && col("k") <= 20L)
    assert(p2.size < all2, s"append dropped skipping: ${p2.size}/$all2")
    assert(VersionedTable.readWhere(spark, root,
      col("k") >= 10L && col("k") <= 20L).count() == 10L)
    assert(VersionedTable.readWhere(spark, root,
      col("k") === 2000L).count() == 1L)
  }

  test("compactDeletes preserves data skipping: folding MoR deletes " +
      "on a stats-clustered table re-collects the sidecar, and the " +
      "pruned scan still skips files afterward") {
    val root = freshRoot("morFoldStats")
    val src = (1L to 1000L).map(k => (k, k * 3)).toDF("k", "v")
    VersionedTable.commitWithStats(
      src.repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      root, statsCols = Seq("k"))
    VersionedTable.deleteKeysMor(spark, root,
      Seq(100L, 500L, 900L).toDF("k"))
    val v = VersionedTable.compactDeletes(spark, root,
      targetBytes = VersionedTable.dataBytes(spark, root, 1L) / 4 + 1)
    // fold is clean: no sidecar, content = post-delete
    assert(VersionedTable.deleteSidecar(spark, root, v).isEmpty)
    assert(VersionedTable.read(spark, root).count() == 997L)
    // skipping survived: a needle range opens fewer files than all
    val all = VersionedTable.dataFileCount(spark, root, v)
    val paths = VersionedTable.prunedPathsWhere(spark, root, v,
      col("k") >= 10L && col("k") <= 20L)
    assert(paths.size < all,
      s"fold dropped skipping: ${paths.size} of $all files")
    assert(VersionedTable.readWhere(spark, root,
      col("k") >= 10L && col("k") <= 20L).count() == 11L)
  }

  test("MoR delete keyed on an EVOLVED column: pre-evolution dirs " +
      "lack the key and anti-join on typed NULL (rows kept), the " +
      "evolved dir filters normally") {
    val root = freshRoot("morEvolveKey")
    VersionedTable.commit(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, tag = "base")
    VersionedTable.commitAppend(
      Seq((3L, "c", "t1"), (4L, "d", "t2")).toDF("k", "v", "tenant"),
      root, tag = "evolved")
    VersionedTable.deleteKeysMor(spark, root, Seq("t1").toDF("tenant"))
    val got = VersionedTable.readMerged(spark, root)
      .select("k").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 4L),
      "pre-evolution rows must survive a delete keyed on the new column")
  }

  test("concurrent erasure and optimistic append both land: the " +
      "delete commit retries past the version race instead of " +
      "throwing FileAlreadyExists") {
    val root = freshRoot("morRace")
    VersionedTable.commit(
      (1L to 10L).map(k => (k, s"r$k")).toDF("k", "v"), root)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val ts = Seq(
      new Thread(() => {
        gate.await()
        try { VersionedTable.deleteKeysMor(spark, root,
          Seq(1L, 2L).toDF("k")); () }
        catch { case t: Throwable => errs.add(t); () }
      }),
      new Thread(() => {
        gate.await()
        try { VersionedTable.commitAppendRetry(
          Seq((100L, "new")).toDF("k", "v"), root); () }
        catch { case t: Throwable => errs.add(t); () }
      }))
    ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join())
    assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
    // whichever order the two commits landed in, the erasure applies
    // to the pre-existing rows and the appended row survives
    assert(VersionedTable.read(spark, root)
      .select("k").as[Long].collect().toSet ==
      ((3L to 10L).toSet + 100L))
  }

  test("upsertMor: ONE atomic commit updates matched keys and " +
      "appends unmatched — no base byte rewritten, time travel " +
      "intact, CDF emits delete+insert at the same version, and the " +
      "updated rows survive their own commit's delete keys") {
    val root = freshRoot("upsertmor")
    val v0 = VersionedTable.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), root)
    val before = VersionedTable.dataBytes(spark, root, v0)
    val v1 = VersionedTable.upsertMor(spark, root,
      Seq((2L, "B2"), (5L, "e")).toDF("k", "v"), Seq("k"))
    assert(v1 == v0 + 1, "one atomic commit, one version")
    assert(VersionedTable.dataBytes(spark, root, v0) == before)
    assert(VersionedTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "B2"), (3L, "c"), (5L, "e")))
    // the pre-upsert snapshot still reads exactly as committed
    assert(VersionedTable.readVersion(spark, root, v0).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // CDF: every upsert key streams a delete AND an insert at ONE
    // version — the delete is a BLIND equality delete (recorded
    // without checking existence, the Iceberg O(keys) rule), so the
    // unmatched key 5 carries one too; a consumer applying deletes
    // before inserts within a version converges either way
    val cdf = VersionedTable.changeDelta(spark, root, v0, v1)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
      .toSet
    assert(cdf == Set((2L, "delete", v1), (5L, "delete", v1),
      (2L, "insert", v1), (5L, "insert", v1)), cdf)
    // a second upsert touching an already-MoR-updated key: the newer
    // delete erases the v1 delta's row, the newest row wins
    val v2 = VersionedTable.upsertMor(spark, root,
      Seq((2L, "B3")).toDF("k", "v"), Seq("k"))
    assert(VersionedTable.read(spark, root).where(col("k") === 2L)
      .select("v").head().getString(0) == "B3")
    // compaction folds the erasures away without changing content
    VersionedTable.compactDeletes(spark, root)
    assert(VersionedTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "B3"), (3L, "c"), (5L, "e")))
    assert(VersionedTable.deleteSidecar(spark, root,
      VersionedTable.latestVersion(spark, root).get).isEmpty)
    // fastCount fallback stays exact under the MoR sidecar
    assert(VersionedTable.fastCount(spark, root, v2) == 4L)
  }

  test("upsertMor deleteIf: one atomic commit applies a mixed CDC " +
      "batch (delete / update / insert), the op marker never enters " +
      "the schema, unmatched deletes no-op") {
    val root = freshRoot("upsertmordel")
    VersionedTable.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), root)
    val batch = Seq((1L, "", "d"), (2L, "B2", "u"), (7L, "g", "i"),
      (9L, "", "d")).toDF("k", "v", "op")
    val v1 = VersionedTable.upsertMor(spark, root, batch, Seq("k"),
      deleteIf = Some(col("op") === "d"))
    assert(v1 == 1L, "one atomic commit")
    assert(VersionedTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((2L, "B2"), (3L, "c"), (7L, "g")))
    // the marker column never entered the table
    assert(VersionedTable.read(spark, root).columns.toSeq ==
      Seq("k", "v"))
  }

  test("fastCount: footer-metadata row count equals the engine read " +
      "on a delete-free snapshot, per version; the MoR-delete " +
      "fallback stays exact") {
    val root = freshRoot("fastcount")
    val v0 = VersionedTable.commit(
      (1L to 100L).map(k => (k, s"r$k")).toDF("k", "v")
        .repartition(4), root)
    val v1 = VersionedTable.commitAppend(
      (101L to 130L).map(k => (k, s"r$k")).toDF("k", "v"), root)
    assert(VersionedTable.fastCount(spark, root, v0) == 100L)
    assert(VersionedTable.fastCount(spark, root, v1) == 130L)
    // deletes in scope: falls back to the scoped anti-join count
    val v2 = VersionedTable.deleteKeysMor(spark, root,
      (1L to 10L).toDF("k"))
    assert(VersionedTable.fastCount(spark, root, v2) == 120L)
    assert(VersionedTable.fastCount(spark, root, v2) ==
      VersionedTable.readVersion(spark, root, v2).count())
  }

  test("concurrent MERGE and optimistic append both land: the loser " +
      "replans from the new head (no lost update, no " +
      "FileAlreadyExists), the serializable outcome either order") {
    val root = freshRoot("mergeRace")
    VersionedTable.commit(
      (1L to 10L).map(k => (k, s"r$k")).toDF("k", "v"), root)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val ts = Seq(
      new Thread(() => {
        gate.await()
        try { VersionedTable.merge(spark, root,
          Seq((1L, "upd"), (200L, "ins")).toDF("k", "v"), Seq("k")); () }
        catch { case t: Throwable => errs.add(t); () }
      }),
      new Thread(() => {
        gate.await()
        try { VersionedTable.commitAppendRetry(
          Seq((100L, "new")).toDF("k", "v"), root); () }
        catch { case t: Throwable => errs.add(t); () }
      }))
    ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join())
    assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
    // whichever commit won, BOTH effects are present: the append is
    // never lost under a merge rewrite (the replan folds it in) and
    // the merge's update + insert both landed
    val got = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == ((2L to 10L).map(k => (k, s"r$k")).toSet +
      ((1L, "upd")) + ((200L, "ins")) + ((100L, "new"))), got)
  }

  test("concurrent UPSERT and optimistic append both land (the " +
      "rewrite-retry path under upsert)") {
    val root = freshRoot("upsertRace")
    VersionedTable.commit(
      (1L to 5L).map(k => (k, k * 10L)).toDF("k", "n"), root)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val ts = Seq(
      new Thread(() => {
        gate.await()
        try { VersionedTable.upsert(spark, root,
          Seq((2L, 999L), (6L, 60L)).toDF("k", "n"), Seq("k")); () }
        catch { case t: Throwable => errs.add(t); () }
      }),
      new Thread(() => {
        gate.await()
        try { VersionedTable.commitAppendRetry(
          Seq((50L, 500L)).toDF("k", "n"), root); () }
        catch { case t: Throwable => errs.add(t); () }
      }))
    ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join())
    assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
    val got = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, 999L), (3L, 30L), (4L, 40L),
      (5L, 50L), (6L, 60L), (50L, 500L)), got)
  }

  test("MoR sidecars are manifest-bound: an orphan delete dir a " +
      "crashed deleter left is invisible to readers and appends, and " +
      "vacuum reclaims it by its intent marker") {
    val root = freshRoot("morOrphan")
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    VersionedTable.commit(base, root)
    // simulate a deleter that crashed between sidecar write and
    // publish: an unreferenced _graft_del_* dir plus its intent marker
    val orphan = "_graft_del_deadbeefdeadbeefdeadbeefdeadbeef"
    Seq(1L).toDF("k").coalesce(1).write.parquet(s"$root/$orphan")
    new java.io.File(s"$root/_graft_intent_$orphan").createNewFile()
    // no reader resolves it: content intact, no delete applied
    assert(VersionedTable.read(spark, root).count() == 2L)
    // a subsequent append carries NO deletes (prev manifest has none)
    val v1 = VersionedTable.commitAppend(Seq((3L, "c")).toDF("k", "v"),
      root)
    assert(VersionedTable.deleteSidecar(spark, root, v1).isEmpty)
    assert(VersionedTable.read(spark, root).count() == 3L)
    // vacuum with the marker young: in-flight, left alone
    VersionedTable.vacuum(spark, root, keepLast = 2,
      orphanGraceMs = 3600000L)
    assert(new java.io.File(s"$root/$orphan").exists)
    // marker old: crashed — dir and marker reclaimed together
    VersionedTable.vacuum(spark, root, keepLast = 2, orphanGraceMs = 0L)
    assert(!new java.io.File(s"$root/$orphan").exists)
    assert(!new java.io.File(s"$root/_graft_intent_$orphan").exists)
    assert(VersionedTable.read(spark, root).count() == 3L)
  }

  test("optimistic append: concurrent appenders all land, every delta " +
      "exactly once, whatever the interleaving") {
    val root = freshRoot("optappend")
    VersionedTable.commit(Seq((0L, "seed")).toDF("k", "v"), root)
    val perWriter = 4
    val threads = (1 to 2).map { w =>
      new Thread(() => {
        for (i <- 1 to perWriter) {
          val k = (w * 100 + i).toLong
          VersionedTable.commitAppendRetry(
            Seq((k, s"w$w-$i")).toDF("k", "v"), root, tag = s"w$w")
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // one version per successful append, no lost or doubled delta
    assert(VersionedTable.versions(spark, root).size == 1 + 2 * perWriter)
    val keys = VersionedTable.read(spark, root)
      .select("k").as[Long].collect().sorted.toSeq
    val expect = (0L +: (1 to perWriter).flatMap(i =>
      Seq(100L + i, 200L + i)).map(_.toLong)).sorted
    assert(keys == expect, s"chain lost or doubled rows: $keys")
  }

  test("per-stream tag namespaces: a restarted sink skips its own " +
      "committed batches even when another stream's commit holds the " +
      "newest tag, and new batch ids still land") {
    val root = freshRoot("nsIdem")
    def keys: Set[Long] = VersionedTable.read(spark, root)
      .select("k").as[Long].collect().toSet
    val in1 = StreamingIvm.ingestSink(spark, root, "ingest1")
    in1(Seq((1L, "a")).toDF("k", "v"), 0L)
    in1(Seq((2L, "b")).toDF("k", "v"), 1L)
    assert(keys == Set(1L, 2L))
    // a foreign stream's erasure commit becomes the table's NEWEST tag
    StreamingIvm.erasureSink(spark, root, "erase1")(Seq(1L).toDF("k"), 0L)
    assert(keys == Set(2L))
    // RESTARTED ingest stream: the fresh sink seeds from its OWN tag
    // namespace in the history (a newest-tag-only seed would read the
    // erasure's tag, parse nothing, and re-append both batches)
    val in1b = StreamingIvm.ingestSink(spark, root, "ingest1")
    in1b(Seq((1L, "a")).toDF("k", "v"), 0L)
    in1b(Seq((2L, "b")).toDF("k", "v"), 1L)
    assert(keys == Set(2L), "replayed batches must not re-commit")
    assert(VersionedTable.read(spark, root).count() == 1L)
    // ...but a batch beyond the high water mark lands normally
    in1b(Seq((3L, "c")).toDF("k", "v"), 2L)
    assert(keys == Set(2L, 3L))
    // the erasure stream's restart skips its own committed request too
    StreamingIvm.erasureSink(spark, root, "erase1")(Seq(2L).toDF("k"), 0L)
    assert(keys == Set(2L, 3L), "replayed erasure must not re-commit")
  }

  test("streaming table ingest: each micro-batch is one tagged " +
      "append, a replayed batch id is skipped, and the table equals " +
      "the batch replay") {
    val dir = "/root/testdata/sf0.001"
    val got = StreamingIvm.runStreamingTableIngest(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = graft.sources.EventsSource.read(spark, dir)
      .groupBy("event_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want)
    val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
    val root = s"${graft.config.Scratch.runDir}/ingest_table_$tag"
    val hist = VersionedTable.history(spark, root)
    assert(hist.map(_._2) == Seq("0", "1"),
      s"expected one batch-id-tagged append per micro-batch: $hist")
    // at-least-once replay THROUGH THE REAL SINK: re-delivering an
    // already-committed batch id must be a no-op, the next id appends
    val before = VersionedTable.versions(spark, root).size
    val replay = VersionedTable.read(spark, root).limit(1)
    StreamingIvm.ingestBatch(spark, root)(replay, 1L)
    assert(VersionedTable.versions(spark, root).size == before,
      "replayed batch id was double-appended")
    StreamingIvm.ingestBatch(spark, root)(replay, 2L)
    assert(VersionedTable.versions(spark, root).size == before + 1,
      "fresh batch id failed to append")
  }

  test("fsck: healthy tables report nothing; missing data dirs, " +
      "missing delete sidecars, and orphan sidecars are named") {
    val root = freshRoot("fsck")
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    VersionedTable.commit(base, root)
    VersionedTable.deleteWhereMor(spark, root, col("k") === 1, Seq("k"))
    assert(VersionedTable.fsck(spark, root).isEmpty)
    // orphan stats sidecar bound to an uncommitted version
    new java.io.File(s"$root/_graft_stats_v99").mkdirs()
    val withOrphan = VersionedTable.fsck(spark, root)
    assert(withOrphan.exists(_.contains("orphan sidecar")), withOrphan)
    // delete the sidecar dir the manifest references
    val side = VersionedTable.deleteSidecar(spark, root, 1L).get
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(s"$root/$side"))
    val broken = VersionedTable.fsck(spark, root)
    assert(broken.exists(_.contains("missing delete sidecar")), broken)
    // and a vanished data dir
    rm(new java.io.File(s"$root/v0"))
    val worse = VersionedTable.fsck(spark, root)
    assert(worse.exists(_.contains("missing data dir")), worse)
  }

  test("time-based retention: manifests record commit time, " +
      "vacuumOlderThan expires by it, the head and ref-pins survive " +
      "any cutoff") {
    val root = freshRoot("timevac")
    val v0 = VersionedTable.commit(Seq((1L, "a")).toDF("k", "v"), root)
    Thread.sleep(15)
    val v1 = VersionedTable.commit(Seq((2L, "b")).toDF("k", "v"), root)
    Thread.sleep(15)
    val v2 = VersionedTable.commit(Seq((3L, "c")).toDF("k", "v"), root)
    val t = (0L to 2L).map(VersionedTable.commitTimeMs(spark, root, _))
    assert(t(0) > 0 && t(0) < t(1) && t(1) < t(2),
      s"commit times must be recorded and increasing: $t")
    // pin v0 with a tag: it must survive any cutoff
    VersionedTable.createRef(spark, root, "keeper", v0)
    VersionedTable.vacuumOlderThan(spark, root, cutoffMs = t(2))
    assert(VersionedTable.versions(spark, root).toSet == Set(v0, v2),
      "expected the pinned v0 and the fresh head v2 to survive")
    assert(VersionedTable.readVersion(spark, root, v0).count() == 1L)
    // drop the pin; a far-future cutoff still retains the head
    VersionedTable.dropRef(spark, root, "keeper")
    VersionedTable.vacuumOlderThan(spark, root,
      cutoffMs = t(2) + 3600000L)
    assert(VersionedTable.versions(spark, root) == Seq(v2),
      "the newest version must never expire")
    assert(VersionedTable.read(spark, root).count() == 1L)
    assert(v1 >= 0) // silence unused warning; v1 expired above
    // a PRE-UPGRADE manifest (no ts field) has unknown age: it must
    // be kept conservatively, never treated as infinitely old
    val v3 = VersionedTable.commit(Seq((4L, "d")).toDF("k", "v"), root)
    val v4 = VersionedTable.commit(Seq((5L, "e")).toDF("k", "v"), root)
    val m3 = java.nio.file.Paths.get(root, s"_graft_manifest_v$v3.json")
    val stripped = new String(java.nio.file.Files.readAllBytes(m3),
      "UTF-8").replaceAll(""","ts":\d+""", "")
    java.nio.file.Files.write(m3, stripped.getBytes("UTF-8"))
    assert(VersionedTable.commitTimeMs(spark, root, v3) == 0L)
    VersionedTable.vacuumOlderThan(spark, root,
      cutoffMs = System.currentTimeMillis() + 3600000L)
    val left = VersionedTable.versions(spark, root).toSet
    assert(left.contains(v3), "unknown-age version was expired")
    assert(left.contains(v4), "head was expired")
    assert(!left.contains(v2), "stale timestamped version survived")
  }

  test("streaming dedup-gated ingest: planted cross-batch and " +
      "intra-batch duplicates are rejected, one tagged append per " +
      "batch, admitted set equals the survivor rule") {
    val dir = "/root/testdata/sf0.001"
    val got = StreamingIvm.runStreamingDedupIngest(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    // replay the staged stream: source + planted dup rows
    val streamRows = docs
      .select(col("doc_id"), col("text"),
        when(col("doc_id") < 250, 0).otherwise(1).as("bt"))
      .unionByName(docs.where(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          lit(1).as("bt")))
      .unionByName(docs.where(col("doc_id").between(250, 259))
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
          lit(1).as("bt")))
    val want = streamRows
      .groupBy(col("text"))
      .agg(min(struct(col("bt"), col("doc_id"))).as("s"))
      .select(col("s.doc_id")).collect().map(_.getLong(0)).toSeq.sorted
    assert(got == want)
    // the gate did real work: fewer admitted than sent
    assert(got.size < streamRows.count(),
      "planted duplicates were not rejected")
    // none of the planted duplicate ids survived
    assert(!got.exists(_ >= 1000000L),
      s"planted dup ids admitted: ${got.filter(_ >= 1000000L).take(5)}")
    val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
    val root = s"${graft.config.Scratch.runDir}/dedup_table_$tag"
    assert(VersionedTable.history(spark, root).map(_._2) ==
      Seq("base", "0", "1"))
  }

  test("dedup ingest sink: duplicate ids and double-delivered rows " +
      "inside ONE batch cannot smuggle duplicate content") {
    val root = freshRoot("dedupsinkdup")
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    VersionedTable.commit(empty, root, tag = "base")
    val sink = StreamingIvm.dedupIngestSink(spark, root)
    // (1,'a') delivered twice; id 7 appears with TWO different texts,
    // one of which duplicates id 3's content
    sink(Seq((1L, "a"), (1L, "a"), (3L, "B"), (7L, "B"), (7L, "A"))
      .toDF("doc_id", "text"), 0L)
    val got = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (3L, "B"), (7L, "A")),
      s"intra-batch dedup admitted duplicates: $got")
    // a later batch re-sending admitted content is fully rejected
    sink(Seq((9L, "a"), (10L, "B"), (11L, "C")).toDF("doc_id", "text"),
      1L)
    val got2 = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got2 == got + ((11L, "C")),
      s"cross-batch gate leaked: $got2")
  }

  test("streaming GDPR erasure: one MoR commit per request batch, " +
      "replayed batch ids skipped, survivors equal the anti-filter") {
    val dir = "/root/testdata/sf0.001"
    val got = StreamingIvm.runStreamingGdprErasure(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = spark.read.parquet(s"$dir/orders.parquet")
      .where(!(col("o_orderkey") % 7 === 0 ||
        col("o_orderkey") % 11 === 0))
      .groupBy("o_orderstatus").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want)
    val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
    val root = s"${graft.config.Scratch.runDir}/erase_table_$tag"
    // base commit + one MoR delete version per micro-batch, in order
    assert(VersionedTable.history(spark, root).map(_._2) ==
      Seq("base", "0", "1"))
    // no data byte was rewritten: only v0 holds data
    assert(VersionedTable.resolveDirs(spark, root, 2L) == Seq("v0"))
    // at-least-once replay through the real sink: an already-
    // committed batch id is a no-op, a fresh one commits
    val before = VersionedTable.versions(spark, root).size
    import spark.implicits._
    val sink = StreamingIvm.erasureSink(spark, root)
    sink(Seq(21L).toDF("o_orderkey"), 1L)
    assert(VersionedTable.versions(spark, root).size == before,
      "replayed erasure batch committed a duplicate version")
    sink(Seq(3L).toDF("o_orderkey"), 2L)
    assert(VersionedTable.versions(spark, root).size == before + 1)
    assert(VersionedTable.read(spark, root)
      .where(col("o_orderkey") === 3L).count() == 0L)
  }

  test("optimistic append interleaves with plain commits and rewrites; " +
      "vacuum sweeps a crashed appender's orphan dir but never a " +
      "referenced one") {
    val root = freshRoot("optvacuum")
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "v"), root)
    VersionedTable.commitAppendRetry(
      Seq((2L, "b")).toDF("k", "v"), root)
    assert(VersionedTable.read(spark, root).count() == 2L)
    // crashed writer: data written, publish never ran
    val orphan = s"$root/a" + "0" * 32
    Seq((9L, "ghost")).toDF("k", "v").write.parquet(orphan)
    // advance twice so retention can expire the append chain
    VersionedTable.commit(Seq((3L, "c")).toDF("k", "v"), root)
    val last = VersionedTable.commitAppendRetry(
      Seq((4L, "d")).toDF("k", "v"), root)
    // default grace: a FRESH unreferenced dir is indistinguishable
    // from an in-flight writer's data — the sweep must leave it
    VersionedTable.vacuum(spark, root, keepLast = 2)
    assert(new java.io.File(orphan).exists,
      "fresh orphan swept inside the grace window")
    // grace elapsed (0 for the test): provably-dead orphan goes
    VersionedTable.vacuum(spark, root, keepLast = 2, orphanGraceMs = 0L)
    val left = new java.io.File(root).listFiles.map(_.getName).toSet
    assert(!left.contains("a" + "0" * 32), "orphan append dir survived")
    // the retained chain (v2 + live append dir) still reads intact
    assert(VersionedTable.readVersion(spark, root, last)
      .select("k").as[Long].collect().toSet == Set(3L, 4L))
    // expired append deltas are gone from disk
    assert(VersionedTable.read(spark, root).count() == 2L)
  }
  test("string literal against a NUMERIC column contributes no " +
      "lexicographic bound: Spark compares numerically, smn_/smx_ " +
      "sorts lexically — pruning through it would drop matching rows") {
    val root = freshRoot("strOnNum")
    val d = Seq(2L, 10L, 300L, 4000L).toDF("n")
    // the numeric column deliberately carries STRING stats too — the
    // commitWithStats surface allows it, and "10" < "2" lexically, so
    // an unsound lexical bound would prune the file holding n=2
    val v = VersionedTable.commitWithStats(
      d.repartitionByRange(4, col("n")).sortWithinPartitions("n"),
      root, statsCols = Nil, stringStatsCols = Seq("n"))
    val all = VersionedTable.dataFileCount(spark, root, v)
    assert(all >= 3)
    val pred = col("n") <= "10"
    // no string bound extracted for a LongType column: full listing
    assert(VersionedTable.prunedPathsWhere(spark, root, v, pred)
      .size == all)
    val got = VersionedTable.readWhere(spark, root, pred)
      .select("n").as[Long].collect().toSet
    val want = d.where(pred).select("n").as[Long].collect().toSet
    assert(got == want, s"readWhere $got diverged from filter $want")
    // a string column keeps its lexicographic pruning (unchanged path)
    val rootS = freshRoot("strOnStr")
    val ds = Seq("apple", "banana", "cherry", "date").toDF("s")
    val vS = VersionedTable.commitWithStats(
      ds.repartitionByRange(4, col("s")).sortWithinPartitions("s"),
      rootS, statsCols = Nil, stringStatsCols = Seq("s"))
    val allS = VersionedTable.dataFileCount(spark, rootS, vS)
    assert(VersionedTable.prunedPathsWhere(spark, rootS, vS,
      col("s") === "banana").size < allS)
  }

  test("non-merge reads survive a MoR delete interleaving " +
      "schema-evolving appends: drifted buckets project onto one scan " +
      "schema (typed-NULL fill) instead of throwing in unionByName") {
    val root = freshRoot("morDriftRead")
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      root, tag = "base")
    // the MoR delete lands BETWEEN the two differently-shaped appends,
    // so readScoped buckets the dirs with drifted schemas
    VersionedTable.deleteKeysMor(spark, root, Seq(1L).toDF("k"))
    VersionedTable.commitAppend(
      Seq((3L, "c", "t1")).toDF("k", "v", "tenant"), root,
      tag = "evolved")
    val got = VersionedTable.read(spark, root)
    assert(got.select("k").as[Long].collect().toSet == Set(2L, 3L))
    // time travel and the merged read agree on survivors
    assert(VersionedTable.readMerged(spark, root)
      .select("k").as[Long].collect().toSet == Set(2L, 3L))
    assert(VersionedTable.readMerged(spark, root)
      .columns.contains("tenant"))
  }

  test("stream high-water marks survive vacuum: a restarted namespaced " +
      "sink must not replay a batch whose tag-holding manifest was " +
      "expired by retention while another stream's commit is the head") {
    val root = freshRoot("hwmVacuum")
    val ing = StreamingIvm.ingestSink(spark, root, streamId = "ing")
    ing(Seq((1L, "a")).toDF("k", "v"), 0L)
    ing(Seq((2L, "b")).toDF("k", "v"), 1L)
    val er = StreamingIvm.erasureSink(spark, root, streamId = "er")
    er(Seq(1L).toDF("k"), 0L)
    // retention keeps only the erasure head: the ingest stream's
    // newest tag ("ing-1") leaves the retained history entirely
    VersionedTable.vacuum(spark, root, keepLast = 1)
    assert(!VersionedTable.history(spark, root).exists(_._2 == "ing-1"),
      "precondition: the ingest tag must be vacuumed away")
    val before = VersionedTable.latestVersion(spark, root).get
    // a restarted ingest sink gets batch 1 redelivered: the durable
    // hwm file (not the vacuumed tag) must make it a no-op
    val ing2 = StreamingIvm.ingestSink(spark, root, streamId = "ing")
    ing2(Seq((2L, "b")).toDF("k", "v"), 1L)
    assert(VersionedTable.latestVersion(spark, root).get == before,
      "replayed batch must not re-commit after vacuum")
    assert(VersionedTable.read(spark, root).count() == 1L)
    // a genuinely new batch still lands
    ing2(Seq((3L, "c")).toDF("k", "v"), 2L)
    assert(VersionedTable.read(spark, root)
      .select("k").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("MERGE INTO: matched-update, matched-delete, not-matched-insert " +
      "in one commit; unmatched deletes are no-ops; re-running the " +
      "same merge is idempotent; the plan shuffles each side once") {
    val root = freshRoot("merge")
    VersionedTable.commit(Seq(
      (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)
    ).toDF("k", "v", "x"), root, tag = "base")
    val src = Seq(
      (2L, "B", 21.0, "U"),   // matched -> update
      (3L, "-", 0.0, "D"),    // matched -> delete
      (4L, "d", 40.0, "U"),   // not matched -> insert
      (9L, "-", 0.0, "D")     // not matched delete -> no-op
    ).toDF("k", "v", "x", "op")
    def run(tag: String) = VersionedTable.merge(spark, root, src,
      Seq("k"), deleteIf = Some(col("op") === "D"), tag = tag)
    run("m1")
    def state = VersionedTable.read(spark, root)
      .select("k", "v", "x").as[(Long, String, Double)]
      .collect().toSet
    val want = Set((1L, "a", 10.0), (2L, "B", 21.0), (4L, "d", 40.0))
    assert(state == want)
    // idempotence: replaying the identical batch changes nothing
    run("m2")
    assert(state == want)
    // branch toggles: update-only merge never inserts; insert-only
    // merge never updates
    val root2 = freshRoot("mergeToggles")
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "v"), root2)
    VersionedTable.merge(spark, root2,
      Seq((1L, "A"), (2L, "b")).toDF("k", "v"), Seq("k"),
      insertUnmatched = false)
    assert(VersionedTable.read(spark, root2)
      .select("k", "v").as[(Long, String)].collect().toSet ==
      Set((1L, "A")))
    VersionedTable.merge(spark, root2,
      Seq((1L, "Z"), (2L, "b")).toDF("k", "v"), Seq("k"),
      updateMatched = false)
    assert(VersionedTable.read(spark, root2)
      .select("k", "v").as[(Long, String)].collect().toSet ==
      Set((1L, "A"), (2L, "b")))
    // plan shape: with broadcast disabled (the 100 TB case — both
    // sides fact-sized) the classification is ONE full-outer
    // sort-merge join, one key shuffle per side, nothing downstream
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = VersionedTable.mergeFrame(spark, root, src, Seq("k"),
        Some(col("op") === "D"), true, true)
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
        s"expected a full-outer sort-merge join:\n${p.take(600)}")
      val shuffles = p.sliding("Exchange hashpartitioning".length)
        .count(_ == "Exchange hashpartitioning")
      assert(shuffles <= 2, s"merge plan grew extra shuffles ($shuffles):\n$p")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
