package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot-versioned parquet table — the manifest-last commit
  * protocol that Delta/Iceberg build on, at minimum viable scale,
  * generalizing the cur/next atomic-swap idiom StreamingIvm carried
  * privately in rounds 5-6.
  *
  * Layout under one table root:
  * {{{
  *   root/v0/...parquet          <- immutable data snapshots
  *   root/v1/...parquet
  *   root/_graft_manifest_v0.json   <- one immutable manifest per commit
  *   root/_graft_manifest_v1.json
  * }}}
  *
  * A commit writes the DATA first and its manifest LAST: readers
  * resolve versions only through manifests, so a crash mid-commit
  * leaves an orphan data directory that no reader ever sees (the
  * manifest-last ordering is the atomicity — no rename-over is
  * needed, which object stores don't give you anyway). Old snapshots
  * stay readable by version id: time travel is just "read the data
  * dir the old manifest names". The underscore prefix keeps manifests
  * invisible to parquet scans (the _SUCCESS convention).
  *
  * On that protocol the full lakehouse verb set composes: fast and
  * optimistic multi-writer appends, copy-on-write upsert/delete,
  * three-branch [[merge]] (MERGE INTO), sequence-scoped merge-on-read
  * deletes, stats/Bloom data-skipping sidecars with automatic
  * predicate pruning ([[readWhere]]), clustering-preserving OPTIMIZE
  * (sorted/Z-order/policy), named refs + write-audit-publish,
  * NON-additive schema evolution over a field-ID mapping
  * ([[renameColumn]]/[[dropColumn]]/[[widenColumn]]/[[addColumn]] —
  * metadata-only), zero-copy [[cloneShallow]], retention vacuum with
  * deterministic orphan reclamation, and [[fsck]].
  *
  * Each manifest can carry a caller `tag`; [[latestTag]] lets an
  * at-least-once writer (Structured Streaming `foreachBatch`) make
  * its commits IDEMPOTENT by tagging each version with the batch id
  * and skipping batches at or below the last committed tag — the
  * standard exactly-once-sink recipe.
  *
  * At 100 TB: commits cost one metadata file beyond the data write;
  * reads cost one file listing of the root (manifests only) plus the
  * normal parquet scan of ONE version dir. Nothing here is
  * data-sized.
  */
object VersionedTable {

  private val ManifestPrefix = "_graft_manifest_v"

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def manifestVersions(spark: SparkSession,
      root: String): Seq[Long] = {
    val f = fs(spark, root)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) return Nil
    f.listStatus(rootPath).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith(ManifestPrefix) && n.endsWith(".json"))
      .flatMap(n => n.stripPrefix(ManifestPrefix).stripSuffix(".json")
        .toLongOption)
      .sorted
  }

  /** All committed version ids, oldest first. */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    manifestVersions(spark, root)

  /** Resolve a manifest directory entry to a readable path. Entries
    * are normally RELATIVE to the table root; a SHALLOW CLONE
    * ([[cloneShallow]]) publishes ABSOLUTE entries pointing into the
    * source table — those pass through untouched. Vacuum's sweep
    * only ever deletes by LOCAL listing name, so foreign absolute
    * entries are structurally un-deletable from the clone side.
    */
  private def dirPath(root: String, d: String): String =
    if (new Path(d).isAbsolute) d else s"$root/$d"

  /** The newest committed version id, if any commit has published. */
  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    manifestVersions(spark, root).lastOption

  private def readManifest(spark: SparkSession, root: String,
      version: Long): String = {
    val p = new Path(root, s"$ManifestPrefix$version.json")
    val f = fs(spark, root)
    require(f.exists(p), s"no committed version $version at $root")
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      var n = in.read(tmp)
      while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      buf.toString("UTF-8")
    } finally in.close()
  }

  /** The caller tag recorded with the newest commit (idempotence
    * handle for at-least-once writers).
    */
  def latestTag(spark: SparkSession, root: String): Option[String] =
    latestVersion(spark, root).map(tagOfVersion(spark, root, _))

  /** The caller tag recorded with ONE specific version — a single
    * manifest read, for callers that already hold the version id
    * (ADVICE r16: commit-ownership checks must not pay an O(history)
    * [[historyDetail]] scan to inspect one commit).
    */
  def commitTag(spark: SparkSession, root: String,
      version: Long): String = tagOfVersion(spark, root, version)

  private def tagOfVersion(spark: SparkSession, root: String,
      version: Long): String = {
    val raw = readManifest(spark, root, version)
    """"tag":"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(raw)
      .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
      .getOrElse("")
  }

  /** Every caller tag recorded across the table's committed versions
    * — the idempotence ledger an at-least-once CDC applier consults
    * once at start to skip already-applied source commits. Cost is
    * one manifest read per retained version (metadata-sized).
    */
  def committedTags(spark: SparkSession, root: String): Set[String] =
    versions(spark, root)
      .map(tagOfVersion(spark, root, _)).filter(_.nonEmpty).toSet

  /** Commit `df` as the next snapshot of the table at `root` and
    * return its version id. Data directory first, manifest last —
    * the publish point is the manifest file's creation.
    */
  def commit(df: DataFrame, root: String, tag: String = "",
      dataChange: Boolean = true): Long = {
    val spark = df.sparkSession
    // a rewrite on an evolved table re-baselines the field mapping
    // (physical names snap back to the logical names just written);
    // a never-evolved table publishes mapping-less, as always
    val prevFields = latestVersion(spark, root)
      .flatMap(v => resolveFields(spark, root, v))
    val (next, dataDir) = nextVersionDir(spark, root)
    writeIntent(spark, root, s"v$next")
    df.write.mode("overwrite").parquet(dataDir)
    publish(spark, root, next, tag, fields = rebaseline(df, prevFields),
      dataChange = dataChange)
    clearIntent(spark, root, s"v$next")
    next
  }

  // -------------------------------------------------------------------
  // Intent markers — the deterministic half of vacuum's orphan
  // disambiguation. Every writer touches `_graft_intent_<dir>` (an
  // empty root-level file) BEFORE writing data into <dir> and removes
  // it AFTER its manifest publishes. Vacuum then reads an unreferenced
  // data/sidecar dir's state directly: marker present and young →
  // in-flight writer, leave it; marker present and old → crashed
  // writer, reclaim dir and marker together; marker absent → either
  // referenced (live) or provably dead. Modification times only break
  // ties for pre-protocol dirs — the property object stores want,
  // where mtimes are unreliable (VERDICT r9 #7).
  // -------------------------------------------------------------------

  private val IntentPrefix = "_graft_intent_"

  private def writeIntent(spark: SparkSession, root: String,
      dirName: String): Unit = {
    val f = fs(spark, root)
    val p = new Path(root, s"$IntentPrefix$dirName")
    // overwrite-mode create: two racers at the same v<next> share one
    // marker (the later touch refreshes its mtime, which re-arms the
    // grace window — desirable), and the publish winner clears it
    try { val out = f.create(p, true); out.close() }
    catch { case _: java.io.IOException => () }
  }

  private def clearIntent(spark: SparkSession, root: String,
      dirName: String): Unit = {
    fs(spark, root).delete(new Path(root, s"$IntentPrefix$dirName"), false)
    ()
  }

  /** The id and data directory the NEXT commit will use — for writers
    * whose output path must be fixed before the write (bucketed
    * `saveAsTable`, external tools). Write there, then [[publish]].
    * Single-writer per table, like every manifest-last store without
    * a compare-and-swap primitive.
    */
  def nextVersionDir(spark: SparkSession, root: String): (Long, String) = {
    val next = latestVersion(spark, root).map(_ + 1).getOrElse(0L)
    (next, s"$root/v$next")
  }

  /** Publish `version` by creating its manifest — the commit point.
    * `dirs` is the ordered list of data directories (relative to
    * `root`) the snapshot comprises: a rewrite commit names exactly
    * one (`v<version>`), an APPEND commit names every directory of
    * the previous snapshot plus its own delta — the Iceberg-style
    * fast append, no data rewritten. Refuses to overwrite an existing
    * manifest: versions are immutable.
    */
  def publish(spark: SparkSession, root: String, version: Long,
      tag: String = "", dirs: Seq[String] = Nil,
      deletes: String = "", dirSeqs: Seq[Long] = Nil,
      fields: String = "", dataChange: Boolean = true): Unit = {
    def js(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val dirList = if (dirs.isEmpty) Seq(s"v$version") else dirs
    val pathField = dirList.mkString(",")
    // per-directory commit sequence numbers, parallel to the path
    // list — the scope carrier for merge-on-read deletes (a delete
    // applies only to directories whose seq PRECEDES the delete's
    // commit, the Iceberg equality-delete rule). Absent in
    // pre-scoping manifests; readers default those dirs to seq 0
    // (every delete applies — the old global behavior).
    val seqList =
      if (dirSeqs.isEmpty) Seq.fill(dirList.length)(version)
      else dirSeqs
    require(seqList.length == dirList.length,
      s"dirSeqs length ${seqList.length} != dirs length ${dirList.length}")
    val seqField = s""","dirSeqs":"${seqList.mkString(",")}""""
    val delField =
      if (deletes.isEmpty) "" else s""","deletes":"${js(deletes)}""""
    // field-ID schema mapping (non-additive evolution) — absent on a
    // table that never evolved, carried verbatim by appends/deletes,
    // re-baselined by rewrites
    val fieldsField =
      if (fields.isEmpty) "" else s""","fields":"${js(fields)}""""
    // dataChange=false marks a LOGICALLY-CONTENT-PRESERVING rewrite
    // (OPTIMIZE/compaction/delete-fold): streaming readers REBASE on
    // it instead of failing — the Delta OPTIMIZE rule. Absent = true.
    val dcField = if (dataChange) "" else s""","dataChange":false"""
    // commit wall-clock recorded IN the manifest: time-based retention
    // ([[vacuumOlderThan]]) and history audits must not depend on file
    // mtimes, which object stores rewrite on copy/restore
    val manifest =
      s"""{"version":$version,"path":"${js(pathField)}",""" +
        s""""tag":"${js(tag)}","ts":${System.currentTimeMillis()}""" +
        s"""$seqField$delField$fieldsField$dcField}"""
    val f = fs(spark, root)
    val p = new Path(root, s"$ManifestPrefix$version.json")
    val uri = f.makeQualified(p).toUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      // Hadoop's LOCAL create(overwrite=false) is exists-then-create —
      // a TOCTOU window where two racing publishers both "win" and one
      // commit silently vanishes (caught by the table_append_race
      // contract). And a plain exclusive create is only NAME-atomic:
      // the empty file is visible before its bytes land, so a
      // concurrent reader could resolve a half-written manifest. So:
      // write the full content to a sibling temp (its name doesn't end
      // in .json, invisible to version listing), then CLAIM the
      // manifest name with a hard link — link(2) is kernel-atomic,
      // fails EEXIST for every racer but one, and the name appears
      // only with its complete content behind it.
      val local = java.nio.file.Paths.get(uri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      val tmp = local.resolveSibling(local.getFileName.toString +
        ".tmp-" + java.util.UUID.randomUUID().toString)
      java.nio.file.Files.write(tmp, manifest.getBytes("UTF-8"))
      try java.nio.file.Files.createLink(local, tmp)
      finally { java.nio.file.Files.deleteIfExists(tmp); () }
      ()
    } else {
      // HDFS create(overwrite=false) IS atomic; object stores need a
      // conditional-put LogStore here, same as Delta's commit service
      val out = f.create(p, false) // no overwrite: versions are immutable
      try out.write(manifest.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Fast APPEND: write ONLY `delta` as this version's data directory
    * and publish a manifest naming the previous snapshot's
    * directories plus the new one — no existing byte is rewritten or
    * moved, the per-commit cost is the delta write alone. This is how
    * an incrementally-maintained table (an ANN index absorbing
    * arriving batches, an event log) stays cheap at 100 TB; run
    * [[compact]] when the directory list grows long. Returns the new
    * version id.
    *
    * Concurrency contract: SINGLE WRITER PER TABLE (the same contract
    * every manifest-last store has without a compare-and-swap
    * primitive — Delta needs a LogStore CAS for multi-writer). Two
    * concurrent appenders resolve the same next version; the loser
    * fails SAFELY at the no-overwrite manifest create — the published
    * snapshot is never corrupted — but its already-written delta
    * directory is orphaned until [[vacuum]] sweeps unreferenced dirs.
    * Serialize writers externally (one streaming query per table, a
    * coordinator lock) rather than retrying here: both racers write
    * the same `v<next>` DATA path, so a retry-on-publish loop could
    * not make the data write safe either.
    */
  def commitAppend(delta: DataFrame, root: String,
      tag: String = ""): Long = {
    val spark = delta.sparkSession
    val prevV = latestVersion(spark, root)
    val prev = prevV.map(v => resolveDirs(spark, root, v))
      .getOrElse(Nil)
    val prevSeqs = prevV.map(v => resolveDirSeqs(spark, root, v))
      .getOrElse(Nil)
    val dels = prevV.flatMap(v => resolveDeletes(spark, root, v))
    // an evolved table's delta arrives under LOGICAL names and is
    // written under the immutable PHYSICAL layout (never-seen columns
    // extend the mapping with fresh field ids); a mapping-less table
    // writes the delta verbatim
    val prevFields = prevV.flatMap(v => resolveFields(spark, root, v))
    val (physDelta, fieldsS, _) = physicalizeDelta(delta, prevFields)
    val (next, dataDir) = nextVersionDir(spark, root)
    writeIntent(spark, root, s"v$next")
    physDelta.write.mode("overwrite").parquet(dataDir)
    // an append changes no existing byte, so the previous snapshot's
    // delete set keeps applying — carried by NAME in the manifest
    // (zero-copy, and no shared sidecar path two writers could race
    // on). The NEW delta dir gets seq `next`, ABOVE every carried
    // delete's seq: prior erasures never anti-join freshly appended
    // rows, so a re-inserted key is visible again immediately.
    publish(spark, root, next, tag, dirs = prev :+ s"v$next",
      deletes = dels.getOrElse(""), dirSeqs = prevSeqs :+ next,
      fields = fieldsS)
    prevV.foreach(carrySidecars(spark, root, _, next))
    clearIntent(spark, root, s"v$next")
    next
  }

  /** MULTI-writer fast append — the Iceberg-style optimistic commit
    * protocol [[commitAppend]]'s single-writer contract points to.
    * The delta is written ONCE to a collision-free directory
    * (`a<uuid>`, a name no concurrent writer can compute), then only
    * the tiny manifest create runs the race: on losing the
    * no-overwrite publish the writer re-resolves the NEW latest
    * snapshot and re-publishes its already-written directory on top
    * of it. Contention costs one manifest-file create per retry — the
    * data write never repeats, no byte moves — and any interleaving
    * of N appenders yields a chain containing every delta exactly
    * once. A writer that crashes pre-publish orphans its `a` dir;
    * [[vacuum]] sweeps unreferenced append dirs like any other
    * unreachable data.
    */
  def commitAppendRetry(delta: DataFrame, root: String,
      tag: String = "", maxAttempts: Int = 20): Long = {
    val spark = delta.sparkSession
    // the physical layout is resolved ONCE, before the data write —
    // schema evolution is an administrative operation; running it
    // concurrently with optimistic appenders is outside the contract
    // (the data bytes cannot be re-laid-out in a metadata retry)
    val entryFields = latestVersion(spark, root)
      .flatMap(v => resolveFields(spark, root, v))
    val entryBaseFieldsS = entryFields.map(fieldsStr).getOrElse("")
    val (physDelta, entryFieldsS, _) =
      physicalizeDelta(delta, entryFields)
    val dirName =
      "a" + java.util.UUID.randomUUID().toString.replace("-", "")
    writeIntent(spark, root, dirName)
    physDelta.write.mode("overwrite").parquet(s"$root/$dirName")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val prevV = latestVersion(spark, root)
      val prev = prevV.map(v => resolveDirs(spark, root, v))
        .getOrElse(Nil)
      val prevSeqs = prevV.map(v => resolveDirSeqs(spark, root, v))
        .getOrElse(Nil)
      val dels = prevV.flatMap(v => resolveDeletes(spark, root, v))
      // carry the mapping: per attempt the HEAD may have moved. If it
      // still carries the entry-time mapping, publish ours (possibly
      // extended by this delta's new columns); if the head's mapping
      // changed and OUR delta added nothing, carry the head's
      // verbatim — republishing the entry-time mapping here would
      // silently REVERT a concurrent winner's extension. Both moving
      // at once (concurrent schema-extending appends) cannot be
      // merged safely after our data already wrote entry-time
      // physical names — fail loudly, the administrative-evolution
      // contract.
      val headFieldsS = prevV
        .map(v => fieldsStrOf(readManifest(spark, root, v)))
        .getOrElse("")
      val fieldsS =
        if (headFieldsS == entryBaseFieldsS) entryFieldsS
        else if (entryFieldsS == entryBaseFieldsS) headFieldsS
        else sys.error("commitAppendRetry: the field mapping moved " +
          s"concurrently at $root while this delta extends it — " +
          "serialize schema-extending appends (delta parked at " +
          s"$dirName; vacuum reclaims it)")
      val next = prevV.map(_ + 1).getOrElse(0L)
      try {
        // the retry loop is PURE metadata: the delete carry is a name
        // reference in the manifest, so a losing attempt rewrites no
        // sidecar and can never clobber a concurrent MoR delete's
        publish(spark, root, next, tag, dirs = prev :+ dirName,
          deletes = dels.getOrElse(""), dirSeqs = prevSeqs :+ next,
          fields = fieldsS)
        prevV.foreach(carrySidecars(spark, root, _, next))
        clearIntent(spark, root, dirName)
        return next
      } catch {
        // the exclusive claim lost to a concurrent publisher: someone
        // else owns v<next> now — re-resolve and go again. ONLY the
        // already-exists loss retries; disk-full/permission errors
        // propagate immediately instead of spinning 20 times
        case _: java.nio.file.FileAlreadyExistsException => ()
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
      }
    }
    sys.error(s"commitAppendRetry: lost the publish race " +
      s"$maxAttempts times at $root; delta parked at $dirName " +
      "(vacuum reclaims it)")
  }

  /** The ordered data directories (relative to root) snapshot
    * `version` comprises.
    */
  def resolveDirs(spark: SparkSession, root: String,
      version: Long): Seq[String] =
    dirsOf(readManifest(spark, root, version), root, version)

  private def dirsOf(raw: String, root: String,
      version: Long): Seq[String] = {
    // a manifest without a parseable path field is CORRUPT, never a
    // guessable default: an append version's real dirs are the whole
    // prior chain, so falling back to Seq("v<version>") would turn a
    // truncated file into silent data loss (and vacuum would then
    // delete the "unreferenced" real dirs). Fail loudly instead.
    val dirs = """"path":"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(raw)
      .map(_.group(1))
      .getOrElse(sys.error(
        s"corrupt manifest for version $version at $root: $raw"))
      .split(',').toSeq.filter(_.nonEmpty)
    if (dirs.isEmpty) sys.error(
      s"corrupt manifest for version $version at $root: empty path")
    dirs
  }

  /** The per-directory commit sequence numbers parallel to
    * [[resolveDirs]]' list. A manifest written before delete scoping
    * reports seq 0 for every dir — so every delete sidecar (whose
    * keys then carry seq +inf) applies globally, the pre-scoping
    * behavior.
    */
  def resolveDirSeqs(spark: SparkSession, root: String,
      version: Long): Seq[Long] = {
    val raw = readManifest(spark, root, version)
    dirSeqsOf(raw, dirsOf(raw, root, version).length)
  }

  private def dirSeqsOf(raw: String, nDirs: Int): Seq[Long] =
    // the sign matters: a shallow clone REBASES carried seqs into
    // (…, -1, 0], so the value class must admit negatives
    """"dirSeqs":"([0-9,-]*)"""".r.findFirstMatchIn(raw)
      .map(_.group(1).split(',').toSeq.filter(_.nonEmpty).map(_.toLong))
      .filter(_.length == nDirs)
      .getOrElse(Seq.fill(nDirs)(0L))

  // -------------------------------------------------------------------
  // Field-ID schema mapping — NON-ADDITIVE schema evolution (rename /
  // drop / type-widen / add) as pure metadata commits, the Iceberg
  // field-id model re-expressed through Delta-style column mapping:
  //
  //   - every logical column carries a STABLE field id, its current
  //     LOGICAL name (what readers see), its immutable PHYSICAL name
  //     (what parquet files store — assigned at first write, never
  //     changed), and its current logical TYPE;
  //   - RENAME changes only the logical name: zero data movement, and
  //     because stats/Bloom sidecars are keyed by physical column name
  //     the renamed column KEEPS its data-skipping coverage;
  //   - WIDEN changes only the logical type: old directories keep the
  //     narrow physical type and cast up at read; appended deltas write
  //     the wide type — per-directory footer grouping reconciles them
  //     (parquet's own mergeSchema refuses conflicting types);
  //   - DROP tombstones the field (logical name cleared, id and
  //     physical name stay RESERVED), so re-adding the same name mints
  //     a fresh id + fresh physical name and can never resurrect the
  //     dropped column's bytes — the Iceberg re-add rule;
  //   - each manifest carries ITS OWN mapping, so time travel reads an
  //     old snapshot under the old names/types, exactly as committed.
  //
  // Appends carry the mapping verbatim (extending it with fresh ids
  // for never-seen delta columns); MoR deletes carry it verbatim;
  // rewrites ([[commit]]/[[commitWithStats]]/[[commitWithBloom]])
  // re-baseline it — physical snaps back to logical for the content
  // just written under logical names. A table that never evolved has
  // no mapping and takes none of these code paths.
  // -------------------------------------------------------------------

  /** One logical column of an evolved table — see the section comment
    * for the id/name/physical/dtype contract. A tombstone (dropped
    * field) has an empty logical `name`.
    */
  case class FieldSpec(id: Int, name: String, physical: String,
      dtype: org.apache.spark.sql.types.DataType)

  // `;` separates fields, `:` separates components — both are illegal
  // in the identifier-restricted names and absent from every supported
  // (flat) type's SQL form, including DECIMAL(p,s)
  private def fieldsStr(fs0: Seq[FieldSpec]): String =
    fs0.map(f => s"${f.id}:${f.name}:${f.physical}:${f.dtype.sql}")
      .mkString(";")

  private def fieldsOf(raw: String): Option[Seq[FieldSpec]] =
    """"fields":"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(raw)
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(';').toIndexedSeq.map { s =>
        val parts = s.split(":", 4)
        require(parts.length == 4, s"malformed field entry: $s")
        FieldSpec(parts(0).toInt, parts(1), parts(2),
          org.apache.spark.sql.types.DataType.fromDDL(parts(3)))
      })

  private def fieldsStrOf(raw: String): String =
    """"fields":"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(raw)
      .map(_.group(1)).getOrElse("")

  private def resolveFields(spark: SparkSession, root: String,
      version: Long): Option[Seq[FieldSpec]] =
    fieldsOf(readManifest(spark, root, version))

  /** The field mapping snapshot `version` carries, if the table has
    * evolved — (id, logicalName, physicalName, typeDDL), tombstones
    * included with an empty logical name. Introspection surface for
    * audits and the fsck report.
    */
  def tableFields(spark: SparkSession, root: String,
      version: Long): Option[Seq[(Int, String, String, String)]] =
    resolveFields(spark, root, version)
      .map(_.map(f => (f.id, f.name, f.physical, f.dtype.sql)))

  private def requireFieldName(n: String): Unit =
    require(n.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"evolvable column names must be identifiers ([A-Za-z0-9_]): $n")

  private def requireFlatType(
      dt: org.apache.spark.sql.types.DataType, n: String): Unit =
    require(!dt.sql.exists(c => c == ':' || c == ';'),
      s"schema evolution supports flat column types only: $n is ${dt.sql}")

  /** The current mapping, synthesizing one from the plain-read schema
    * the first time a never-evolved table evolves (id = ordinal+1,
    * physical = logical — exactly what its files store).
    */
  private def fieldsOrSynthesized(spark: SparkSession, root: String,
      version: Long): Seq[FieldSpec] =
    resolveFields(spark, root, version).getOrElse {
      readVersion(spark, root, version).schema.fields.toIndexedSeq
        .zipWithIndex.map { case (f, i) =>
          requireFieldName(f.name)
          requireFlatType(f.dataType, f.name)
          FieldSpec(i + 1, f.name, f.name, f.dataType)
        }
    }

  /** Project a physical scan onto the live logical fields: cast up,
    * absent physical columns read as typed NULLs. ONE implementation
    * shared by the delete-scoped read, the plain directory read and
    * the streaming delta read, so the mapping semantics can never
    * drift between paths.
    */
  private def projectLogical(live: Seq[FieldSpec])(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val have = df.columns.toSet
    df.select(live.map { f =>
      (if (have(f.physical)) col(f.physical).cast(f.dtype)
       else lit(null).cast(f.dtype)).as(f.name)
    }: _*)
  }

  private def validateFields(fs0: Seq[FieldSpec]): Unit = {
    val live = fs0.filter(_.name.nonEmpty)
    require(live.nonEmpty, "a table must keep at least one column")
    require(fs0.map(_.id).distinct.size == fs0.size,
      s"field ids must be unique: ${fs0.map(_.id).mkString(",")}")
    require(live.map(_.name).distinct.size == live.size,
      s"logical names must be unique: ${live.map(_.name).mkString(",")}")
    require(fs0.map(_.physical).distinct.size == fs0.size,
      s"physical names must be unique: ${fs0.map(_.physical).mkString(",")}")
  }

  /** Metadata-only commit: same data directories, sequences and delete
    * sidecar as the current snapshot, new field mapping. The whole
    * evolution cost is one manifest file.
    */
  private def commitFieldsChange(spark: SparkSession, root: String,
      fields: Seq[FieldSpec], tag: String,
      staleBloomPhys: Set[String] = Set.empty): Long = {
    validateFields(fields)
    val prevV = latestVersion(spark, root).getOrElse(
      sys.error(s"no committed version at $root"))
    val next = prevV + 1
    publish(spark, root, next, tag,
      dirs = resolveDirs(spark, root, prevV),
      deletes = resolveDeletes(spark, root, prevV).getOrElse(""),
      dirSeqs = resolveDirSeqs(spark, root, prevV),
      fields = fieldsStr(fields))
    // no data file changed: prior STATS sidecars (keyed by physical
    // names, min/max read back at double) stay exactly valid — but a
    // type WIDEN invalidates that column's Bloom entries: the filter
    // was built over xxhash64 of the NARROW physical values, while
    // probes now hash literals at the widened logical type (an INT
    // bloom never admits the LONG probe of the same key — silent row
    // loss through readWhereVersion). The carry drops the
    // widened field's bloom column; everything else copies verbatim.
    carrySidecars(spark, root, prevV, next, staleBloomPhys)
    next
  }

  /** RENAME COLUMN — metadata-only: the physical name (and therefore
    * every data file and every stats/Bloom sidecar entry) is
    * untouched; only the logical name readers see changes. Returns the
    * new version id.
    */
  def renameColumn(spark: SparkSession, root: String, from: String,
      to: String, tag: String = ""): Long = {
    requireFieldName(to)
    val v = latestVersion(spark, root).getOrElse(
      sys.error(s"no committed version at $root"))
    val fs0 = fieldsOrSynthesized(spark, root, v)
    require(fs0.exists(f => f.name == from),
      s"no column $from to rename at $root")
    require(!fs0.exists(f => f.name == to),
      s"column $to already exists at $root")
    commitFieldsChange(spark, root,
      fs0.map(f => if (f.name == from) f.copy(name = to) else f),
      if (tag.nonEmpty) tag else s"rename-$from-to-$to")
  }

  /** DROP COLUMN — metadata-only tombstone: the field's id and
    * physical name stay reserved in the mapping, so a later
    * [[addColumn]] of the same name mints a fresh id and a fresh
    * physical name and can NEVER resurrect the dropped bytes (the
    * Iceberg re-add rule); the bytes themselves go when their
    * directories are rewritten or vacuumed. Returns the new version.
    */
  def dropColumn(spark: SparkSession, root: String, name: String,
      tag: String = ""): Long = {
    val v = latestVersion(spark, root).getOrElse(
      sys.error(s"no committed version at $root"))
    val fs0 = fieldsOrSynthesized(spark, root, v)
    require(fs0.exists(f => f.name == name),
      s"no column $name to drop at $root")
    commitFieldsChange(spark, root,
      fs0.map(f => if (f.name == name) f.copy(name = "") else f),
      if (tag.nonEmpty) tag else s"drop-$name")
  }

  /** Type-WIDEN a column — metadata-only: old directories keep their
    * narrow physical type and cast up at read time; new appends write
    * the wide type. Only provably lossless widenings are allowed
    * (integral up-casts, sub-long-integral/float → double, decimal
    * precision/scale growth, integral → wide-enough decimal — long
    * wants DECIMAL(19+,0), not double) — anything else needs a
    * rewrite, by design. Returns the new version id.
    */
  def widenColumn(spark: SparkSession, root: String, name: String,
      toType: String, tag: String = ""): Long = {
    val to = org.apache.spark.sql.types.DataType.fromDDL(toType)
    requireFlatType(to, name)
    val v = latestVersion(spark, root).getOrElse(
      sys.error(s"no committed version at $root"))
    val fs0 = fieldsOrSynthesized(spark, root, v)
    val f = fs0.find(_.name == name).getOrElse(
      sys.error(s"no column $name to widen at $root"))
    require(canWiden(f.dtype, to),
      s"cannot widen $name from ${f.dtype.sql} to ${to.sql} — only " +
        "lossless widenings (integral up, integral/float to double, " +
        "decimal growth) are metadata-only")
    commitFieldsChange(spark, root,
      fs0.map(g => if (g.name == name) g.copy(dtype = to) else g),
      if (tag.nonEmpty) tag else s"widen-$name",
      staleBloomPhys = Set(f.physical))
  }

  /** ADD COLUMN — metadata-only: existing directories simply lack the
    * new physical column and read as typed NULLs; the first append
    * that carries the column writes it for real. The physical name is
    * the logical name unless ANY field (tombstones included) ever used
    * it — then a fresh `name_<id>` keeps re-adds from resurrecting
    * dropped data. Returns the new version id.
    */
  def addColumn(spark: SparkSession, root: String, name: String,
      dtypeDDL: String, tag: String = ""): Long = {
    requireFieldName(name)
    val dt = org.apache.spark.sql.types.DataType.fromDDL(dtypeDDL)
    requireFlatType(dt, name)
    val v = latestVersion(spark, root).getOrElse(
      sys.error(s"no committed version at $root"))
    val fs0 = fieldsOrSynthesized(spark, root, v)
    require(!fs0.exists(f => f.name == name),
      s"column $name already exists at $root")
    val id = fs0.map(_.id).max + 1
    val phys =
      if (!fs0.exists(_.physical == name)) name else s"${name}_$id"
    commitFieldsChange(spark, root, fs0 :+ FieldSpec(id, name, phys, dt),
      if (tag.nonEmpty) tag else s"add-$name")
  }

  private def canWiden(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def rank(d: DataType): Option[Int] = d match {
      case ByteType => Some(1)
      case ShortType => Some(2)
      case IntegerType => Some(3)
      case LongType => Some(4)
      case _ => None
    }
    // max decimal digits an integral type needs, for int -> decimal
    def digits(d: DataType): Option[Int] = d match {
      case ByteType => Some(3)
      case ShortType => Some(5)
      case IntegerType => Some(10)
      case LongType => Some(19)
      case _ => None
    }
    (from, to) match {
      case (a, b) if a == b => true
      case (a, b) if rank(a).isDefined && rank(b).isDefined =>
        rank(a).get <= rank(b).get
      // double holds ints up to 2^53 exactly — LONG does not qualify
      // (9007199254740993L would silently round); long widens via
      // DECIMAL(19+,0) instead
      case (a, DoubleType) =>
        rank(a).exists(_ <= 3) || a == FloatType
      case (a: DecimalType, b: DecimalType) =>
        b.scale >= a.scale &&
          b.precision - b.scale >= a.precision - a.scale
      case (a, b: DecimalType) =>
        digits(a).exists(d => b.precision - b.scale >= d)
      case _ => false
    }
  }

  /** Rename a logical-schema delta onto the table's physical layout
    * (casting each column to its logical type, so widened columns
    * append wide), extending the mapping with fresh ids for columns it
    * has never seen — additive evolution folded into the append.
    * Returns (physical delta, mapping serialization to publish, the
    * logical→physical name function for sidecar builders). A
    * mapping-less table passes through untouched.
    */
  private def physicalizeDelta(delta: DataFrame,
      mapping: Option[Seq[FieldSpec]])
      : (DataFrame, String, String => String) = {
    import org.apache.spark.sql.functions.col
    mapping match {
      case None => (delta, "", identity)
      case Some(fs0) =>
        val byName = fs0.filter(_.name.nonEmpty)
          .map(f => f.name -> f).toMap
        var nextId = fs0.map(_.id).max
        val added = delta.columns.toIndexedSeq
          .filterNot(byName.contains).map { c =>
            requireFieldName(c)
            val dt = delta.schema(c).dataType
            requireFlatType(dt, c)
            nextId += 1
            val phys =
              if (!fs0.exists(_.physical == c)) c else s"${c}_$nextId"
            FieldSpec(nextId, c, phys, dt)
          }
        val all = fs0 ++ added
        val liveByName = all.filter(_.name.nonEmpty)
          .map(f => f.name -> f).toMap
        val cols = delta.columns.toIndexedSeq.map { c =>
          val f = liveByName(c)
          // the cast below is non-ANSI: a delta column WIDER than the
          // logical field (a LONG into an INT) would truncate/wrap
          // silently. Only identical or losslessly-widenable delta
          // types may append — the same rule widenColumn enforces.
          val dt = delta.schema(c).dataType
          require(canWiden(dt, f.dtype),
            s"append column $c carries ${dt.sql} which cannot cast " +
              s"losslessly to the table's ${f.dtype.sql} — widen the " +
              "table first or rewrite the snapshot")
          col(c).cast(f.dtype).as(f.physical)
        }
        (delta.select(cols: _*), fieldsStr(all),
          c => liveByName.get(c).map(_.physical).getOrElse(c))
    }
  }

  /** Re-baseline the mapping across a REWRITE: the new snapshot's data
    * is written under the DataFrame's own (logical) column names, so
    * surviving fields snap physical back to logical and take the
    * written type; brand-new columns mint fresh ids; fields the
    * rewrite no longer carries tombstone — ids stay reserved (their
    * old physical names point at nothing anymore, so the reservation
    * placeholder is synthetic). A never-evolved table stays
    * mapping-less.
    */
  private def rebaseline(df: DataFrame,
      prev: Option[Seq[FieldSpec]]): String =
    prev match {
      case None => ""
      case Some(fs0) =>
        val byName = fs0.filter(_.name.nonEmpty)
          .map(f => f.name -> f).toMap
        var nextId = fs0.map(_.id).max
        val fields = df.schema.fields.toIndexedSeq.map { sf =>
          requireFlatType(sf.dataType, sf.name)
          byName.get(sf.name) match {
            case Some(f) =>
              f.copy(physical = sf.name, dtype = sf.dataType)
            case None =>
              requireFieldName(sf.name)
              nextId += 1
              FieldSpec(nextId, sf.name, sf.name, sf.dataType)
          }
        }
        val tomb = fs0
          .filterNot(f => f.name.nonEmpty && df.columns.contains(f.name))
          .map(f => f.copy(name = "", physical = s"__tomb_${f.id}"))
        fieldsStr(fields ++ tomb)
    }

  /** Read the newest committed snapshot. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val v = latestVersion(spark, root).getOrElse(
      sys.error(s"no committed version at $root"))
    readVersion(spark, root, v)
  }

  /** Time travel: read snapshot `version` exactly as committed (all
    * of its data directories — one for a rewrite, several after
    * appends), minus the version's merge-on-read delete keys if
    * [[deleteWhereMor]] ever ran (the sidecar anti-join is the read
    * half of MoR; a version without a sidecar pays nothing). The
    * manifest is fetched ONCE for both the path list and the delete
    * reference — each manifest read is an object-store GET at scale.
    */
  def readVersion(spark: SparkSession, root: String,
      version: Long): DataFrame = {
    val raw = readManifest(spark, root, version)
    readScoped(spark, root, raw, version, onlyPaths = None,
      mergeSchema = false)
  }

  private val DeletesPrefix = "_graft_del_"

  /** The delete-sidecar directory name snapshot `version`'s manifest
    * records, if any — deletes are resolved through the MANIFEST
    * (Iceberg/Delta-style), never by a version-numbered path
    * convention: an orphan sidecar a crashed deleter left behind is
    * invisible to every reader, and no two writers ever target the
    * same sidecar path (each [[deleteWhereMor]] writes a fresh
    * `_graft_del_<uuid>` dir; appends carry the previous one by name).
    */
  def deleteSidecar(spark: SparkSession, root: String,
      version: Long): Option[String] =
    resolveDeletes(spark, root, version)

  private def resolveDeletes(spark: SparkSession, root: String,
      version: Long): Option[String] =
    deletesOf(readManifest(spark, root, version), root, version)

  private def deletesOf(raw: String, root: String,
      version: Long): Option[String] =
    """"deletes":"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(raw)
      .map(_.group(1)).filter(_.nonEmpty)

  /** The per-sidecar-row delete-sequence column: the version at which
    * each key was deleted. A delete applies only to data directories
    * whose commit seq is strictly BELOW it (Iceberg's equality-delete
    * sequencing) — so a key re-inserted by a later append is visible
    * again, instead of being silently anti-joined away until
    * [[compactDeletes]] (round-10 advice). Sidecars written before
    * scoping lack the column; readers treat their keys as seq +inf
    * (apply to everything — the old global behavior).
    */
  private val DelSeqCol = "_graft_delseq"

  /** Assemble a snapshot read: the manifest's data directories (or
    * the pruned `onlyPaths` file subset), anti-joined against the
    * delete sidecar with SEQUENCE SCOPING — each directory only sees
    * the delete keys committed after it. The sidecar-less fast path
    * (every table that never ran a MoR delete) is a single multi-path
    * parquet scan, unchanged.
    */
  private def readScoped(spark: SparkSession, root: String, raw: String,
      version: Long, onlyPaths: Option[Seq[String]],
      mergeSchema: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val dirs = dirsOf(raw, root, version)
    val seqs = dirSeqsOf(raw, dirs.length)
    // an EVOLVED table's schema is DEFINED by its manifest mapping:
    // every read projects physical columns onto the logical fields, so
    // the merge/non-merge distinction collapses (parquet's own
    // mergeSchema would refuse the conflicting physical types a widen
    // legitimately leaves behind)
    val mapping: Option[Seq[FieldSpec]] =
      fieldsOf(raw).map(_.filter(_.name.nonEmpty))
    def reader = {
      val r = spark.read
      if (mergeSchema && mapping.isEmpty)
        r.option("mergeSchema", "true")
      else r
    }
    // (path, owning-dir seq, owning-dir entry): pruned file subsets
    // resolve their dir by FULL parent path (never by name — a
    // shallow-cloned manifest can hold a foreign absolute `v0` beside
    // a local `v0`); a path outside any manifest dir (impossible by
    // construction) conservatively gets seq 0 = every delete applies
    val files: Seq[(String, Long, String)] = onlyPaths match {
      case Some(ps) =>
        val byParent: Map[String, (Long, String)] =
          dirs.zip(seqs).map { case (d, s) =>
            normPath(dirPath(root, d)) -> ((s, d))
          }.toMap
        ps.map { p =>
          val parent = normPath(new Path(p).getParent.toString)
          val (s, d) = byParent.getOrElse(parent, (0L, parent))
          (p, s, d)
        }
      case None =>
        dirs.zip(seqs).map { case (d, s) => (dirPath(root, d), s, d) }
    }
    // under a mapping, files group by their DIRECTORY's footer schema
    // (one footer read per directory — metadata-sized, never per-file):
    // each group scans once under its own physical schema, projects to
    // logical, and groups union by name. Directories sharing a schema
    // share a scan, so the plan has one scan per DISTINCT schema, not
    // per directory.
    val dirSchemaKey: Map[String, String] = mapping match {
      case None => Map.empty
      case Some(_) => files.map(_._3).distinct.map { d =>
        d -> spark.read.parquet(dirPath(root, d)).schema.fields
          .map(f => s"${f.name}:${f.dataType.sql}").mkString(";")
      }.toMap
    }
    def schemaKey(f: (String, Long, String)): String =
      dirSchemaKey.getOrElse(f._3, "")
    def toLogical(df: DataFrame): DataFrame = mapping match {
      case None => df
      case Some(live) => projectLogical(live)(df)
    }
    deletesOf(raw, root, version) match {
      case None =>
        if (mapping.isEmpty) reader.parquet(files.map(_._1): _*)
        else files.groupBy(schemaKey).toSeq.sortBy(_._1)
          .map { case (_, fs0) =>
            toLogical(reader.parquet(fs0.map(_._1): _*))
          }.reduce(_.unionByName(_))
      case Some(d) =>
        val delsRaw = spark.read.parquet(dirPath(root, d))
        val hasSeq = delsRaw.columns.contains(DelSeqCol)
        val keyCols = delsRaw.columns.filterNot(_ == DelSeqCol).toIndexedSeq
        val keyTypes: Map[String, org.apache.spark.sql.types.DataType] =
          delsRaw.schema.fields.map(f => f.name -> f.dataType).toMap
        // groups are keyed by the APPLICABLE DELETE SET, not the raw
        // dir seq: a 100-append chain with one erasure would otherwise
        // plan 100 scans + anti-joins + a 100-way union, when only
        // "before the delete" vs "after it" differ semantically. The
        // sidecar's distinct delete seqs (bounded by delete COMMITS,
        // not keys) bucket every dir seq into at most |deletes|+1
        // groups; all dirs in a bucket anti-join one shared key set.
        // (On an evolved table the key extends by footer schema, so a
        // widened/renamed chain still scans once per distinct schema.)
        val delSeqs: Seq[Long] =
          if (!hasSeq) Nil
          else delsRaw.select(col(DelSeqCol)).distinct()
            .collect().map(_.getLong(0)).toSeq.sorted
        def bucketOf(s: Long): Int = delSeqs.count(_ > s)
        // a group whose scan lacks a delete-key column (pre-evolution
        // dirs when the key arrived with a later append) anti-joins on
        // a typed NULL — the join never matches, rows are kept, same
        // as the old single merged-schema scan. Delete-sidecar keys
        // are PHYSICAL column names (commitDeleteSet physicalizes), so
        // the anti-join runs before the logical projection.
        def withKeys(df: DataFrame): DataFrame =
          keyCols.foldLeft(df) { (d, k) =>
            if (d.columns.contains(k)) d
            else d.withColumn(k, lit(null).cast(keyTypes(k)))
          }
        val buckets =
          files.groupBy(f => (bucketOf(f._2), schemaKey(f)))
            .toSeq.sortBy(_._1)
            .map { case (_, fs0) =>
              val df = withKeys(reader.parquet(fs0.map(_._1): _*))
              val applicable =
                if (!hasSeq) delsRaw
                else {
                  // every dir in the bucket has the same applicable set:
                  // the delete seqs strictly above any of its dir seqs
                  val minSeq = fs0.map(_._2).min
                  delsRaw.where(col(DelSeqCol) > minSeq)
                    .select(keyCols.map(col): _*).distinct()
                }
              toLogical(df.join(applicable, keyCols, "left_anti"))
            }
        if (mapping.isDefined)
          buckets.reduce(_.unionByName(_)) // all logical already
        else if (mergeSchema)
          buckets.reduce(_.unionByName(_, allowMissingColumns = true))
        else {
          // a NON-merge read resolves ONE schema for the whole scan —
          // exactly what the pre-bucketing single multi-path scan did.
          // When a MoR delete interleaves schema-evolving appends the
          // buckets land with drifted schemas; project each onto the
          // scan schema (absent columns read as typed NULLs, drifted
          // types cast, extra delete-key fills dropped) instead of
          // throwing in a strict unionByName.
          val scanSchema = reader.parquet(files.map(_._1): _*).schema
          buckets.map { d =>
            val have = d.columns.toSet
            d.select(scanSchema.fields.toIndexedSeq.map { f =>
              if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
              else lit(null).cast(f.dataType).as(f.name)
            }: _*)
          }.reduce(_.unionByName(_))
        }
    }
  }

  /** MERGE-ON-READ delete — the O(deleted keys) sibling of the
    * copy-on-write [[deleteWhere]]: instead of rewriting every
    * surviving file (write cost O(table)), commit a new version whose
    * DATA DIRECTORIES are unchanged and whose delete-key sidecar (a
    * fresh manifest-recorded `_graft_del_<uuid>/` dir — cumulative,
    * key-count-sized) grows by the matched keys; every read path
    * anti-joins it at scan time.
    * This is the high-churn/GDPR-stream shape — deletes land in
    * metadata time, and [[compactDeletes]] (or any rewrite commit)
    * folds the table back to a clean copy-on-write snapshot when the
    * sidecar or the read-side anti-join grows annoying. Appends
    * carry the sidecar forward; a plain [[commit]] REPLACES content
    * wholesale and so drops it, exactly like every rewrite. Returns
    * the new version id. Deletes are SEQUENCE-SCOPED (each key
    * anti-joins only directories committed before its delete, the
    * Iceberg equality-delete rule), so re-inserting an erased key via
    * a later append works without a rewrite — the re-registered rows
    * are visible immediately.
    */
  def deleteWhereMor(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column, keyCols: Seq[String],
      tag: String = ""): Long = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "deleteWhereMor needs delete-key columns")
    val prevV = latestVersion(spark, root).getOrElse(
      sys.error(s"no committed version at $root"))
    // readVersion is already minus prior deletes, so re-matching an
    // already-deleted key is a no-op, never a duplicate sidecar row
    val newDels = readVersion(spark, root, prevV)
      .where(predicate)
      .select(keyCols.map(col): _*).distinct()
    commitDeleteSet(spark, root, prevV, newDels, tag)
  }

  /** MERGE-ON-READ delete by explicit KEY SET — the delete-request-
    * stream shape ([[deleteWhereMor]]'s predicate form derives its
    * keys from a scan; a GDPR erasure stream already HAS them).
    * `keys`' columns are the delete key; rows never present in the
    * table are harmless (the anti-join simply never matches them) but
    * are still recorded, exactly like an equality-delete file naming
    * an absent key in Iceberg. Same O(keys) metadata-time commit.
    */
  def deleteKeysMor(spark: SparkSession, root: String,
      keys: DataFrame, tag: String = ""): Long = {
    require(keys.columns.nonEmpty, "deleteKeysMor needs key columns")
    val prevV = latestVersion(spark, root).getOrElse(
      sys.error(s"no committed version at $root"))
    commitDeleteSet(spark, root, prevV, keys.distinct(), tag)
  }

  private def commitDeleteSet(spark: SparkSession, root: String,
      prevV: Long, newDels: DataFrame, tag: String,
      maxAttempts: Int = 20): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    // optimistic commit, mirroring [[commitAppendRetry]]: a concurrent
    // appender winning our version makes the exclusive manifest create
    // fail — re-resolve the NEW latest snapshot and re-merge against
    // its (possibly changed) prior sidecar. Each attempt recomputes
    // the merged key set and writes a FRESH collision-free sidecar dir
    // (key-count-sized, so the rewrite is metadata-cost); a losing
    // attempt's sidecar is orphaned and swept by vacuum via its intent
    // marker. (Pre-retry, the loser threw FileAlreadyExists and the
    // erasure was lost until redelivery — round-10 advice.)
    var attemptV = prevV
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      // delete keys arrive under LOGICAL names; the sidecar stores
      // PHYSICAL names (immutable, so a later rename can never detach
      // deletes from their column) at the logical (widest) type — the
      // read-side anti-join runs on physical frames before the
      // logical projection
      val attemptFields = resolveFields(spark, root, attemptV)
        .map(_.filter(_.name.nonEmpty))
      val physDels = attemptFields match {
        case None => newDels
        case Some(live) =>
          val byName = live.map(f => f.name -> f).toMap
          // same lossless-cast rule as appends: a delete-key batch
          // whose key column is WIDER than the table's (LONG into
          // INT) would wrap under the blind cast and erase the wrong
          // keys — fail loudly instead (round-13 advice)
          newDels.schema.fields.foreach { sf =>
            byName.get(sf.name).foreach { f =>
              require(canWiden(sf.dataType, f.dtype),
                s"delete key ${sf.name}: source type " +
                  s"${sf.dataType.simpleString} does not losslessly " +
                  s"cast to the table's ${f.dtype.simpleString} — a " +
                  "wrapped key would erase the wrong rows")
            }
          }
          newDels.select(newDels.columns.toIndexedSeq.map { c =>
            byName.get(c) match {
              case Some(f) => col(c).cast(f.dtype).as(f.physical)
              case None => col(c)
            }
          }: _*)
      }
      val prior = resolveDeletes(spark, root, attemptV)
        .map(d => spark.read.parquet(dirPath(root, d)))
      prior.foreach { p =>
        val pKey = p.columns.filterNot(_ == DelSeqCol).sorted
        require(pKey.sameElements(physDels.columns.sorted),
          s"delete key ${physDels.columns.mkString(",")} differs from " +
            s"the table's existing sidecar key ${pKey.mkString(",")}")
      }
      val next = attemptV + 1
      // new keys are sequenced AT THIS COMMIT: they anti-join only
      // directories committed before `next`. Prior keys keep their own
      // seq (normalized to +inf for a pre-scoping sidecar, preserving
      // its global reach).
      val tagged = physDels.withColumn(DelSeqCol, lit(next))
      val merged = prior.map { p =>
        val normalized =
          if (p.columns.contains(DelSeqCol)) p
          else p.withColumn(DelSeqCol, lit(Long.MaxValue))
        normalized.unionByName(tagged).distinct()
      }.getOrElse(tagged)
      val delDir = DeletesPrefix +
        java.util.UUID.randomUUID().toString.replace("-", "")
      writeIntent(spark, root, delDir)
      merged.coalesce(1).write.mode("overwrite")
        .parquet(s"$root/$delDir")
      try {
        publish(spark, root, next, tag,
          dirs = resolveDirs(spark, root, attemptV), deletes = delDir,
          dirSeqs = resolveDirSeqs(spark, root, attemptV),
          fields = fieldsStrOf(readManifest(spark, root, attemptV)))
        // the delete touched no data file: the prior stats/bloom
        // sidecars describe the new version's files verbatim
        carrySidecars(spark, root, attemptV, next)
        clearIntent(spark, root, delDir)
        return next
      } catch {
        // lost the exclusive claim to a concurrent publisher — only
        // the already-exists loss retries; other errors propagate
        case _: java.nio.file.FileAlreadyExistsException =>
          attemptV = latestVersion(spark, root).getOrElse(attemptV)
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          attemptV = latestVersion(spark, root).getOrElse(attemptV)
      }
    }
    sys.error(s"commitDeleteSet: lost the publish race " +
      s"$maxAttempts times at $root")
  }

  /** Fold merge-on-read deletes back into data: commit the logical
    * (post-delete) content as a clean rewrite — no delete sidecar, no
    * read-side anti-join, old versions time-travelable until
    * [[vacuum]]. A table whose snapshot carries a STATS sidecar folds
    * through the clustering-preserving rewrites ([[compactZOrder]] /
    * [[compactSorted]], both of which read post-delete content), so
    * the fold can never silently turn data skipping off — the same
    * rule [[compactIfFragmented]] follows; stats-less tables take the
    * plain rewrite.
    */
  def compactDeletes(spark: SparkSession, root: String,
      tag: String = "mor-compact",
      targetBytes: Long = 128L << 20): Long =
    maintenanceRetry(spark, root) { v =>
      val prior @ (priorNum, priorStr) = priorStatsCols(spark, root, v)
      if (priorNum.size >= 2)
        compactZOrderAt(spark, root, v, priorNum, targetBytes, tag)
      else if (priorNum.nonEmpty || priorStr.nonEmpty)
        compactSortedResolved(spark, root, v,
          (priorNum ++ priorStr).distinct, targetBytes, tag, prior)
      else
        // stats-less tables bin-pack round-robin while folding: the
        // fold rewrites every byte anyway, so leaving the append
        // chain's fragmentation in place would waste the pass
        compactBinPackAt(spark, root, v, targetBytes, tag)
    }

  /** Schema-evolution read: the newest snapshot with the UNION of the
    * schemas across its data directories — columns a pre-evolution
    * commit lacks surface as NULL, exactly the ADD COLUMN semantics
    * every lakehouse format ships. Append chains evolve for free
    * ([[commitAppend]] never rewrites old files, so old directories
    * simply keep the old schema); the cost over [[read]] is one
    * parquet footer read per file for the schema merge — metadata-
    * sized, never data-sized. The plain [[read]] stays single-schema
    * (parquet picks one footer) for tables that never evolve.
    */
  def readMerged(spark: SparkSession, root: String): DataFrame = {
    val v = latestVersion(spark, root).getOrElse(
      sys.error(s"no committed version at $root"))
    val raw = readManifest(spark, root, v)
    readScoped(spark, root, raw, v, onlyPaths = None, mergeSchema = true)
  }

  /** Copy-on-write DELETE: commit a snapshot without the matching
    * rows (the whole-table rewrite every snapshot store without
    * deletion vectors performs — the GDPR-eraser path). Old versions
    * still contain the rows until [[vacuum]] expires them, exactly
    * like Delta/Iceberg retention. Returns the new version id.
    */
  def deleteWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column, tag: String = ""): Long =
    rewriteRetry(spark, root, tag) { baseV =>
      // SQL DELETE semantics: remove rows where the predicate is
      // TRUE; a NULL predicate KEEPS the row (a bare !p would drop
      // NULL-evaluating rows too)
      readVersion(spark, root, baseV).where(
        !org.apache.spark.sql.functions.coalesce(predicate,
          org.apache.spark.sql.functions.lit(false)))
    }

  /** SQL-UPDATE-shaped copy-on-write rewrite: rows matching `cond`
    * (all rows when None) take the `sets` assignments — each cast to
    * the column's existing type, the standard UPDATE coercion —
    * everything else streams through untouched. One commit under the
    * optimistic rewrite-retry. Returns the new version id.
    */
  def updateWhere(spark: SparkSession, root: String,
      sets: Seq[(String, org.apache.spark.sql.Column)],
      cond: Option[org.apache.spark.sql.Column],
      tag: String = ""): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(sets.nonEmpty, "updateWhere needs at least one assignment")
    // SQL rejects UPDATE t SET c = 1, c = 2 as a duplicate
    // assignment; silently letting the last one win would be a
    // semantic drift from every engine
    require(sets.map(_._1).distinct.size == sets.size,
      s"duplicate assignment targets: ${sets.map(_._1).mkString(",")}")
    rewriteRetry(spark, root, tag) { baseV =>
      val cur = readVersion(spark, root, baseV)
      val types = cur.schema.fields.map(f => f.name -> f.dataType).toMap
      val byCol = sets.toMap
      sets.foreach { case (c, _) =>
        require(types.contains(c), s"no column $c to update at $root")
      }
      val hit = coalesce(cond.getOrElse(lit(true)), lit(false))
      cur.select(cur.columns.toIndexedSeq.map { c =>
        byCol.get(c) match {
          case Some(v) =>
            when(hit, v.cast(types(c))).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*)
    }
  }

  /** MERGE-style upsert: rows of `updates` replace current rows with
    * the same key; unmatched keys append. One left-anti join on the
    * key (the unchanged majority streams through untouched) plus the
    * update set — then one commit. Returns the new version id.
    */
  def upsert(spark: SparkSession, root: String, updates: DataFrame,
      keyCols: Seq[String], tag: String = ""): Long = {
    import org.apache.spark.sql.functions.col
    rewriteRetry(spark, root, tag) { baseV =>
      val cur = readVersion(spark, root, baseV)
      val kept = cur.join(
        updates.select(keyCols.map(col): _*), keyCols, "left_anti")
      kept.unionByName(
        updates.select(cur.columns.toIndexedSeq.map(col): _*))
    }
  }

  /** MERGE-ON-READ upsert — the Iceberg equality-delete MERGE shape:
    * ONE atomic commit whose manifest carries BOTH a new delta
    * directory (the update/insert rows, sequenced at this commit) and
    * a delete sidecar naming the update keys (also sequenced at this
    * commit, so the erasure scopes to PRE-existing directories only —
    * the fresh rows are above it by construction). Matched keys' old
    * rows stop matching, new rows appear, unmatched keys simply
    * append; readers never observe a half-applied state because the
    * manifest create IS the publish point.
    *
    * This is the update verb for a 100 TB table taking a small CDC
    * batch: cost is the delta write plus a key-count-sized sidecar —
    * no existing byte rewritten, no existence check (the delete keys
    * are BLIND equality deletes, the Iceberg rule: an unmatched key's
    * delete never matches anything, and checking would cost a table
    * scan) — where [[upsert]] pays a full copy-on-write snapshot.
    * Consequence for the change feed: EVERY upsert key streams a
    * delete and an insert at this version; consumers apply deletes
    * before inserts within a commit (the standard CDC-apply order)
    * and converge whether or not the key existed. Run
    * [[compactDeletes]] on the operator's schedule to fold
    * accumulated erasures. The publish race retries optimistically
    * like every MoR writer. Returns the new version.
    *
    * `deleteIf` makes it the full atomic CDC-apply verb (the
    * [[merge]] branch semantics, merge-on-read): source rows
    * satisfying it contribute ONLY their key to the sidecar —
    * matched rows erase, unmatched delete requests no-op — while the
    * rest upsert, all in the same single commit. Source columns
    * absent from the target schema are ignored (the `op` marker
    * feeding deleteIf rides along for free), absent target columns
    * null-fill — the merge() source contract.
    */
  def upsertMor(spark: SparkSession, root: String, updates: DataFrame,
      keyCols: Seq[String], tag: String = "",
      deleteIf: Option[org.apache.spark.sql.Column] = None,
      maxAttempts: Int = 20): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    require(keyCols.nonEmpty, "upsertMor needs key columns")
    require(keyCols.forall(updates.columns.contains),
      s"updates must carry the key columns ${keyCols.mkString(",")}")
    val entryV = latestVersion(spark, root).getOrElse(
      sys.error(s"no committed version at $root — " +
        "upsertMor needs an existing table"))
    // a key column absent from the TARGET would publish a sidecar no
    // read can anti-join — permanent unreadability, not a no-op; fail
    // here like merge() does
    require(keyCols.forall(snapshotSchema(spark, root, entryV)
        .fieldNames.contains),
      s"upsertMor keys ${keyCols.mkString(",")} must exist in the " +
        s"target table at $root")
    // the full atomic CDC-apply verb: source rows satisfying
    // `deleteIf` contribute ONLY their key to the sidecar (a
    // matched row is erased, an unmatched delete request no-ops),
    // everything else upserts — one commit either way
    val isDel = deleteIf.map(c => coalesce(c, lit(false)))
    val upsertRows = isDel.map(d => updates.where(!d)).getOrElse(updates)
    // the merge() source contract: columns absent from the target
    // schema are ignored (an `op` marker feeding deleteIf rides for
    // free), absent target columns null-fill; the physical cast below
    // still validates losslessness on the survivors
    val tgt = snapshotSchema(spark, root, entryV)
    val payload = upsertRows.select(tgt.fields.toIndexedSeq.map { f =>
      if (upsertRows.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    val entryFields = resolveFields(spark, root, entryV)
    val entryBaseFieldsS = entryFields.map(fieldsStr).getOrElse("")
    val (physDelta, entryFieldsS, _) =
      physicalizeDelta(payload, entryFields)
    // data writes ONCE into a collision-free dir; only metadata retries
    val dirName =
      "a" + java.util.UUID.randomUUID().toString.replace("-", "")
    writeIntent(spark, root, dirName)
    physDelta.write.mode("overwrite").parquet(s"$root/$dirName")
    val newKeys = updates.select(keyCols.map(col): _*).distinct()
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val prevV = latestVersion(spark, root).getOrElse(
        sys.error(s"no committed version at $root — " +
          "upsertMor needs an existing table"))
      // the mapping-carry rule of commitAppendRetry, verbatim
      val headFieldsS = fieldsStrOf(readManifest(spark, root, prevV))
      val fieldsS =
        if (headFieldsS == entryBaseFieldsS) entryFieldsS
        else if (entryFieldsS == entryBaseFieldsS) headFieldsS
        else sys.error("upsertMor: the field mapping moved " +
          s"concurrently at $root while this delta extends it — " +
          "serialize schema-extending writers")
      val next = prevV + 1
      // per attempt: re-merge the delete sidecar against the current
      // head (a concurrent eraser may have added keys), keys stored
      // under PHYSICAL names at the logical type, sequenced at `next`
      val attemptFields = resolveFields(spark, root, prevV)
        .map(_.filter(_.name.nonEmpty))
      val physKeys = attemptFields match {
        case None => newKeys
        case Some(live) =>
          val byName = live.map(f => f.name -> f).toMap
          // delete-routed rows never pass physicalizeDelta's lossless
          // cast (they carry only their key into the sidecar), so the
          // key cast must validate here: a LONG key wrapped into an
          // INT sidecar column would silently erase the WRONG rows
          newKeys.schema.fields.foreach { sf =>
            byName.get(sf.name).foreach { f =>
              require(canWiden(sf.dataType, f.dtype),
                s"upsertMor key ${sf.name}: source type " +
                  s"${sf.dataType.simpleString} does not losslessly " +
                  s"cast to the table's ${f.dtype.simpleString} — a " +
                  "wrapped key would erase the wrong rows")
            }
          }
          newKeys.select(newKeys.columns.toIndexedSeq.map { c =>
            byName.get(c) match {
              case Some(f) => col(c).cast(f.dtype).as(f.physical)
              case None => col(c)
            }
          }: _*)
      }
      val prior = resolveDeletes(spark, root, prevV)
        .map(d => spark.read.parquet(dirPath(root, d)))
      prior.foreach { p =>
        val pKey = p.columns.filterNot(_ == DelSeqCol).sorted
        require(pKey.sameElements(physKeys.columns.sorted),
          s"upsert key ${physKeys.columns.mkString(",")} differs " +
            s"from the table's delete-sidecar key ${pKey.mkString(",")}")
      }
      val tagged = physKeys.withColumn(DelSeqCol, lit(next))
      val merged = prior.map { p =>
        val normalized =
          if (p.columns.contains(DelSeqCol)) p
          else p.withColumn(DelSeqCol, lit(Long.MaxValue))
        normalized.unionByName(tagged).distinct()
      }.getOrElse(tagged)
      val delDir = DeletesPrefix +
        java.util.UUID.randomUUID().toString.replace("-", "")
      writeIntent(spark, root, delDir)
      merged.coalesce(1).write.mode("overwrite")
        .parquet(s"$root/$delDir")
      try {
        publish(spark, root, next, tag,
          dirs = resolveDirs(spark, root, prevV) :+ dirName,
          deletes = delDir,
          dirSeqs = resolveDirSeqs(spark, root, prevV) :+ next,
          fields = fieldsS)
        carrySidecars(spark, root, prevV, next)
        clearIntent(spark, root, delDir)
        clearIntent(spark, root, dirName)
        return next
      } catch {
        case _: java.nio.file.FileAlreadyExistsException |
            _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
      }
    }
    sys.error(s"upsertMor: lost the publish race $maxAttempts times " +
      s"at $root; delta parked at $dirName (vacuum reclaims it)")
  }

  /** Optimistic COPY-ON-WRITE rewrite commit — [[commitAppendRetry]]'s
    * head re-resolution generalized to whole-snapshot rewrites
    * ([[merge]], [[upsert]]). `plan(baseV)` computes the result frame
    * FROM a pinned base snapshot; the data writes once per plan into a
    * collision-free directory and only the manifest create runs the
    * race. Losing it splits by what interleaved (the Delta
    * write-conflict rules, independently applied):
    *
    *   - only `dataChange=false` commits (OPTIMIZE/compaction) landed
    *     in between: our result is still the correct content — CHEAP
    *     republish of the already-written directory on the new head;
    *   - any data change (append, delete, another rewrite) landed: the
    *     result is stale — RE-PLAN from the new head and rewrite, so a
    *     concurrent append is folded in, never lost (serializable
    *     outcome), up to `maxAttempts` full replans;
    *   - attempts exhausted: fail loudly; the parked directories carry
    *     intent markers, so vacuum reclaims them.
    */
  private def rewriteRetry(spark: SparkSession, root: String,
      tag: String, maxAttempts: Int = 10)(
      plan: Long => DataFrame): Long = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val baseV = latestVersion(spark, root).getOrElse(
        sys.error(s"no committed version at $root"))
      val df = plan(baseV)
      val prevFields = resolveFields(spark, root, baseV)
      val fieldsS = rebaseline(df, prevFields)
      val dirName =
        "a" + java.util.UUID.randomUUID().toString.replace("-", "")
      writeIntent(spark, root, dirName)
      df.write.mode("overwrite").parquet(s"$root/$dirName")
      var head = baseV
      var republish = true
      while (republish) {
        val next = head + 1
        try {
          publish(spark, root, next, tag, dirs = Seq(dirName),
            dirSeqs = Seq(next), fields = fieldsS)
          clearIntent(spark, root, dirName)
          return next
        } catch {
          case _: java.nio.file.FileAlreadyExistsException |
              _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            val newHead = latestVersion(spark, root).getOrElse(head)
            val benign = newHead > head &&
              ((head + 1) to newHead).forall(v =>
                !dataChangeOf(readManifest(spark, root, v)))
            if (benign) head = newHead
            else republish = false // outer loop replans from new head
        }
      }
    }
    sys.error(s"rewrite commit lost the publish race $maxAttempts " +
      s"times at $root (concurrent data changes on every attempt)")
  }

  /** Optimistic retry for CONTENT-NEUTRAL rewrites (the compaction
    * family): the body plans from the pinned `baseV` it receives and
    * must publish at exactly baseV+1 (via [[commitPinned]]); losing
    * that claim to ANY concurrent commit throws FileAlreadyExists and
    * the body replans from the new head. Before round 14 the
    * compaction paths committed at whatever `latestVersion + 1` was
    * at commit time — an append landing between a compaction's plan
    * and its publish was silently REPLACED by the pre-append content
    * (lost update). Pinning turns that window into a loud, retried
    * conflict — the Delta OPTIMIZE conflict rule.
    */
  private def maintenanceRetry[T](spark: SparkSession, root: String,
      maxAttempts: Int = 10)(body: Long => T): T = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val baseV = latestVersion(spark, root).getOrElse(
        sys.error(s"no committed version at $root"))
      try return body(baseV)
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
            _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
      }
    }
    sys.error(s"compaction lost the publish race $maxAttempts times " +
      s"at $root (concurrent commits on every attempt)")
  }

  /** One pinned-base round-robin bin-pack attempt: `ceil(bytes /
    * targetBytes)` files, no clustering, delete sidecar folded —
    * shared by [[compact]], [[compactDeletes]] and
    * [[compactIfFragmented]] so the rounding/tag rules stay in one
    * place.
    */
  private def compactBinPackAt(spark: SparkSession, root: String,
      v: Long, targetBytes: Long, tag: String): Long = {
    val bytes = dataBytes(spark, root, v)
    val nFiles =
      math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    commitPinned(readVersion(spark, root, v).repartition(nFiles),
      root, if (tag.nonEmpty) tag else s"compact-v$v", v)
  }

  /** Rewrite commit PINNED to the base snapshot it was planned from:
    * publishes at exactly `baseV + 1` (no head re-resolution), so a
    * concurrent commit makes the manifest claim fail loudly instead
    * of silently dropping the interleaved data change. Data writes
    * into a collision-free directory (never `v<next>`, which a racing
    * plain commit would also write). Stats, when requested, stage
    * into a tmp dir and rename into place only AFTER the publish —
    * a lost race must not leave a version-named sidecar behind for
    * whoever legitimately takes that version id (a crash between
    * publish and rename just leaves the new version conservatively
    * sidecar-less, the carrySidecars guarantee). Always
    * dataChange=false: this is the maintenance path.
    */
  // dataChange defaults false (the compaction family); [[rollback]]
  // pins with dataChange=true — a restore CHANGES logical content,
  // streams must not silently rebase over it
  private def commitPinned(df: DataFrame, root: String, tag: String,
      baseV: Long, statsCols: Seq[String] = Nil,
      stringStatsCols: Seq[String] = Nil,
      dataChange: Boolean = false): Long = {
    val spark = df.sparkSession
    val next = baseV + 1
    val fieldsS = rebaseline(df, resolveFields(spark, root, baseV))
    val dirName =
      "a" + java.util.UUID.randomUUID().toString.replace("-", "")
    writeIntent(spark, root, dirName)
    df.write.mode("overwrite").parquet(s"$root/$dirName")
    val statsTmp =
      if (statsCols.isEmpty && stringStatsCols.isEmpty) None
      else {
        val tmp = s"$root/_graft_tmpcarry_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        statsFrame(spark.read.parquet(s"$root/$dirName"),
          statsCols, stringStatsCols)
          .coalesce(1).write.parquet(tmp)
        Some(tmp)
      }
    try {
      publish(spark, root, next, tag, dirs = Seq(dirName),
        dirSeqs = Seq(next), fields = fieldsS, dataChange = dataChange)
    } catch {
      case e: Throwable =>
        val f = fs(spark, root)
        statsTmp.foreach(t => f.delete(new Path(t), true))
        // the parked data dir keeps its intent marker; vacuum reclaims
        throw e
    }
    statsTmp.foreach { t =>
      val f = fs(spark, root)
      val dst = new Path(statsDir(root, next))
      // a crashed pre-round-14 writer could have left a version-named
      // orphan here; OUR claim on `next` succeeded, so it describes
      // nothing — replace it
      if (f.exists(dst)) f.delete(dst, true)
      if (!f.rename(new Path(t), dst)) { f.delete(new Path(t), true); () }
    }
    clearIntent(spark, root, dirName)
    next
  }

  /** `MERGE INTO` — the three-branch writer verb every Delta/Iceberg
    * deployment leans on, composed over the machinery [[upsert]] and
    * the MoR deletes already share. Semantics per SOURCE row, joined
    * to the current snapshot on `keyCols`:
    *
    *   - satisfies `deleteIf`:  WHEN MATCHED DELETE — the target row
    *     is removed; an unmatched delete request is a no-op (never an
    *     insert), the CDC-apply rule;
    *   - otherwise, matched:    WHEN MATCHED UPDATE SET * (all target
    *     columns take the source row's values) when `updateMatched`,
    *     else the target row is kept unchanged;
    *   - otherwise, unmatched:  WHEN NOT MATCHED INSERT * when
    *     `insertUnmatched`, else dropped.
    *
    * Target rows never touched by any source key pass through as-is.
    * Source columns absent from the target schema are ignored (an
    * `op` marker column feeding `deleteIf` rides along for free);
    * target columns absent from the source read as typed NULLs.
    *
    * Plan shape: ONE key-shuffled full-outer join classifies every
    * row — no second pass, no driver loop — and AQE broadcasts a
    * small source side on its own. Like every `commit`, the result is
    * a copy-on-write snapshot: the right verb for batch CDC folds.
    * (A key-count-sized delete against a huge table wants
    * [[deleteKeysMor]]'s metadata-time path instead; the two compose —
    * merge for the upsert batch, MoR for the erasure stream.)
    *
    * The caller must provide at most ONE source row per key (the
    * standard MERGE ambiguity rule; with duplicates the surviving
    * value is nondeterministic, exactly as a multi-match MERGE is
    * undefined in SQL). Re-running the same merge is idempotent:
    * updates rewrite identical values, deletes stop matching, inserts
    * become same-valued updates. Returns the new version id.
    */
  def merge(spark: SparkSession, root: String, source: DataFrame,
      keyCols: Seq[String],
      deleteIf: Option[org.apache.spark.sql.Column] = None,
      updateMatched: Boolean = true, insertUnmatched: Boolean = true,
      tag: String = ""): Long =
    rewriteRetry(spark, root, if (tag.nonEmpty) tag else "merge") {
      baseV => mergeFrameAt(spark, root, baseV, source, keyCols,
        deleteIf, updateMatched, insertUnmatched)
    }

  /** The planned (uncommitted) result frame of [[merge]] against the
    * LATEST snapshot, exposed `private[graft]` so the plan-shape
    * suite can pin the one-shuffle property without committing.
    */
  private[graft] def mergeFrame(spark: SparkSession, root: String,
      source: DataFrame, keyCols: Seq[String],
      deleteIf: Option[org.apache.spark.sql.Column],
      updateMatched: Boolean, insertUnmatched: Boolean): DataFrame =
    mergeFrameAt(spark, root,
      latestVersion(spark, root).getOrElse(
        sys.error(s"no committed version at $root")),
      source, keyCols, deleteIf, updateMatched, insertUnmatched)

  private def mergeFrameAt(spark: SparkSession, root: String,
      baseV: Long,
      source: DataFrame, keyCols: Seq[String],
      deleteIf: Option[org.apache.spark.sql.Column],
      updateMatched: Boolean, insertUnmatched: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(keyCols.nonEmpty, "merge needs at least one join key")
    val cur = readVersion(spark, root, baseV)
    val cols = cur.columns.toIndexedSeq
    require(keyCols.forall(cols.contains),
      s"merge keys ${keyCols.mkString(",")} must exist in the target")
    val tgtType: Map[String, org.apache.spark.sql.types.DataType] =
      cur.schema.fields.map(f => f.name -> f.dataType).toMap
    require(keyCols.forall(source.columns.contains),
      s"merge source must carry the key columns ${keyCols.mkString(",")}")
    // classify each source row once (delete request vs upsert), then
    // project onto the target schema — absent columns become typed
    // NULLs (only ever read if a caller updates/inserts from a
    // key-only source), extra columns drop here
    val marked = source.withColumn("__graft_s_del",
      deleteIf.getOrElse(lit(false)))
    val s = marked.select(cols.map { c =>
      (if (marked.columns.contains(c)) col(c).cast(tgtType(c))
       else lit(null).cast(tgtType(c))).as(s"__graft_s_$c")
    } :+ col("__graft_s_del") :+ lit(true).as("__graft_s_p"): _*)
    val t = cur.withColumn("__graft_t_p", lit(true))
    val joined = t.join(s,
      keyCols.map(k => col(k) === col(s"__graft_s_$k")).reduce(_ && _),
      "full_outer")
    val tP = coalesce(col("__graft_t_p"), lit(false))
    val sP = coalesce(col("__graft_s_p"), lit(false))
    val sDel = coalesce(col("__graft_s_del"), lit(false))
    val keep = when(tP && sP, !sDel)
      .when(tP, lit(true))
      .otherwise(lit(insertUnmatched) && !sDel)
    val useSrc = when(tP && sP, lit(updateMatched) && !sDel)
      .otherwise(!tP)
    joined.where(keep).select(cols.map { c =>
      when(useSrc, col(s"__graft_s_$c")).otherwise(col(c)).as(c)
    }: _*)
  }

  /** The wall-clock milliseconds recorded in `version`'s manifest at
    * publish time (0 for a manifest written before timestamps were
    * recorded) — the basis for [[vacuumOlderThan]] and history audits.
    */
  def commitTimeMs(spark: SparkSession, root: String,
      version: Long): Long = {
    val raw = readManifest(spark, root, version)
    """"ts":(\d+)""".r.findFirstMatchIn(raw)
      .map(_.group(1).toLong).getOrElse(0L)
  }

  /** The NEWEST committed version at or before the instant — the one
    * Delta time-travel binding rule, shared by `TIMESTAMP AS OF`
    * reads and `RESTORE … TO TIMESTAMP AS OF` (one implementation, so
    * the two can never drift). Fails loudly when the table's first
    * commit is newer than the instant.
    */
  def versionAtOrBefore(spark: SparkSession, root: String,
      millis: Long): Long =
    versions(spark, root)
      .filter(v => commitTimeMs(spark, root, v) <= millis)
      .lastOption.getOrElse(sys.error(
        s"no commit at or before TIMESTAMP AS OF $millis (epoch ms) " +
          s"at $root — the table's first commit is newer"))

  /** The full commit audit a `DESCRIBE HISTORY` consumer wants:
    * (version, tag, manifest-recorded commit millis, dataChange) —
    * one metadata-sized manifest read per retained version, oldest
    * first. The ONE manifest-parsing site for these fields;
    * [[history]] is its two-field projection.
    */
  def historyDetail(spark: SparkSession,
      root: String): Seq[(Long, String, Long, Boolean)] =
    manifestVersions(spark, root).map { v =>
      val raw = readManifest(spark, root, v)
      val tag = """"tag":"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(raw)
        .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
        .getOrElse("")
      val ts = """"ts":(\d+)""".r.findFirstMatchIn(raw)
        .map(_.group(1).toLong).getOrElse(0L)
      (v, tag, ts, dataChangeOf(raw))
    }

  /** (version, tag) pairs of every commit, oldest first. */
  def history(spark: SparkSession, root: String): Seq[(Long, String)] =
    historyDetail(spark, root).map { case (v, tag, _, _) => (v, tag) }

  /** Restore an old snapshot by COMMITTING its data as the newest
    * version (roll-forward, never history rewrite — the standard
    * `RESTORE TABLE` semantics). Pinned-base under the optimistic
    * retry: the restored content is a pure function of `toVersion`,
    * so a lost race just re-claims the next head — safe next to live
    * writers, and dataChange=true so streams fail loudly instead of
    * rebasing over the content change. Returns the new version id.
    */
  def rollback(spark: SparkSession, root: String,
      toVersion: Long, tag: String = ""): Long =
    maintenanceRetry(spark, root)(v =>
      commitPinned(readVersion(spark, root, toVersion), root,
        if (tag.nonEmpty) tag else s"rollback-to-v$toVersion", v,
        dataChange = true))

  // -------------------------------------------------------------------
  // Named refs — Iceberg-style tags and branches over version ids.
  // A ref is one tiny json file (`_graft_ref_<name>.json`) naming a
  // committed version: immutable refs are tags ("the v2024.08 training
  // snapshot"), movable refs are branches ("prod points here"). Refs
  // pin their target against [[vacuum]], so a tagged corpus snapshot
  // survives retention sweeps until the ref is dropped — the property
  // that makes "reproduce last quarter's training run" possible.
  // -------------------------------------------------------------------

  private val RefPrefix = "_graft_ref_"

  private def refPath(root: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"ref name must be [A-Za-z0-9._-]+ starting alphanumeric: $name")
    new Path(root, s"$RefPrefix$name.json")
  }

  private def readSmallFile(f: org.apache.hadoop.fs.FileSystem,
      p: Path): String = {
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      var n = in.read(tmp)
      while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      buf.toString("UTF-8")
    } finally in.close()
  }

  private def writeRefFile(f: org.apache.hadoop.fs.FileSystem, p: Path,
      name: String, version: Long, movable: Boolean,
      replace: Boolean = false): Unit = {
    val bytes = (s"""{"name":"$name","version":$version,""" +
      s""""movable":$movable}""").getBytes("UTF-8")
    val uri = f.makeQualified(p).toUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      // full content staged in a temp sibling, then an ATOMIC name
      // operation — readers see the old ref or the new ref, never a
      // missing or half-written one. Claim (`replace=false`, tag
      // semantics) hard-links like a manifest publish; re-point
      // (`replace=true`, branch move) is a rename(2), which swaps the
      // file in place
      val local = java.nio.file.Paths.get(uri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      val tmp = local.resolveSibling(local.getFileName.toString +
        ".tmp-" + java.util.UUID.randomUUID().toString)
      java.nio.file.Files.write(tmp, bytes)
      if (replace) {
        java.nio.file.Files.move(tmp, local,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      } else {
        try java.nio.file.Files.createLink(local, tmp)
        finally { java.nio.file.Files.deleteIfExists(tmp); () }
      }
    } else {
      // non-local: create(overwrite) is the publish point, same caveat
      // as manifests (object stores want a conditional put here)
      val out = f.create(p, replace)
      try out.write(bytes) finally out.close()
    }
  }

  /** Create ref `name` at committed `version`. Immutable by default
    * (tag semantics — creating an existing name throws, exactly like
    * re-publishing a manifest); pass `movable = true` for a branch
    * head that [[moveRef]] may re-point later.
    */
  def createRef(spark: SparkSession, root: String, name: String,
      version: Long, movable: Boolean = false): Unit = {
    require(manifestVersions(spark, root).contains(version),
      s"cannot ref uncommitted version $version at $root")
    writeRefFile(fs(spark, root), refPath(root, name), name, version,
      movable)
  }

  /** Re-point movable ref `name` at `version`. Refuses on a tag —
    * immutability is the point of tagging. The swap is an atomic
    * rename on local filesystems, so readers following the branch
    * (the write-audit-publish pattern) see the old head or the new
    * head, never a missing ref mid-move. Writers stay single-per-ref,
    * the [[commitAppend]] contract.
    */
  def moveRef(spark: SparkSession, root: String, name: String,
      version: Long): Unit = {
    val (_, movable) = refTarget(spark, root, name)
    require(movable, s"ref $name is an immutable tag; drop it or use " +
      "a movable ref (branch) for a head that moves")
    require(manifestVersions(spark, root).contains(version),
      s"cannot ref uncommitted version $version at $root")
    writeRefFile(fs(spark, root), refPath(root, name), name, version,
      movable = true, replace = true)
  }

  private def refTarget(spark: SparkSession, root: String,
      name: String): (Long, Boolean) = {
    val f = fs(spark, root)
    val p = refPath(root, name)
    require(f.exists(p), s"no ref $name at $root")
    val raw = readSmallFile(f, p)
    val v = """"version":(\d+)""".r.findFirstMatchIn(raw)
      .map(_.group(1).toLong)
      .getOrElse(sys.error(s"malformed ref file $p"))
    val mv = """"movable":(true|false)""".r.findFirstMatchIn(raw)
      .exists(_.group(1) == "true")
    (v, mv)
  }

  /** The version id ref `name` points at. */
  def resolveRef(spark: SparkSession, root: String, name: String): Long =
    refTarget(spark, root, name)._1

  /** All refs as (name, version, movable), name-sorted. */
  def listRefs(spark: SparkSession,
      root: String): Seq[(String, Long, Boolean)] = {
    val f = fs(spark, root)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) return Nil
    f.listStatus(rootPath).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith(RefPrefix) && n.endsWith(".json"))
      .map(n => n.stripPrefix(RefPrefix).stripSuffix(".json"))
      .sorted
      .map { n => val (v, mv) = refTarget(spark, root, n); (n, v, mv) }
  }

  /** Streaming-offset pin refs: `stream_<id>` branch refs a
    * `pinOffsets` stream moves at every committed offset. Vacuum
    * retains the whole version SUFFIX from the oldest stream pin on —
    * a restart replays every version after its checkpointed offset,
    * so pinning the offset alone would not keep what the replay
    * walks. The id is derived from the checkpoint's source metadata
    * path, so a restart of the same checkpoint reuses its pin.
    */
  val StreamPinPrefix = "stream_"

  def streamPinName(checkpointKey: String): String = {
    // 128 bits of a cryptographic hash: two checkpoints on one table
    // must never collide onto the same movable pin (a shared pin
    // dragged forward by the faster stream would silently strip the
    // slower one's retention protection — a 32-bit hash made that a
    // real possibility at fleet scale)
    val md = java.security.MessageDigest.getInstance("SHA-256")
      .digest(checkpointKey.getBytes("UTF-8"))
    StreamPinPrefix + md.take(16).map(b => f"$b%02x").mkString
  }

  /** Drop ref `name` (its target version becomes vacuumable again). */
  def dropRef(spark: SparkSession, root: String, name: String): Unit = {
    fs(spark, root).delete(refPath(root, name), false)
    ()
  }

  /** Time travel by name: read the snapshot ref `name` pins. */
  def readRef(spark: SparkSession, root: String, name: String): DataFrame =
    readVersion(spark, root, resolveRef(spark, root, name))

  /** SHALLOW CLONE: publish `targetRoot` v0 as a zero-copy view of a
    * source snapshot — the manifest references the source's data
    * directories (and delete sidecar) by ABSOLUTE path, no byte
    * moves; dir sequences and the field mapping carry verbatim, and
    * the source's stats/Bloom sidecars copy across (file-count-sized
    * metadata) so data skipping works on the clone from commit one.
    * The clone then lives its own life: appends land locally beside
    * the foreign references, deletes/evolution are clone-only, and
    * the first REWRITE (compact/commit) localizes everything. This is
    * the cheap-dev-copy / experiment-branch verb (`CREATE TABLE ...
    * SHALLOW CLONE` in Delta, snapshot-ref tables in Iceberg).
    *
    * Lifecycle contract, both directions:
    *   - vacuum at the CLONE can never delete source bytes — its
    *     sweep deletes by local listing name only, and foreign
    *     absolute entries are never local names;
    *   - vacuum at the SOURCE does not know about clones: expiring
    *     the cloned-from version orphans the clone (fsck at the clone
    *     reports the missing dirs loudly). Pin the source version
    *     with a named ref ([[createRef]]) for as long as clones of it
    *     live — same rule as Delta shallow clones.
    * Returns the clone's version id (always 0).
    */
  def cloneShallow(spark: SparkSession, sourceRoot: String,
      targetRoot: String, sourceVersion: Long = -1L,
      tag: String = ""): Long = {
    require(latestVersion(spark, targetRoot).isEmpty,
      s"cloneShallow target must be empty: $targetRoot already has " +
        "committed versions")
    val srcV =
      if (sourceVersion >= 0) sourceVersion
      else latestVersion(spark, sourceRoot).getOrElse(
        sys.error(s"no committed version at $sourceRoot"))
    val raw = readManifest(spark, sourceRoot, srcV)
    val f = fs(spark, sourceRoot)
    def abs(d: String): String =
      f.makeQualified(new Path(dirPath(sourceRoot, d))).toString
    val dirs = dirsOf(raw, sourceRoot, srcV).map(abs)
    val srcSeqs = dirSeqsOf(raw, dirs.length)
    val srcDels = deletesOf(raw, sourceRoot, srcV).map(abs)
    // REBASE the delete-scoping sequence scale: the clone's own
    // commits number 1, 2, … while carried source seqs are arbitrary
    // — carried verbatim, a source seq above a future clone version
    // would let a CARRIED delete erase clone-side re-inserts, and a
    // clone-side delete (seq 1) would skip most carried dirs. Mapping
    // every carried seq value ORDER-PRESERVINGLY into (…, -1, 0]
    // keeps the source's internal delete/dir relations exact while
    // sorting strictly below every future clone seq (≥ 1).
    val delSidecarSeqs: Seq[Long] = srcDels.toSeq.flatMap { d =>
      val dels = spark.read.parquet(d)
      if (!dels.columns.contains(DelSeqCol)) Nil
      else dels.select(org.apache.spark.sql.functions.col(DelSeqCol))
        .distinct().collect().map(_.getLong(0)).toSeq
    }
    val allSeqs = (srcSeqs ++ delSidecarSeqs).distinct.sorted
    val rebased: Map[Long, Long] =
      allSeqs.zipWithIndex.map { case (s, i) =>
        s -> (i.toLong - allSeqs.length + 1)
      }.toMap
    val seqs = srcSeqs.map(rebased)
    // a carried delete sidecar re-writes (key-count-sized) with its
    // seq column rebased onto the same scale; a pre-scoping sidecar
    // (no seq column) carries by reference, keeping its global reach
    val dels: Option[String] = srcDels.map { d =>
      val sidecar = spark.read.parquet(d)
      if (!sidecar.columns.contains(DelSeqCol)) d
      else {
        import org.apache.spark.sql.functions.{coalesce, col,
          element_at, lit, typedlit}
        // codegen'd map lookup (|distinct seqs| entries — tiny); an
        // unmapped value (impossible by construction) falls to 0 =
        // applies to every carried dir, the conservative direction
        val remap = coalesce(
          element_at(typedlit(rebased), col(DelSeqCol)), lit(0L))
        val delDir = DeletesPrefix +
          java.util.UUID.randomUUID().toString.replace("-", "")
        sidecar.withColumn(DelSeqCol, remap)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$targetRoot/$delDir")
        delDir
      }
    }
    publish(spark, targetRoot, 0L,
      if (tag.nonEmpty) tag else s"clone-of-$sourceRoot@v$srcV",
      dirs = dirs, deletes = dels.getOrElse(""), dirSeqs = seqs,
      fields = fieldsStrOf(raw))
    // sidecars resolve by version-bound LOCAL name, so the clone gets
    // its own copy (post-publish: a crash mid-copy leaves a
    // conservatively sidecar-less clone, never a wrong one)
    val tf = fs(spark, targetRoot)
    Seq(statsDir _, bloomDir _).foreach { dirOf =>
      val src = new Path(dirOf(sourceRoot, srcV))
      val dst = new Path(dirOf(targetRoot, 0L))
      if (f.exists(src) && !tf.exists(dst)) {
        val tmp = new Path(targetRoot, "_graft_tmpcarry_" +
          java.util.UUID.randomUUID().toString.replace("-", ""))
        org.apache.hadoop.fs.FileUtil.copy(f, src, tf, tmp,
          false, spark.sparkContext.hadoopConfiguration)
        if (!tf.rename(tmp, dst)) { tf.delete(tmp, true); () }
      }
    }
    0L
  }

  // Per-stream high-water marks — `_graft_hwm_<streamId>.json`, one
  // tiny root file per streaming sink recording the newest batch id
  // that sink has committed. Commit-tag parsing alone is NOT durable
  // for replay detection: tags live in manifests, and [[vacuum]] may
  // expire the manifest holding a stream's newest namespaced tag while
  // ANOTHER stream's commit is the table head — a restarted sink would
  // then seed below its true mark and re-commit a replayed batch. The
  // hwm file survives every retention sweep (vacuum deletes manifests,
  // dead dirs, intent markers and `.tmp-` litter — never `_graft_hwm_`
  // files), so the seed is max(hwm file, retained-tag parse): written
  // AFTER the commit, it can only lag by the one batch a crash
  // interleaves, and that batch's tag is by definition in the newest
  // manifest, which vacuum always retains.

  private val HwmPrefix = "_graft_hwm_"

  private def hwmPath(root: String, streamId: String): Path = {
    val name = if (streamId.isEmpty) "default" else streamId
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"stream id must be [A-Za-z0-9._-]+ starting alphanumeric: $name")
    new Path(root, s"$HwmPrefix$name.json")
  }

  /** Durably record `batchId` as stream `streamId`'s newest committed
    * batch (atomic replace, monotone by the single-writer-per-stream
    * contract). Call AFTER the batch's commit publishes.
    */
  def writeStreamHighWater(spark: SparkSession, root: String,
      streamId: String, batchId: Long): Unit =
    writeRefFile(fs(spark, root), hwmPath(root, streamId),
      if (streamId.isEmpty) "default" else streamId, batchId,
      movable = true, replace = true)

  /** The durably recorded high-water batch id for `streamId`, if any. */
  def readStreamHighWater(spark: SparkSession, root: String,
      streamId: String): Option[Long] = {
    val f = fs(spark, root)
    val p = hwmPath(root, streamId)
    if (!f.exists(p)) None
    else """"version":(-?\d+)""".r
      .findFirstMatchIn(readSmallFile(f, p)).map(_.group(1).toLong)
  }

  /** Commit `df` WITH per-file min/max statistics for `statsCols`
    * (numeric/date/timestamp — values stored as doubles) — the
    * data-skipping sidecar every lakehouse format keeps. The stats
    * table is itself parquet under an underscore-prefixed dir
    * (`_graft_stats_v<N>/`, invisible to data scans, manifest still
    * last so the commit point is unchanged); it is file-count-sized,
    * never data-sized. Stats collection is ONE distributed
    * aggregation grouped by `input_file_name()` over the
    * just-written files — the same bytes the write just produced,
    * while they are hot. Returns the version id.
    *
    * Pair with a clustered write ([[graft.operators.ZOrder]] or a
    * range sort) — stats on unclustered data prune nothing because
    * every file spans the whole domain.
    */
  def commitWithStats(df: DataFrame, root: String,
      statsCols: Seq[String], tag: String = "",
      stringStatsCols: Seq[String] = Nil,
      dataChange: Boolean = true): Long = {
    require(statsCols.nonEmpty || stringStatsCols.nonEmpty,
      "commitWithStats needs at least one stats column")
    commitWithSidecar(df, root, tag, statsDir(root, _),
      statsFrame(_, statsCols, stringStatsCols), dataChange)
  }

  /** Shared skeleton of the sidecar-building REWRITES — the rewrite
    * twin of [[commitAppendWithSidecar]]: write `df` as the new
    * version's only data dir, build its per-file sidecar with
    * `sidecar` over the just-written (still hot) files, and publish.
    * A rewrite commit re-baselines the field mapping (if any) to the
    * logical names just written, so the sidecar's column names are
    * simultaneously logical and physical — consistent with pruning's
    * physical-name resolution.
    */
  private def commitWithSidecar(df: DataFrame, root: String, tag: String,
      sidecarOf: Long => String, sidecar: DataFrame => DataFrame,
      dataChange: Boolean): Long = {
    val spark = df.sparkSession
    val prevFields = latestVersion(spark, root)
      .flatMap(v => resolveFields(spark, root, v))
    val (next, dataDir) = nextVersionDir(spark, root)
    val sidecarName = new Path(sidecarOf(next)).getName
    writeIntent(spark, root, s"v$next")
    writeIntent(spark, root, sidecarName)
    df.write.mode("overwrite").parquet(dataDir)
    sidecar(spark.read.parquet(dataDir))
      .coalesce(1)
      .write.mode("overwrite").parquet(sidecarOf(next))
    publish(spark, root, next, tag, fields = rebaseline(df, prevFields),
      dataChange = dataChange)
    clearIntent(spark, root, s"v$next")
    clearIntent(spark, root, sidecarName)
    next
  }

  private def statsDir(root: String, version: Long): String =
    s"$root/_graft_stats_v$version"

  private def bloomDir(root: String, version: Long): String =
    s"$root/_graft_bloom_v$version"

  /** The per-file min/max stats frame every stats-writing commit path
    * shares: numeric families cast to double (`mn_`/`mx_`), string
    * families keep native UTF8 binary order (`smn_`/`smx_` — the
    * order parquet itself uses, so lexicographic range pruning is
    * sound), one row per written file.
    */
  private def statsFrame(written: DataFrame, statsCols: Seq[String],
      stringStatsCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val aggs = statsCols.flatMap { c =>
      Seq(min(col(c).cast("double")).as(s"mn_$c"),
        max(col(c).cast("double")).as(s"mx_$c"))
    } ++ stringStatsCols.flatMap { c =>
      Seq(min(col(c).cast("string")).as(s"smn_$c"),
        max(col(c).cast("string")).as(s"smx_$c"))
    }
    written.groupBy(input_file_name().as("path"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The per-file Bloom sidecar frame both Bloom-writing commit paths
    * share: one mergeable `BloomFilterAggregate` over `xxhash64(col)`
    * per column (`bf_`), one row per written file.
    */
  private def bloomFrame(written: DataFrame, bloomCols: Seq[String],
      expectedItemsPerFile: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, input_file_name, xxhash64}
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val aggs = bloomCols.map { c =>
      ColumnBridge.column(
        new BloomFilterAggregate(
          ColumnBridge.expression(xxhash64(col(c))),
          expectedItemsPerFile).toAggregateExpression()).as(s"bf_$c")
    }
    written.groupBy(input_file_name().as("path"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Carry the previous version's stats/bloom sidecars forward to a
    * new version that REWROTE NO DATA FILE (MoR delete commits, plain
    * appends): the sidecars describe files, not versions, so the
    * prior rows stay exactly valid — files the new version adds are
    * simply uncovered (conservatively read), and deletes only remove
    * rows, so stats pruning stays sound. Without the carry, any
    * sidecar-less commit silently turned data skipping OFF for every
    * later read (sidecar resolution is by version-bound name). The
    * copy is file-count-sized — metadata cost, run after the publish
    * point so a crash mid-copy just leaves a conservatively
    * sidecar-less (never wrong) version.
    */
  private def carrySidecars(spark: SparkSession, root: String,
      fromV: Long, toV: Long,
      staleBloomPhys: Set[String] = Set.empty): Unit = {
    val f = fs(spark, root)
    Seq(statsDir(root, _: Long), bloomDir(root, _: Long)).foreach { d =>
      val src = new Path(d(fromV))
      val dst = new Path(d(toV))
      val isBloom = d(toV) == bloomDir(root, toV)
      if (f.exists(src) && !f.exists(dst)) {
        // stage + rename: a reader resolving the new version's sidecar
        // mid-copy must see the complete dir or none (missing = the
        // conservative read-everything path), never a half-written
        // parquet file. The tmp name has no sidecar prefix, so vacuum's
        // version-bound sweep never mistakes it for a live one.
        val tmp = new Path(root, "_graft_tmpcarry_" +
          java.util.UUID.randomUUID().toString.replace("-", ""))
        if (isBloom && staleBloomPhys.nonEmpty) {
          // a widened field's bloom was hashed over the narrow type —
          // stale: stage a rewrite WITHOUT those columns (atomic via
          // the same rename), or carry nothing when no valid bloom
          // column survives (missing dir = conservative full read)
          val prior = spark.read.parquet(src.toString)
          val stale = staleBloomPhys.map(p => s"bf_$p")
          val keep = prior.columns.toIndexedSeq.filterNot(stale)
          if (keep.exists(_.startsWith("bf_"))) {
            prior.select(keep.map(c =>
                org.apache.spark.sql.functions.col(
                  "`" + c.replace("`", "``") + "`")): _*)
              .coalesce(1).write.parquet(tmp.toString)
            if (!f.rename(tmp, dst)) { f.delete(tmp, true); () }
          }
        } else {
          org.apache.hadoop.fs.FileUtil.copy(f, src, f, tmp,
            false, spark.sparkContext.hadoopConfiguration)
          if (!f.rename(tmp, dst)) { f.delete(tmp, true); () }
        }
      }
    }
  }

  /** Commit `df` WITH a per-file Bloom-filter sidecar on `bloomCols`
    * — the point-lookup data-skipping min/max stats cannot give: a
    * hash-distributed key column has every file spanning the whole
    * domain, so range stats prune nothing, but a Bloom of each file's
    * key set answers "could key k be in this file?" with no data I/O
    * ([[readWhereVersion]]). One distributed aggregation grouped by
    * `input_file_name()` builds every file's filter in a single pass
    * over the just-written (still hot) bytes — Spark's own mergeable
    * `BloomFilterAggregate` over `xxhash64(col)`, so lookups must
    * probe with a literal of the SAME type the column carries. The
    * sidecar is file-count-sized (≈ 1.2 MB per file per column at
    * `expectedItemsPerFile` = 1e6 and the default 3% fpp — false
    * positives only cost an extra file read, never correctness).
    * Returns the version id.
    */
  def commitWithBloom(df: DataFrame, root: String,
      bloomCols: Seq[String], expectedItemsPerFile: Long = 1000000L,
      tag: String = ""): Long = {
    require(bloomCols.nonEmpty, "commitWithBloom needs at least one column")
    commitWithSidecar(df, root, tag, bloomDir(root, _),
      bloomFrame(_, bloomCols, expectedItemsPerFile), dataChange = true)
  }

  /** The data files of snapshot `version` whose Bloom filter on
    * `colName` admits ANY of `values` — resolved from the bloom
    * sidecar alone. Conservative like [[prunedPaths]]: no sidecar, an
    * uncovered file, a missing column, or a NULL filter (an empty
    * file group) all keep the file; pruning only ever removes files
    * the Bloom PROVES contain none of the probed keys. `values` must
    * be literals of the column's own type ([[commitWithBloom]] hashes
    * the raw column).
    */
  def bloomPrunedPaths(spark: SparkSession, root: String, version: Long,
      colName: String, values: Seq[Any]): Seq[String] = {
    import org.apache.spark.sql.functions.{col, lit, xxhash64}
    require(values.nonEmpty, "bloomPrunedPaths needs at least one value")
    val bd = bloomDir(root, version)
    val f = fs(spark, root)
    val all = dataPaths(spark, root, version)
    if (!f.exists(new Path(bd))) return all
    val blooms = spark.read.parquet(bd)
    val physCol = physNameOf(spark, root, version)(colName)
    if (!blooms.columns.contains(s"bf_$physCol")) return all
    // probe hashes come from Spark's own xxhash64 over one literal
    // row, so build-side and probe-side hashing can never diverge
    // (might_contain demands a CONSTANT filter, so admission runs
    // driver-side over the file-count-sized sidecar instead — the
    // same bounded collect prunedPaths performs on its verdicts)
    val hashes = spark.range(1)
      .select(values.map(v => xxhash64(lit(v))): _*)
      .head().toSeq.map(_.asInstanceOf[Long])
    val verdicts = blooms
      .select(col("path"), col(s"bf_$physCol").as("bf")).collect()
      .toSeq.map { r =>
        val keep = r.isNullAt(1) || { // NULL filter (empty group) keeps
          val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          hashes.exists(bf.mightContainLong)
        }
        (r.getString(0), keep)
      }
    conservativeSubset(all, verdicts)
  }

  /** Shared skeleton of the sidecar-merging fast appends: write the
    * delta, build its per-file sidecar rows with `deltaSidecar`, merge
    * them into the previous version's sidecar (schema-matched, else
    * the delta's rows stand alone and prior files are conservatively
    * uncovered), and publish with the delete set carried and the new
    * dir sequenced above it. One implementation so a manifest-protocol
    * change can never silently apply to one append flavor and not the
    * other.
    */
  private def commitAppendWithSidecar(delta: DataFrame, root: String,
      tag: String, sidecarOf: Long => String,
      deltaSidecar: (DataFrame, String => String) => DataFrame): Long = {
    val spark = delta.sparkSession
    val prevV = latestVersion(spark, root)
    val prevDirs = prevV.map(v => resolveDirs(spark, root, v))
      .getOrElse(Nil)
    val prevSeqs = prevV.map(v => resolveDirSeqs(spark, root, v))
      .getOrElse(Nil)
    val dels = prevV.flatMap(v => resolveDeletes(spark, root, v))
    // evolved tables: the delta lands under physical names, and the
    // sidecar builder receives the logical→physical map so its stats
    // columns key by PHYSICAL name (what pruning resolves through)
    val prevFields = prevV.flatMap(v => resolveFields(spark, root, v))
    val (physDelta, fieldsS, physFn) =
      physicalizeDelta(delta, prevFields)
    val (next, dataDir) = nextVersionDir(spark, root)
    val sidecarName = new Path(sidecarOf(next)).getName
    writeIntent(spark, root, s"v$next")
    writeIntent(spark, root, sidecarName)
    physDelta.write.mode("overwrite").parquet(dataDir)
    val written = spark.read.parquet(dataDir)
    val deltaRows = deltaSidecar(written, physFn)
    val f = fs(spark, root)
    val prior = prevV.filter(v => f.exists(new Path(sidecarOf(v))))
      .map(v => spark.read.parquet(sidecarOf(v)))
    val merged = prior match {
      case Some(p) if p.columns.sorted.sameElements(
        deltaRows.columns.sorted) => p.unionByName(deltaRows)
      case _ => deltaRows
    }
    merged.coalesce(1).write.mode("overwrite").parquet(sidecarOf(next))
    publish(spark, root, next, tag, dirs = prevDirs :+ s"v$next",
      deletes = dels.getOrElse(""), dirSeqs = prevSeqs :+ next,
      fields = fieldsS)
    // carry whatever OTHER sidecar family the prior version had (a
    // stats-merging append on a bloom-indexed table must not drop the
    // blooms); the just-written merged sidecar is never overwritten
    prevV.foreach(carrySidecars(spark, root, _, next))
    clearIntent(spark, root, s"v$next")
    clearIntent(spark, root, sidecarName)
    next
  }

  /** Fast APPEND with data skipping intact: stats for the DELTA files
    * are one aggregation over the just-written delta, and the new
    * sidecar is the previous version's sidecar plus those rows — so
    * per-commit cost stays delta-sized and [[readWhereVersion]] keeps
    * pruning across the whole append chain. If the previous version
    * carries no sidecar its files simply stay un-covered, which
    * [[prunedPaths]] handles conservatively (they are always read).
    */
  def commitAppendWithStats(delta: DataFrame, root: String,
      statsCols: Seq[String], tag: String = ""): Long = {
    require(statsCols.nonEmpty,
      "commitAppendWithStats needs at least one stats column")
    commitAppendWithSidecar(delta, root, tag, statsDir(root, _),
      (written, phys) => statsFrame(written, statsCols.map(phys), Nil))
  }

  /** Fast APPEND with point-lookup skipping intact — the Bloom twin
    * of [[commitAppendWithStats]]: the delta files' filters are one
    * aggregation over the just-written delta, and the new sidecar is
    * the previous version's rows plus those — so a key-indexed table
    * absorbing streaming batches keeps [[readWhereVersion]] opening
    * O(|probed keys|) files across the whole append chain instead of
    * decaying to every-delta-file reads (uncovered files are always
    * conservatively read). Per-commit cost stays delta-sized.
    */
  def commitAppendWithBloom(delta: DataFrame, root: String,
      bloomCols: Seq[String], expectedItemsPerFile: Long = 1000000L,
      tag: String = ""): Long = {
    require(bloomCols.nonEmpty,
      "commitAppendWithBloom needs at least one column")
    commitAppendWithSidecar(delta, root, tag, bloomDir(root, _),
      (written, phys) =>
        bloomFrame(written, bloomCols.map(phys), expectedItemsPerFile))
  }

  /** The data files of snapshot `version` whose [min, max] range
    * intersects EVERY predicate's `(colName, lo, hi)` range — resolved
    * from the stats sidecar alone (no data I/O); a conjunction is the
    * multi-column skip a Z-ordered layout exists for (a needle query
    * on either/both clustered dims prunes through one sidecar pass).
    * Falls back to ALL files when the snapshot has no stats; predicates
    * on columns the sidecar never collected are ignored (no stats to
    * prune on). Conservative in both null directions: a file whose
    * min/max is null (all-null column chunk) is kept, and a data file
    * the sidecar does not mention at all (e.g. appended without stats)
    * is kept too — pruning may only ever REMOVE provably-disjoint
    * files; [[readWhereVersion]] re-applies the exact row filter.
    */
  def prunedPaths(spark: SparkSession, root: String, version: Long,
      preds: Seq[(String, Double, Double)]): Seq[String] = {
    val phys = physNameOf(spark, root, version)
    statsPrunedPaths(spark, root, version,
      preds.map { case (c, lo, hi) => (phys(c), lo: Any, hi: Any) },
      c => s"mn_$c", c => s"mx_$c")
  }

  /** Scheme-less path form shared by every sidecar comparison:
    * input_file_name() URIs ("file:///x") and Hadoop Path strings
    * ("file:/x") differ textually.
    */
  private def normPath(p: String): String = new Path(p).toUri.getPath

  /** The conservative tail every sidecar variant shares: return a
    * SUBSET of the authoritative listing `all` — a file is kept when
    * its sidecar verdict admits it OR the sidecar never mentions it
    * (appended without stats). A sidecar path that normalizes
    * differently from its listing form can never add or double-count
    * a physical file; pruning only ever REMOVES provably-disjoint
    * ones.
    */
  private def conservativeSubset(all: Seq[String],
      verdicts: Seq[(String, Boolean)]): Seq[String] = {
    val covered = verdicts.map(v => normPath(v._1)).toSet
    val kept = verdicts.filter(_._2).map(v => normPath(v._1)).toSet
    all.filter { p =>
      val n = normPath(p)
      kept.contains(n) || !covered.contains(n)
    }
  }

  /** Range-intersection pruning over the stats sidecar, shared by the
    * numeric (`mn_`/`mx_`) and lexicographic (`smn_`/`smx_`) column
    * families. Falls back to ALL files when the snapshot has no
    * sidecar or no predicate column was collected.
    */
  private def statsPrunedPaths(spark: SparkSession, root: String,
      version: Long, preds: Seq[(String, Any, Any)],
      mn: String => String, mx: String => String): Seq[String] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val sd = statsDir(root, version)
    val f = fs(spark, root)
    val all = dataPaths(spark, root, version)
    if (!f.exists(new Path(sd))) return all
    val stats = spark.read.parquet(sd)
    val usable = preds.filter { case (c, _, _) =>
      stats.columns.contains(mn(c)) }
    if (usable.isEmpty) return all
    // a null min/max (all-null chunk, or a half-null stat a cast
    // produced) must keep the file: coalesce the verdict to TRUE so
    // pruning only ever removes provably-disjoint files
    val keep = usable.map { case (c, lo, hi) =>
      coalesce(
        !(col(mx(c)) < lit(lo) || col(mn(c)) > lit(hi)) ||
          col(mn(c)).isNull,
        lit(true))
    }.reduce(_ && _)
    val verdicts = stats.select(col("path"), keep.as("keep")).collect()
      .toSeq.map(r => (r.getString(0), r.getBoolean(1)))
    conservativeSubset(all, verdicts)
  }

  /** Lexicographic twin of [[prunedPaths]] over the string stats
    * ([[commitWithStats]]'s `stringStatsCols`): keep a file only if
    * its [smn, smx] UTF8 range intersects every predicate's
    * [lo, hi] — range pruning on category, ISO-date-string and
    * identifier-prefix columns (equality is `lo == hi`). Same
    * conservative fallbacks as the numeric form.
    */
  def prunedPathsString(spark: SparkSession, root: String, version: Long,
      preds: Seq[(String, String, String)]): Seq[String] = {
    val phys = physNameOf(spark, root, version)
    statsPrunedPaths(spark, root, version,
      preds.map { case (c, lo, hi) => (phys(c), lo: Any, hi: Any) },
      c => s"smn_$c", c => s"smx_$c")
  }

  private def dataPaths(spark: SparkSession, root: String,
      version: Long): Seq[String] = {
    val f = fs(spark, root)
    resolveDirs(spark, root, version).flatMap { d =>
      f.listStatus(new Path(dirPath(root, d))).toSeq.filter(s => s.isFile &&
          s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString)
    }
  }

  /** The data files of snapshot `version` that might satisfy `pred` —
    * AUTOMATIC data skipping from an arbitrary predicate, the scan-
    * planning step Delta/Iceberg run on every filtered read. The
    * predicate's conjunct tree is walked for per-column bounds
    * (`>`, `>=`, `<`, `<=`, `===`, `isin`, `between`, attribute on
    * either side, a `cast("double")` compared on the numeric stats
    * scale); numeric bounds prune through the `mn_`/`mx_`
    * stats, string bounds through the lexicographic `smn_`/`smx_`
    * family, and equality/IN probes additionally consult the Bloom
    * sidecar when one covers the column. Every verdict path is
    * conservative — an unparseable conjunct (an OR, a UDF, an
    * arithmetic rewrite) simply contributes no pruning, strict bounds
    * widen to closed ones, and the final set is the INTERSECTION of
    * per-sidecar admissions, each of which only ever removes
    * provably-disjoint files. Row-level exactness always comes from
    * re-applying the full predicate after the scan ([[readWhere]]).
    */
  def prunedPathsWhere(spark: SparkSession, root: String, version: Long,
      pred: org.apache.spark.sql.Column): Seq[String] = {
    // the snapshot schema lets the extractor map TEMPORAL literals —
    // `col("ts") >= "2024-01-16"` — onto the double-cast stats scale
    // of the column's actual type, and gates Bloom probes on exact
    // type agreement. An evolved table resolves types through its
    // field mapping (predicates name LOGICAL columns); otherwise one
    // footer of the newest data dir suffices (a column absent there —
    // pre-evolution reads — just yields no bound, which is
    // conservative); assembling the full scoped read here would scan
    // every footer plus the delete sidecar per call.
    val colType: String => Option[org.apache.spark.sql.types.DataType] =
      resolveFields(spark, root, version) match {
        case Some(fs0) =>
          val m = fs0.filter(_.name.nonEmpty)
            .map(f => f.name -> f.dtype).toMap
          c => m.get(c)
        case None =>
          val schema = scala.util.Try(spark.read.parquet(dirPath(root,
            resolveDirs(spark, root, version).last)).schema)
            .toOption
          c => schema.flatMap(_.fields.find(_.name == c).map(_.dataType))
      }
    val b = org.apache.spark.sql.graft.PredicateBounds.extract(pred,
      colType)
    var paths = dataPaths(spark, root, version)
    if (b.numeric.nonEmpty)
      paths = paths.intersect(prunedPaths(spark, root, version, b.numeric))
    if (b.strings.nonEmpty)
      paths = paths.intersect(
        prunedPathsString(spark, root, version, b.strings))
    b.probes.foreach { case (c, vs) =>
      paths = paths.intersect(
        bloomPrunedPaths(spark, root, version, c, vs))
    }
    paths
  }

  /** Filtered read with AUTOMATIC data skipping: prune files through
    * every sidecar [[prunedPathsWhere]] can apply to `pred`, then
    * apply the FULL predicate exactly — semantically identical to
    * `read(spark, root).where(pred)` on any table, and file-skipping
    * on a clustered one, with no caller-side knowledge of which
    * columns carry stats. This is the read path a 100 TB needle query
    * should default to.
    */
  def readWhere(spark: SparkSession, root: String,
      pred: org.apache.spark.sql.Column): DataFrame =
    readWhereVersion(spark, root,
      latestVersion(spark, root).getOrElse(
        sys.error(s"no committed version at $root")), pred)

  /** Time travel composed with automatic data skipping: the filtered
    * read of snapshot `version`, pruned through whatever sidecars that
    * version carries — the table layer's one filtered read. The
    * common shapes: a numeric-stats range scan is
    * `col(c).cast("double").between(lo, hi)` (AND several for a
    * Z-ordered conjunction), a lexicographic one on a string column
    * `col(c).between(lo, hi)`, a Bloom point lookup
    * `col(c).isin(keys: _*)` with keys of the column's own type. An
    * empty `isin()` matches no row, so it reads as an empty result.
    */
  def readWhereVersion(spark: SparkSession, root: String, version: Long,
      pred: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val paths = prunedPathsWhere(spark, root, version, pred)
    if (paths.isEmpty)
      readVersion(spark, root, version).where(lit(false))
    else readScoped(spark, root, readManifest(spark, root, version),
      version, onlyPaths = Some(paths), mergeSchema = false).where(pred)
  }

  /** The APPEND DELTA between two committed versions: exactly the
    * rows versions `(fromVersion, toVersion]` appended — the
    * micro-batch read of [[GraftStreamSource]] (a graft table as a
    * Structured Streaming source, the Delta streaming-source
    * semantics). Cost is the delta dirs' scan alone: version
    * resolution is two manifest reads, nothing snapshot-sized.
    *
    * Append-only contract, enforced loudly: a REWRITE in the range
    * (commit/compact/upsert/merge — the directory chain is no longer
    * a prefix extension) throws, because its rows are not expressible
    * as an append; a merge-on-read DELETE in the range throws unless
    * `ignoreDeletes` (an insert stream cannot retract — with the
    * flag, deletions simply don't stream, exactly Delta's
    * `ignoreDeletes`). Metadata-only commits (schema evolution, refs)
    * contribute no rows; the delta projects through `toVersion`'s
    * field mapping, so it arrives under the CURRENT logical schema.
    */
  def appendDelta(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long, ignoreDeletes: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(fromVersion <= toVersion,
      s"appendDelta range is backwards: $fromVersion > $toVersion")
    // walk every version in (fromVersion, toVersion] — one manifest
    // read each, metadata-sized. A version flagged dataChange=false
    // (OPTIMIZE/compaction/delete-fold: logically content-preserving)
    // REBASES the chain and contributes no rows — streams survive
    // maintenance, the Delta OPTIMIZE rule; any OTHER chain break is
    // a real rewrite and fails loudly. A vacuumed mid-range manifest
    // also fails loudly (pin retention to restart windows).
    var baseDirs = dirsOf(readManifest(spark, root, fromVersion), root,
      fromVersion)
    var baseDels = resolveDeletes(spark, root, fromVersion)
    val newDirs = Seq.newBuilder[String]
    var v = fromVersion + 1
    var toRaw = ""
    while (v <= toVersion) {
      val raw = readManifest(spark, root, v)
      if (v == toVersion) toRaw = raw
      val dirs = dirsOf(raw, root, v)
      val dels = deletesOf(raw, root, v)
      if (!dataChangeOf(raw)) {
        baseDirs = dirs
        baseDels = dels
      } else {
        require(dirs.startsWith(baseDirs),
          s"version $v at $root is not an append: a rewrite " +
            "(commit/upsert/merge/rollback) broke the directory " +
            "chain — an append stream cannot express it; restart " +
            "from a newer startingVersion")
        require(ignoreDeletes || dels == baseDels,
          s"a merge-on-read delete landed at version $v of $root; " +
            "an append stream cannot retract rows — set " +
            "ignoreDeletes to stream inserts only")
        newDirs ++= dirs.drop(baseDirs.length)
        baseDirs = dirs
        baseDels = dels
      }
      v += 1
    }
    // an empty range (fromVersion == toVersion) never entered the walk
    val toRawResolved =
      if (toRaw.nonEmpty) toRaw
      else readManifest(spark, root, toVersion)
    val added = newDirs.result()
    if (added.isEmpty)
      emptyFrame(spark,
        logicalSchemaOf(spark, root, toRawResolved, toVersion))
    else readDirsLogical(spark, root, added,
      fieldsOf(toRawResolved).map(_.filter(_.name.nonEmpty)))
  }

  private def dataChangeOf(raw: String): Boolean =
    !raw.contains(""""dataChange":false""")

  /** The logical schema of a snapshot, METADATA-SIZED: straight from
    * the manifest's field mapping when the table evolved, one footer
    * of its last data directory otherwise — never the full scoped
    * read plan (per-dir footers + delete-sidecar scan) that
    * `readVersion(...).schema` would build. The per-batch cost driver
    * for the streaming delta reads.
    */
  /** Public metadata-sized schema resolution for snapshot `version`
    * — what [[GraftRelation]] and the streaming source bind to
    * without ever assembling the full scoped read plan.
    */
  def snapshotSchema(spark: SparkSession, root: String,
      version: Long): org.apache.spark.sql.types.StructType =
    logicalSchemaOf(spark, root, readManifest(spark, root, version),
      version)

  /** Snapshot `version`'s (logical name → physical name) field pairs
    * — None for a never-evolved table (no mapping recorded: logical
    * names ARE the physical names), dropped columns (empty logical
    * name) excluded. Metadata-sized: one manifest read. The physical
    * name is the field's immutable identity across renames, so
    * composing two versions' mappings through it aligns their logical
    * schemas (the CDF v0-slice rename fix, round-14 advice).
    */
  def fieldMapping(spark: SparkSession, root: String,
      version: Long): Option[Seq[(String, String)]] =
    resolveFields(spark, root, version)
      .map(_.filter(_.name.nonEmpty).map(f => f.name -> f.physical))

  private def logicalSchemaOf(spark: SparkSession, root: String,
      raw: String,
      version: Long): org.apache.spark.sql.types.StructType =
    fieldsOf(raw).map(_.filter(_.name.nonEmpty)) match {
      case Some(live) => org.apache.spark.sql.types.StructType(
        live.map(f => org.apache.spark.sql.types.StructField(
          f.name, f.dtype)))
      case None => spark.read.parquet(
        dirPath(root, dirsOf(raw, root, version).last)).schema
    }

  private def emptyFrame(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)

  /** The CHANGE DATA FEED between two committed versions — the
    * incremental diff [[changes]]' full-outer snapshot join derives
    * by brute force, read here in delta-sized I/O instead: every row
    * appended in `(fromVersion, toVersion]` arrives tagged
    * `_change_type = "insert"`, every merge-on-read delete KEY
    * committed in the range arrives tagged `"delete"` (key columns
    * populated under their LOGICAL names, other columns typed NULL),
    * and every row carries `_commit_version` so a consumer can apply
    * changes in commit order. OPTIMIZE rewrites (`dataChange=false`)
    * rebase invisibly; content-changing rewrites fail loudly (their
    * diff is not derivable incrementally — use [[changes]]).
    *
    * Delete attribution needs sequence-tagged sidecars (every current
    * delete writer tags; a pre-scoping sidecar in range fails loudly
    * rather than mis-attributing).
    */
  def changeDelta(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromVersion <= toVersion,
      s"changeDelta range is backwards: $fromVersion > $toVersion")
    val toRaw = readManifest(spark, root, toVersion)
    val mapping = fieldsOf(toRaw).map(_.filter(_.name.nonEmpty))
    val logicalSchema = logicalSchemaOf(spark, root, toRaw, toVersion)
    val physToLogical: Map[String, String] = mapping
      .map(_.map(f => f.physical -> f.name).toMap).getOrElse(Map.empty)
    // project any partial frame onto the logical schema + tags
    def shaped(df: DataFrame, change: String, v: Long): DataFrame = {
      val have = df.columns.toSet
      df.select(logicalSchema.fields.toIndexedSeq.map { f =>
        (if (have(f.name)) col(f.name).cast(f.dataType)
         else lit(null).cast(f.dataType)).as(f.name)
      }: _*)
        .withColumn("_change_type", lit(change))
        .withColumn("_commit_version", lit(v))
    }
    var baseDirs = dirsOf(readManifest(spark, root, fromVersion), root,
      fromVersion)
    var baseDels = resolveDeletes(spark, root, fromVersion)
    val parts = Seq.newBuilder[DataFrame]
    var v = fromVersion + 1
    while (v <= toVersion) {
      val raw = readManifest(spark, root, v)
      val dirs = dirsOf(raw, root, v)
      val dels = deletesOf(raw, root, v)
      if (!dataChangeOf(raw)) {
        baseDirs = dirs
        baseDels = dels
      } else {
        require(dirs.startsWith(baseDirs),
          s"version $v at $root is not an append: a content-changing " +
            "rewrite's diff is not derivable incrementally — use " +
            "changes(), or restart from a newer startingVersion")
        val added = dirs.drop(baseDirs.length)
        if (added.nonEmpty)
          parts += shaped(readDirsLogical(spark, root, added, mapping),
            "insert", v)
        if (dels != baseDels) dels.foreach { d =>
          val sidecar = spark.read.parquet(dirPath(root, d))
          require(sidecar.columns.contains(DelSeqCol),
            s"version $v at $root carries a pre-scoping delete " +
              "sidecar: the change feed cannot attribute its keys " +
              "to a commit")
          val keys = sidecar.where(col(DelSeqCol) === v).drop(DelSeqCol)
          parts += shaped(keys.select(keys.columns.toIndexedSeq.map(c =>
            col(c).as(physToLogical.getOrElse(c, c))): _*),
            "delete", v)
        }
        baseDirs = dirs
        baseDels = dels
      }
      v += 1
    }
    parts.result()
      .reduceOption(_.unionByName(_))
      .getOrElse(
        shaped(emptyFrame(spark, logicalSchema), "insert", toVersion)
          .where(lit(false)))
  }

  /** Scan a set of data directories and project onto the logical
    * schema when a field mapping applies — the no-delete half of
    * [[readScoped]]'s machinery, shared with the streaming delta
    * read: one scan per DISTINCT footer schema, never per directory.
    */
  private def readDirsLogical(spark: SparkSession, root: String,
      dirs: Seq[String], mapping: Option[Seq[FieldSpec]]): DataFrame =
    mapping match {
      case None => spark.read.parquet(dirs.map(dirPath(root, _)): _*)
      case Some(live) =>
        dirs.groupBy(d => spark.read.parquet(dirPath(root, d)).schema
            .fields.map(f => s"${f.name}:${f.dataType.sql}")
            .mkString(";"))
          .toSeq.sortBy(_._1)
          .map { case (_, ds) => projectLogical(live)(
            spark.read.parquet(ds.map(dirPath(root, _)): _*))
          }
          .reduce(_.unionByName(_))
    }

  /** Bin-packing OPTIMIZE: rewrite the newest snapshot into
    * `ceil(bytes / targetBytes)` files and commit the rewrite as a
    * NEW version — content-identical (the spec and the
    * `table_compaction` oracle pin row-for-row equality), history
    * intact (the small-file version stays time-travelable until
    * [[vacuum]]). Small-file pressure is the chronic failure mode of
    * streaming/incremental writers at 100 TB: a footer + open cost
    * per file makes a million 1 MB files read ~100× slower than the
    * same bytes in 10k well-sized files. `repartition(n)` is a full
    * shuffle of ONE snapshot — the round-robin exchange is exactly
    * what bin-packs unevenly sized inputs; compactions of disjoint
    * tables parallelize trivially. Returns the new version id.
    */
  def compact(spark: SparkSession, root: String,
      targetBytes: Long = 128L << 20, tag: String = ""): Long = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    // a compaction preserves logical content: streams rebase, not
    // fail — and the commit is PINNED to the planned base so a
    // concurrent data change conflicts loudly and replans, never
    // silently vanishes under the rewrite (maintenanceRetry)
    maintenanceRetry(spark, root)(v =>
      compactBinPackAt(spark, root, v, targetBytes, tag))
  }

  /** CLUSTERING-preserving OPTIMIZE: [[compact]]'s round-robin
    * exchange bin-packs perfectly but destroys any range/Z clustering
    * the snapshot carried — after it, every file spans the whole
    * domain and [[prunedPathsWhere]] stops skipping (r9 verdict gap).
    * This variant re-sorts into `ceil(bytes / targetBytes)` files by
    * range on `sortCols` AND re-collects the stats sidecar, so data
    * skipping survives the rewrite: the stats columns default to
    * whatever the prior version's sidecar covered (numeric `mn_`/
    * string `smn_` families both), falling back to numeric stats on
    * `sortCols` for a previously stats-less table. Range exchange +
    * per-partition sort is the same one-shuffle cost as the
    * round-robin rewrite. Returns the new version id.
    */
  def compactSorted(spark: SparkSession, root: String,
      sortCols: Seq[String], targetBytes: Long = 128L << 20,
      tag: String = ""): Long =
    maintenanceRetry(spark, root) { v =>
      compactSortedResolved(spark, root, v, sortCols, targetBytes, tag,
        priorStatsCols(spark, root, v))
    }

  private def compactSortedResolved(spark: SparkSession, root: String,
      v: Long, sortCols: Seq[String], targetBytes: Long, tag: String,
      prior: (Seq[String], Seq[String])): Long = {
    import org.apache.spark.sql.functions.col
    require(sortCols.nonEmpty, "compactSorted needs sort columns")
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val bytes = dataBytes(spark, root, v)
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val sorted = readVersion(spark, root, v)
      .repartitionByRange(nFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
    // stats coverage = the REQUESTED clustering columns (split into
    // the numeric/string families by their actual type — a string
    // sort key needs lexicographic stats to prune at all) unioned
    // with whatever the prior sidecar covered: a rewrite must never
    // shrink skip coverage, and the columns it just clustered on
    // must actually gain it
    val (priorNum, priorStr) = prior
    val isStringCol: Map[String, Boolean] = sorted.schema.fields
      .map(f => f.name ->
        (f.dataType == org.apache.spark.sql.types.StringType)).toMap
    val (sortStr, sortNum) =
      sortCols.partition(c => isStringCol.getOrElse(c, false))
    commitPinned(sorted, root,
      if (tag.nonEmpty) tag else s"compact-sorted-v$v", v,
      statsCols = (sortNum ++ priorNum).distinct,
      stringStatsCols = (sortStr ++ priorStr).distinct)
  }

  /** Partition-scoped OPTIMIZE — `OPTIMIZE t WHERE <pred>` (VERDICT
    * r15 #8): rewrite ONLY the data directories whose files may
    * satisfy `pred` (resolved through every sidecar
    * [[prunedPathsWhere]] can apply — numeric/string stats and Bloom
    * probes), carrying every provably-disjoint directory verbatim in
    * the new manifest. At 100 TB this is the difference between
    * compacting yesterday's thousand small streaming appends and
    * rewriting the whole table: maintenance cost scales with the
    * predicate's data, not the table's.
    *
    * Semantics: CONTENT-PRESERVING. The predicate scopes FILE
    * SELECTION only — every row of a selected directory is rewritten
    * (never filtered), selection is conservative (a directory with
    * any possibly-matching file rewrites whole; a stats-less table
    * rewrites everything, degrading to [[compact]]'s coverage), and
    * merge-on-read deletes fold into the rewritten rows exactly as
    * the full rewrite folds them while staying carried for the
    * untouched directories (their seqs are preserved, so scoping
    * still applies). The rewritten rows re-cluster on the prior
    * sidecar's own columns ([[compactSorted]]'s rule — a scoped
    * rewrite must not destroy data skipping) and the new sidecar is
    * the union of fresh stats for the rewritten directory and the
    * carried rows of every untouched file, so skip coverage never
    * shrinks on data the rewrite never touched. Bloom rows carry for
    * untouched files; rewritten files drop theirs (missing = the
    * conservative full-read path, same as every compaction here).
    *
    * Returns the new version id, or the CURRENT version when the
    * predicate provably selects no directory (a true no-op: nothing
    * rewritten, no version published). Commit is pinned to the
    * planned base — a concurrent data change conflicts loudly and
    * replans ([[maintenanceRetry]]).
    */
  def compactWhere(spark: SparkSession, root: String,
      pred: org.apache.spark.sql.Column,
      targetBytes: Long = 128L << 20, tag: String = ""): Long = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    maintenanceRetry(spark, root) { v =>
      import org.apache.spark.sql.functions.{col, udf}
      val hot = prunedPathsWhere(spark, root, v, pred)
        .map(normPath).toSet
      val f = fs(spark, root)
      // (path, length) per file: the listing already carries lengths,
      // so hotBytes below never re-stats per file (review r16 — on an
      // object store that was one extra RPC per small append file)
      val dirEntries: Seq[(String, Long, Seq[(String, Long)])] =
        resolveDirs(spark, root, v)
          .zip(resolveDirSeqs(spark, root, v)).map { case (d, s) =>
          (d, s, f.listStatus(new Path(dirPath(root, d))).toSeq
            .filter(st => st.isFile &&
              st.getPath.getName.endsWith(".parquet"))
            .map(st => (st.getPath.toString, st.getLen)))
        }
      val (hotDirs, coldDirs) = dirEntries.partition(e =>
        e._3.exists(p => hot.contains(normPath(p._1))))
      if (hotDirs.isEmpty) v
      else {
        val raw = readManifest(spark, root, v)
        val hotPaths = hotDirs.flatMap(_._3.map(_._1))
        val logical = readScoped(spark, root, raw, v,
          onlyPaths = Some(hotPaths), mergeSchema = false)
        // the rewrite writes under the CURRENT physical layout — a
        // scoped rewrite cannot re-baseline the mapping the way a
        // full rewrite does, because the carried directories still
        // hold the old physical column names
        val prevFields = resolveFields(spark, root, v)
        val (physRows, fieldsS, physName) =
          physicalizeDelta(logical, prevFields)
        val hotBytes = hotDirs.flatMap(_._3.map(_._2)).sum
        val nFiles = math.max(1L,
          (hotBytes + targetBytes - 1) / targetBytes).toInt
        val (priorNum, priorStr) = priorStatsCols(spark, root, v)
        val sortCols = (priorNum ++ priorStr).distinct
        val packed =
          if (sortCols.nonEmpty)
            physRows.repartitionByRange(nFiles,
                sortCols.map(c => col(physName(c))): _*)
              .sortWithinPartitions(
                sortCols.map(c => col(physName(c))): _*)
          else physRows.repartition(nFiles)
        val next = v + 1
        val dirName =
          "a" + java.util.UUID.randomUUID().toString.replace("-", "")
        writeIntent(spark, root, dirName)
        packed.write.mode("overwrite").parquet(s"$root/$dirName")
        // sidecar rows for the files this rewrite never touched carry
        // into the next version's sidecar (metadata-sized join on the
        // normalized path — the same O(files) scale every sidecar op
        // here works at)
        val normPathUdf = udf((p: String) => normPath(p))
        val coldNorm = coldDirs.flatMap(_._3.map(_._1)).map(normPath)
        def carriedRows(sd: String): Option[DataFrame] =
          if (coldNorm.isEmpty || !f.exists(new Path(sd))) None
          else Some(spark.read.parquet(sd)
            .withColumn("__np", normPathUdf(col("path")))
            .join(spark.createDataset(coldNorm)(
              org.apache.spark.sql.Encoders.STRING).toDF("__np"),
              "__np")
            .drop("__np"))
        val statsData: Option[DataFrame] =
          if (priorNum.isEmpty && priorStr.isEmpty) None
          else {
            val fresh = statsFrame(
              spark.read.parquet(s"$root/$dirName"),
              priorNum.map(physName), priorStr.map(physName))
            Some(carriedRows(statsDir(root, v))
              .map(fresh.unionByName(_, allowMissingColumns = true))
              .getOrElse(fresh))
          }
        val bloomData: Option[DataFrame] =
          carriedRows(bloomDir(root, v))
        def stage(d: Option[DataFrame]): Option[String] = d.map { df0 =>
          val tmp = s"$root/_graft_tmpcarry_" +
            java.util.UUID.randomUUID().toString.replace("-", "")
          df0.coalesce(1).write.parquet(tmp)
          tmp
        }
        val statsTmp = stage(statsData)
        val bloomTmp = stage(bloomData)
        try {
          // an all-hot rewrite folds every delete, so nothing carries;
          // otherwise the delete set still scopes onto the carried
          // directories by their preserved seqs
          publish(spark, root, next,
            if (tag.nonEmpty) tag else s"compact-where-v$v",
            dirs = coldDirs.map(_._1) :+ dirName,
            deletes =
              if (coldDirs.isEmpty) ""
              else resolveDeletes(spark, root, v).getOrElse(""),
            dirSeqs = coldDirs.map(_._2) :+ next,
            fields = fieldsS, dataChange = false)
        } catch {
          case e: Throwable =>
            Seq(statsTmp, bloomTmp).flatten
              .foreach(t => f.delete(new Path(t), true))
            throw e
        }
        Seq(statsTmp -> statsDir(root, next),
            bloomTmp -> bloomDir(root, next)).foreach {
          case (Some(t), dstS) =>
            val dst = new Path(dstS)
            if (f.exists(dst)) f.delete(dst, true)
            if (!f.rename(new Path(t), dst)) {
              f.delete(new Path(t), true); ()
            }
          case _ => ()
        }
        clearIntent(spark, root, dirName)
        next
      }
    }
  }

  /** OPTIMIZE policy hook for continuous writers: bin-pack ONLY when
    * the newest snapshot is actually fragmented (file count above
    * `maxFiles`), returning the new version id when a compaction ran.
    * The check is one directory listing — an append loop calls this
    * after every commit and pays nothing on a well-packed table,
    * which is how streaming ingestion keeps the small-file problem
    * bounded without a separate maintenance scheduler. A table whose
    * snapshot carries a stats sidecar rewrites through
    * [[compactSorted]] on the sidecar's own columns — the policy hook
    * must never be the path that silently destroys data skipping
    * (round-robin only for tables that never had any).
    */
  def compactIfFragmented(spark: SparkSession, root: String,
      maxFiles: Int = 64, targetBytes: Long = 128L << 20,
      tag: String = ""): Option[Long] = {
    require(maxFiles >= 1, s"maxFiles must be positive: $maxFiles")
    if (latestVersion(spark, root).isEmpty) None
    else maintenanceRetry(spark, root) { v =>
      // fragmentation re-checked per attempt: the head this attempt
      // pins may have been compacted/extended by someone else
      if (dataFileCount(spark, root, v) <= maxFiles) None
      else {
        val prior @ (priorNum, priorStr) = priorStatsCols(spark, root, v)
        // two or more numeric stats dimensions = a multi-dim skipping
        // layout: a lexicographic re-sort would cluster the leading
        // column only and leave every file spanning the others' full
        // domains, so route through the Z rewrite (its degenerate
        // fallback still lands on the sorted path when a dim has no
        // span); one covered column re-sorts lexicographically; no
        // sidecar at all bin-packs round-robin
        if (priorNum.size >= 2)
          Some(compactZOrderAt(spark, root, v, priorNum, targetBytes,
            tag))
        else {
          val sortCols = (priorNum ++ priorStr).distinct
          if (sortCols.nonEmpty)
            Some(compactSortedResolved(spark, root, v, sortCols,
              targetBytes, tag, prior))
          else Some(compactBinPackAt(spark, root, v, targetBytes, tag))
        }
      }
    }
  }

  /** Z-ORDER-preserving OPTIMIZE for a snapshot whose data skipping
    * lives on MULTIPLE dimensions ([[compactSorted]]'s lexicographic
    * sort only clusters its leading column): recompute the Morton
    * code over `dimCols` — bounds re-derived from one bounded agg of
    * the current snapshot, the same writer-supplied-edges rule the
    * original Z write used — range-cluster on the code into
    * `ceil(bytes / targetBytes)` files, and re-collect min/max stats
    * on every dimension, so conjunctive [[readWhereVersion]] keeps skipping
    * on either/both dims after the rewrite. One shuffle, same cost
    * shape as [[compact]]. An empty snapshot (nothing to cluster)
    * falls back to plain bin-packing. Returns the new version id.
    */
  def compactZOrder(spark: SparkSession, root: String,
      dimCols: Seq[String], targetBytes: Long = 128L << 20,
      tag: String = ""): Long = {
    require(dimCols.size >= 2,
      s"Z-order needs at least two dimensions: $dimCols")
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    maintenanceRetry(spark, root)(v =>
      compactZOrderAt(spark, root, v, dimCols, targetBytes, tag))
  }

  /** One pinned-base Z rewrite attempt — shared by [[compactZOrder]]
    * and [[compactDeletes]] so both retry from the SAME head their
    * dispatch examined.
    */
  private def compactZOrderAt(spark: SparkSession, root: String,
      v: Long, dimCols: Seq[String], targetBytes: Long,
      tag: String): Long = {
    import org.apache.spark.sql.functions.{col, max, min}
    val cur = readVersion(spark, root, v)
    val bAggs = dimCols.flatMap(c => Seq(min(col(c).cast("double")),
      max(col(c).cast("double"))))
    val bRow = cur.agg(bAggs.head, bAggs.tail: _*).head()
    // a dimension with no span — empty snapshot, all-null column, or
    // a single distinct value — cannot be Z-coded (the Morton scale
    // needs hi > lo); fall back to the lexicographic sort-preserving
    // rewrite, which handles every degenerate shape and still
    // re-collects the full prior sidecar coverage
    val degenerate = dimCols.indices.exists { i =>
      bRow.isNullAt(2 * i) || bRow.isNullAt(2 * i + 1) ||
        !(bRow.getDouble(2 * i) < bRow.getDouble(2 * i + 1))
    }
    if (degenerate)
      return compactSortedResolved(spark, root, v, dimCols, targetBytes,
        if (tag.nonEmpty) tag else s"compact-z-v$v",
        priorStatsCols(spark, root, v))
    val dims = dimCols.zipWithIndex.map { case (c, i) =>
      (col(c), bRow.getDouble(2 * i), bRow.getDouble(2 * i + 1))
    }
    val bytes = dataBytes(spark, root, v)
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val packed = graft.operators.ZOrder.clustered(cur,
      graft.operators.ZOrder.mortonCodeN(dims,
        bits = math.min(16, 62 / dims.size)), nFiles)
    // stats coverage is the UNION of the Z dimensions and whatever
    // the prior sidecar covered (numeric and string families both) —
    // a rewrite must never silently shrink data-skipping coverage
    val (priorNum, priorStr) = priorStatsCols(spark, root, v)
    commitPinned(packed, root,
      if (tag.nonEmpty) tag else s"compact-z-v$v", v,
      statsCols = (dimCols ++ priorNum).distinct,
      stringStatsCols = priorStr)
  }

  /** The (numeric, string) stats-column families snapshot `version`'s
    * sidecar covers, as LOGICAL column names — empty when it has
    * none. Sidecars key by physical name; mapping them back means the
    * compaction/fold paths that reuse prior coverage keep working
    * after a rename, and stats on a since-DROPPED column simply fall
    * out of coverage.
    */
  private def priorStatsCols(spark: SparkSession, root: String,
      version: Long): (Seq[String], Seq[String]) = {
    val sd = statsDir(root, version)
    if (!fs(spark, root).exists(new Path(sd))) (Nil, Nil)
    else {
      val toLogical: String => Option[String] =
        resolveFields(spark, root, version) match {
          case Some(fs0) =>
            val m = fs0.filter(_.name.nonEmpty)
              .map(f => f.physical -> f.name).toMap
            c => m.get(c)
          case None => c => Some(c)
        }
      val cols = spark.read.parquet(sd).columns
      (cols.filter(_.startsWith("mn_")).map(_.stripPrefix("mn_"))
        .flatMap(toLogical(_)).toSeq,
        cols.filter(_.startsWith("smn_")).map(_.stripPrefix("smn_"))
          .flatMap(toLogical(_)).toSeq)
    }
  }

  /** The logical→physical name map of snapshot `version` (identity on
    * a never-evolved table) — how pruning entry points key into the
    * physically-named stats/Bloom sidecars.
    */
  private def physNameOf(spark: SparkSession, root: String,
      version: Long): String => String =
    resolveFields(spark, root, version) match {
      case Some(fs0) =>
        val m = fs0.filter(_.name.nonEmpty)
          .map(f => f.name -> f.physical).toMap
        c => m.getOrElse(c, c)
      case None => identity
    }

  /** Total parquet bytes of snapshot `version` across ALL of its
    * manifest-addressed directories — the footer-level stat OPTIMIZE
    * planning reads.
    */
  def dataBytes(spark: SparkSession, root: String, version: Long): Long = {
    val f = fs(spark, root)
    resolveDirs(spark, root, version).map { d =>
      val dir = new Path(dirPath(root, d))
      if (!f.exists(dir)) 0L
      else f.listStatus(dir).toSeq.filter(_.isFile)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
    }.sum
  }

  /** Exact row count of snapshot `version` in METADATA time when the
    * snapshot carries no merge-on-read deletes: parquet footers
    * record per-file row counts, so the count is a footer-only
    * distributed job over the file list — zero data pages read, the
    * aggregate-pushdown answer `SELECT COUNT(*)` wants on a 100 TB
    * table (Spark's V1 path would still iterate every row of an
    * empty projection). With MoR deletes in scope the exact count
    * needs the sequence-scoped anti-join, so it falls back to the
    * engine read's count — Catalyst prunes that scan to the delete
    * key columns.
    */
  def fastCount(spark: SparkSession, root: String,
      version: Long): Long = {
    if (resolveDeletes(spark, root, version).isDefined)
      return readVersion(spark, root, version).count()
    val files = dataPaths(spark, root, version)
    if (files.isEmpty) return 0L
    // ship the SESSION's Hadoop settings (fs credentials, endpoints)
    // as plain entries — Configuration itself is not serializable,
    // and a bare `new Configuration()` on the executor would lose
    // exactly the spark.hadoop.* settings object-store deployments
    // need (read paths get them via Spark's own scans; this footer
    // job must carry them itself)
    val confEntries = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    val parts = math.max(1, math.min(files.size, 64))
    spark.sparkContext.parallelize(files, parts)
      .mapPartitions { ps =>
        val conf = new org.apache.hadoop.conf.Configuration()
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        ps.map { p =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new Path(p), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }
      }.fold(0L)(_ + _)
  }

  /** Bytes the data directories of version `v` ADDED over its
    * predecessor — the streaming rate limiter's pacing metric
    * (metadata-sized: one listing per new directory). A version whose
    * predecessor manifest is already vacuumed conservatively charges
    * its full directory list.
    */
  def deltaBytes(spark: SparkSession, root: String, v: Long): Long = {
    val f = fs(spark, root)
    val cur = resolveDirs(spark, root, v)
    val prev =
      if (v == 0) Nil
      else scala.util.Try(resolveDirs(spark, root, v - 1))
        .getOrElse(Nil)
    (cur.toSet -- prev).toSeq.map { d =>
      val dir = new Path(dirPath(root, d))
      if (!f.exists(dir)) 0L
      else f.listStatus(dir).toSeq.filter(_.isFile)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
    }.sum
  }

  /** Parquet file count of snapshot `version` across all of its
    * directories — the compaction evidence metric.
    */
  def dataFileCount(spark: SparkSession, root: String,
      version: Long): Int = {
    val f = fs(spark, root)
    resolveDirs(spark, root, version).map { d =>
      val dir = new Path(dirPath(root, d))
      if (!f.exists(dir)) 0
      else f.listStatus(dir).count(s => s.isFile &&
        s.getPath.getName.endsWith(".parquet"))
    }.sum
  }

  /** Incremental changes feed: the insert/update/delete row set
    * between two committed versions, classified by `keyCols` — the
    * `table_changes`/CDF read every downstream incremental consumer
    * (IVM folds, sync jobs, audit) wants, derived on demand from two
    * snapshots rather than stored per-commit. One full-outer
    * sort-merge join on the key; unchanged keys never leave it.
    */
  def changes(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long, keyCols: Seq[String]): DataFrame = {
    require(fromVersion < toVersion,
      s"fromVersion $fromVersion must precede toVersion $toVersion")
    val old = readVersion(spark, root, fromVersion)
    val nw = readVersion(spark, root, toVersion)
    val valueCols =
      old.columns.filterNot(keyCols.contains).toSeq
    graft.operators.Cdc.snapshotDiff(old, nw, keyCols, valueCols)
  }

  /** Garbage-collect the table: delete data directories of versions
    * older than the `keepLast` newest (their manifests too) and any
    * ORPHAN data directory no manifest names (a crashed commit).
    * Readers pinned to a vacuumed version lose it — the retention
    * trade every snapshot store makes; time travel keeps working
    * across the retained window, and versions a named ref points at
    * ([[createRef]]) are retained regardless of age.
    */
  def vacuum(spark: SparkSession, root: String, keepLast: Int = 2,
      orphanGraceMs: Long = 3600000L): Unit = {
    require(keepLast >= 1, "must retain at least the latest version")
    // ONE listing feeds both the keep-set computation and the sweep:
    // a second listing would open a TOCTOU window where a version
    // committed in between is seen by the sweep but absent from the
    // keep set — and destroyed as "expired"
    val versions = manifestVersions(spark, root)
    vacuumKeeping(spark, root, versions,
      versions.takeRight(keepLast).toSet, orphanGraceMs)
    ()
  }

  /** ZERO-COPY import of an existing flat parquet directory as
    * version 0 — the CONVERT-TO-DELTA analog, and the migration path
    * that matters at 100 TB: the manifest REFERENCES the source
    * directory absolutely (the [[cloneShallow]] mechanism), no byte
    * is read or rewritten, and the full lifecycle (appends, MoR
    * deletes, evolution, time travel, streaming) continues on top.
    * The imported directory carries commit seq 0, so every FUTURE
    * merge-on-read delete (seq ≥ 1) scopes over it — exactly the
    * rule a fresh commit's data follows. Vacuum structurally cannot
    * delete the external source (the sweep only reclaims entries
    * listed under the table root). Partitioned (nested) layouts fail
    * loudly: directory-derived partition columns have no physical
    * column in the footers, which would break the engine's
    * field-identity rules — rewrite such sources through [[commit]].
    */
  def importParquet(spark: SparkSession, root: String,
      sourceDir: String, tag: String = ""): Long = {
    require(latestVersion(spark, root).isEmpty,
      s"importParquet target must be empty: $root already has " +
        "committed versions")
    val sf = fs(spark, sourceDir)
    val src = sf.makeQualified(new Path(sourceDir))
    require(sf.exists(src),
      s"importParquet source does not exist: $sourceDir")
    val entries = sf.listStatus(src).toSeq
    val files = entries.filter(st => st.isFile &&
      st.getPath.getName.endsWith(".parquet"))
    require(files.nonEmpty,
      s"importParquet source holds no top-level parquet files: " +
        s"$sourceDir" + (if (entries.exists(_.isDirectory))
          " (nested/partitioned layouts are unsupported — rewrite " +
            "through commit)" else ""))
    // footer sanity: unreadable/mixed footers must fail HERE, not at
    // the first read of the imported table
    spark.read.parquet(src.toString).schema
    publish(spark, root, 0L,
      if (tag.nonEmpty) tag else s"import-of-$sourceDir",
      dirs = Seq(src.toString), dirSeqs = Seq(0L))
    0L
  }

  /** Root-directory listing, names only — the audit helper pairing
    * with [[vacuumDryRun]] (diff a before/after listing against the
    * dry run's plan). One filesystem listing, no manifest reads.
    */
  def fsListRootNames(spark: SparkSession,
      root: String): Set[String] =
    fs(spark, root).listStatus(new Path(root))
      .map(_.getPath.getName).toSet

  /** What [[vacuum]] WOULD remove right now, removing nothing — the
    * Delta `VACUUM … DRY RUN` audit. Same keep-set computation, same
    * ref pins and stream floors, same orphan grace rules; returns the
    * root-relative names (manifests, data dirs, delete sidecars,
    * stats/bloom sidecars, stale markers and tmp litter) the sweep
    * would delete. A real vacuum between the dry run and a later real
    * one can only SHRINK the list (new commits only grow the keep
    * set for the same retention).
    */
  def vacuumDryRun(spark: SparkSession, root: String,
      keepLast: Int = 2,
      orphanGraceMs: Long = 3600000L): Seq[String] = {
    require(keepLast >= 1, "must retain at least the latest version")
    val versions = manifestVersions(spark, root)
    vacuumKeeping(spark, root, versions,
      versions.takeRight(keepLast).toSet, orphanGraceMs,
      dryRun = true)
  }

  /** TIME-based retention — `expire snapshots older than` semantics:
    * versions whose manifest-recorded commit time ([[commitTimeMs]])
    * is before `cutoffMs` expire; the newest version always survives
    * (a table never loses its head to an aggressive cutoff), as do
    * ref-pinned versions and versions whose manifest PREDATES
    * timestamp recording (unknown age is conservatively kept — a
    * pre-upgrade snapshot must not read as infinitely old).
    * Timestamps come from the manifests, never file mtimes.
    */
  def vacuumOlderThan(spark: SparkSession, root: String,
      cutoffMs: Long, orphanGraceMs: Long = 3600000L): Unit = {
    val versions = manifestVersions(spark, root)
    val fresh = versions.filter { v =>
      val t = commitTimeMs(spark, root, v)
      t == 0L || t >= cutoffMs
    }.toSet
    vacuumKeeping(spark, root, versions,
      fresh ++ versions.lastOption, orphanGraceMs)
    ()
  }

  /** The one sweep implementation: computes the keep set, then either
    * DELETES everything outside it (`dryRun = false`) or only REPORTS
    * it (`dryRun = true`). Returns the root-relative names removed
    * (or planned) — manifests first, then dirs/sidecars, then litter.
    */
  private def vacuumKeeping(spark: SparkSession, root: String,
      versions: Seq[Long], baseKeep: Set[Long],
      orphanGraceMs: Long, dryRun: Boolean = false): Seq[String] = {
    val planned = Seq.newBuilder[String]
    val f = fs(spark, root)
    val maxCommitted = versions.lastOption.getOrElse(-1L)
    // named refs pin their targets: a tagged training snapshot must
    // survive retention until the ref itself is dropped
    val refs = listRefs(spark, root)
    val pinned = refs.map(_._2).toSet
    // a stream_<id> ref is a STREAMING OFFSET pin: its restart
    // replays every version AFTER the pinned one, so the whole
    // suffix from the pin on is load-bearing, not just the target
    val streamFloor = refs.collect {
      case (n, v, _) if n.startsWith(StreamPinPrefix) => v
    }.minOption
    val keep = baseKeep.filter(versions.contains) ++
      pinned.filter(versions.contains) ++
      streamFloor.map(fl => versions.filter(_ >= fl)).getOrElse(Nil)
    // a retained APPEND manifest may reference directories created by
    // expired versions — liveness is per-DIRECTORY, the union of the
    // retained manifests' path (and deletes) lists, exactly like
    // reachable-file GC in any manifest store
    val liveDirs = keep.toSeq.flatMap(v => resolveDirs(spark, root, v))
      .toSet
    val liveDels = keep.toSeq.flatMap(v =>
      resolveDeletes(spark, root, v)).toSet
    val expired = versions.filterNot(keep)
    // dirs an EXPIRED manifest referenced are provably dead the moment
    // their last manifest goes — deletable regardless of age
    val expiredDirs = expired.flatMap(v => resolveDirs(spark, root, v))
      .toSet -- liveDirs
    val expiredDels = expired.flatMap(v =>
      resolveDeletes(spark, root, v)).toSet -- liveDels
    expired.foreach { v =>
      planned += s"$ManifestPrefix$v.json"
      if (!dryRun)
        f.delete(new Path(root, s"$ManifestPrefix$v.json"), false)
    }
    val now = System.currentTimeMillis()
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) return planned.result()
    val entries = f.listStatus(rootPath).toSeq
    // intent markers make the in-flight-vs-crashed call DETERMINISTIC:
    // every writer touches `_graft_intent_<dir>` before its data write
    // and clears it after publish, so an unreferenced dir with a YOUNG
    // marker is an in-flight writer (skip), with an OLD marker a
    // crashed one (reclaim dir + marker), and dir mtimes — unreliable
    // on object stores — only break ties for pre-protocol dirs
    val intentAge: Map[String, Long] = entries
      .filter(st => st.isFile &&
        st.getPath.getName.startsWith(IntentPrefix))
      .map(st => st.getPath.getName.stripPrefix(IntentPrefix) ->
        st.getModificationTime).toMap
    def orphanDead(n: String,
        st: org.apache.hadoop.fs.FileStatus): Boolean =
      intentAge.get(n) match {
        case Some(t) => now - t > orphanGraceMs // crashed iff marker old
        case None => now - st.getModificationTime > orphanGraceMs
      }
    val removedDirs = Seq.newBuilder[String]
    entries.filter(_.isDirectory).foreach { st =>
      val n = st.getPath.getName
      val isData =
        (n.startsWith("v") && n.drop(1).toLongOption.isDefined) ||
        // optimistic-append dirs (a<32-hex>, commitAppendRetry)
        (n.length == 33 && n.startsWith("a") &&
          n.drop(1).forall(c => ('0' to '9').contains(c) ||
            ('a' to 'f').contains(c)))
      val sidecarV = Seq("_graft_stats_v", "_graft_bloom_v")
        .collectFirst { case p if n.startsWith(p) =>
          n.stripPrefix(p).toLongOption }.flatten
      val dead =
        if (isData)
          !liveDirs.contains(n) &&
            (expiredDirs.contains(n) || orphanDead(n, st))
        else if (n.startsWith(DeletesPrefix))
          !liveDels.contains(n) &&
            (expiredDels.contains(n) || orphanDead(n, st))
        else if (n.startsWith("_graft_tmpcarry_"))
          // a sidecar-carry staging dir a crashed copier left — no
          // reader ever resolves it, reclaim after the grace window
          orphanDead(n, st)
        else sidecarV.exists { v =>
          // a version-numbered sidecar above the committed ceiling is
          // an in-flight commitWithStats/Bloom — orphan rules apply;
          // at or below it, expiry follows its version like before
          !keep.contains(v) &&
            (v <= maxCommitted || orphanDead(n, st))
        }
      if (dead) {
        if (!dryRun) { f.delete(st.getPath, true); () }
        removedDirs += n
      }
    }
    val removed = removedDirs.result().toSet
    planned ++= removedDirs.result()
    // root-level litter: markers whose dir is gone (just reclaimed, or
    // a writer that crashed before any data landed), and *.tmp-* files
    // a crashed manifest/ref publish staged — both age-gated
    entries.filter(_.isFile).foreach { st =>
      val n = st.getPath.getName
      val staleMarker = n.startsWith(IntentPrefix) && {
        val target = n.stripPrefix(IntentPrefix)
        removed.contains(target) ||
          (!entries.exists(_.getPath.getName == target) &&
            now - st.getModificationTime > orphanGraceMs)
      }
      val staleTmp = n.startsWith("_graft_") && n.contains(".tmp-") &&
        now - st.getModificationTime > orphanGraceMs
      if (staleMarker || staleTmp) {
        planned += n
        if (!dryRun) { f.delete(st.getPath, false); () }
      }
    }
    planned.result()
  }

  /** Table integrity check — the `fsck` a post-mortem starts from:
    * every committed version's manifest must parse, every data
    * directory it names must exist and hold parquet files, and a
    * recorded delete sidecar must exist and be readable; version-
    * numbered stats/bloom sidecars bound to versions that are not
    * committed are reported as orphans (informational — readers
    * never resolve them). Metadata-sized (listings + footers, no
    * data scan). Returns human-readable findings; empty = healthy.
    */
  def fsck(spark: SparkSession, root: String): Seq[String] = {
    val f = fs(spark, root)
    val issues = Seq.newBuilder[String]
    if (!f.exists(new Path(root))) return Seq(s"table root missing: $root")
    val versions = manifestVersions(spark, root)
    versions.foreach { v =>
      try {
        val raw = readManifest(spark, root, v)
        dirsOf(raw, root, v).foreach { d =>
          val p = new Path(dirPath(root, d))
          if (!f.exists(p))
            issues += s"v$v references missing data dir $d"
          else if (!f.listStatus(p).exists(s => s.isFile &&
              s.getPath.getName.endsWith(".parquet")))
            issues += s"v$v data dir $d holds no parquet files"
        }
        deletesOf(raw, root, v).foreach { d =>
          if (!f.exists(new Path(dirPath(root, d))))
            issues += s"v$v references missing delete sidecar $d"
          else scala.util.Try(spark.read.parquet(dirPath(root, d)).schema)
            .failed.foreach(e =>
              issues += s"v$v delete sidecar $d unreadable: ${e.getMessage}")
        }
        // field mapping (schema evolution) integrity: parseable, ids
        // unique, live logical names unique, physical names unique,
        // at least one live field
        scala.util.Try(fieldsOf(raw)) match {
          case scala.util.Failure(e) =>
            issues += s"v$v field mapping unparseable: ${e.getMessage}"
          case scala.util.Success(fo) => fo.foreach { fs0 =>
            val live = fs0.filter(_.name.nonEmpty)
            if (fs0.map(_.id).distinct.size != fs0.size)
              issues += s"v$v field ids not unique: " +
                fs0.map(_.id).mkString(",")
            if (live.map(_.name).distinct.size != live.size)
              issues += s"v$v logical field names not unique: " +
                live.map(_.name).mkString(",")
            if (fs0.map(_.physical).distinct.size != fs0.size)
              issues += s"v$v physical field names not unique: " +
                fs0.map(_.physical).mkString(",")
            if (live.isEmpty)
              issues += s"v$v field mapping has no live fields"
          }
        }
      } catch { case e: Throwable =>
        issues += s"v$v manifest corrupt: ${e.getMessage}"
      }
    }
    val committed = versions.toSet
    f.listStatus(new Path(root)).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).foreach { n =>
        Seq("_graft_stats_v", "_graft_bloom_v").foreach { pre =>
          n.stripPrefix(pre) match {
            case s if n.startsWith(pre) => s.toLongOption.foreach { v =>
              if (!committed.contains(v))
                issues += s"orphan sidecar $n (version $v not committed)"
            }
            case _ => ()
          }
        }
      }
    issues.result()
  }

  /** Drop everything under `root` — test/scratch hygiene helper. */
  def destroy(spark: SparkSession, root: String): Unit = {
    val f = fs(spark, root)
    val p = new Path(root)
    if (f.exists(p)) { f.delete(p, true); () }
  }
}

