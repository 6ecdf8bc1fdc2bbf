package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Streaming extension surface (SURVEY §2.1 "Streaming"): incremental
  * profile over an event stream and stateful sessionization, both as
  * real Structured Streaming plans. A bounded parquet source + memory
  * sink + processAllAvailable makes them synchronously verifiable
  * against batch SQL oracles while keeping the streaming execution
  * path (state store, watermark, incremental aggregation) genuine.
  */
object StreamingProfile {

  /** The file's own schema, read from the parquet footer — `ts` may be
    * a raw nanos long or a TIMESTAMP_NTZ depending on the testdata
    * generation (the stream source needs an explicit schema, and it
    * must match the file; normalization happens in the projection).
    */
  def eventsRawSchema(spark: SparkSession, path: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(path).schema
  }

  /** Stage `src` (a single parquet file, or a Spark-written table
    * DIRECTORY of part files — the GenScale sf1 twins have the latter
    * layout; review r17: `Files.copy` of a directory staged an EMPTY
    * dir, so every eventsStream query failed its sf1 smoke with
    * UNABLE_TO_INFER_SCHEMA) into the file-stream source directory
    * `staged`. Idempotent per file name, so repeated bench reps reuse
    * the staging.
    */
  private def stageParquet(src: java.nio.file.Path,
      staged: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(staged)
    if (java.nio.file.Files.isDirectory(src)) {
      val it = java.nio.file.Files.list(src)
      try {
        it.iterator().forEachRemaining { p =>
          if (p.getFileName.toString.endsWith(".parquet")) {
            val d = staged.resolve(p.getFileName)
            if (!java.nio.file.Files.exists(d))
              java.nio.file.Files.copy(p, d)
            ()
          }
        }
      } finally it.close()
    } else {
      val dst = staged.resolve(src.getFileName)
      if (!java.nio.file.Files.exists(dst))
        java.nio.file.Files.copy(src, dst)
      ()
    }
  }

  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // the file stream source requires a directory; stage the events
    // file(s) into one (a production stream would already be a
    // directory of arriving files)
    val staged = java.nio.file.Paths.get(
      graft.config.Scratch.runDir + "/stream_events_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL))
    stageParquet(java.nio.file.Paths.get(s"$dir/events.parquet"), staged)
    graft.sources.EventsSource.normalizeTs(
      spark.readStream
        .schema(eventsRawSchema(spark, staged.toString))
        .parquet(staged.toString))
  }

  /** Tumbling-window per-event-type profile: counts, approximate
    * distinct users (exact distinct over a stream is unbounded state —
    * HLL keeps it constant), decimal-exact value sum, min/max. The
    * watermark bounds state for late data; window state older than the
    * watermark is dropped, so state size is O(active windows), not
    * O(stream length).
    */
  def windowedProfile(events: DataFrame, windowLength: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        approx_count_distinct(col("user_id")).as("n_users_approx"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  /** Run the windowed profile over the bounded events stream and
    * return the final (complete-mode) result table.
    */
  def runWindowedProfile(spark0: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.streamSession(spark0,
      Seq(s"$dir/events.parquet"))
    val name = "graft_stream_profile_" +
      java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
    val q = windowedProfile(eventsStream(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Stream-static enrichment: the event stream inner-joined per
    * micro-batch against a static dimension (broadcast — the standard
    * enrich-then-aggregate ingest shape), then windowed per segment.
    * The stream-static hash join itself is stateless; only the window
    * aggregation keeps watermark-bounded state.
    */
  def enrichedWindowedProfile(events: DataFrame, dim: DataFrame,
      windowLength: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(window(col("ts"), windowLength), col("segment"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_value"))

  /** Run the enriched profile over the bounded events stream with the
    * customer market segment as the per-user dimension.
    */
  def runEnrichedProfile(spark0: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.streamSession(spark0,
      Seq(s"$dir/events.parquet"))
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))
    val name = "graft_stream_enriched_" +
      java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
    val q = enrichedWindowedProfile(eventsStream(spark, dir), dim)
      .writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Streaming drift monitor: per-hour event-type counts accumulate
    * INCREMENTALLY (one watermark-bounded streaming aggregation —
    * chained streaming aggregations are unsupported, so the per-window
    * PSI score is a report-sized batch rollup over the finished
    * window table: windows × categories rows, never event rows). The
    * reference distribution is the full-corpus event-type mix
    * (broadcast); a window missing a reference category gets the
    * same 0.5-Laplace smoothing the batch [[graft.operators.Drift]]
    * PSI uses, over the full reference grid, and each term is
    * rounded at 9 decimals and DECIMAL-summed so the score replays
    * exactly in SQL. Output: (window_start_us, n_events, psi).
    */
  def runCategoryDrift(spark0: SparkSession, dir: String): DataFrame = {
    val spark = StreamSessions.streamSession(spark0,
      Seq(s"$dir/events.parquet"))
    val name = "graft_stream_drift_" +
      java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
    val q = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    val wins = spark.table(name)
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"))
    val events = graft.sources.EventsSource.read(spark, dir)
    val refCounts = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("ref_n"))
    val refTotal = refCounts.agg(sum(col("ref_n")).as("__t"))
    val ref = refCounts.crossJoin(broadcast(refTotal))
      .select(col("event_type"),
        (col("ref_n").cast("double") / col("__t")).as("p_ref"))
    val totals = wins.groupBy(col("window_start_us"))
      .agg(sum(col("n")).as("w_n"))
    val grid = totals.crossJoin(broadcast(ref))
    val pw = when(col("n") > 0, col("n").cast("double"))
      .otherwise(lit(0.5)) / col("w_n")
    grid.join(wins, Seq("window_start_us", "event_type"), "left")
      .select(col("window_start_us"), col("w_n"),
        coalesce(col("n"), lit(0L)).as("n"), col("p_ref"))
      .select(col("window_start_us"), col("w_n"),
        round((pw - col("p_ref")) * log(pw / col("p_ref")), 9)
          .cast("decimal(20,9)").as("term"))
      .groupBy(col("window_start_us"), col("w_n"))
      .agg(round(sum(col("term")).cast("double"), 6).as("psi"))
      .select(col("window_start_us"), col("w_n").as("n_events"),
        col("psi"))
      .orderBy("window_start_us")
  }

  /** Streaming exact dedup: one output row per distinct key, state
    * bounded by the watermark (`dropDuplicatesWithinWatermark` drops a
    * key's state once the watermark passes it — the shape an unbounded
    * training-data ingest needs; a key re-appearing after the horizon
    * re-emits, the standard at-least-once tradeoff for bounded state).
    * Only the KEY columns are emitted, so the result is the distinct
    * key set regardless of which arrival survived — batch-oracle-able.
    */
  def streamingDedup(events: DataFrame, keys: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select((col("ts") +: keys.map(col)): _*)
      .dropDuplicatesWithinWatermark(keys)
      .select(keys.map(col): _*)

  /** Run the streaming dedup over the bounded events stream. */
  def runStreamingDedup(spark0: SparkSession, dir: String,
      keys: Seq[String] = Seq("user_id", "event_type")): DataFrame = {
    val spark = StreamSessions.streamSession(spark0,
      Seq(s"$dir/events.parquet"))
    val name = "graft_stream_dedup_" +
      java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
    val q = streamingDedup(eventsStream(spark, dir), keys)
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Stream-stream interval join — funnel attribution: each purchase
    * matched to the same user's clicks in the `lookback` interval
    * before it. BOTH sides carry watermarks and the join condition
    * bounds event time in both directions, which is what lets Spark
    * evict buffered rows once the watermark passes the interval: join
    * state is O(events inside the watermark horizon), never O(stream).
    * An unbounded-time stream-stream join would have to buffer one
    * whole side forever — the time bound is not an optimization, it is
    * what makes the operator deployable.
    */
  def funnelPairs(purchases: DataFrame, clicks: DataFrame,
      lookback: String): DataFrame =
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") -
          expr(s"INTERVAL $lookback"))
      .select(col("purchase_id"), col("click_id"))

  /** Run the funnel join over two bounded replays of the events
    * stream (two independent file-source streams, as deployment would
    * have two topics).
    */
  def runFunnel(spark0: SparkSession, dir: String,
      lookback: String = "15 minutes",
      watermark: String = "2 hours"): DataFrame = {
    val spark = StreamSessions.streamSession(spark0,
      Seq(s"$dir/events.parquet"))
    val p = eventsStream(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    val c = eventsStream(spark, dir)
      .where(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val name = "graft_stream_funnel_" +
      java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
    val q = funnelPairs(p, c, lookback)
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  // -- stateful sessionization ----------------------------------------

  case class SessionEvent(user_id: Long, ts_us: Long)
  case class SessionState(sessionId: Long, startUs: Long, lastUs: Long,
      nEvents: Long)
  case class SessionRow(user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, end_us: Long)

  /** Per-user session assignment with an inactivity gap, as custom
    * streaming state (flatMapGroupsWithState): sessions continue
    * across micro-batches via SessionState. Events inside one batch
    * are sorted per key; completed sessions are emitted as soon as the
    * gap closes them, and — because this runner drives a BOUNDED
    * stream — the final open session is emitted at end too. The
    * unbounded-deployment shape, which instead emits open sessions on
    * a state TIMEOUT once the event-time watermark passes the gap, is
    * [[sessionizeTimeout]].
    */
  def sessionize(events: Dataset[SessionEvent], gapUs: Long)
      : Dataset[SessionRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[SessionEvent],
         state: GroupState[SessionState]) =>
          val sorted = it.toIndexedSeq.sortBy(_.ts_us)
          var cur = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer[SessionRow]()
          sorted.foreach { e =>
            if (cur == null) {
              cur = SessionState(0L, e.ts_us, e.ts_us, 1L)
            } else if (e.ts_us - cur.lastUs > gapUs) {
              out += SessionRow(uid, cur.sessionId, cur.nEvents,
                cur.startUs, cur.lastUs)
              cur = SessionState(cur.sessionId + 1, e.ts_us, e.ts_us, 1L)
            } else {
              cur = cur.copy(lastUs = e.ts_us, nEvents = cur.nEvents + 1)
            }
          }
          // bounded-stream simplification: flush the open session (an
          // unbounded deployment would hold it in state and emit on
          // timeout; here the stream ends with this batch)
          if (cur != null) {
            out += SessionRow(uid, cur.sessionId, cur.nEvents,
              cur.startUs, cur.lastUs)
            state.update(cur)
          }
          out.iterator
      }
  }

  /** Run stateful sessionization over the bounded events stream. */
  def runSessionize(spark0: SparkSession, dir: String,
      gapUs: Long = 1800000000L): DataFrame = {
    val spark = StreamSessions.streamSession(spark0,
      Seq(s"$dir/events.parquet"))
    import spark.implicits._
    val name = "graft_stream_sessions_" +
      java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
    val ev = eventsStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[SessionEvent]
    val q = sessionize(ev, gapUs)
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** [[sessionizeTimeout]]'s input row: event time as a real timestamp
    * column so the event-time watermark (and thus the state timeout)
    * applies.
    */
  case class SessionEventT(user_id: Long, ts: java.sql.Timestamp)

  /** Production-grade sessionization for UNBOUNDED streams (VERDICT r4
    * #7): same per-user gap fold as [[sessionize]], but an open
    * session is held in state with an event-time TIMEOUT at
    * lastEvent + gap — when the watermark passes that point, Spark
    * invokes the group with `state.hasTimedOut` and the session is
    * emitted and its state removed. No end-of-stream flush: an open
    * session at the watermark frontier stays in state, exactly what an
    * always-on deployment needs (state is bounded by #active users,
    * emission lag is the watermark delay).
    *
    * `events` must carry `user_id` and an event-time `ts` column; the
    * watermark must be applied by the caller (it also bounds how late
    * an event may extend a session).
    */
  def sessionizeTimeout(events: Dataset[SessionEventT], gapUs: Long)
      : Dataset[SessionRow] = {
    import events.sparkSession.implicits._
    val gapMs = gapUs / 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[SessionEventT],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val cur = state.get
            state.remove()
            Iterator.single(SessionRow(uid, cur.sessionId, cur.nEvents,
              cur.startUs, cur.lastUs))
          } else {
            val sorted = it.map(e => e.ts.getTime * 1000L)
              .toIndexedSeq.sorted
            var cur = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer[SessionRow]()
            sorted.foreach { tsUs =>
              if (cur == null) {
                cur = SessionState(0L, tsUs, tsUs, 1L)
              } else if (tsUs - cur.lastUs > gapUs) {
                out += SessionRow(uid, cur.sessionId, cur.nEvents,
                  cur.startUs, cur.lastUs)
                cur = SessionState(cur.sessionId + 1, tsUs, tsUs, 1L)
              } else {
                cur = cur.copy(lastUs = tsUs, nEvents = cur.nEvents + 1)
              }
            }
            if (cur != null) {
              state.update(cur)
              // the timeout must sit strictly beyond the current
              // watermark or Spark rejects it; a session whose close
              // point the watermark already passed times out on the
              // next micro-batch
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs() + 1,
                cur.lastUs / 1000L + gapMs))
            }
            out.iterator
          }
      }
  }

  /** Batch sessionization with window functions — identical semantics
    * to [[sessionize]] on bounded data (used as the oracle-checked
    * batch twin and by tests as the streaming version's ground truth).
    */
  def sessionizeBatch(events: DataFrame, gapUs: Long): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us")
    val newSession = when(
      lag(col("ts_us"), 1).over(byUser).isNull ||
        col("ts_us") - lag(col("ts_us"), 1).over(byUser) > gapUs, 1)
      .otherwise(0)
    events
      .withColumn("new_s", newSession)
      .withColumn("session_id",
        sum(col("new_s")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)) - 1)
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"))
      .orderBy("user_id", "session_id")
  }

  private def docsStream(spark: SparkSession, dir: String): DataFrame = {
    val staged = java.nio.file.Paths.get(
      graft.config.Scratch.runDir + "/stream_docs_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL))
    stageParquet(java.nio.file.Paths.get(s"$dir/documents.parquet"),
      staged)
    spark.readStream
      .schema(spark.read.parquet(staged.toString).schema)
      .parquet(staged.toString)
  }

  /** Ingestion-time benchmark decontamination — the STREAMING twin of
    * [[graft.operators.TextMetrics.decontaminate]], as a STATELESS
    * gate: the benchmark's distinct n-gram set is collected once (an
    * eval suite is KB-to-MB-sized by construction — the same bound
    * that lets the batch operator broadcast it) and ships into the
    * stream plan as an array literal, so every micro-batch filters
    * map-side with arrays_overlap: no join state, no watermark, no
    * shuffle, and a crash-restart replays the gate bit-identically.
    * A benchmark that outgrows a plan literal falls back to the batch
    * operator's broadcast semi-join inside foreachBatch — same
    * semantics, per-batch join instead of a literal.
    *
    * Emits the CLEAN documents (no n-gram shared with the benchmark);
    * benchmark members arriving on the stream self-collide and drop.
    */
  def runStreamingDecontaminate(spark0: SparkSession, dir: String,
      ngram: Int = 3): DataFrame = {
    val spark = StreamSessions.streamSession(spark0,
      Seq(s"$dir/documents.parquet"))
    import graft.functions.TextFunctions
    def ngramsOf(text: org.apache.spark.sql.Column) = {
      val toks = TextFunctions.tokens(text)
      when(size(toks) >= ngram,
        transform(sequence(lit(0), size(toks) - ngram),
          i => concat_ws(" ", slice(toks, i + 1, lit(ngram)))))
        .otherwise(array())
    }
    val bench = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 50 === 0)
      .select(explode(ngramsOf(col("text"))).as("ng"))
      .distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val name = "graft_stream_decon_" +
      java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
    val q = docsStream(spark, dir)
      .where(!arrays_overlap(ngramsOf(col("text")), typedlit(bench)))
      .select(col("doc_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }
}
