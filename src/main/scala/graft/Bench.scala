package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query at the configured
  * scale factor and emits its summary JSON line INCREMENTALLY — once
  * after every completed section, each line superseding the last, the
  * final line printed after the last section. The LAST stdout line is
  * therefore always a whole parseable object (<500 chars) no matter
  * where an external kill lands: a SIGKILL costs only the section in
  * flight (VERDICT r17 #1 — the r15 and r17 driver sweeps were
  * timeout-killed BEFORE the old end-of-run print and left
  * `parsed: null`; "a complete artifact with an honestly-recorded
  * shortfall beats a perfect sweep that never prints" is now true
  * under SIGKILL, not just under a clean exit). Each line carries
  * `stage` + `sections_complete` so a truncated sweep self-describes
  * what it did and did not measure.
  *
  * Noise hardening (VERDICT r4 #1): single-run second-scale timings on
  * a shared box swing 3-19x run-to-run. Each query runs in up to
  * `full_reps` whole-suite passes (rep-major, VERDICT r16 #1) and the
  * HEADLINE total is the median of the whole-suite rep totals
  * (VERDICT r14 #7 — per-rep totals ride the JSON as `rep_totals`).
  * After the full passes, the `targeted_k` queries with the largest
  * relative spread across their runs get ONE more run each (VERDICT
  * r17 #5: reps=2 for the stable majority, a third rep only where
  * variance says it buys information) — per-query medians use all
  * runs; rep totals use only the full passes.
  *
  * Wall-clock discipline: sections are ordered so a slow box sheds
  * the LOW-value sections first —
  *
  *   calibration probe -> base rep 1 -> CORE sf1 smoke -> probe ->
  *   base rep 2 (budget-gated) -> targeted re-runs (budget-gated) ->
  *   TAIL sf1 smoke (budget-gated) -> flag confirmation -> probe
  *
  * Three distinct limits govern shedding (VERDICT r17 #2):
  *
  *   - `SPARK_GRAFT_BENCH_BUDGET_SEC` (default 2400) is the WORK
  *     budget, and it is denominated in calibrated work, not raw
  *     wall-seconds: [[effectiveBudget]] scales it by
  *     nominal/measured probe time, and [[isSlowBox]] (probe >1.6x
  *     nominal, or full passes projecting past the scaled budget)
  *     makes a 2.5x-slower box shed extra passes, targeted re-runs
  *     and tail entries EARLY instead of overrunning the driver
  *     clock — while a merely drifty builder day (probe 1.3-1.55x)
  *     keeps its second pass under the wall-cap projection. The
  *     probe re-runs at section boundaries and the latest value
  *     re-scales the tail gate. The CORE smoke is exempt — it is
  *     the reason the sweep was reordered, so it runs on every box
  *     up to a 1.25x RAW-budget valve (review r17: 1.4x put the
  *     r16-driver worst case past its clock).
  *   - `SPARK_GRAFT_BENCH_WALL_CAP_SEC` (default 2700) is the hard
  *     artifact-safety cap: before any smoke entry starts, its cost
  *     is projected from its rep-1 base timing and the entry is
  *     skipped (recorded in `smoke_skipped`) if the projection lands
  *     past the cap — the sweep finishes and prints under any
  *     external clock the cap is set inside of.
  *   - `SPARK_GRAFT_BENCH_WALL_TARGET_SEC` (default 1800) is the
  *     committed-sweep wall goal (VERDICT r17 #5): the TAIL smoke
  *     stops at min(effective budget, wall target). On the builder
  *     box the full-pass + core-smoke sections consume the target,
  *     so tail coverage is DELEGATED to focused fresh-JVM passes
  *     (BENCH_tail_r{N}.json — ADVICE r17 asked for exactly this to
  *     be an explicit, documented choice; on a faster box or a
  *     filtered run the in-sweep tail runs under the same honesty
  *     fields). Extra base reps gate on slow-box detection + the
  *     wall-cap projection — DOWN from r17's 1.25x-of-raw ceiling
  *     they shared with the core valve (ADVICE r17); headline
  *     quality deliberately outranks in-sweep tail coverage.
  *
  * Box-speed calibration (VERDICT r16 #2): a fixed deterministic
  * probe — a multiply-mix reduction plus a canonical 32-partition
  * hash aggregate + join, ~4 s nominal — is timed at sweep start,
  * after the core smoke, and at sweep end (`calib_sec`:[start,...,
  * end]), so any two artifacts normalize by probe time before totals
  * are compared. `vs_r17_anchor` is that self-check inline: the
  * calib-normalized per-query total against the r17 anchor recorded
  * in BASELINE.md (582.8 s / 251 queries at probe 1.53 s), the
  * post-series-break gate reference (VERDICT r17 #4).
  */
object Bench {

  /** Builder-box nominal probe time: mean of the r17 sweep-of-record
    * probes `calib_sec:[1.25,1.81]` (BENCH_perq_r17.json).
    */
  val NominalCalibSec = 1.53

  /** The r17 baseline anchor (BASELINE.md, VERDICT r17 #4): median
    * rep-major total 582.8 s over 251 registered queries at probe
    * 1.53 s — the first post-series-break reference the 2x gate
    * compares calib-normalized totals against.
    */
  val AnchorTotalSec = 582.8
  val AnchorQueries = 251
  val AnchorCalibSec = 1.53

  /** Work budget in box-adjusted seconds (VERDICT r17 #2): the raw
    * budget scaled by nominal/measured probe time, capped at the raw
    * budget (a fast box must not inflate it — the wall cap is what
    * bounds the sweep, and a >1 factor would push gates past it).
    */
  def effectiveBudget(budgetSec: Double, calibSec: Double,
      nominal: Double = NominalCalibSec): Double =
    budgetSec * math.min(1.0, nominal / math.max(calibSec, 1e-9))

  /** The r16-driver shape detector: the start probe reads >1.6x
    * nominal, or the requested full passes alone project past the
    * calibrated budget. A slow box sheds the extra full passes and
    * targeted re-runs ENTIRELY (VERDICT r17 #2) and drops smoke
    * entries to one timed pair; a merely drifty builder day (probe
    * 1.3-1.55x, normal rep totals) is NOT slow — it keeps its second
    * pass under the wall-cap projection, because a 1-rep headline
    * costs more evidence than the ~10 spare minutes buy (review r18:
    * the first two r18 sweeps shed rep 2 against intent when the
    * reps gate was denominated in calibrated budget directly).
    */
  def isSlowBox(calibStart: Double, elapsedSec: Double,
      rep0Total: Double, fullReps: Int, budgetSec: Double): Boolean =
    calibStart > NominalCalibSec * 1.6 ||
      elapsedSec + rep0Total * (fullReps - 1) >
        effectiveBudget(budgetSec, calibStart)

  /** The `targeted_k` query names with the largest RELATIVE spread
    * across their recorded runs — the ones where a third run buys
    * median stability. Sub-`minAbsSpread` absolute spreads are
    * excluded (a 0.02 s wobble on a 0.05 s query is timer noise, not
    * variance worth a rerun).
    */
  def mostVariable(runs: Seq[(String, Seq[Double])], k: Int,
      minAbsSpread: Double = 0.1): Seq[String] =
    runs.collect {
      case (n, rs) if rs.size >= 2 && (rs.max - rs.min) >= minAbsSpread =>
        (n, (rs.max - rs.min) / math.max(rs.min, 1e-9))
    }.sortBy { case (n, spread) => (-spread, n) }.take(k).map(_._1)

  /** Projected wall cost of one smoke entry: `pairs` interleaved
    * (base, sf1) pairs at rep-1 base speed, the sf1 side budgeted at
    * 4.5x base — ABOVE the worst confirmed suite ratio (4.13,
    * median ~1.3), because this projection backs the hard wall-cap
    * skip and an admitted-but-underestimated superlinear entry must
    * finish its started pair-set (review r18).
    */
  def smokeEntryEstSec(rep1BaseSec: Double, pairs: Int): Double =
    pairs * rep1BaseSec * 5.5

  /** Entries whose FIRST sf1 invocation does one-time layout work
    * (bucketed-table ingest, graft-table builds, stream checkpoint
    * dirs, session index builds) that must never leak into a timed
    * pair (VERDICT r11: tpch_q12_bucketed once charged its ingest to
    * the query). These keep their untimed warm-up pair even on a
    * slow box; pure-read shapes drop it there — rep 1 already warmed
    * their base-side plans, so the single timed pair is steady-state
    * enough, and the saved pair is what lets a 2.5x-slower box finish
    * the whole core (VERDICT r17 #1/#2).
    */
  def needsWarmPair(name: String): Boolean = {
    val markers = Seq("table", "stream", "bucketed", "incremental",
      "mor", "scd2", "cdc", "ivm", "wap", "clone", "compact",
      "search_only", "ivf")
    markers.exists(name.contains)
  }

  /** Timed-pair plan for a smoke entry (VERDICT r17 #5 — the r17
    * 4-pairs-per-cheap-entry policy is what made the core smoke cost
    * ~1100 s of the 43-min wall): the approx-profile path keeps
    * 5 pairs (three concurrent jobs — the most load-sensitive
    * timings in the suite), the historical flag/watch set keeps 2,
    * everything else runs ONE steady-state pair after its warm-up —
    * the flag path stays safe because any >=10x single-pair ratio
    * must still survive the isolated 5-pair confirmation re-run
    * before it is emitted (criteria unchanged, VERDICT r13 #1).
    */
  def plannedPairs(name: String, warmSec: Double, slowBox: Boolean,
      loadSensitive: Set[String]): Int =
    if (slowBox || warmSec > 25.0) 1
    else if (name.startsWith("summary_lineitem_")) 5
    else if (loadSensitive.contains(name)) (if (warmSec > 10.0) 1 else 2)
    else 1

  private def time(fn: => Unit): Double = {
    val t0 = System.nanoTime()
    fn
    (System.nanoTime() - t0) / 1e9
  }

  /** Standard median: middle element, or the mean of the two middles
    * for even counts — degraded sections can report 2-run medians
    * without an upper-value bias.
    */
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** The box-speed probe: deterministic CPU (80M multiply-mix
    * reduction) + shuffle (8M-row hash aggregate joined to a 250k
    * dimension over 32 partitions). No data files, no randomness, no
    * query-suite code — its time moves ONLY with the box.
    */
  private def calibProbe(spark: SparkSession): Double = {
    val t = time {
      // modulo keeps the 80M-term sum inside a long under ANSI mode
      spark.range(0L, 80000000L)
        .selectExpr("sum((id * 2654435761) % 1000000007) as h")
        .collect()
      val agg = spark.range(0L, 8000000L)
        .selectExpr("id % 250000 as k", "id as v")
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.sum("v").as("s"))
      val dim = spark.range(0L, 250000L)
        .selectExpr("id as k", "id % 97 as w")
      agg.join(dim, "k").selectExpr("sum(s * w)").collect()
      ()
    }
    math.round(t * 1000) / 1000.0
  }

  def main(args: Array[String]): Unit = {
    val tStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - tStart) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // max runs any single query gets (full passes + targeted rerun)
    val maxReps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val fullReps = math.min(maxReps,
      sys.env.getOrElse("SPARK_GRAFT_FULL_REPS", "2").toInt)
    val targetedK = sys.env.getOrElse("SPARK_GRAFT_TARGETED_K", "20").toInt
    val budgetSec = sys.env
      .getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "2400").toDouble
    val wallCap = sys.env
      .getOrElse("SPARK_GRAFT_BENCH_WALL_CAP_SEC", "2700").toDouble
    val wallTarget = sys.env
      .getOrElse("SPARK_GRAFT_BENCH_WALL_TARGET_SEC", "1800").toDouble
    // fork-free local FS (optimization r18, guide §1/§7.3): without
    // libhadoop, every local-FS permission/link op forks chmod or
    // readlink — a JFR of one streaming query counted 16k forks in
    // 48 s, serializing all 32 tasks on the kernel fork path. See
    // graft.hadoop.FastLocalFileSystem. Same files, same bits — this
    // removes pure overhead, it never changes a result.
    val spark = graft.hadoop.FastLocalFileSystem.config(
      SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // 16MB input splits: test-scale files are 10-60MB, the 128MB
      // default would hand a whole scan to 1-4 of the local cores
      .config("spark.sql.files.maxPartitionBytes", "16m")
      // don't PACK a many-small-files table into fewer partitions than
      // cores (sf1 documents = 10 sub-MB files — packed into ~2 splits
      // they ran the compute-bound quality projections near-serial)
      .config("spark.sql.files.minPartitionNum", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect() // warm-up
    // one untimed probe first: codegen/JVM warm-up must not read as
    // "the box was 2x slower at sweep start" — recorded probes are
    // steady-state, so their spread IS box drift
    calibProbe(spark)
    val probes = scala.collection.mutable.ArrayBuffer(calibProbe(spark))
    def effBudget: Double = effectiveBudget(budgetSec, probes.last)
    // optional comma-separated filter for focused timing runs
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(',').map(_.trim).toSet)
    // bench times every registry entry: the oracle-gated queries PLUS
    // the bench-only ones gated by a ContractTwin (sketch-value
    // profiles, the graph search-only head)
    val allQueries = SparkEntry.registry.map { case (k, e) => k -> e.run }
    val selected = allQueries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .toSeq.sortBy(_._1)

    // Rep-major base sweep (VERDICT r16 #1): one full pass per rep.
    // A query that fails in ANY rep is recorded by name and dropped
    // from every total (a fast failure time must not pass off as a
    // result).
    val runsByQuery =
      scala.collection.mutable.LinkedHashMap[String,
        scala.collection.mutable.ArrayBuffer[Double]]()
    val failedSet = scala.collection.mutable.LinkedHashSet[String]()
    def runQuery(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Unit =
      if (!failedSet.contains(name)) {
        try {
          runsByQuery.getOrElseUpdate(name,
            scala.collection.mutable.ArrayBuffer[Double]()) +=
            time(fn(spark, sfDir).count())
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: $e")
          failedSet += name
          runsByQuery.remove(name)
          ()
        }
      }
    // ------------------------------------------------------------------
    // Incremental artifact emission (VERDICT r17 #1). Every call
    // prints ONE compact (<500 char) summary line reflecting all
    // sections completed so far; the last line printed before any
    // external kill is a whole, honest artifact. System.out is
    // explicitly flushed so a SIGKILL cannot strand a buffered line.
    // ------------------------------------------------------------------
    val sectionsDone = scala.collection.mutable.ArrayBuffer[String]()
    val smoke =
      scala.collection.mutable.ArrayBuffer[(String, Double, Double, Int)]()
    val smokeSkipped = scala.collection.mutable.ArrayBuffer[String]()
    var targetedNames: Seq[String] = Seq.empty
    var fullRepsRun = 0
    var flaggedJson = "[]"
    var confirm: Map[String, Double] = Map.empty
    val sf1Dir = "target/sf1"

    def okRuns: Seq[(String, Seq[Double])] = selected.collect {
      case (name, _)
        if runsByQuery.get(name).exists(_.size >= math.max(fullRepsRun, 1))
        => (name, runsByQuery(name).toSeq)
    }
    def repTotals: Seq[Double] = (0 until math.max(fullRepsRun, 1))
      .map { i => okRuns.map { case (_, runs) => runs(i) }.sum }
    var lastEmitSec = 0.0
    def emitLine(stage: String): Unit = {
      lastEmitSec = elapsedSec
      val ok = okRuns
      val totals = repTotals
      val total = median(totals)
      val totalR = math.round(total * 1000) / 1000.0
      val repTotalsJson = totals
        .map(t => math.round(t * 1000) / 1000.0)
        .mkString("[", ",", "]")
      val calibJson = probes.mkString("[", ",", "]")
      val failed = failedSet.toSeq.map("\"" + _ + "\"")
        .mkString("[", ",", "]")
      val worst = smoke.map { case (k, b, s, _) => (k, s / b) }
        .sortBy(-_._2).take(3)
        .map { case (k, r) =>
          "\"" + k + "\":" + (math.round(r * 100) / 100.0)
        }.mkString("{", ",", "}")
      // calib-normalized per-query total vs the r17 anchor
      // (BASELINE.md, VERDICT r17 #4): <1 faster than anchor, >2
      // breaches the gate
      val calibMean = probes.sum / probes.size
      val anchor =
        if (ok.isEmpty) "null"
        else {
          val perQ = total / ok.size * (NominalCalibSec / calibMean)
          val r = perQ / (AnchorTotalSec / AnchorQueries *
            (NominalCalibSec / AnchorCalibSec))
          (math.round(r * 1000) / 1000.0).toString
        }
      val sectionsJson = sectionsDone.map("\"" + _ + "\"")
        .mkString("[", ",", "]")
      val wallR = math.round(elapsedSec * 10) / 10.0
      println(s"""{"metric":"total","value":$totalR,"unit":"sec","stage":"$stage","sections_complete":$sectionsJson,"reps":$maxReps,"full_reps":$fullReps,"reps_run":$fullRepsRun,"n_targeted":${targetedNames.size},"rep_totals":$repTotalsJson,"calib_sec":$calibJson,"eff_budget_sec":${math.round(effBudget)},"n_queries":${ok.size},"n_registered":${allQueries.size},"failed":$failed,"flagged":$flaggedJson,"worst_x10_ratios":$worst,"vs_r17_anchor":$anchor,"n_smoke":${smoke.size},"n_smoke_skipped":${smokeSkipped.size},"wall_sec":$wallR,"sf":"$sfDir"}""")
      System.out.flush()
    }
    // section-COMPLETE emit: records the section, then prints
    def emit(stage: String): Unit = {
      sectionsDone += stage
      emitLine(stage)
    }
    // throttled mid-section heartbeat: long sections (a full base
    // pass, the core smoke) print a `*_partial` line at most once a
    // minute, so even a kill INSIDE a section — the r17 driver kill
    // landed mid core smoke — leaves an artifact at most ~60 s stale.
    // Partial stages never join sections_complete; with `stage`
    // ending in "_partial", `value` is the median over the totals of
    // the queries COMPLETED so far (n_queries says how many).
    def maybeEmit(stage: String): Unit =
      if (elapsedSec - lastEmitSec >= 60.0) emitLine(stage + "_partial")
    var curStage = "rep1"
    def runRep(): Unit =
      selected.foreach { case (name, fn) =>
        runQuery(name, fn)
        maybeEmit(curStage)
      }

    runRep() // rep 1 — always full: the n_registered invariant needs
             // every query timed at least once
    fullRepsRun = 1
    val rep0Total = runsByQuery.values.map(_.head).sum
    // slow box (see [[isSlowBox]]) — sheds cost everywhere it can:
    // extra passes stop, smoke entries drop to one timed pair,
    // pure-read smoke entries drop their warm-up pair
    val slowBox = isSlowBox(probes.head, elapsedSec, rep0Total,
      fullReps, budgetSec)
    emit("rep1")

    // Scale smoke: when the GenScale-produced 10x directory exists,
    // re-time the heaviest scaling queries there and report the
    // per-query 10x-data ratio (superlinear cliffs would show as
    // ratios approaching 10; see SCALE_SMOKE.md for the methodology).
    // Base and scaled runs interleave so both sides of every ratio
    // are equally warm.
    val loadSensitive = Set("dedup_minhash", "minhash_eval",
      "typeinfer_roundtrip", "dedup_substring_apply",
      "dedup_containment",
      // new this round: first x10 numbers want a 2-pair median
      "ann_recall_eval_pq", "knn_graph_search_only")
    val sf1Core = Seq(
      // new / changed this round
      "ann_recall_eval_pq", "knn_graph_search_only",
      "ann_recall_eval_graph", "knn_graph", "knn_graph_incremental",
      "table_optimize_where", "table_convert",
      // the r16 streaming cluster — exonerated r17 (SCALE_SMOKE r17)
      // but structurally load-sensitive; stays on watch
      "sessionize_stream", "stream_drift", "stream_cdf_replicate",
      "stream_funnel", "scan_report_e2e", "split_leakage_safe",
      // broadcast-gated aggregates (VERDICT r15 #3)
      "tpch_q10", "tpch_q18",
      // r15-r17 worst ratios (>= 1.9)
      "table_merge", "tpch_q12_bucketed", "corr_matrix",
      "table_sql_merge", "table_upsert_mor", "cdc_diff",
      "drift_ks_matrix", "tpch_q12", "table_clone",
      "stream_table_ingest", "skew_salted_join", "tpch_q13",
      "table_pruned_scan", "table_compact_zorder", "tpch_q9",
      "table_changes", "bigram_logprob", "image_neardup",
      "decontaminate", "text_novelty", "table_sql_clone",
      "scd2_history", "dedup_substring", "dsir_select",
      // historical flags / structurally load-sensitive watch items
      "dedup_minhash", "minhash_eval", "typeinfer_roundtrip",
      "summary_lineitem_approx", "dedup_substring_apply",
      "dedup_containment")
    val sf1Tail = Seq("asof_last_order", "col_entropy", "data_split",
      "dedup_chunks", "dedup_clusters", "dedup_exact",
      "dedup_incremental", "dedup_jaccard_block", "dedup_keep_best",
      "doc_length_hist", "drift_ks", "drift_psi",
      "hist_equidepth", "bpe_encode",
      "multimodal_features", "multimodal_resize",
      "chunk_documents",
      "nb_quality_score", "table_compaction",
      "epoch_shuffle", "table_profile_snapshot",
      "bm25_search",
      "hybrid_search", "knn_ivf_incremental", "image_dhash",
      "audio_fingerprint", "sessionize_native",
      "knn_filtered", "knn_sq8", "budget_select", "quarantine_route",
      "video_scenecut", "audio_neardup",
      "dedup_boilerplate", "dedup_intradoc", "dedup_soft_weights",
      "table_bloom_lookup", "table_schema_evolution",
      "table_schema_evolution2", "table_evolve_prune",
      "table_sql_read",
      "table_fast_count", "table_sql_dml",
      "table_sql_ddl", "table_sql_time_travel", "table_sql_maintenance",
      "table_sql_changes", "table_sql_history", "table_sql_restore",
      "table_sql_ctas", "table_sql_replace",
      "table_sql_vacuum_dry",
      "table_pruned_string", "table_vacuum", "table_ref_read",
      "table_wap_publish", "table_read_where", "table_mor_reinsert",
      "table_read_where_time",
      "decontaminate_semantic", "embed_variance",
      "embed_pca_contract", "embed_abtt_contract", "ann_recall_eval",
      "text_hash_embed", "knn_text_hash", "contamination_by_source",
      "seasonal_decompose", "changepoint_cusum", "event_pmi",
      "ivm_merge", "knn_pq", "knn_ivfpq",
      "multimodal_audio", "hard_negatives", "bpe_roundtrip",
      "freq_approx_topk", "group_quantiles", "group_topk",
      "keywords_tfidf", "quality_deciles", "tpch_q7", "tpch_q8",
      "tpch_q14", "tpch_q15",
      "tpch_q17", "tpch_q19", "tpch_q21", "tpch_q22",
      "event_transitions", "embed_outliers", "table_append_race",
      "stream_gdpr_erasure",
      "stream_erase_reingest", "stream_dedup_ingest",
      "stream_from_table", "stream_scd2",
      "table_mor_delete", "embed_group_stats",
      "sample_weighted_stratified",
      "unigram_logprob", "vocab_coverage",
      "freq_lineitem", "pack_sequences", "pipeline_clean",
      "range_join_sessions", "rolling_revenue", "sample_exactk",
      "sample_weighted", "sessionize_batch",
      "summary_lineitem", "text_repetition")
    // Deterministic per-round rotation: the committed BENCH_r*.json
    // count increments exactly once per round, so the tail alternates
    // halves without any manual per-round edit. Overridable for
    // focused runs; a listing failure degrades to half 0.
    val benchArtifacts = Option(new java.io.File(".").listFiles)
      .map(_.count(_.getName.matches("BENCH_r\\d+\\.json")))
      .getOrElse(0)
    // a cwd without the committed artifacts (a non-repo-root launch)
    // would silently PIN rotation to half 0 every round — surface it
    if (benchArtifacts == 0 &&
        sys.env.get("SPARK_GRAFT_SMOKE_ROTATION").isEmpty)
      System.err.println("[bench] no BENCH_r*.json in cwd — smoke " +
        "rotation pinned to half 0 (launch from the repo root or set " +
        "SPARK_GRAFT_SMOKE_ROTATION to a 0-3 cycle to alternate)")
    // one seed drives BOTH rotation bits so the env override covers
    // both (review r16): bit 0 picks the tail half, bit 1 the scan
    // direction. Budget skips always eat the END of the list, so a
    // fixed direction would starve the same late-tail queries every
    // round — alternating it means that over 4 rounds each half runs
    // once from each end, covering everything even at a ~50% skip
    // rate. Cycle SPARK_GRAFT_SMOKE_ROTATION through 0..3 to get the
    // same guarantee on non-repo-root launches.
    val rotSeed = sys.env.get("SPARK_GRAFT_SMOKE_ROTATION")
      .map(_.toInt).getOrElse(benchArtifacts)
    val rotation = rotSeed % 2
    val rotatedHalf = sf1Tail.zipWithIndex
      .collect { case (q, i) if i % 2 == rotation => q }
    val rotatedIn =
      if ((rotSeed / 2) % 2 == 1) rotatedHalf.reverse
      else rotatedHalf
    val rotatedOut = sf1Tail.filterNot(rotatedIn.contains)
    // dev-only focused smoke runs (driver runs unfiltered)
    val onlySmoke = sys.env.get("SPARK_GRAFT_SMOKE_QUERIES")
      .map(_.split(',').map(_.trim).toSet)
    val smokeEnabled = new java.io.File(sf1Dir).isDirectory &&
      (only.isEmpty || onlySmoke.isDefined)
    def runSmoke(names: Seq[String], core: Boolean): Unit =
      if (smokeEnabled)
        names.filter(n => onlySmoke.forall(_.contains(n)))
          .foreach { name =>
        // CORE entries run past the effective budget (they are the
        // reason the smoke was reordered) up to a 1.25x RAW-budget
        // safety valve; TAIL entries stop at min(effective budget,
        // wall target) — see the header. On top of either gate, the
        // entry's projected cost must fit under the hard wall cap
        // (90 s reserve covers the confirmation pass + final probe +
        // emission). Every unstarted name lands in smoke_skipped —
        // no silent cap. A started pair-set always finishes (partial
        // timings would lie).
        val gate =
          if (core) budgetSec * 1.25 else math.min(effBudget, wallTarget)
        val rep1Base = runsByQuery.get(name).map(_.head)
          .getOrElse(1.0)
        val warm = !slowBox || needsWarmPair(name)
        val estPairs = plannedPairs(name, rep1Base, slowBox,
          loadSensitive) + (if (warm) 1 else 0)
        val over = elapsedSec > gate ||
          elapsedSec + smokeEntryEstSec(rep1Base, estPairs) >
            wallCap - 90.0
        if (over) { smokeSkipped += name; () }
        else allQueries.get(name).foreach { fn =>
          try {
            // the untimed warm-up pair (when taken): first-touch
            // layout builds and codegen compilation must not leak
            // into any timed pair — see [[needsWarmPair]]. Its wall
            // time also SIZES the entry via [[plannedPairs]]: a pair
            // that already costs tens of seconds gets one timed pair
            // so one expensive entry cannot starve the rest of the
            // core — the per-entry `pairs` field keeps the artifact
            // honest about it.
            val warmSec =
              if (warm) time {
                fn(spark, sfDir).count()
                fn(spark, sf1Dir).count()
              }
              else rep1Base
            val smokeReps = plannedPairs(name, warmSec, slowBox,
              loadSensitive)
            val pairs = Seq.fill(smokeReps) {
              val b = time(fn(spark, sfDir).count())
              val s = time(fn(spark, sf1Dir).count())
              (b, s)
            }
            smoke += ((name, median(pairs.map(_._1)),
              median(pairs.map(_._2)), smokeReps))
            ()
          } catch { case e: Throwable =>
            System.err.println(s"[bench] sf1 $name FAILED: $e")
          }
        }
        maybeEmit(curStage)
      }

    // CORE smoke first (VERDICT r16 #1): the r16 driver spent its
    // whole budget on base reps and recorded zero scale evidence —
    // the high-value ratios land before anything else can spend it.
    // Ordered by the rep-1 base timing ASCENDING: a budget/valve cut
    // always eats the end, so cheap-first maximizes how many core
    // entries survive on a slow box (the expensive shapes are also
    // the most load-sensitive, i.e. the least informative under
    // exactly the conditions that force the cut).
    val coreOrdered = sf1Core.sortBy(n =>
      runsByQuery.get(n).map(_.head).getOrElse(Double.MaxValue))
    curStage = "core_smoke"
    runSmoke(coreOrdered, core = true)
    probes += calibProbe(spark) // re-scale the remaining gates
    emit("core_smoke")

    // extra full passes: a NON-slow box runs them whenever the pass
    // projects to finish inside the wall cap (150 s reserve for
    // targeted + confirm + probes + emission); a slow box sheds them
    // entirely ([[isSlowBox]] — the calibrated-budget shedding
    // VERDICT r17 #2 asks for). The gate is deliberately NOT the
    // calibrated budget itself (review r18: on two merely-drifty
    // builder days, probe 1.55x, the budget gate shed rep 2 and
    // degraded the headline to one cold rep while >900 s of wall
    // room sat unused); it is also DOWN from r17's 1.25x-of-raw
    // ceiling that starved the tail's headroom (ADVICE r17) — the
    // tail is separately fenced by the wall TARGET, and headline
    // quality deliberately outranks in-sweep tail coverage. The
    // projection uses the LATEST completed rep total (rep-major
    // rep 1 carries all warm-up: this box measured 596 s cold vs
    // 364 s warm, and projecting warm reps at cold speed wrongly
    // dropped them)
    var lastRepTotal = rep0Total
    while (fullRepsRun < fullReps && !slowBox &&
        elapsedSec + lastRepTotal <= wallCap - 150.0) {
      curStage = s"rep${fullRepsRun + 1}"
      runRep(); fullRepsRun += 1
      lastRepTotal = selected.flatMap { case (n, _) =>
        runsByQuery.get(n).filter(_.size == fullRepsRun).map(_.last)
      }.sum
      emit(s"rep$fullRepsRun")
    }

    // targeted re-runs (VERDICT r17 #5): one more run for the
    // highest-relative-spread queries — median stability where the
    // spread evidence says a third run buys it, at ~1/10 the cost of
    // a third full pass
    if (fullRepsRun >= 2 && fullRepsRun < maxReps) {
      val cand = mostVariable(okRuns, targetedK)
      val est = cand.flatMap(n => runsByQuery.get(n).map(_.min)).sum
      if (!slowBox && elapsedSec + est <= wallCap - 120.0) {
        targetedNames = cand
        curStage = "targeted"
        cand.foreach { n =>
          allQueries.get(n).foreach(fn => runQuery(n, fn))
          maybeEmit(curStage)
        }
        emit("targeted")
      }
    }

    curStage = "tail_smoke"
    runSmoke(rotatedIn, core = false)
    emit("tail_smoke")

    // Confirm-before-flag (VERDICT r13 #1): a >=10x first-pass ratio
    // can be pure box noise — the r13 artifact of record carried
    // dsir_select at 14.08 while three same-HEAD re-measurements said
    // 1.5-1.9. A flag is an artifact-of-record claim, so it must be
    // SELF-adjudicated before it is emitted: any candidate re-runs its
    // interleaved (base, sf1) pairs in ISOLATION at the end of the
    // sweep (no heavy neighbors sharing the JVM mid-measurement,
    // extra reps), and only a CONFIRMING second measurement flags.
    // Both ratios land in the JSON, so the artifact carries its own
    // adjudication evidence either way.
    confirm = smoke
      .collect { case (k, b, s, _) if s / b >= 10.0 => k }
      .flatMap { name =>
        // the confirmation pass is itself wall-capped (review r18):
        // a warm pair + 5 timed pairs on a heavy candidate late in a
        // slow sweep would blow straight through the 90 s reserve the
        // smoke gates kept. An unconfirmable candidate KEEPS its flag
        // (absent from the map -> infinity -> flagged) — wall
        // pressure must not exonerate a 10x ratio.
        val est = smokeEntryEstSec(
          runsByQuery.get(name).map(_.head).getOrElse(1.0),
          math.max(maxReps, 5) + 1)
        if (elapsedSec + est > wallCap - 30.0) None
        else allQueries.get(name).flatMap { fn =>
          try {
            fn(spark, sfDir).count() // untimed warm-up pair
            fn(spark, sf1Dir).count()
            val pairs = Seq.fill(math.max(maxReps, 5)) {
              val b = time(fn(spark, sfDir).count())
              val s = time(fn(spark, sf1Dir).count())
              (b, s)
            }
            Some(name ->
              (median(pairs.map(_._2)) / median(pairs.map(_._1))))
          } catch { case e: Throwable =>
            // an unmeasurable confirmation keeps the flag: a query
            // that crashes its re-run must not read as exonerated
            System.err.println(s"[bench] confirm $name FAILED: $e")
            Some(name -> Double.PositiveInfinity)
          }
        }
      }.toMap
    flaggedJson = smoke.collect {
      case (k, b, s, _) if s / b >= 10.0 &&
        confirm.getOrElse(k, Double.PositiveInfinity) >= 10.0 =>
      "\"" + k + "\""
    }.mkString("[", ",", "]")
    probes += calibProbe(spark)

    // the FULL per-query line (too long for the driver's ~2,000-char
    // stdout tail, which is why the compact line follows it — and
    // why it prints only here, at the end: mid-sweep it could be the
    // line a kill truncates)
    val ok = okRuns
    val qs = ok.map { case (k, runs) =>
      "\"" + k + "\":" + median(runs)
    }.mkString("{", ",", "}")
    val failed = failedSet.toSeq.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val repTotalsJson = repTotals
      .map(t => math.round(t * 1000) / 1000.0)
      .mkString("[", ",", "]")
    val calibJson = probes.mkString("[", ",", "]")
    val sf1Section =
      if (smoke.isEmpty && smokeSkipped.isEmpty) ""
      else {
        val entries = smoke.map { case (k, b, s, p) =>
          val r = math.round(s / b * 100) / 100.0
          val conf = confirm.get(k).map { c =>
            val cr =
              if (c.isInfinity) "\"unmeasurable\""
              else (math.round(c * 100) / 100.0).toString
            s""","confirm_ratio":$cr"""
          }.getOrElse("")
          "\"" + k + "\":{\"sec\":" + s + ",\"base_sec\":" + b +
            ",\"x10_ratio\":" + r + ",\"pairs\":" + p + conf + "}"
        }.mkString("{", ",", "}")
        val skippedJson = smokeSkipped.map("\"" + _ + "\"")
          .mkString("[", ",", "]")
        val rotatedOutJson = rotatedOut.map("\"" + _ + "\"")
          .mkString("[", ",", "]")
        s""","sf1_smoke":{"dir":"$sf1Dir","copies_of_sf0.1":10,"reps":$maxReps,"rotation":$rotation,"queries":$entries,"flagged":$flaggedJson,"skipped":$skippedJson,"rotated_out":$rotatedOutJson}"""
      }
    // targeted rides the full line UNCONDITIONALLY (review r18): the
    // re-runs shift per-query medians even when the smoke section is
    // absent, and `n_targeted` alone can't say which queries moved
    val targetedJson = targetedNames.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val totalFull = median(repTotals)
    println(s"""{"metric":"total","value":$totalFull,"unit":"sec","reps":$maxReps,"full_reps":$fullReps,"reps_run":$fullRepsRun,"rep_totals":$repTotalsJson,"calib_sec":$calibJson,"n_registered":${allQueries.size},"targeted":$targetedJson,"queries":$qs,"failed":$failed,"sf":"$sfDir"$sf1Section}""")
    // ONE authoritative count: every registered query must carry a
    // timing in this artifact. n_registered is the registry size
    // (every SparkEntry.registry entry); on an unfiltered run any gap
    // between it and n_queries is exactly the failed list, and the
    // process exits nonzero so a partial artifact can't read as a
    // clean one.
    val missing = allQueries.keySet -- ok.map(_._1)
    emit("final")
    spark.stop()
    if (only.isEmpty && missing.nonEmpty) {
      System.err.println(s"[bench] registered queries without a " +
        s"timing: ${missing.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
