package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.ColumnBridge.collectReleased

import graft.functions.{BpeExpressions, TextFunctions}
import graft.operators.{Cdc, DateShift, Dedup, Drift, Frequency,
  Multimodal, Profile, Sampling, Similarity, Skew, TextMetrics,
  TypeInference}
import graft.sources.{BucketedTable, DelimitedSource}

/** Query registry and correctness contract (SURVEY.md §7).
  *
  * Every implemented operator from SURVEY.md §2 (and the LLM-pipeline
  * extensions) has one [[registry]] entry holding its run and its
  * gate: a DuckDB oracle or, for the bench-only sketch and search
  * paths, the oracle-gated contract twin that pins their accuracy.
  * The correctness run reads two views of it, [[queries]] (the
  * oracle-gated runs) and [[oracleSql]] (their SQL). Column names and
  * ordering are kept identical between the Spark query and the oracle
  * SQL (the check hash-compares values after sorting columns by name).
  * Floating-point stats are rounded to fixed decimals on BOTH sides
  * so cross-engine double arithmetic cannot flip the hash.
  */
object SparkEntry {

  private[graft] def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as TIMESTAMP(NANOS)-as-long and as
      // TIMESTAMP(MICROS)/NTZ across testdata generations; the
      // schema-adaptive reader normalizes both to session-zone
      // TimestampType micros (= DuckDB's epoch_us view of the file).
      graft.sources.EventsSource.read(s, dir)
    } else s.read.parquet(s"$dir/$name.parquet")

  // -------------------------------------------------------------------
  // Size-gated broadcast (VERDICT r14 #1). customer/supplier/part grow
  // linearly with scale factor: a hard broadcast() hint on them is fast
  // at bench scale but fails OUTRIGHT at the 100 TB design point — the
  // hinted side no longer fits in executor memory and the hint forbids
  // the shuffle join that would succeed. bcastDim hints only while the
  // base table's on-disk footprint is under the gate; above it the
  // frame is returned unhinted and AQE picks the join strategy from
  // runtime sizes (a selective filter's small output still broadcasts,
  // just by AQE's decision instead of a hard-coded one).
  // -------------------------------------------------------------------

  /** On-disk gate (bytes) for broadcast-hinting a scale-linear base
    * table. Measured on compressed parquet of the WHOLE table — the
    * hinted side is always a narrow projection, so the resident
    * broadcast stays well under the gate's decompressed size. 64 MB
    * keeps the hint through ~sf20 bench scales and drops it long
    * before a 1000-executor cluster would OOM re-sending the table.
    * Overridable (system property) so specs can pin both gate arms.
    */
  private[graft] def broadcastGateBytes: Long =
    sys.props.get("graft.broadcast.gate.bytes").map(_.toLong)
      .getOrElse(64L << 20)

  private val tblBytesCache = new java.util.concurrent
    .ConcurrentHashMap[String, (Long, Long)]()

  /** Total on-disk bytes of `dir/name.parquet` (file or directory);
    * 0 when absent. Cached per path as (mtime, size) — the bench loop
    * re-plans the same tables hundreds of times and must not re-walk
    * them, but a long-lived session must also never gate a broadcast
    * on STALE sizes (review r15): one cheap getFileStatus per call
    * re-validates the mtime, a regenerated/grown table REPLACES its
    * entry in place (one entry per path, no dead-key growth across
    * regenerations — ADVICE r15), and an absent path is never cached
    * at all (it may appear later).
    */
  private[graft] def tblBytes(s: SparkSession, dir: String,
      name: String): Long = {
    val p = s"$dir/$name.parquet"
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st =
      try fs.getFileStatus(path)
      catch { case _: java.io.FileNotFoundException => return 0L }
    val mtime = st.getModificationTime
    tblBytesCache.compute(p, (_, cur) =>
      if (cur != null && cur._1 == mtime) cur
      else (mtime, fs.getContentSummary(path).getLength))._2
  }

  /** Broadcast-hint `df` — a projection/filter/aggregate whose row
    * bound is base table `name` — only when that base table is under
    * [[broadcastGateBytes]] on disk.
    */
  private[graft] def bcastDim(s: SparkSession, dir: String,
      name: String)(df: DataFrame): DataFrame =
    if (tblBytes(s, dir, name) <= broadcastGateBytes) broadcast(df) else df

  // -------------------------------------------------------------------
  // Table column metadata used to generate oracle SQL (mirrors the
  // driver-generated parquet schemas documented in TESTDATA.md).
  // -------------------------------------------------------------------
  private sealed trait K
  private case object Num extends K
  private case object Str extends K
  private case object Ts extends K

  private val tables: Map[String, Seq[(String, K)]] = Map(
    "lineitem" -> Seq(
      "l_orderkey" -> Num, "l_partkey" -> Num, "l_suppkey" -> Num,
      "l_linenumber" -> Num, "l_quantity" -> Num, "l_extendedprice" -> Num,
      "l_discount" -> Num, "l_tax" -> Num, "l_returnflag" -> Str,
      "l_linestatus" -> Str, "l_shipdate" -> Ts),
    "orders" -> Seq(
      "o_orderkey" -> Num, "o_custkey" -> Num, "o_orderstatus" -> Str,
      "o_totalprice" -> Num, "o_orderdate" -> Ts, "o_orderpriority" -> Str),
    "customer" -> Seq(
      "c_custkey" -> Num, "c_name" -> Str, "c_nationkey" -> Num,
      "c_acctbal" -> Num, "c_mktsegment" -> Str),
    "supplier" -> Seq(
      "s_suppkey" -> Num, "s_name" -> Str, "s_nationkey" -> Num,
      "s_acctbal" -> Num),
    "part" -> Seq(
      "p_partkey" -> Num, "p_name" -> Str, "p_brand" -> Str,
      "p_type" -> Str, "p_size" -> Num, "p_retailprice" -> Num),
    "region" -> Seq("r_regionkey" -> Num, "r_name" -> Str),
    "nation" -> Seq(
      "n_nationkey" -> Num, "n_name" -> Str, "n_regionkey" -> Num),
    "events" -> Seq(
      "event_id" -> Num, "ts" -> Ts, "user_id" -> Num,
      "event_type" -> Str, "value" -> Num, "props" -> Str),
    "documents" -> Seq(
      "doc_id" -> Num, "text" -> Str, "lang" -> Str,
      "source" -> Str, "n_chars" -> Num)
  )

  private val dblCols = Set("min_val", "max_val", "mean_val", "median_val",
    "sd_val", "q1_val", "q3_val", "iqr_val")

  /** Round an already-computed summary's doubles to 4 decimals (both
    * sides of the oracle compare round identically) + deterministic
    * row order.
    */
  private def roundSummary(base: DataFrame): DataFrame = {
    val cols = base.columns.map {
      case c if dblCols.contains(c) => round(col(c), 4).as(c)
      case c                        => col(c)
    }
    base.select(cols.toSeq: _*).orderBy("column_name")
  }

  private def roundedSummary(df: DataFrame): DataFrame =
    roundSummary(Profile.summarize(df))

  /** Self-verifying result for the scratch-backed table-layer
    * contracts: collect BOTH the layer's answer and the same answer
    * computed straight from the source table, require row-for-row
    * equality, and return the verified rows as a local relation —
    * so what Verify materializes is byte-identical to what was
    * checked (no lazy re-evaluation window). On divergence this
    * throws with the row-level diff plus a scratch-state dump, and
    * writes the same dump to a sidecar file that survives the run:
    * a wrong answer becomes a LOUD, evidence-carrying error instead
    * of a silent hash mismatch (the round-8/9 driver-only flake).
    */
  private def selfVerified(s: SparkSession, name: String, root: String,
      result: DataFrame, expected: DataFrame): DataFrame = {
    val schema = result.schema
    val got = result.collect()
    val want = expected.collect()
    def canon(rs: Array[org.apache.spark.sql.Row]): Seq[String] =
      rs.map(_.toSeq.map(String.valueOf).mkString("\u0001"))
        .sorted.toSeq
    val gc = canon(got)
    val wc = canon(want)
    // exact match is the fast path; on mismatch, re-try with numeric
    // tolerance on floating cells before declaring divergence — the
    // two sides aggregate over different partitionings, so a double
    // sitting exactly on a rounding boundary must not hard-fail the
    // query as a spurious corruption alarm (round-10 advice). Rows
    // align on their non-floating cells (the contract queries that
    // carry floats are keyed by string/integer columns).
    def tolerantEqual: Boolean = got.length == want.length && {
      // key cells join on an explicit non-printable separator (no
      // bare mkString — ("a","bc") vs ("ab","c") must not collide);
      // the full-row canon is the deterministic tiebreak for rows
      // that differ only in their floating cells, which would
      // otherwise pair arbitrarily and report spurious divergence
      def key(r: org.apache.spark.sql.Row): (String, String) =
        (r.toSeq.filterNot(v =>
            v.isInstanceOf[Double] || v.isInstanceOf[Float])
           .map(String.valueOf).mkString("\u0001"),
         r.toSeq.map(String.valueOf).mkString("\u0001"))
      val gs = got.sortBy(key)
      val ws = want.sortBy(key)
      gs.zip(ws).forall { case (g, w) =>
        g.length == w.length && g.toSeq.zip(w.toSeq).forall {
          case (a: java.lang.Double, b: java.lang.Double) =>
            (a.isNaN && b.isNaN) || math.abs(a - b) <=
              1e-6 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
          case (a: java.lang.Float, b: java.lang.Float) =>
            (a.isNaN && b.isNaN) || math.abs(a - b) <=
              1e-4 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
          case (a, b) => String.valueOf(a) == String.valueOf(b)
        }
      }
    }
    if (gc != wc && !tolerantEqual) {
      val diag = new StringBuilder()
      diag ++= s"[self-verify] $name DIVERGED: table-layer result " +
        s"${got.length} rows vs source-derived ${want.length} rows\n"
      diag ++= s"only-in-result (10): ${gc.diff(wc).take(10)
        .mkString(" | ")}\n"
      diag ++= s"only-in-expected (10): ${wc.diff(gc).take(10)
        .mkString(" | ")}\n"
      diag ++= s"scratch root: $root\n"
      val rootF = new java.io.File(root)
      def walk(f: java.io.File, indent: String): Unit = {
        diag ++= s"$indent${f.getName} ${if (f.isFile) f.length else ""}\n"
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
            .foreach(walk(_, indent + "  "))
        else if (f.getName.endsWith(".json") ||
            f.getName.startsWith("_graft_manifest"))
          diag ++= s"$indent  content: ${scala.util.Try(
            new String(java.nio.file.Files.readAllBytes(f.toPath),
              "UTF-8")).getOrElse("<unreadable>")}\n"
      }
      if (rootF.exists) walk(rootF, "  ") else diag ++= "  <root gone>\n"
      diag ++= "fsck: " + scala.util.Try(
        graft.sources.VersionedTable.fsck(s, root) match {
          case Nil => "healthy"
          case is => is.mkString("; ")
        }).getOrElse("<fsck failed>") + "\n"
      // per-file row counts of every data/sidecar parquet file
      if (rootF.exists) Option(rootF.listFiles()).toSeq.flatten
        .filter(_.isDirectory).sortBy(_.getName).foreach { d =>
          Option(d.listFiles()).toSeq.flatten
            .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
            .foreach { p =>
              val n = scala.util.Try(
                s.read.parquet(p.getAbsolutePath).count()).getOrElse(-1L)
              diag ++= s"  rows ${d.getName}/${p.getName}: $n\n"
            }
        }
      val msg = diag.result()
      // evidence sidecar OUTSIDE the per-JVM runDir (which a shutdown
      // hook deletes) so the driver host retains it post-mortem
      scala.util.Try(java.nio.file.Files.writeString(
        java.nio.file.Paths.get(graft.config.Scratch.dir,
          s"diag_${name}_${System.currentTimeMillis()}.txt"), msg))
      sys.error(msg)
    }
    s.createDataFrame(java.util.Arrays.asList(got: _*), schema)
  }

  private val nullStats: String = Seq("min_val", "max_val", "mean_val",
    "median_val", "sd_val", "q1_val", "q3_val", "iqr_val")
    .map(n => s"CAST(NULL AS DOUBLE) AS $n").mkString(", ")
  private val nullTs: String = Seq("earliest_us", "latest_us", "median_us")
    .map(n => s"CAST(NULL AS BIGINT) AS $n").mkString(", ")

  /** DuckDB oracle for [[roundedSummary]] over one table: a UNION ALL of
    * one aggregate SELECT per column, mirroring Profile.summarize
    * semantics field-for-field (see whiteRRabbit.R:313-423).
    */
  private def summaryOracle(table: String,
      exclude: Set[String] = Set.empty, from: String = ""): String = {
    // `from` substitutes a subquery for the bare table scan (the
    // profile-over-snapshot contract profiles a FILTERED snapshot);
    // column metadata still comes from the named table
    val src = if (from.nonEmpty) from else table
    val parts = tables(table).filterNot(c => exclude(c._1))
      .map { case (c, k) =>
      k match {
        case Num =>
          val d = s"CAST($c AS DOUBLE)"
          s"SELECT '$c' AS column_name, 'numeric' AS data_type, " +
            s"count(*) AS total_count, count($c) AS non_missing, " +
            s"count(*) - count($c) AS missing_count, " +
            s"CAST(0 AS BIGINT) AS empty_count, " +
            s"count(DISTINCT $c) AS distinct_count, " +
            s"round(CAST(min($c) AS DOUBLE),4) AS min_val, " +
            s"round(CAST(max($c) AS DOUBLE),4) AS max_val, " +
            s"round(avg($d),4) AS mean_val, " +
            s"round(quantile_cont($d,0.5),4) AS median_val, " +
            s"round(stddev_samp($d),4) AS sd_val, " +
            s"round(quantile_cont($d,0.25),4) AS q1_val, " +
            s"round(quantile_cont($d,0.75),4) AS q3_val, " +
            s"round(quantile_cont($d,0.75) - quantile_cont($d,0.25),4) AS iqr_val, " +
            s"$nullTs FROM $src"
        case Str =>
          s"SELECT '$c', 'character', count(*), count(nullif($c,'')), " +
            s"count(*) - count($c), count(*) FILTER (WHERE $c = ''), " +
            s"count(DISTINCT nullif($c,'')), $nullStats, $nullTs FROM $src"
        case Ts =>
          s"SELECT '$c', 'POSIXct, POSIXt', count(*), count($c), " +
            s"count(*) - count($c), CAST(0 AS BIGINT), count(DISTINCT $c), " +
            s"$nullStats, epoch_us(min($c)), epoch_us(max($c)), " +
            s"CAST(floor(quantile_cont(epoch_us($c),0.5)) AS BIGINT) " +
            s"FROM $src"
      }
    }
    parts.mkString("", " UNION ALL ", " ORDER BY column_name")
  }

  /** Spark side of the frequency queries: rounded pct, deterministic
    * order. `cols` must avoid floating-point columns (double→string
    * rendering is not oracle-portable; integer and string columns are).
    */
  private def freqQuery(df: DataFrame, cols: Seq[String],
      minCell: Long, maxDistinct: Int): DataFrame =
    Frequency.frequencies(df, cols, minCell, maxDistinct)
      .select(col("col_name"), col("value"), col("cnt"),
        round(col("pct"), 6).as("pct"))
      .orderBy(col("col_name"), col("cnt").desc, col("value"))

  /** Split spec shared by the `data_split` query and its oracle — the
    * oracle embeds the EXACT cumulative-cut doubles (0.9 + 0.05
    * accumulates to 0.9500000000000001 in IEEE; writing "0.95" in the
    * SQL would disagree on boundary keys).
    */
  private val dataSplits: Seq[(String, Double)] =
    Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05)

  private val dataSplitOracle: String = {
    val cuts = dataSplits.scanLeft(0.0)(_ + _._2).tail
    val cases = dataSplits.zip(cuts).init
      .map { case ((name, _), cut) => s"WHEN u < $cut THEN '$name'" }
      .mkString(" ")
    "WITH h AS (SELECT doc_id, " +
      "((((CAST(doc_id AS BIGINT) * 48271) % 2147483647) * 48271 " +
      "% 2147483647) * 48271 % 2147483647) / " +
      "2147483647.0 AS u FROM documents), " +
      s"s AS (SELECT doc_id, CASE $cases " +
      s"ELSE '${dataSplits.last._1}' END AS split FROM h) " +
      "SELECT split, count(*) AS n_docs, min(doc_id) AS min_id, " +
      "max(doc_id) AS max_id FROM s GROUP BY 1 ORDER BY 1"
  }

  private val docLengthHistOracle: String =
    "WITH t AS (SELECT len(string_split(lower(text), ' ')) AS n " +
      "FROM documents), " +
      "b AS (SELECT CAST(length(printf('%b', n)) AS INT) AS bucket, n " +
      "FROM t) " +
      "SELECT bucket, CAST(CASE WHEN bucket > 1 " +
      "THEN power(2, bucket - 1) ELSE 1 END AS BIGINT) AS lo_tokens, " +
      "count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_tokens " +
      "FROM b GROUP BY 1 ORDER BY 1"

  private val packSequencesOracle: String =
    "WITH t AS (SELECT source, doc_id AS id, " +
      "CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok " +
      "FROM documents), " +
      "c AS (SELECT *, coalesce(sum(n_tok) OVER (PARTITION BY source " +
      "ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), " +
      "0) AS cum_before FROM t) " +
      "SELECT source, CAST(floor(cum_before / 2048) AS BIGINT) AS chunk, " +
      "count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
      "min(id) AS first_id, max(id) AS last_id " +
      "FROM c GROUP BY 1, 2 ORDER BY 1, 2"

  /** DuckDB oracle for `Frequency.approxTopK` in its exact regime
    * (capacity ≥ distinct count → Misra-Gries never decrements → counts
    * are exact): plain per-column counts, top-k by (cnt DESC, value),
    * pct over the retained counts.
    */
  private def freqApproxOracle(table: String, cols: Seq[(String, Boolean)],
      k: Int): String = {
    val parts = cols.map { case (c, isString) =>
      val v = if (isString) c else s"CAST($c AS VARCHAR)"
      val nonMissing =
        if (isString) s"$c IS NOT NULL AND $c <> ''" else s"$c IS NOT NULL"
      s"SELECT '$c' AS col_name, $v AS value, count(*) AS cnt FROM $table " +
        s"WHERE $nonMissing GROUP BY 2"
    }
    s"WITH c AS (${parts.mkString(" UNION ALL ")}), " +
      "t AS (SELECT *, row_number() OVER (PARTITION BY col_name " +
      "ORDER BY cnt DESC, value ASC) AS rn FROM c), " +
      s"k AS (SELECT col_name, value, cnt FROM t WHERE rn <= $k) " +
      "SELECT col_name, value, cnt, round(cnt / sum(cnt) OVER " +
      "(PARTITION BY col_name), 6) AS pct FROM k " +
      "ORDER BY col_name, cnt DESC, value"
  }

  /** DuckDB oracle for [[freqQuery]] (semantics of whiteRRabbit.R:329-352
    * incl. the post-truncation percentage denominator at :344).
    */
  private def freqOracle(table: String, cols: Seq[(String, Boolean)],
      minCell: Long, maxDistinct: Int): String = {
    val parts = cols.map { case (c, isString) =>
      val v = if (isString) c else s"CAST($c AS VARCHAR)"
      val nonMissing =
        if (isString) s"$c IS NOT NULL AND $c <> ''" else s"$c IS NOT NULL"
      s"SELECT '$c' AS col_name, $v AS value, count(*) AS cnt FROM $table " +
        s"WHERE $nonMissing GROUP BY 2 HAVING count(*) >= $minCell"
    }
    s"WITH c AS (${parts.mkString(" UNION ALL ")}), " +
      "t AS (SELECT *, row_number() OVER (PARTITION BY col_name " +
      "ORDER BY cnt DESC, value ASC) AS rn FROM c), " +
      s"k AS (SELECT col_name, value, cnt FROM t WHERE rn <= $maxDistinct) " +
      "SELECT col_name, value, cnt, round(cnt / sum(cnt) OVER " +
      "(PARTITION BY col_name), 6) AS pct FROM k " +
      "ORDER BY col_name, cnt DESC, value"
  }

  // -------------------------------------------------------------------
  // Type inference (SURVEY §2 ops 5-6)
  // -------------------------------------------------------------------

  /** Stringify a typed table — the all-string shape a CSV read yields
    * (whiteRRabbit.R:236) — so inference has real work to do.
    */
  private def stringified(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).cast(StringType).as(c)).toSeq: _*)

  private val inferSchema = StructType(Seq(
    StructField("column_name", StringType, nullable = false),
    StructField("inferred_type", StringType, nullable = false)))

  /** Inference is a single full-column aggregation pass since r15
    * (the r13 #6 shareScan cache that amortized the old multi-pass
    * cascade is gone with the passes it amortized).
    */
  private def typeinferQuery(s: SparkSession, df: DataFrame): DataFrame = {
    // widened: a one-row-group parquet scan is one task, and the
    // date-parse cascade over stringified orders ran 2.0 s in it
    val inf = TypeInference.infer(Profile.widened(stringified(df)))
    val rows = inf.toSeq.sortBy(_._1).map { case (c, t) =>
      Row(c, t.label) }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), inferSchema)
  }

  /** Oracle mirroring the inference decision on clean data: numeric if
    * every non-empty value parses (the reference's all-or-nothing rule
    * subsumes the 0.8 vote when the column is uniform), else datetime
    * at the 0.8 threshold, else character (whiteRRabbit.R:139-204).
    * One `column_name, inferred_type` row: the vote over the string
    * expression `v` of `table`.
    */
  private def inferVoteOracle(table: String, column: String,
      v: String): String = {
    val ne = s"$v IS NOT NULL AND $v <> ''"
    val numFail = s"count(*) FILTER (WHERE $ne AND " +
      s"try_cast(trim($v) AS DOUBLE) IS NULL)"
    val numRate = s"avg(CASE WHEN $ne THEN (CASE WHEN " +
      s"try_cast(trim($v) AS DOUBLE) IS NOT NULL THEN 1.0 ELSE 0.0 " +
      s"END) END)"
    val dateRate = s"avg(CASE WHEN $ne THEN (CASE WHEN " +
      s"try_cast(trim($v) AS TIMESTAMP) IS NOT NULL THEN 1.0 ELSE 0.0 " +
      s"END) END)"
    s"SELECT '$column' AS column_name, CASE WHEN $numFail = 0 AND " +
      s"$numRate >= 0.8 THEN 'numeric' WHEN $dateRate >= 0.8 THEN " +
      s"'datetime' ELSE 'character' END AS inferred_type FROM $table"
  }

  /** [[inferVoteOracle]] over every column of `table`, stringified. */
  private def typeinferOracle(table: String): String =
    tables(table).map { case (c, _) =>
      inferVoteOracle(table, c, s"CAST($c AS VARCHAR)")
    }.mkString("", " UNION ALL ", " ORDER BY column_name")

  // -------------------------------------------------------------------
  // Sampling / date shift / CSV roundtrip / overview (ops 1-4, 7, 16)
  // -------------------------------------------------------------------

  /** The two deterministic orders-derived snapshots behind `cdc_diff`
    * and `table_time_travel` (drop every 10th key vs drop every 7th
    * with seeded price/status mutations).
    */
  private def cdcSnapshots(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val orders = tbl(s, dir, "orders")
    val old = orders.where(col("o_orderkey") % 10 =!= 0)
    val nw = orders.where(col("o_orderkey") % 7 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 100)
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 5 === 0, lit("X"))
          .otherwise(col("o_orderstatus")))
    (old, nw)
  }

  /** The (events, per-day-deduped orders) pair behind the as-of
    * family: right side unique per (key, time) as the operator's
    * determinism contract requires.
    */
  private def asofBase(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val ev = tbl(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("t_us"))
    val ord = tbl(s, dir, "orders")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("last_order"))
      .select(col("o_custkey"),
        unix_micros(col("o_orderdate").cast(TimestampType)).as("t_us"),
        col("last_order"))
    (ev, ord)
  }

  private def sampleQuery(s: SparkSession, dir: String): DataFrame = {
    // parquet-footer count feeds the scale path's pre-thin — the
    // analogue of the reference's awk line-number pre-filter
    val li = tbl(s, dir, "lineitem")
    Sampling.exactK(li, 1000, seed = 42L, totalRows = Some(li.count()))
      .agg(count(lit(1)).as("n"))
  }

  private def dateshiftQuery(s: SparkSession, dir: String): DataFrame = {
    // One scan, zero joins: carry the original value as a string (not
    // date-like, so shiftDates leaves it alone) next to the date column
    // it shifts — orig and shifted ride the same narrow projection.
    val base = tbl(s, dir, "orders").select(
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("orig_date"),
      col("o_orderdate").as("shifted_date"))
    val shifted = DateShift.shiftDates(base, seed = 42L)
    val diff = datediff(to_date(col("shifted_date")),
      to_date(col("orig_date")))
    shifted.agg(
      count(lit(1)).as("n"),
      min(diff).as("min_shift"),
      max(diff).as("max_shift"),
      countDistinct(diff).as("n_shifts"))
  }

  /** CSV source roundtrip (ops 1-3 + inference): stringify lineitem →
    * write TSV → fast line count → all-string read → promote → profile
    * facts that must equal the original parquet table's.
    */
  private def csvRoundtripQuery(s: SparkSession, dir: String): DataFrame = {
    val scratch = graft.config.Scratch.runDir + "/csv_rt_" +
      dir.replaceAll("[^A-Za-z0-9]", "_")
    // repartition(1), not coalesce(1): coalesce would collapse the
    // whole stringification into the single writer task; the shuffle
    // keeps it parallel and only the file write is single-threaded
    stringified(tbl(s, dir, "lineitem"))
      .repartition(1).write.mode("overwrite")
      .option("sep", "\t").option("header", "true").csv(scratch)
    val nLines = DelimitedSource.fastRowCount(s, scratch)
    val raw = DelimitedSource.read(s, scratch, "\t")
    val (typed, _) = TypeInference.inferAndPromote(raw)
    typed.agg(
      count(lit(1)).as("n_rows"),
      round(sum(col("l_quantity")), 2).as("sum_qty"),
      countDistinct(col("l_returnflag")).as("n_flags"),
      unix_micros(min(col("l_shipdate"))).as("earliest_us"))
      .withColumn("n_lines", lit(nLines))
      .withColumn("n_fields", lit(raw.columns.length))
  }

  private val csvRoundtripOracle: String =
    "SELECT count(*) AS n_rows, round(sum(l_quantity),2) AS sum_qty, " +
      "count(DISTINCT l_returnflag) AS n_flags, " +
      "epoch_us(min(l_shipdate)) AS earliest_us, " +
      "count(*) + 1 AS n_lines, CAST(11 AS INT) AS n_fields FROM lineitem"

  /** JSONL source roundtrip — the LLM-corpus interchange format: write
    * the documents table as JSON Lines, read it back through Spark's
    * JSON source (schema re-inferred from the data), and aggregate
    * facts that must equal the parquet original's. Exercises the JSON
    * reader/writer path end-to-end including string escaping.
    */
  private def jsonlRoundtripQuery(s: SparkSession, dir: String): DataFrame = {
    val scratch = graft.config.Scratch.runDir + "/jsonl_rt_" +
      dir.replaceAll("[^A-Za-z0-9]", "_")
    tbl(s, dir, "documents")
      .write.mode("overwrite").json(scratch)
    val back = s.read.json(scratch)
    back.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("sum_chars"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      max(col("doc_id")).as("max_id"),
      sum(length(col("text"))).as("sum_text_len"))
  }

  private val jsonlRoundtripOracle: String =
    "SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
      "count(DISTINCT lang) AS n_langs, " +
      "count(DISTINCT source) AS n_sources, max(doc_id) AS max_id, " +
      "CAST(sum(length(text)) AS BIGINT) AS sum_text_len FROM documents"

  /** ORC source roundtrip — same facts contract as the JSONL
    * roundtrip over Spark's other built-in columnar format (typed
    * schema preserved, no inference needed).
    */
  private def orcRoundtripQuery(s: SparkSession, dir: String): DataFrame = {
    val scratch = graft.config.Scratch.runDir + "/orc_rt_" +
      dir.replaceAll("[^A-Za-z0-9]", "_")
    tbl(s, dir, "documents")
      .write.mode("overwrite").orc(scratch)
    s.read.orc(scratch).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("sum_chars"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      max(col("doc_id")).as("max_id"),
      sum(length(col("text"))).as("sum_text_len"))
  }

  /** Partition-pruned read — the layout technique that turns a
    * predicate into skipped IO at 100 TB: write documents
    * hive-partitioned by lang, then read back with a lang filter. The
    * scan must plan PartitionFilters (verified in
    * ScaleTechniquesSpec); the facts must match filtering the
    * original.
    */
  private def partitionPruneQuery(s: SparkSession, dir: String): DataFrame = {
    val scratch = graft.config.Scratch.runDir + "/part_prune_" +
      dir.replaceAll("[^A-Za-z0-9]", "_")
    tbl(s, dir, "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(scratch)
    s.read.parquet(scratch)
      .where(col("lang") === "en")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("sum_chars"))
  }

  private val partitionPruneOracle: String =
    "SELECT count(*) AS n_docs, count(DISTINCT source) AS n_sources, " +
      "CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM documents " +
      "WHERE lang = 'en'"

  private val overviewTables = Seq("customer", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  private val overviewSchema = StructType(Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("n_fields", IntegerType, nullable = false),
    StructField("n_fields_empty", LongType, nullable = false)))

  /** Overview assembly (op 16, whiteRRabbit.R:466-480) over the parquet
    * folder: one lightweight aggregation per table (counts only — no
    * stat suites), tables scanned independently.
    */
  private def overviewQuery(s: SparkSession, dir: String): DataFrame = {
    val rows = overviewTables.map { name =>
      val df = tbl(s, dir, name)
      val fields = df.schema.fields
      val aggs = count(lit(1)).as("n") +: fields.zipWithIndex.map {
        case (f, i) =>
          val c = col(f.name)
          val nonMissing = f.dataType match {
            case StringType => count(when(c.isNotNull && c =!= "", 1))
            case _          => count(c)
          }
          nonMissing.as(s"nm_$i")
      }.toSeq
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      val nEmpty = fields.indices
        .count(i => r.getAs[Long](s"nm_$i") == 0L).toLong
      Row(name, r.getAs[Long]("n"), fields.length, nEmpty)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), overviewSchema)
      .orderBy("table_name")
  }

  private def overviewOracle: String = {
    val parts = overviewTables.map { t =>
      val cols = tables(t)
      val emptyTerms = cols.map { case (c, k) =>
        val cnt = if (k == Str) s"count(nullif($c,''))" else s"count($c)"
        s"(CASE WHEN $cnt = 0 THEN 1 ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT '$t' AS table_name, count(*) AS n_rows, " +
        s"CAST(${cols.length} AS INT) AS n_fields, " +
        s"CAST($emptyTerms AS BIGINT) AS n_fields_empty FROM $t"
    }
    parts.mkString("", " UNION ALL ", " ORDER BY table_name")
  }

  // -------------------------------------------------------------------
  // Relational benchmarks: aggregation / broadcast join / window.
  // Money sums go through DECIMAL so both engines sum exactly (double
  // summation order is engine-dependent; decimal is not).
  // -------------------------------------------------------------------

  private def decSum(c: org.apache.spark.sql.Column, scale: Int) =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  private def tpchQ1(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    val revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    li.groupBy("l_returnflag", "l_linestatus").agg(
      decSum(col("l_quantity"), 2).as("sum_qty"),
      decSum(col("l_extendedprice"), 2).as("sum_base"),
      decSum(revenue, 4).as("sum_disc"),
      decSum(revenue * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
      round(avg(col("l_quantity")), 4).as("avg_qty"),
      round(avg(col("l_discount")), 6).as("avg_disc"),
      count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val tpchQ1Oracle: String =
    "SELECT l_returnflag, l_linestatus, " +
      "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
      "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base, " +
      "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc, " +
      "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge, " +
      "round(avg(l_quantity),4) AS avg_qty, " +
      "round(avg(l_discount),6) AS avg_disc, count(*) AS n " +
      "FROM lineitem GROUP BY 1,2 ORDER BY 1,2"

  /** Q5-style multi-join: two broadcast dimension chains feeding the
    * fact-side join, region-filtered, revenue per nation.
    */
  private def tpchQ5(s: SparkSession, dir: String): DataFrame = {
    val lo = lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0))
    val hi = lit(java.time.LocalDateTime.of(1997, 1, 1, 0, 0))
    val dims = tbl(s, dir, "supplier")
      .join(tbl(s, dir, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .join(tbl(s, dir, "region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
    val ords = tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
    tbl(s, dir, "lineitem")
      .join(ords, col("l_orderkey") === col("o_orderkey"))
      .join(bcastDim(s, dir, "customer")(tbl(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(bcastDim(s, dir, "supplier")(dims),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        4).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private val tpchQ5Oracle: String =
    "SELECT n_name, " +
      "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
      "FROM customer, orders, lineitem, supplier, nation, region " +
      "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey " +
      "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
      "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey " +
      "AND r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' " +
      "AND o_orderdate < TIMESTAMP '1997-01-01' " +
      "GROUP BY 1 ORDER BY revenue DESC, n_name"

  /** Q7-shaped 6-way join (international trade volume): the two big
    * sides (lineitem, orders) meet in one shuffled join; supplier,
    * customer, and both nation aliases ride broadcasts. Exercises
    * Catalyst's join reordering + the same-table-twice alias shape.
    */
  private def tpchQ7(s: SparkSession, dir: String): DataFrame = {
    val n = tbl(s, dir, "nation")
    val n1 = n.select(col("n_nationkey").as("s_nk"),
      col("n_name").as("supp_nation"))
    val n2 = n.select(col("n_nationkey").as("c_nk"),
      col("n_name").as("cust_nation"))
    tbl(s, dir, "lineitem")
      .join(tbl(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(bcastDim(s, dir, "supplier")(tbl(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(bcastDim(s, dir, "customer")(tbl(s, dir, "customer")
          .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        4).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  private val tpchQ7Oracle: String =
    "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
      "CAST(year(l_shipdate) AS INT) AS l_year, " +
      "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) " +
      "AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "JOIN supplier ON l_suppkey = s_suppkey " +
      "JOIN customer ON o_custkey = c_custkey " +
      "JOIN nation n1 ON s_nationkey = n1.n_nationkey " +
      "JOIN nation n2 ON c_nationkey = n2.n_nationkey " +
      "WHERE n1.n_name <> n2.n_name " +
      "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"

  private val groupTopkOracle: String =
    "WITH t AS (SELECT source, unnest(string_split(lower(text), ' ')) " +
      "AS tok FROM documents), " +
      "c AS (SELECT source, tok AS value, count(*) AS cnt FROM t " +
      "GROUP BY 1, 2), " +
      "r AS (SELECT source, value, cnt, row_number() OVER " +
      "(PARTITION BY source ORDER BY cnt DESC, value) AS rank FROM c) " +
      "SELECT source, CAST(rank AS INT) AS rank, value, cnt FROM r " +
      "WHERE rank <= 3 ORDER BY source, rank"

  /** Q8 shape (national market share): the widest join in the suite —
    * lineitem against part, supplier, orders, customer, both nation
    * roles, and region, with the share as a conditional-over-total
    * ratio per year. Every dimension side is an explicit broadcast;
    * only the fact table shuffles (for the orders join). Adapted to
    * this schema: region AMERICA, supplier nation NATION_1, p_type
    * STANDARD (reference TPC-H 2.18 Q8; predicates fit TESTDATA.md's
    * domains).
    */
  private def tpchQ8(s: SparkSession, dir: String): DataFrame = {
    val p = tbl(s, dir, "part").where(col("p_type") === "STANDARD")
      .select("p_partkey")
    val o = tbl(s, dir, "orders")
      .where(col("o_orderdate") >= "1996-01-01" &&
        col("o_orderdate") < "1998-01-01")
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
    val n1 = tbl(s, dir, "nation")
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
    val n2 = tbl(s, dir, "nation")
      .select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))
    val r = tbl(s, dir, "region").where(col("r_name") === "AMERICA")
      .select("r_regionkey")
    val zero = lit(0.0).cast("decimal(18,4)")
    tbl(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)").as("volume"))
      .join(bcastDim(s, dir, "part")(p),
        col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(bcastDim(s, dir, "customer")(tbl(s, dir, "customer")
          .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .join(bcastDim(s, dir, "supplier")(tbl(s, dir, "supplier")
          .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
      .groupBy(col("o_year"))
      .agg(sum(when(col("supp_nation") === "NATION_1", col("volume"))
          .otherwise(zero)).as("nat_vol"),
        sum(col("volume")).as("tot_vol"))
      .select(col("o_year"),
        round(col("nat_vol").cast("double") /
          col("tot_vol").cast("double"), 6).as("mkt_share"))
      .orderBy("o_year")
  }

  private val tpchQ8Oracle: String =
    "SELECT CAST(year(o_orderdate) AS INT) AS o_year, " +
      "round(CAST(sum(CASE WHEN n2.n_name = 'NATION_1' THEN " +
      "CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) " +
      "ELSE CAST(0.0 AS DECIMAL(18,4)) END) AS DOUBLE) / " +
      "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) " +
      "AS DECIMAL(18,4))) AS DOUBLE), 6) AS mkt_share " +
      "FROM lineitem JOIN part ON p_partkey = l_partkey " +
      "JOIN orders ON o_orderkey = l_orderkey " +
      "JOIN customer ON c_custkey = o_custkey " +
      "JOIN nation n1 ON n1.n_nationkey = c_nationkey " +
      "JOIN region ON r_regionkey = n1.n_regionkey " +
      "JOIN supplier ON s_suppkey = l_suppkey " +
      "JOIN nation n2 ON n2.n_nationkey = s_nationkey " +
      "WHERE r_name = 'AMERICA' AND p_type = 'STANDARD' " +
      "AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01' " +
      "GROUP BY 1 ORDER BY 1"

  /** Q14 shape (promotion effect): conditional-share aggregate over a
    * fact-dim broadcast join, by ship month across 1996 (reference
    * Q14 is a single month; twelve rows exercise the same plan with
    * a group key).
    */
  private def tpchQ14(s: SparkSession, dir: String): DataFrame = {
    val zero = lit(0.0).cast("decimal(18,4)")
    tbl(s, dir, "lineitem")
      .where(col("l_shipdate") >= "1996-01-01" &&
        col("l_shipdate") < "1997-01-01")
      .select(month(col("l_shipdate")).as("mo"), col("l_partkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)").as("volume"))
      .join(bcastDim(s, dir, "part")(tbl(s, dir, "part")
        .select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("mo"))
      .agg(sum(when(col("p_type") === "PROMO", col("volume"))
          .otherwise(zero)).as("promo_vol"),
        sum(col("volume")).as("tot_vol"))
      .select(col("mo"),
        round(lit(100.0) * col("promo_vol").cast("double") /
          col("tot_vol").cast("double"), 6).as("promo_share"))
      .orderBy("mo")
  }

  private val tpchQ14Oracle: String =
    "SELECT CAST(month(l_shipdate) AS INT) AS mo, " +
      "round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN " +
      "CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) " +
      "ELSE CAST(0.0 AS DECIMAL(18,4)) END) AS DOUBLE) / " +
      "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) " +
      "AS DECIMAL(18,4))) AS DOUBLE), 6) AS promo_share " +
      "FROM lineitem JOIN part ON p_partkey = l_partkey " +
      "WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01' " +
      "GROUP BY 1 ORDER BY 1"

  /** Q15 shape (top supplier): revenue aggregate reused twice — once
    * for the per-supplier totals, once for the scalar max — with the
    * winner(s) selected by exact-decimal equality (ties are
    * well-defined, unlike a double max). The max rides back in as a
    * one-row broadcast.
    */
  private def tpchQ15(s: SparkSession, dir: String): DataFrame = {
    val rev = tbl(s, dir, "lineitem")
      .where(col("l_shipdate") >= "1996-01-01" &&
        col("l_shipdate") < "1996-04-01")
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).as("total_revenue"))
    val top = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev.join(broadcast(top),
        col("total_revenue") === col("max_revenue"))
      .join(bcastDim(s, dir, "supplier")(tbl(s, dir, "supplier")
        .select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_revenue").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  private val tpchQ15Oracle: String =
    "WITH rev AS (SELECT l_suppkey, " +
      "sum(CAST(l_extendedprice * (1.0 - l_discount) " +
      "AS DECIMAL(18,4))) AS total_revenue FROM lineitem " +
      "WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01' " +
      "GROUP BY 1) " +
      "SELECT s_suppkey, s_name, " +
      "CAST(total_revenue AS DOUBLE) AS total_revenue " +
      "FROM rev JOIN supplier ON s_suppkey = l_suppkey " +
      "WHERE total_revenue = (SELECT max(total_revenue) FROM rev) " +
      "ORDER BY s_suppkey"

  private def tpchQ3(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit(java.time.LocalDateTime.of(1997, 1, 1, 0, 0))
    val cust = tbl(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val ords = tbl(s, dir, "orders").filter(col("o_orderdate") < cutoff)
    val li = tbl(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
    // customer is the small dimension at bench scale — hint it under
    // the gate so the orders and lineitem sides never shuffle for the
    // join; past the gate AQE decides (customer is sf-linear).
    li.join(ords, col("l_orderkey") === col("o_orderkey"))
      .join(bcastDim(s, dir, "customer")(cust),
        col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Q10 shape — returned-item revenue report: the revenue aggregate
    * runs FIRST on the quarter-filtered fact join, keyed by custkey
    * alone, and only the aggregated (≤ active-customer-count) result
    * joins the customer/nation dimensions — at 100 TB the dimensions
    * never see un-aggregated lineitem rows, and the aggregate side is
    * the broadcast side. `rev`'s cardinality is O(active customers) —
    * sf-LINEAR, not fixed — so the hint rides the [[bcastDim]] gate
    * keyed on the customer base table (VERDICT r15 #3): under the
    * gate the small-scale plan keeps its broadcast, above it the hint
    * drops and AQE picks the join strategy from runtime sizes instead
    * of a forced 100 TB-scale broadcast OOM.
    */
  private def tpchQ10(s: SparkSession, dir: String): DataFrame = {
    val lo = lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0))
    val hi = lit(java.time.LocalDateTime.of(1996, 4, 1, 0, 0))
    val ords = tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
    val li = tbl(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    val rev = li.join(ords, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        4).as("revenue"))
    tbl(s, dir, "customer")
      .join(bcastDim(s, dir, "customer")(rev),
        col("c_custkey") === col("o_custkey"))
      .join(broadcast(tbl(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  private val tpchQ10Oracle: String =
    "WITH rev AS (SELECT o_custkey, " +
      "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) " +
      "AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
      "WHERE o_orderdate >= TIMESTAMP '1996-01-01' " +
      "AND o_orderdate < TIMESTAMP '1996-04-01' " +
      "AND l_returnflag = 'R' GROUP BY 1) " +
      "SELECT c_custkey, c_name, revenue, c_acctbal, n_name " +
      "FROM rev JOIN customer ON c_custkey = o_custkey " +
      "JOIN nation ON c_nationkey = n_nationkey " +
      "ORDER BY revenue DESC, c_custkey LIMIT 20"

  /** Q18 shape — large-volume orders: aggregate the fact table to
    * find qualifying orders (HAVING over a decimal-exact sum), then
    * semi-join-style enrich only that tiny set with its order and
    * customer rows; the qualifying aggregate is the broadcast side
    * both times. Both `big` (keyed by orderkey) and `sel` (orders ⨝
    * big) are O(orders) — sf-LINEAR — so both hints ride the
    * [[bcastDim]] gate keyed on the orders base table (VERDICT r15
    * #3): at 100 TB the hints drop and AQE sees the aggregates'
    * runtime sizes (the HAVING filter usually keeps them tiny, and
    * AQE re-broadcasts exactly when that holds).
    */
  private def tpchQ18(s: SparkSession, dir: String): DataFrame = {
    val big = tbl(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(decSum(col("l_quantity"), 2).as("sum_qty"))
      .where(col("sum_qty") > 250)
    val sel = tbl(s, dir, "orders")
      .join(bcastDim(s, dir, "orders")(big),
        col("o_orderkey") === col("l_orderkey"))
    tbl(s, dir, "customer")
      .join(bcastDim(s, dir, "orders")(sel),
        col("c_custkey") === col("o_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate"),
        col("o_orderkey"))
      .limit(100)
  }

  private val tpchQ18Oracle: String =
    "WITH big AS (SELECT l_orderkey, " +
      "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) " +
      "AS sum_qty FROM lineitem GROUP BY 1 HAVING sum_qty > 250) " +
      "SELECT c_name, c_custkey, o_orderkey, o_orderdate, " +
      "o_totalprice, sum_qty " +
      "FROM big JOIN orders ON o_orderkey = l_orderkey " +
      "JOIN customer ON c_custkey = o_custkey " +
      "ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"

  /** Q12 shape (shipping-priority classification, adapted — this
    * schema has no l_shipmode/commitdate): per line status, how many
    * 1996-shipped lineitems belong to high-priority vs low-priority
    * orders. Both sides are fact-sized at scale, so the orderkey join
    * is a plain shuffled hash join — but the lineitem side is
    * date-filtered and projected to two columns BEFORE the exchange,
    * and the conditional counts are map-side partial aggregates.
    * Reference shape: TPC-H 2.18 Q12.
    */
  private def tpchQ12(s: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    tbl(s, dir, "lineitem")
      .where(col("l_shipdate") >= "1996-01-01" &&
        col("l_shipdate") < "1997-01-01")
      .select("l_orderkey", "l_linestatus")
      .join(tbl(s, dir, "orders")
          .select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_cnt"),
        sum(when(high, 0L).otherwise(1L)).as("low_cnt"))
      .orderBy("l_linestatus")
  }

  /** Q9 shape (product-type profit rollup, adapted — this schema has
    * no partsupp, so profit omits the supply-cost term): revenue of
    * 'red'-named parts by supplier nation × order year. The classic
    * many-dimension fact rollup: part/supplier/nation broadcast
    * around the lineitem scan, ONE fact-fact shuffle (orders, for the
    * year), map-side partial aggregation. Reference shape: TPC-H 2.18
    * Q9.
    */
  private def tpchQ9(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
        col("l_extendedprice"), col("l_discount"))
    li.join(bcastDim(s, dir, "part")(tbl(s, dir, "part")
        .where(col("p_name").contains("red")).select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(bcastDim(s, dir, "supplier")(tbl(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(tbl(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(tbl(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        4).as("profit"))
      .select(col("n_name").as("nation"), col("o_year"), col("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  private val tpchQ9Oracle: String =
    "SELECT n_name AS nation, year(o_orderdate) AS o_year, " +
      "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) " +
      "AS DECIMAL(18,4))) AS DOUBLE) AS profit " +
      "FROM lineitem JOIN part ON l_partkey = p_partkey " +
      "JOIN supplier ON l_suppkey = s_suppkey " +
      "JOIN nation ON s_nationkey = n_nationkey " +
      "JOIN orders ON l_orderkey = o_orderkey " +
      "WHERE p_name LIKE '%red%' " +
      "GROUP BY 1, 2 ORDER BY 1, 2 DESC"

  private val tpchQ12Oracle: String =
    "SELECT l_linestatus, " +
      "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS high_cnt, " +
      "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') " +
      "THEN 0 ELSE 1 END) AS BIGINT) AS low_cnt " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01' " +
      "GROUP BY 1 ORDER BY 1"

  /** Q13 shape (customer order-count distribution): LEFT OUTER join
    * so zero-order customers survive with c_count = 0, then a second
    * aggregation over the first's output. Q13's join-condition filter
    * (`AND o_comment NOT LIKE ...` in the reference; a priority class
    * here) is pushed into the orders scan before the join — equivalent
    * for an outer join's null-extension semantics and prunes the
    * shuffle. The second groupBy's input is ≤ |customer| rows and its
    * key domain is tiny (distinct counts), so it collapses into a
    * near-free final exchange. Reference shape: TPC-H 2.18 Q13.
    */
  private def tpchQ13(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders")
      .where(col("o_orderpriority") =!= "5-LOW")
      .select("o_orderkey", "o_custkey")
    tbl(s, dir, "customer").select("c_custkey")
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  private val tpchQ13Oracle: String =
    "WITH oc AS (SELECT c_custkey, count(o_orderkey) AS c_count " +
      "FROM customer LEFT JOIN orders ON c_custkey = o_custkey " +
      "AND o_orderpriority <> '5-LOW' GROUP BY 1) " +
      "SELECT c_count, count(*) AS custdist FROM oc " +
      "GROUP BY 1 ORDER BY custdist DESC, c_count DESC"

  /** Q17 shape (small-quantity-order revenue): the correlated
    * `l_quantity < 0.2 * avg(l_quantity per part)` subquery becomes
    * one per-part aggregate JOINED BACK to the same filtered fact
    * slice. The brand filter runs FIRST (broadcast part-key semi
    * shape), so the avg aggregate only ever sees the brand's
    * lineitems, and its result — bounded by the brand's part count —
    * rides back in as a broadcast. l_quantity is integral, so the
    * double avg is order-independent (exact integer sums < 2^53) and
    * the 0.2·avg threshold compares identically in both engines.
    * Reference shape: TPC-H 2.18 Q17.
    */
  private def tpchQ17(s: SparkSession, dir: String): DataFrame = {
    val brandLi = tbl(s, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(bcastDim(s, dir, "part")(tbl(s, dir, "part")
          .where(col("p_brand") === "Brand#1").select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
    val avgq = brandLi.groupBy(col("l_partkey").as("pk"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
    // avgq's row bound is the brand's part count — sf-linear like part.
    brandLi.join(bcastDim(s, dir, "part")(avgq),
        col("l_partkey") === col("pk"))
      .where(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(round(decSum(col("l_extendedprice"), 2) / lit(7.0), 6)
        .as("avg_yearly"))
  }

  private val tpchQ17Oracle: String =
    "WITH bl AS (SELECT l_partkey, l_quantity, l_extendedprice " +
      "FROM lineitem JOIN part ON p_partkey = l_partkey " +
      "WHERE p_brand = 'Brand#1'), " +
      "a AS (SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty " +
      "FROM bl GROUP BY 1) " +
      "SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) " +
      "AS DOUBLE) / 7.0, 6) AS avg_yearly " +
      "FROM bl JOIN a ON pk = l_partkey " +
      "WHERE l_quantity < 0.2 * avg_qty"

  /** Q19 shape (disjunctive predicate revenue): three
    * brand/size/quantity conjunctions OR-ed together. The disjunction
    * cannot push down as-is, so its UNION BOUNDS do: the part side
    * pre-filters to the three brands, the lineitem side to the
    * quantity hull [1,30] — both reach the parquet scan as
    * `PushedFilters` — and the exact OR evaluates only on join
    * survivors. Part rides in as a broadcast. Reference shape:
    * TPC-H 2.18 Q19.
    */
  private def tpchQ19(s: SparkSession, dir: String): DataFrame = {
    val p = tbl(s, dir, "part")
      .where(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34"))
      .select("p_partkey", "p_brand", "p_size")
    val li = tbl(s, dir, "lineitem")
      .where(col("l_quantity").between(1, 30))
      .select("l_partkey", "l_quantity", "l_extendedprice",
        "l_discount")
    val cond =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 30))
    li.join(bcastDim(s, dir, "part")(p),
        col("l_partkey") === col("p_partkey"))
      .where(cond)
      .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        4).as("revenue"))
  }

  private val tpchQ19Oracle: String =
    "SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) " +
      "AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
      "FROM lineitem JOIN part ON p_partkey = l_partkey WHERE " +
      "(p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 " +
      "AND l_quantity BETWEEN 1 AND 11) OR " +
      "(p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 " +
      "AND l_quantity BETWEEN 10 AND 20) OR " +
      "(p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 " +
      "AND l_quantity BETWEEN 20 AND 30)"

  /** Q21 shape (suppliers who kept orders waiting, adapted — "late"
    * is shipping >60 days after the order date since this schema has
    * no commit/receipt dates): finished orders served by ≥2 distinct
    * suppliers where EXACTLY ONE supplier shipped late. The
    * reference's EXISTS (another supplier) / NOT EXISTS (another
    * late supplier) pair collapses into ONE per-order aggregate —
    * n_supp ≥ 2 ∧ n_late = 1, with max(late supplier) well-defined
    * because the filter pins n_late to one — replacing two extra
    * fact-fact joins with a single shuffle, the scale-right plan.
    * Reference shape: TPC-H 2.18 Q21.
    */
  private def tpchQ21(s: SparkSession, dir: String): DataFrame = {
    val late = col("l_shipdate") >
      col("o_orderdate") + expr("INTERVAL 60 DAYS")
    tbl(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(tbl(s, dir, "orders")
          .where(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey")
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(late, col("l_suppkey"))).as("n_late"),
        max(when(late, col("l_suppkey"))).as("blame"))
      .where(col("n_supp") >= 2 && col("n_late") === 1)
      .groupBy(col("blame"))
      .agg(count(lit(1)).as("numwait"))
      .join(bcastDim(s, dir, "supplier")(tbl(s, dir, "supplier")
        .select("s_suppkey", "s_name")),
        col("blame") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(20)
  }

  private val tpchQ21Oracle: String =
    "WITH j AS (SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "WHERE o_orderstatus = 'F'), " +
      "agg AS (SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp, " +
      "count(DISTINCT CASE WHEN l_shipdate > o_orderdate + " +
      "INTERVAL 60 DAY THEN l_suppkey END) AS n_late, " +
      "max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY " +
      "THEN l_suppkey END) AS blame FROM j GROUP BY 1) " +
      "SELECT s_suppkey, s_name, count(*) AS numwait " +
      "FROM agg JOIN supplier ON s_suppkey = blame " +
      "WHERE n_supp >= 2 AND n_late = 1 " +
      "GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey LIMIT 20"

  /** Q22 shape (dormant high-balance customers, adapted — no phone
    * country codes here, and every customer has SOME order, so
    * "never ordered" becomes "no order since 2000-01-01"): customers
    * whose balance beats the positive-balance average and who have no
    * recent order, rolled up per market segment. The average is
    * computed as exact-decimal sum ÷ count (one tiny broadcast row —
    * double division is then order-independent so both engines agree
    * bit-for-bit), and the recency check is a LEFT ANTI join against
    * the date-filtered orders projection. Reference shape:
    * TPC-H 2.18 Q22.
    */
  private def tpchQ22(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val avgbal = c.where(col("c_acctbal") > 0)
      .agg((decSum(col("c_acctbal"), 2) / count(lit(1))).as("avg_bal"))
    val recent = tbl(s, dir, "orders")
      .where(col("o_orderdate") >= "2000-01-01")
      .select("o_custkey")
    c.crossJoin(broadcast(avgbal))
      .where(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        decSum(col("c_acctbal"), 2).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  private val tpchQ22Oracle: String =
    "WITH ab AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) " +
      "AS DOUBLE) / count(*) AS avg_bal FROM customer " +
      "WHERE c_acctbal > 0) " +
      "SELECT c_mktsegment, count(*) AS n_cust, " +
      "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) " +
      "AS total_bal FROM customer, ab " +
      "WHERE c_acctbal > avg_bal AND NOT EXISTS " +
      "(SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
      "AND o_orderdate >= '2000-01-01') " +
      "GROUP BY 1 ORDER BY 1"

  private val tpchQ3Oracle: String =
    "SELECT l_orderkey, o_orderdate, " +
      "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
      "FROM customer JOIN orders ON c_custkey = o_custkey " +
      "JOIN lineitem ON o_orderkey = l_orderkey " +
      "WHERE c_mktsegment = 'BUILDING' " +
      "AND o_orderdate < TIMESTAMP '1997-01-01' " +
      "AND l_shipdate > TIMESTAMP '1997-01-01' " +
      "GROUP BY 1,2 ORDER BY revenue DESC, l_orderkey LIMIT 10"

  /** ROLLUP aggregation: subtotal rows per (flag, status), per flag,
    * and grand total. NULLS FIRST ordering matches Spark's ASC default
    * (DuckDB defaults NULLS LAST — the oracle pins it explicitly).
    */
  private def rollupRevenue(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        decSum(col("l_extendedprice"), 2).as("sum_base"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  private val rollupRevenueOracle: String =
    "SELECT l_returnflag, l_linestatus, count(*) AS n, " +
      "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) " +
      "AS sum_base FROM lineitem " +
      "GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
      "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"

  /** Pivot: order counts per priority, one column per order status. */
  private def pivotStatus(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("o_orderpriority")

  private val pivotStatusOracle: String =
    "SELECT o_orderpriority, " +
      "count(*) FILTER (WHERE o_orderstatus = 'F') AS F, " +
      "count(*) FILTER (WHERE o_orderstatus = 'O') AS O, " +
      "count(*) FILTER (WHERE o_orderstatus = 'P') AS P " +
      "FROM orders GROUP BY 1 ORDER BY o_orderpriority"

  private def windowTopOrders(s: SparkSession, dir: String): DataFrame = {
    val ords = tbl(s, dir, "orders")
    val cust = tbl(s, dir, "customer")
      .select("c_custkey", "c_mktsegment")
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    ords.join(bcastDim(s, dir, "customer")(cust),
        col("o_custkey") === col("c_custkey"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("c_mktsegment"), col("rn"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy("c_mktsegment", "rn")
  }

  private val windowTopOrdersOracle: String =
    "WITH j AS (SELECT c_mktsegment, o_orderkey, o_totalprice, " +
      "row_number() OVER (PARTITION BY c_mktsegment " +
      "ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
      "FROM orders JOIN customer ON o_custkey = c_custkey) " +
      "SELECT c_mktsegment, CAST(rn AS INT) AS rn, o_orderkey, " +
      "o_totalprice FROM j WHERE rn <= 3 ORDER BY c_mktsegment, rn"

  /** CUBE aggregation — every subset of (flag, status) including the
    * per-status margin ROLLUP can't express; grouping_id disambiguates
    * genuine NULL keys from subtotal rows (Spark and DuckDB use the
    * same bit encoding: first grouping column = most significant bit).
    */
  private def cubeRevenue(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        decSum(col("l_extendedprice"), 2).as("sum_base"))
      .select(col("gid"), col("l_returnflag"), col("l_linestatus"),
        col("n"), col("sum_base"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  private val cubeRevenueOracle: String =
    "SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid, " +
      "l_returnflag, l_linestatus, count(*) AS n, " +
      "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) " +
      "AS sum_base FROM lineitem " +
      "GROUP BY CUBE(l_returnflag, l_linestatus) " +
      "ORDER BY gid, l_returnflag ASC NULLS FIRST, " +
      "l_linestatus ASC NULLS FIRST"

  /** Explicit GROUPING SETS — two NON-hierarchical slices
    * ((status), (priority)) in one scan, the shape neither ROLLUP nor
    * CUBE expresses (rollup nests, cube takes every subset; this takes
    * exactly the two named ones). Catalyst plans one Expand over the
    * set list, so the input is read once however many sets are asked
    * for; grouping_id keys which slice a row belongs to.
    */
  private def groupingSetsRevenue(s: SparkSession,
      dir: String): DataFrame =
    tbl(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice"), 2).as("sum_price"))
      .select(col("gid"), col("o_orderstatus"), col("o_orderpriority"),
        col("n_orders"), col("sum_price"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  private val groupingSetsRevenueOracle: String =
    "SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) " +
      "AS gid, o_orderstatus, o_orderpriority, count(*) AS n_orders, " +
      "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
      "AS sum_price FROM orders " +
      "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority)) " +
      "ORDER BY gid, o_orderstatus ASC NULLS FIRST, " +
      "o_orderpriority ASC NULLS FIRST"

  /** Time-series range frame: 7-day rolling revenue over the DAILY
    * order aggregate (`RANGE BETWEEN 6 PRECEDING AND CURRENT ROW` on
    * epoch days — a calendar window, not a row window, so gaps in the
    * date line shrink the frame exactly as a time series needs).
    *
    * The global-ordered window is single-partition by construction —
    * safe HERE because it runs on the daily aggregate, whose row count
    * is date-cardinality-bounded (years × 365) no matter how many
    * orders feed it; the 100 TB cost is the pre-aggregation, which is
    * an ordinary shuffled groupBy. For global windows over DATA-sized
    * inputs use [[graft.operators.Ranking.globalRowNumber]] instead.
    */
  /** Classical additive decomposition of the daily revenue series:
    * trend = centered 7-day moving average (only where the full ±3-day
    * window is present), seasonal = day-of-week mean of the detrended
    * values, residual = the rest. Day-of-week is `day_no % 7` —
    * integer arithmetic both engines share, instead of calendar
    * functions whose Sunday-origin differs between them. Money stays
    * DECIMAL through the window sum (order-free exactness, the
    * [[rollingRevenue]] rule); one double division by 7 and the
    * group means are the only FP steps, both 6-rounded. The global
    * window is bounded by DATE CARDINALITY (~2,400 rows), never row
    * volume.
    */
  private def seasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    val daily = tbl(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .as("ydec"))
      .withColumn("day_no", datediff(col("d"), lit("1970-01-01")))
    val w = Window.orderBy(col("day_no")).rangeBetween(-3, 3)
    val tw = daily
      .withColumn("trend",
        when(count(col("ydec")).over(w) === 7,
          sum(col("ydec")).over(w).cast(DoubleType) / 7))
      .withColumn("dow", pmod(col("day_no"), lit(7)))
      .withColumn("y", col("ydec").cast(DoubleType))
    val season = tw.where(col("trend").isNotNull)
      .groupBy(col("dow"))
      .agg(avg(col("y") - col("trend")).as("seas"))
    tw.join(broadcast(season), Seq("dow"), "left")
      .select(col("d").cast("string").as("d"), col("y"),
        round(col("trend"), 6).as("trend"),
        round(col("seas"), 6).as("seasonal"),
        round(col("y") - col("trend") - col("seas"), 6).as("resid"))
      .orderBy("d")
  }

  private val seasonalDecomposeOracle: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS ydec
      |  FROM orders GROUP BY 1
      |), dd AS (
      |  SELECT *, datediff('day', DATE '1970-01-01', d) AS day_no
      |  FROM daily
      |), tw AS (
      |  SELECT *, CAST(ydec AS DOUBLE) AS y,
      |    CASE WHEN count(*) OVER win = 7
      |      THEN CAST(sum(ydec) OVER win AS DOUBLE) / 7 END AS trend
      |  FROM dd
      |  WINDOW win AS (ORDER BY day_no
      |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |), s AS (
      |  SELECT day_no % 7 AS dow, avg(y - trend) AS seas
      |  FROM tw WHERE trend IS NOT NULL GROUP BY 1
      |)
      |SELECT CAST(tw.d AS VARCHAR) AS d, tw.y,
      |  round(tw.trend, 6) AS trend, round(s.seas, 6) AS seasonal,
      |  round(tw.y - tw.trend - s.seas, 6) AS resid
      |FROM tw LEFT JOIN s ON s.dow = tw.day_no % 7
      |ORDER BY 1""".stripMargin

  /** CUSUM changepoint scan over the daily revenue series: the
    * running sum of (y − ȳ) peaks in magnitude at the most likely
    * level-shift boundary (classic Page/Pettitt shape). The mean uses
    * the exact decimal total; the cusum is an ORDERED prefix sum —
    * sequential in both engines, so the doubles agree to the ulp and
    * 6-rounding pins them. Output: the top-5 |cusum| days. Bounded by
    * date cardinality, never row volume.
    */
  private def changepointCusum(s: SparkSession, dir: String): DataFrame = {
    val daily = tbl(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .as("ydec"))
    val tot = daily.agg(
      sum(col("ydec")).as("tdec"), count(lit(1)).as("n"))
    val wc = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    daily.crossJoin(broadcast(tot))
      .withColumn("dev",
        col("ydec").cast(DoubleType) -
          col("tdec").cast(DoubleType) / col("n"))
      .withColumn("cusum", sum(col("dev")).over(wc))
      .orderBy(abs(col("cusum")).desc, col("d"))
      .limit(5)
      .withColumn("rank",
        row_number().over(Window.orderBy(abs(col("cusum")).desc,
          col("d"))))
      .select(col("rank"), col("d").cast("string").as("d"),
        round(col("cusum"), 6).as("cusum"))
      .orderBy("rank")
  }

  private val changepointCusumOracle: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS ydec
      |  FROM orders GROUP BY 1
      |), tot AS (
      |  SELECT sum(ydec) AS tdec, count(*) AS n FROM daily
      |), c AS (
      |  SELECT d, sum(CAST(ydec AS DOUBLE) -
      |      CAST(tdec AS DOUBLE) / n) OVER
      |    (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS cusum
      |  FROM daily, tot
      |), r AS (
      |  SELECT d, cusum, row_number() OVER
      |    (ORDER BY abs(cusum) DESC, d) AS rank
      |  FROM c
      |)
      |SELECT CAST(rank AS INT) AS rank, CAST(d AS VARCHAR) AS d,
      |  round(cusum, 6) AS cusum
      |FROM r WHERE rank <= 5 ORDER BY rank""".stripMargin

  private def rollingRevenue(s: SparkSession, dir: String): DataFrame = {
    // daily revenue stays DECIMAL through the window sum: window
    // implementations sum in engine-specific orders (sliding vs
    // segment tree), so a double window-sum could differ at the ulp —
    // decimal is exact and order-free; only the output casts to double
    val daily = tbl(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .as("rev_dec"), count(lit(1)).as("n_orders"))
      .withColumn("day_no", datediff(col("d"), lit("1970-01-01")))
    val w = Window.orderBy(col("day_no")).rangeBetween(-6, 0)
    daily
      .withColumn("rev_7d", sum(col("rev_dec")).over(w).cast(DoubleType))
      .withColumn("n_7d", sum(col("n_orders")).over(w))
      .select(col("d").cast("string").as("d"),
        col("rev_dec").cast(DoubleType).as("rev"), col("n_orders"),
        col("rev_7d"), col("n_7d"))
      .orderBy("d")
  }

  private val rollingRevenueOracle: String =
    "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d, " +
      "sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec, " +
      "count(*) AS n_orders FROM orders GROUP BY 1), " +
      "t AS (SELECT *, datediff('day', DATE '1970-01-01', d) AS day_no " +
      "FROM daily) " +
      "SELECT CAST(d AS VARCHAR) AS d, " +
      "CAST(rev_dec AS DOUBLE) AS rev, n_orders, " +
      "CAST(sum(rev_dec) OVER w AS DOUBLE) AS rev_7d, " +
      "CAST(sum(n_orders) OVER w AS BIGINT) AS n_7d " +
      "FROM t WINDOW w AS (ORDER BY day_no " +
      "RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) ORDER BY d"

  /** Quality deciles over the documents table: every document ranked
    * by (rounded quality score, doc_id) — a TOTAL order, as
    * [[graft.operators.Ranking.globalRowNumber]] requires — then cut
    * into 10 equal-ish buckets with the ntile fill rule expressed as
    * exact integer arithmetic (`((rank-1) * 10) DIV n`), which both
    * engines evaluate identically where replaying `ntile` semantics
    * would couple the oracle to one engine's remainder policy.
    *
    * This is the scale counterpart of a naive
    * `ntile(10) OVER (ORDER BY q)`: that plans as a single-partition
    * window over every document; the ranking operator keeps the sort
    * distributed (see Ranking's scaladoc).
    */
  private def qualityDeciles(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents").select(col("doc_id"),
      round(TextFunctions.qualityScore(col("text")), 6).as("q"),
      size(TextFunctions.tokens(col("text"))).as("n_tok"))
    val n = d.agg(count(lit(1)).as("__n"))
    graft.operators.Ranking
      .globalRowNumber(d, Seq(col("q"), col("doc_id")), 32)
      .crossJoin(broadcast(n))
      .withColumn("decile",
        expr("CAST((row_num - 1) * 10 DIV __n AS INT) + 1"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), min(col("q")).as("lo_q"),
        max(col("q")).as("hi_q"), sum(col("n_tok")).as("sum_tokens"))
      .orderBy("decile")
  }

  private val qualityDecilesOracle: String = {
    val toks = "string_split(lower(text), ' ')"
    val stopSet = TextFunctions.stopwordProfiles.head._2
      .map(w => s"'$w'").mkString(", ")
    val punct = "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) " +
      "AS DOUBLE) / greatest(length(text), 1)"
    val stop = s"CAST(len(list_filter($toks, t -> t IN ($stopSet))) " +
      s"AS DOUBLE) / greatest(len($toks), 1)"
    val lenCredit = s"least(CAST(len($toks) AS DOUBLE) / 100.0, 1.0)"
    s"WITH q AS (SELECT doc_id, round($lenCredit * 0.5 + $stop * 0.3 " +
      s"+ (1.0 - $punct) * 0.2, 6) AS q, " +
      s"CAST(len($toks) AS INT) AS n_tok FROM documents), " +
      "r AS (SELECT q, n_tok, row_number() OVER (ORDER BY q, doc_id) " +
      "AS rn, count(*) OVER () AS n FROM q) " +
      "SELECT CAST((rn - 1) * 10 // n AS INT) + 1 AS decile, " +
      "count(*) AS n_docs, min(q) AS lo_q, max(q) AS hi_q, " +
      "CAST(sum(n_tok) AS BIGINT) AS sum_tokens " +
      "FROM r GROUP BY 1 ORDER BY decile"
  }

  /** DuckDB replay of TextMetrics.vocabCoverage: per-(source, token)
    * counts, top-500 vocabulary via the same (count DESC, token ASC)
    * deterministic order, left-join coverage aggregation.
    */
  private val vocabCoverageOracle: String = {
    val toks = "string_split(lower(text), ' ')"
    s"WITH tok AS (SELECT source, unnest($toks) AS t FROM documents), " +
      "counts AS (SELECT source, t, count(*) AS c FROM tok " +
      "GROUP BY 1, 2), " +
      "vocab AS (SELECT t FROM (SELECT t, sum(c) AS n FROM counts " +
      "GROUP BY t ORDER BY n DESC, t LIMIT 500)) " +
      "SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, " +
      "count(*) AS n_types, " +
      "CAST(COALESCE(sum(c) FILTER (WHERE v.t IS NULL), 0) AS BIGINT) " +
      "AS oov_tokens, " +
      "COALESCE(count(*) FILTER (WHERE v.t IS NULL), 0) AS oov_types, " +
      "round(CAST(COALESCE(sum(c) FILTER (WHERE v.t IS NULL), 0) " +
      "AS DOUBLE) / sum(c), 6) AS oov_rate " +
      "FROM counts LEFT JOIN vocab v ON counts.t = v.t " +
      "GROUP BY source ORDER BY source"
  }

  /** BPE fixture vocabulary — the single source of truth for both the
    * bpe_encode Spark query and its DuckDB oracle (the oracle VALUES
    * list is generated from this Seq). Multi-char pieces only; single
    * characters are the encoder's implicit fallback. Chosen so the
    * synthetic corpus exercises all three encode paths: full-word
    * pieces ("spark", "table"), multi-piece segmentations
    * ("cus"+"tom"+"er", "win"+"dow"), and fallback characters
    * ("slo"+'w', "bi"+'g').
    */
  private val bpeFixturePieces: Seq[String] = Seq(
    "the", "spark", "join", "data", "sort", "merge", "table", "key",
    "row", "line", "ba", "tch", "str", "eam", "fil", "ter", "cus",
    "tom", "er", "val", "ue", "col", "umn", "vec", "tor", "win", "dow",
    "qu", "ery", "gro", "up", "sc", "an", "ha", "sh", "sm", "all",
    "slo", "ord", "ag", "fa", "st", "bi", "du", "pa", "rt")

  /** DuckDB replay of the greedy longest-match BPE encode: per
    * distinct word, the longest vocabulary piece matching at every
    * position is precomputed non-recursively (a LEFT JOIN + max_by —
    * two same-length pieces can never both match one position, so the
    * argmax is total), then a recursive CTE walks each word
    * left-to-right emitting the precomputed pick (or the single
    * fallback character), and piece counts weight back by word
    * frequency.
    */
  private val bpeEncodeOracle: String = {
    val vals = bpeFixturePieces.zipWithIndex
      .map { case (p, i) => s"($i, '$p')" }.mkString(", ")
    s"WITH RECURSIVE vocab(id, piece) AS (VALUES $vals), " +
      "wc AS (SELECT word, count(*) AS wn FROM " +
      "(SELECT unnest(string_split(lower(text), ' ')) AS word " +
      "FROM documents) WHERE length(word) > 0 GROUP BY word), " +
      "wpos AS (SELECT word, " +
      "unnest(generate_series(1, length(word))) AS pos FROM wc), " +
      "pick AS (SELECT p.word, p.pos, " +
      "COALESCE(max_by(v.piece, length(v.piece)), " +
      "substr(p.word, p.pos, 1)) AS pick " +
      "FROM wpos p LEFT JOIN vocab v " +
      "ON substr(p.word, p.pos, length(v.piece)) = v.piece " +
      "GROUP BY p.word, p.pos), " +
      "seg AS (SELECT word, CAST(1 AS BIGINT) AS pos, " +
      "CAST(NULL AS VARCHAR) AS piece FROM wc " +
      "UNION ALL SELECT s.word, s.pos + length(p.pick), p.pick " +
      "FROM seg s JOIN pick p ON p.word = s.word AND p.pos = s.pos " +
      "WHERE s.pos <= length(s.word)), " +
      "pc AS (SELECT s.piece, CAST(sum(w.wn) AS BIGINT) AS cnt " +
      "FROM seg s JOIN wc w ON s.word = w.word " +
      "WHERE s.piece IS NOT NULL GROUP BY s.piece) " +
      "SELECT COALESCE(v.id, -1) AS token_id, pc.piece, cnt FROM pc " +
      "LEFT JOIN vocab v ON pc.piece = v.piece " +
      "ORDER BY cnt DESC, pc.piece LIMIT 30"
  }

  /** DuckDB replay of TextMetrics.unigramLogprob: identical unigram
    * table, identical `ln` input (count cast to DOUBLE over the BIGINT
    * total), per-token rounding at 9 decimals, DECIMAL(20,9) sum.
    */
  private val unigramLogprobOracle: String = {
    val toks = "string_split(lower(text), ' ')"
    s"WITH tok AS (SELECT doc_id, unnest($toks) AS t FROM documents), " +
      "f AS (SELECT t, count(*) AS c FROM tok GROUP BY t), " +
      "tot AS (SELECT sum(c) AS n FROM f) " +
      "SELECT doc_id, count(*) AS n_tokens, " +
      "round(CAST(sum(CAST(round(ln(CAST(c AS DOUBLE) / n), 9) " +
      "AS DECIMAL(20,9))) AS DOUBLE) / count(*), 6) AS avg_logprob " +
      "FROM tok JOIN f USING (t) CROSS JOIN tot " +
      "GROUP BY doc_id ORDER BY doc_id"
  }

  /** Constant-flag oracle for the sketch-profile contracts: one row
    * per lineitem column, every 0/1 flag pinned at 1 (the flags are
    * deterministic for a fixed dataset — see Profile.approxContract).
    */
  private val sketchContractOracle: String =
    "SELECT column_name, 1 AS distinct_ok, 1 AS q1_ok, " +
      "1 AS median_ok, 1 AS q3_ok FROM (VALUES " +
      tables("lineitem").map(c => s"('${c._1}')").mkString(", ") +
      ") t(column_name) ORDER BY column_name"

  /** DuckDB replay of the perplexity-filter pipeline: the unigram
    * logprob CTEs, a row_number rank over (logprob, doc_id), the
    * integral bottom-decile cut, per-source survivor report.
    */
  private val pipelinePerplexityOracle: String = {
    val toks = "string_split(lower(text), ' ')"
    s"WITH tok AS (SELECT doc_id, unnest($toks) AS t FROM documents), " +
      "f AS (SELECT t, count(*) AS c FROM tok GROUP BY t), " +
      "tot AS (SELECT sum(c) AS n FROM f), " +
      "lp AS (SELECT doc_id, " +
      "round(CAST(sum(CAST(round(ln(CAST(c AS DOUBLE) / n), 9) " +
      "AS DECIMAL(20,9))) AS DOUBLE) / count(*), 6) AS avg_logprob " +
      "FROM tok JOIN f USING (t) CROSS JOIN tot GROUP BY doc_id), " +
      "r AS (SELECT doc_id, avg_logprob, row_number() OVER " +
      "(ORDER BY avg_logprob, doc_id) AS rn, count(*) OVER () AS n " +
      "FROM lp) " +
      "SELECT d.source, count(*) AS n_kept, " +
      "min(r.avg_logprob) AS worst_kept_lp " +
      "FROM r JOIN documents d USING (doc_id) WHERE rn * 10 > n " +
      "GROUP BY 1 ORDER BY 1"
  }

  /** DuckDB replay of TextMetrics.zipfFit: top-100 token counts with
    * the deterministic (count DESC, token) rank, regression sums
    * rounded-then-DECIMAL-summed, identical closed-form slope
    * arithmetic.
    */
  private val zipfFitOracle: String = {
    val lnr = "ln(CAST(rank AS DOUBLE))"
    val lnn = "ln(CAST(n AS DOUBLE))"
    def ds(e: String) =
      s"CAST(sum(CAST(round($e, 9) AS DECIMAL(24,9))) AS DOUBLE)"
    val slope = "(k * sxy - sx * sy) / (k * sxx - sx * sx)"
    "WITH c AS (SELECT t, count(*) AS n FROM (SELECT " +
      "unnest(string_split(lower(text), ' ')) AS t FROM documents) " +
      "GROUP BY t ORDER BY n DESC, t LIMIT 100), " +
      "r AS (SELECT n, row_number() OVER (ORDER BY n DESC, t) " +
      "AS rank FROM c), " +
      s"a AS (SELECT count(*) AS k, ${ds(lnr)} AS sx, " +
      s"${ds(lnn)} AS sy, ${ds(s"$lnr * $lnn")} AS sxy, " +
      s"${ds(s"$lnr * $lnr")} AS sxx FROM r) " +
      s"SELECT k AS n_points, round($slope, 4) AS slope, " +
      s"round((sy - ($slope) * sx) / k, 4) AS intercept FROM a"
  }

  /** DuckDB replay of Profile.valueEntropy on the low-cardinality
    * lineitem columns: per-column value counts (each branch groups on
    * the RAW value — grouping is engine-local, only counts must
    * agree), windowed share, p·ln p terms rounded and DECIMAL-summed.
    */
  private val colEntropyOracle: String = {
    val cols = Seq("l_returnflag", "l_linestatus", "l_linenumber",
      "l_quantity", "l_discount", "l_tax")
    val branches = cols.map { c =>
      s"SELECT '$c' AS column_name, count(*) AS n FROM lineitem " +
        s"WHERE $c IS NOT NULL GROUP BY $c"
    }.mkString(" UNION ALL ")
    s"WITH e AS ($branches), " +
      "p AS (SELECT column_name, CAST(n AS DOUBLE) / " +
      "sum(n) OVER (PARTITION BY column_name) AS p FROM e) " +
      "SELECT column_name, " +
      "round(CAST(sum(CAST(round(-p * ln(p), 9) AS DECIMAL(20,9))) " +
      "AS DOUBLE), 6) AS entropy_nats, count(*) AS n_distinct " +
      "FROM p GROUP BY 1 ORDER BY column_name"
  }

  /** DuckDB replay of Profile.groupedCountQuantiles on per-source
    * token counts: same count-based CDF and the same integral type-1
    * pick (`cum*100 >= total*p`).
    */
  private val groupQuantilesOracle: String =
    "WITH d AS (SELECT source, " +
      "CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS v " +
      "FROM documents), " +
      "c AS (SELECT source, v, count(*) AS c FROM d GROUP BY 1, 2), " +
      "x AS (SELECT source, v, sum(c) OVER (PARTITION BY source " +
      "ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum, " +
      "sum(c) OVER (PARTITION BY source) AS total FROM c) " +
      "SELECT source, " +
      "min(CASE WHEN cum * 100 >= total * 25 THEN v END) AS p25, " +
      "min(CASE WHEN cum * 100 >= total * 50 THEN v END) AS p50, " +
      "min(CASE WHEN cum * 100 >= total * 75 THEN v END) AS p75, " +
      "CAST(max(total) AS BIGINT) AS n_rows " +
      "FROM x GROUP BY source ORDER BY source"

  /** DuckDB replay of Drift.ksStatistic over the F/O order-status
    * slices: NULL values dropped (not CDF points), distinct-value
    * counts per side, cumulative sums as the CDF numerators, exact
    * integral KS numerator (HUGEINT here, DECIMAL(38,0) in Spark —
    * both exact, both surfaced as DOUBLE), rounded ratio over a
    * double product so neither engine's integer width is in play.
    */
  private val driftKsOracle: String =
    "WITH g AS (SELECT o_totalprice AS v, " +
      "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS a, " +
      "CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS b " +
      "FROM orders WHERE o_orderstatus IN ('F', 'O') " +
      "AND o_totalprice IS NOT NULL), " +
      "c AS (SELECT v, sum(a) AS ca, sum(b) AS cb FROM g GROUP BY v), " +
      "cum AS (SELECT sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b " +
      "FROM c WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)), " +
      "t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, " +
      "CAST(sum(cb) AS BIGINT) AS nb FROM c) " +
      "SELECT na AS n_a, nb AS n_b, " +
      "CAST(max(abs(cum_a * nb - cum_b * na)) AS DOUBLE) AS d_num, " +
      "round(CAST(max(abs(cum_a * nb - cum_b * na)) AS DOUBLE) " +
      "/ (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS ks " +
      "FROM cum, t GROUP BY na, nb"

  /** DuckDB replay of Drift.psi: reference-range equi-width bins with
    * the histogram's IEEE arithmetic order, completed against the
    * fixed 0..9 grid (a doubly-empty bin still carries its smoothed
    * term), Laplace-smoothed shares, per-bin terms rounded at 9
    * decimals and DECIMAL-summed.
    */
  private val driftPsiOracle: String =
    "WITH g AS (SELECT CAST(o_totalprice AS DOUBLE) AS v, " +
      "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS a, " +
      "CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS b " +
      "FROM orders WHERE o_orderstatus IN ('F', 'O') " +
      "AND o_totalprice IS NOT NULL), " +
      "r AS (SELECT min(v) AS lo, max(v) AS hi FROM g WHERE a = 1), " +
      "obs AS (SELECT CASE WHEN hi = lo THEN 0 ELSE " +
      "greatest(0, least(9, CAST(floor((v - lo) * 10 / (hi - lo)) " +
      "AS INT))) END AS bin, sum(a) AS ca, sum(b) AS cb " +
      "FROM g, r GROUP BY 1), " +
      "cells AS (SELECT gr.bin, COALESCE(ca, 0) AS ca, " +
      "COALESCE(cb, 0) AS cb FROM " +
      "(SELECT unnest(generate_series(0, 9)) AS bin) gr " +
      "LEFT JOIN obs ON gr.bin = obs.bin), " +
      "n AS (SELECT CAST(sum(ca) AS BIGINT) AS na, " +
      "CAST(sum(cb) AS BIGINT) AS nb FROM cells), " +
      "p AS (SELECT na, nb, " +
      "(CASE WHEN ca > 0 THEN CAST(ca AS DOUBLE) ELSE 0.5 END) / na " +
      "AS pa, " +
      "(CASE WHEN cb > 0 THEN CAST(cb AS DOUBLE) ELSE 0.5 END) / nb " +
      "AS pb FROM cells, n) " +
      "SELECT na AS n_a, nb AS n_b, " +
      "round(CAST(sum(CAST(round((pa - pb) * ln(pa / pb), 9) " +
      "AS DECIMAL(20,9))) AS DOUBLE), 6) AS psi " +
      "FROM p GROUP BY na, nb"

  /** DuckDB replay of Drift.ksMatrix on per-source token counts: the
    * identical dense source × token-count grid, per-source CDF
    * windows, and exact integral KS numerator per pair (HUGEINT here,
    * DECIMAL(38,0) in Spark — both exact), double ratio.
    */
  private val driftKsMatrixOracle: String =
    "WITH d AS (SELECT source AS g, " +
      "CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS v " +
      "FROM documents), " +
      "cc AS (SELECT g, v, count(*) AS c FROM d GROUP BY 1, 2), " +
      "vals AS (SELECT DISTINCT v FROM cc), " +
      "sz AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM cc " +
      "GROUP BY g), " +
      "x AS (SELECT sz.g, sz.n, vals.v, COALESCE(cc.c, 0) AS c " +
      "FROM sz CROSS JOIN vals " +
      "LEFT JOIN cc ON cc.g = sz.g AND cc.v = vals.v), " +
      "cum AS (SELECT g, n, v, sum(c) OVER (PARTITION BY g ORDER BY v " +
      "ROWS UNBOUNDED PRECEDING) AS cum FROM x) " +
      "SELECT a.g AS g_a, b.g AS g_b, a.n AS n_a, b.n AS n_b, " +
      "round(CAST(max(abs(a.cum * b.n - b.cum * a.n)) AS DOUBLE) " +
      "/ (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)), 6) AS ks " +
      "FROM cum a JOIN cum b ON a.v = b.v AND a.g < b.g " +
      "GROUP BY 1, 2, 3, 4 ORDER BY g_a, g_b"

  /** DuckDB replay of Profile.equiDepthHistogram: distinct-value
    * counts, rows-before prefix sum, the identical integral
    * `(rows_before * k) // n` bucket cut, per-bucket aggregates.
    */
  private val histEquidepthOracle: String =
    "WITH c AS (SELECT CAST(o_totalprice AS DOUBLE) AS v, " +
      "count(*) AS c FROM orders WHERE o_totalprice IS NOT NULL " +
      "GROUP BY 1), " +
      "x AS (SELECT v, c, sum(c) OVER (ORDER BY v " +
      "ROWS UNBOUNDED PRECEDING) - c AS cb, sum(c) OVER () AS n " +
      "FROM c) " +
      "SELECT CAST(cb * 10 // n AS INT) AS bucket, " +
      "round(min(v), 6) AS lo, round(max(v), 6) AS hi, " +
      "CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_distinct " +
      "FROM x GROUP BY 1 ORDER BY bucket"

  /** DuckDB replay of Dedup.containmentPairs on the source-blocked
    * corpus: distinct token sets, pair join within blocks, the
    * asymmetric containment ratio over the SMALLER set.
    */
  private val dedupContainmentOracle: String = {
    val toks = "string_split(lower(text), ' ')"
    s"WITH s AS (SELECT doc_id, source, list_distinct($toks) AS sh " +
      s"FROM documents WHERE len($toks) >= 1) " +
      "SELECT id_a, id_b, containment FROM (" +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "least(len(a.sh), len(b.sh)), 6) AS containment " +
      "FROM s a JOIN s b ON a.source = b.source " +
      "AND a.doc_id < b.doc_id) " +
      "WHERE containment >= 0.9 ORDER BY id_a, id_b"
  }

  /** DuckDB replay of Cdc.snapshotDiff over the two deterministic
    * orders-derived snapshots — shared by `cdc_diff` (in-memory
    * snapshots) and `table_time_travel` (the same snapshots COMMITTED
    * to a VersionedTable and read back by version id): the versioned
    * reads must be byte-faithful, so one oracle pins both.
    */
  private val cdcDiffOracle: String =
    "WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus " +
      "FROM orders WHERE o_orderkey % 10 <> 0), " +
      "nn AS (SELECT o_orderkey, " +
      "CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100 " +
      "ELSE o_totalprice END AS o_totalprice, " +
      "CASE WHEN o_orderkey % 5 = 0 THEN 'X' " +
      "ELSE o_orderstatus END AS o_orderstatus " +
      "FROM orders WHERE o_orderkey % 7 <> 0), " +
      "j AS (SELECT coalesce(o.o_orderkey, nn.o_orderkey) " +
      "AS o_orderkey, " +
      "CASE WHEN o.o_orderkey IS NULL THEN 'insert' " +
      "WHEN nn.o_orderkey IS NULL THEN 'delete' " +
      "WHEN (o.o_totalprice IS DISTINCT FROM nn.o_totalprice) " +
      "OR (o.o_orderstatus IS DISTINCT FROM nn.o_orderstatus) " +
      "THEN 'update' END AS action, " +
      "(CASE WHEN o.o_totalprice IS DISTINCT FROM nn.o_totalprice " +
      "THEN 1 ELSE 0 END + " +
      "CASE WHEN o.o_orderstatus IS DISTINCT FROM nn.o_orderstatus " +
      "THEN 1 ELSE 0 END) AS nc " +
      "FROM o FULL OUTER JOIN nn ON o.o_orderkey = nn.o_orderkey) " +
      "SELECT o_orderkey, action, " +
      "CASE WHEN action = 'update' THEN nc ELSE 0 END AS n_changed " +
      "FROM j WHERE action IS NOT NULL ORDER BY action, o_orderkey"

  /** DuckDB replay of TextMetrics.ngramNovelty (trigrams): the same
    * distinct (doc, gram) projection, document-frequency count, and
    * df=1 share.
    */
  private val textNoveltyOracle: String = {
    val toks = "string_split(lower(text), ' ')"
    s"WITH t AS (SELECT doc_id, $toks AS t FROM documents), " +
      "g AS (SELECT DISTINCT doc_id, g FROM " +
      "(SELECT doc_id, unnest(list_transform(" +
      "generate_series(1, len(t) - 2), " +
      "i -> array_to_string(t[i:i + 2], ' '))) AS g " +
      "FROM t WHERE len(t) >= 3)), " +
      "f AS (SELECT g, count(*) AS df FROM g GROUP BY g) " +
      "SELECT doc_id AS id, count(*) AS n_ngrams, " +
      "CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_novel, " +
      "round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) " +
      "/ count(*), 6) AS novelty " +
      "FROM g JOIN f USING (g) GROUP BY doc_id ORDER BY id"
  }

  /** DuckDB replay of Profile.corrMatrix: identical DECIMAL(18,6)
    * quantization, exact decimal Σx/Σxy, and the same closed-form
    * double arithmetic from those exact sums.
    */
  private val corrMatrixOracle: String = {
    val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    // width 19 (not 18): same scale-6 quantization as the Spark side,
    // but DuckDB multiplies width-18 decimals in int64 and overflows —
    // width 19 forces int128 arithmetic
    def dec(c: String) = s"CAST($c AS DECIMAL(19,6))"
    val sums =
      cs.indices.map(i => s"sum(${dec(cs(i))}) AS s_$i") ++
        (for (i <- cs.indices; j <- i until cs.size)
          yield s"sum(${dec(cs(i))} * ${dec(cs(j))}) AS p_${i}_$j")
    def varTerm(i: Int) =
      s"(CAST(n AS DOUBLE) * CAST(p_${i}_$i AS DOUBLE) - " +
        s"CAST(s_$i AS DOUBLE) * CAST(s_$i AS DOUBLE))"
    val branches = for (i <- cs.indices; j <- i + 1 until cs.size)
      yield s"SELECT '${cs(i)}' AS col_a, '${cs(j)}' AS col_b, " +
        s"round((CAST(n AS DOUBLE) * CAST(p_${i}_$j AS DOUBLE) - " +
        s"CAST(s_$i AS DOUBLE) * CAST(s_$j AS DOUBLE)) / " +
        s"(sqrt(${varTerm(i)}) * sqrt(${varTerm(j)})), 6) AS corr FROM a"
    s"WITH a AS (SELECT count(*) AS n, ${sums.mkString(", ")} " +
      s"FROM lineitem WHERE ${cs.map(c => s"$c IS NOT NULL")
        .mkString(" AND ")}) " +
      branches.mkString(" UNION ALL ") + " ORDER BY col_a, col_b"
  }

  /** Full replay of Similarity.semanticNearDupPairs: centroid scores
    * for every vector (same quantizer as [[knnIvfOracle]]), argmax
    * assignment with the (sim DESC, cid DESC) tie-break, within-cluster
    * pair join verified by exact cosine.
    */
  // lazy: textually precedes vecCte's initializer
  private lazy val semanticDedupOracle: String =
    s"WITH $vecCte, " +
      "c AS (SELECT vec_id AS cid, vec AS cvec, nrm AS cnrm FROM n " +
      "WHERE vec_id < 16), " +
      "sc AS (SELECT n.vec_id AS id, c.cid, " +
      "list_sum(list_transform(generate_series(1, len(n.vec)), " +
      "i -> c.cvec[i] * n.vec[i])) / (c.cnrm * n.nrm) AS sim " +
      "FROM n, c), " +
      "assign AS (SELECT id, cid FROM (SELECT id, cid, row_number() " +
      "OVER (PARTITION BY id ORDER BY sim DESC, cid DESC) AS rn " +
      "FROM sc) WHERE rn = 1), " +
      "p AS (SELECT x.cid, x.id AS id_a, y.id AS id_b, " +
      "round(list_sum(list_transform(generate_series(1, len(nx.vec)), " +
      "i -> nx.vec[i] * ny.vec[i])) / (nx.nrm * ny.nrm), 6) AS cos " +
      "FROM assign x JOIN assign y ON x.cid = y.cid AND x.id < y.id " +
      "JOIN n nx ON nx.vec_id = x.id JOIN n ny ON ny.vec_id = y.id) " +
      "SELECT cid, id_a, id_b, cos FROM p WHERE cos >= 0.45 " +
      "ORDER BY id_a, id_b"

  // -------------------------------------------------------------------
  // LLM-data-pipeline surface: text analysis, dedup, similarity,
  // multimodal. Oracles spell out the identical double arithmetic
  // (DuckDB's list_cosine_similarity computes in float — unusable).
  // -------------------------------------------------------------------

  private def textStatsQuery(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
    val toks = TextFunctions.tokens(col("text"))
    d.select(col("doc_id"),
      length(col("text")).as("n_chars_calc"),
      size(toks).as("n_tokens"),
      TextFunctions.regexTokenCount(col("text")).as("n_regex_tokens"),
      round(TextFunctions.meanTokenLength(toks), 6).as("mean_token_len"),
      TextFunctions.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  private val textStatsOracle: String = {
    val toks = "string_split(lower(text), ' ')"
    "SELECT doc_id, CAST(length(text) AS INT) AS n_chars_calc, " +
      s"CAST(len($toks) AS INT) AS n_tokens, " +
      "CAST(len(regexp_extract_all(text, " +
      "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_regex_tokens, " +
      s"round(CAST(list_sum(list_transform($toks, t -> length(t))) " +
      s"AS DOUBLE) / len($toks), 6) AS mean_token_len, " +
      "sha256(regexp_replace(lower(text), '\\s+', ' ', 'g')) " +
      "AS fingerprint FROM documents ORDER BY doc_id"
  }

  private def textQualityQuery(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(col("doc_id"),
      round(TextFunctions.punctRatio(col("text")), 6).as("punct_ratio"),
      round(TextFunctions.stopwordRatio(col("text")), 6).as("stop_ratio"),
      round(TextFunctions.qualityScore(col("text")), 6).as("quality"))
      .orderBy("doc_id")

  private val textQualityOracle: String = {
    val toks = "string_split(lower(text), ' ')"
    val stopSet = TextFunctions.stopwordProfiles.head._2
      .map(w => s"'$w'").mkString(", ")
    val punct = "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) " +
      "AS DOUBLE) / greatest(length(text), 1)"
    val stop = s"CAST(len(list_filter($toks, t -> t IN ($stopSet))) " +
      s"AS DOUBLE) / greatest(len($toks), 1)"
    val lenCredit = s"least(CAST(len($toks) AS DOUBLE) / 100.0, 1.0)"
    s"SELECT doc_id, round($punct, 6) AS punct_ratio, " +
      s"round($stop, 6) AS stop_ratio, " +
      s"round($lenCredit * 0.5 + $stop * 0.3 + (1.0 - $punct) * 0.2, 6) " +
      "AS quality FROM documents ORDER BY doc_id"
  }

  private def langDetectQuery(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(TextFunctions.langId(col("text")).as("detected_lang"))
      .groupBy("detected_lang").agg(count(lit(1)).as("n"))
      .orderBy("detected_lang")

  /** DuckDB replay of TextFunctions.langId: per-language stopword hit
    * counts (zh by marker substring occurrences), argmax with Spark's
    * struct tie-break (equal scores resolve to the lexicographically
    * largest language code), "und" when nothing scores.
    */
  /** Shared langId replay CTEs: scores + argmax CASE, carrying
    * `extraCols` through so callers can slice the detected language
    * by other document columns.
    */
  private def langIdCtes(extraCols: String): String = {
    val toks = "string_split(lower(text), ' ')"
    def latin(words: Seq[String]): String =
      s"CAST(len(list_filter($toks, x -> x IN " +
        s"(${words.map(w => s"'$w'").mkString(", ")}))) AS INT)"
    val profiles = TextFunctions.stopwordProfiles.toMap
    val zh = TextFunctions.zhMarkers
      .map(m => s"(length(text) - length(replace(text, '$m', '')))")
      .mkString(" + ")
    val g = "greatest(s_en, s_de, s_es, s_fr, s_zh)"
    val carry = if (extraCols.isEmpty) "" else s"$extraCols, "
    s"s AS (SELECT $carry${latin(profiles("en"))} AS s_en, " +
      s"${latin(profiles("de"))} AS s_de, " +
      s"${latin(profiles("es"))} AS s_es, " +
      s"${latin(profiles("fr"))} AS s_fr, " +
      s"CAST($zh AS INT) AS s_zh FROM documents), " +
      s"d AS (SELECT ${carry}CASE WHEN $g <= 0 THEN 'und' " +
      s"WHEN s_zh = $g THEN 'zh' WHEN s_fr = $g THEN 'fr' " +
      s"WHEN s_es = $g THEN 'es' WHEN s_en = $g THEN 'en' " +
      "ELSE 'de' END AS detected_lang FROM s)"
  }

  private val langDetectOracle: String =
    s"WITH ${langIdCtes("")} " +
      "SELECT detected_lang, count(*) AS n FROM d " +
      "GROUP BY 1 ORDER BY 1"

  private val langMixOracle: String =
    s"WITH ${langIdCtes("source")} " +
      "SELECT source, detected_lang, count(*) AS n FROM d " +
      "GROUP BY 1, 2 ORDER BY 1, 2"

  /** Shared DuckDB CTE: doc_id + distinct 3-word shingle set. */
  private val shingleCte: String = {
    val toks = "string_split(lower(text), ' ')"
    s"d AS (SELECT doc_id, $toks AS toks FROM documents), " +
      "s AS (SELECT doc_id, list_distinct(list_transform(" +
      "generate_series(1, greatest(len(toks) - 2, 0)), " +
      "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh " +
      "FROM d WHERE len(toks) >= 3)"
  }

  private val dedupExactOracle: String =
    "SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents " +
      "GROUP BY sha256(text) ORDER BY doc_id"

  private val dedupMinhashOracle: String =
    s"WITH $shingleCte, " +
      "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jac " +
      "FROM s a JOIN s b ON a.doc_id < b.doc_id) " +
      "SELECT id_a, id_b, jac FROM p WHERE jac >= 0.7 " +
      "ORDER BY id_a, id_b"

  /** Cross-source overlap: the minhash oracle's exact pair set,
    * aggregated by unordered source pair.
    */
  private val corpusOverlapOracle: String =
    s"WITH $shingleCte, " +
      "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jac " +
      "FROM s a JOIN s b ON a.doc_id < b.doc_id), " +
      "q AS (SELECT id_a, id_b FROM p WHERE jac >= 0.7), " +
      "j AS (SELECT least(da.source, db.source) AS source_a, " +
      "greatest(da.source, db.source) AS source_b FROM q " +
      "JOIN documents da ON da.doc_id = q.id_a " +
      "JOIN documents db ON db.doc_id = q.id_b) " +
      "SELECT source_a, source_b, count(*) AS n_pairs FROM j " +
      "GROUP BY 1, 2 ORDER BY 1, 2"

  private val dedupJaccardBlockOracle: String = {
    val toks = "string_split(lower(text), ' ')"
    s"WITH s AS (SELECT doc_id, source, list_distinct($toks) AS sh " +
      s"FROM documents WHERE len($toks) >= 1), " +
      "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jac " +
      "FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id) " +
      "SELECT id_a, id_b, jac FROM p WHERE jac >= 0.9 " +
      "ORDER BY id_a, id_b"
  }

  /** Keep-best dedup oracle: rank within each sha256 content group by
    * (quality DESC, doc_id ASC) and keep rank 1 — same policy as
    * Dedup.exactByContentKeepBest.
    */
  private val dedupKeepBestOracle: String = {
    val toks = "string_split(lower(text), ' ')"
    val stopSet = TextFunctions.stopwordProfiles.head._2
      .map(w => s"'$w'").mkString(", ")
    val punct = "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) " +
      "AS DOUBLE) / greatest(length(text), 1)"
    val stop = s"CAST(len(list_filter($toks, t -> t IN ($stopSet))) " +
      s"AS DOUBLE) / greatest(len($toks), 1)"
    val lenCredit = s"least(CAST(len($toks) AS DOUBLE) / 100.0, 1.0)"
    s"WITH q AS (SELECT doc_id, text, round($lenCredit * 0.5 + " +
      s"$stop * 0.3 + (1.0 - $punct) * 0.2, 6) AS q FROM documents), " +
      "r AS (SELECT doc_id, q, row_number() OVER " +
      "(PARTITION BY sha256(text) ORDER BY q DESC, doc_id) AS rn " +
      "FROM q) " +
      "SELECT doc_id, q FROM r WHERE rn = 1 ORDER BY doc_id"
  }

  /** Composition oracle: the quality score formula (same as
    * [[textQualityOracle]]) gates documents, sha256 groups exact
    * duplicates keeping the min doc_id, and survivors roll up per
    * source.
    */
  private val pipelineCleanOracle: String = {
    val toks = "string_split(lower(text), ' ')"
    val stopSet = TextFunctions.stopwordProfiles.head._2
      .map(w => s"'$w'").mkString(", ")
    val punct = "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) " +
      "AS DOUBLE) / greatest(length(text), 1)"
    val stop = s"CAST(len(list_filter($toks, t -> t IN ($stopSet))) " +
      s"AS DOUBLE) / greatest(len($toks), 1)"
    val lenCredit = s"least(CAST(len($toks) AS DOUBLE) / 100.0, 1.0)"
    s"WITH k AS (SELECT doc_id, source, text FROM documents " +
      s"WHERE round($lenCredit * 0.5 + $stop * 0.3 + " +
      s"(1.0 - $punct) * 0.2, 6) >= 0.5), " +
      "d AS (SELECT min(doc_id) AS doc_id, count(*) AS n_copies " +
      "FROM k GROUP BY sha256(text)) " +
      "SELECT k.source, count(*) AS n_kept, " +
      "CAST(sum(d.n_copies) - count(*) AS BIGINT) AS n_redundant " +
      "FROM d JOIN k ON d.doc_id = k.doc_id " +
      "GROUP BY 1 ORDER BY 1"
  }

  /** Connected components over the exact blocked-Jaccard pair set
    * (same pairs as [[dedupJaccardBlockOracle]]): a recursive CTE
    * computes the transitive closure of the bidirected pair graph and
    * each node's representative is the minimum reachable id — exactly
    * the fixpoint Dedup.duplicateClusters converges to.
    */
  /** Shared recursive-CTE closure over the blocked-Jaccard pair graph
    * (threshold 0.9, 1-gram shingles, source-blocked) — the oracle
    * ground truth for duplicate clustering and the savings report.
    */
  private val jaccardClosureCte: String = {
    val toks = "string_split(lower(text), ' ')"
    s"WITH RECURSIVE s AS (SELECT doc_id, source, " +
      s"list_distinct($toks) AS sh FROM documents " +
      s"WHERE len($toks) >= 1), " +
      "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b " +
      "FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id " +
      "WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.9), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM p " +
      "UNION SELECT id_b, id_a FROM p), " +
      "closure AS (SELECT src AS node, src AS reach FROM e " +
      "UNION SELECT src, dst FROM e " +
      "UNION SELECT c.node, e.dst FROM closure c " +
      "JOIN e ON c.reach = e.src)"
  }

  private val dedupClustersOracle: String =
    s"$jaccardClosureCte " +
      "SELECT node AS doc_id, min(reach) AS cluster_rep " +
      "FROM closure GROUP BY 1 ORDER BY doc_id"

  /** Replay of `schema_drift`: the old side is the standard inference
    * oracle; the new side re-runs the same vote over the derived
    * snapshot's expressions (dropped column, poisoned numeric, added
    * flag), then a full outer join classifies each column.
    */
  private val schemaDriftOracle: String = {
    val newCols = Seq(
      "o_orderkey" -> "CAST(o_orderkey AS VARCHAR)",
      "o_custkey" -> "CAST(o_custkey AS VARCHAR)",
      "o_orderstatus" -> "CAST(o_orderstatus AS VARCHAR)",
      "o_totalprice" -> ("CAST(o_totalprice AS VARCHAR) || CASE WHEN " +
        "o_orderkey % 50 = 0 THEN 'x' ELSE '' END"),
      "o_orderdate" -> "CAST(o_orderdate AS VARCHAR)",
      "o_flag" -> "CASE WHEN o_orderkey % 2 = 0 THEN 'Y' ELSE 'N' END")
    val aT = typeinferOracle("orders")
    val bT = newCols.map { case (c, v) => inferVoteOracle("orders", c, v) }
      .mkString(" UNION ALL ")
    s"WITH aT AS ($aT), bT AS ($bT) " +
      "SELECT coalesce(a.column_name, b.column_name) AS col_name, " +
      "a.inferred_type AS old_type, b.inferred_type AS new_type, " +
      "CASE WHEN a.column_name IS NULL THEN 'added' " +
      "WHEN b.column_name IS NULL THEN 'removed' " +
      "WHEN a.inferred_type <> b.inferred_type THEN 'type_changed' " +
      "ELSE 'unchanged' END AS change " +
      "FROM aT a FULL OUTER JOIN bT b " +
      "ON a.column_name = b.column_name ORDER BY col_name"
  }

  /** Full-rebuild SCD2 replay (shared by `scd2_history` and the
    * incremental `scd2_merge`, whose whole contract is equality with
    * this rebuild).
    */
  private val scd2HistoryOracle: String =
    "WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type, " +
      "event_id FROM events), " +
      "c AS (SELECT *, lag(event_type) OVER w AS prev, " +
      "row_number() OVER w AS rn FROM e " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)), " +
      "ch AS (SELECT user_id, ts_us, event_id, event_type FROM c " +
      "WHERE rn = 1 OR prev IS DISTINCT FROM event_type), " +
      "v AS (SELECT user_id, event_type, ts_us AS valid_from_us, " +
      "lead(ts_us) OVER w2 AS valid_to_us, " +
      "row_number() OVER w2 AS version FROM ch " +
      "WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)) " +
      "SELECT user_id, CAST(version AS INT) AS version, event_type, " +
      "valid_from_us, valid_to_us, " +
      "CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END AS is_current " +
      "FROM v ORDER BY user_id, version"

  /** Replay of the leakage-safe split: cluster closure (shared CTE) →
    * representative per doc (singletons are their own rep) → the SAME
    * MINSTD hash/cuts as [[dataSplitOracle]] applied to the rep →
    * per-split counts, plus the straddling-pair count (must be 0 by
    * construction — same rep ⇒ same split).
    */
  private val splitLeakageSafeOracle: String = {
    val cuts = dataSplits.scanLeft(0.0)(_ + _._2).tail
    val cases = dataSplits.zip(cuts).init
      .map { case ((name, _), cut) => s"WHEN u < $cut THEN '$name'" }
      .mkString(" ")
    s"$jaccardClosureCte, " +
      "cl AS (SELECT node, min(reach) AS rep FROM closure GROUP BY 1), " +
      "r AS (SELECT d.doc_id, COALESCE(cl.rep, d.doc_id) AS rep " +
      "FROM documents d LEFT JOIN cl ON d.doc_id = cl.node), " +
      "hh AS (SELECT doc_id, rep, " +
      "((((CAST(rep AS BIGINT) * 48271) % 2147483647) * 48271 " +
      "% 2147483647) * 48271 % 2147483647) / 2147483647.0 AS u " +
      "FROM r), " +
      s"sp AS (SELECT doc_id, rep, CASE $cases " +
      s"ELSE '${dataSplits.last._1}' END AS split FROM hh), " +
      "viol AS (SELECT count(*) AS v FROM p " +
      "JOIN sp a ON p.id_a = a.doc_id " +
      "JOIN sp b ON p.id_b = b.doc_id WHERE a.split <> b.split) " +
      "SELECT split, count(*) AS n_docs, " +
      "count(DISTINCT rep) AS n_clusters, " +
      "(SELECT v FROM viol) AS cross_split_pairs " +
      "FROM sp GROUP BY 1 ORDER BY 1"
  }

  private val dedupSavingsOracle: String =
    s"$jaccardClosureCte, " +
      "rm AS (SELECT node AS doc_id FROM closure GROUP BY node " +
      "HAVING min(reach) <> node) " +
      "SELECT d.source, count(*) AS n_docs, " +
      "count(r.doc_id) AS n_removed, " +
      "CAST(COALESCE(sum(CASE WHEN r.doc_id IS NOT NULL " +
      "THEN length(d.text) END), 0) AS BIGINT) AS chars_removed " +
      "FROM documents d LEFT JOIN rm r ON d.doc_id = r.doc_id " +
      "GROUP BY 1 ORDER BY d.source"

  /** Shared DuckDB CTE: vec_id + double vector + L2 norm, spelling out
    * the same double arithmetic the Spark operators use.
    */
  private val vecCte: String =
    "v AS (SELECT vec_id, list_transform(embedding, " +
      "x -> CAST(x AS DOUBLE)) AS vec FROM embeddings), " +
      "n AS (SELECT vec_id, vec, sqrt(list_sum(list_transform(vec, " +
      "x -> x * x))) AS nrm FROM v)"

  /** Shared replay skeleton of the graph-ANN tier: assignment CTEs +
    * caller-supplied edge-construction CTEs (must define `edges`) +
    * the fixed two-round beam search. One builder so the one-shot and
    * incremental variants can never drift in their search replay.
    * Split as CTE-chain + final projection so the recall harness can
    * reuse the identical search replay as a subquery
    * (ann_recall_eval_graph — VERDICT r16 #8).
    */
  private def knnGraphOracle(edgeCtes: String): String =
    s"WITH ${knnGraphCtes(edgeCtes)} " +
      "SELECT query_id, CAST(rn AS INT) AS rn, neighbor_id FROM " +
      "(SELECT query_id, id AS neighbor_id, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY sim DESC, id) AS rn FROM fin " +
      "WHERE bn <= 10 AND id <> query_id) WHERE rn <= 5 " +
      "ORDER BY query_id, rn"

  /** One-shot (whole-corpus) edge construction of the graph tier —
    * within-cluster top-6 out-edges symmetrized; shared by the
    * knn_graph oracle and the graph recall harness.
    */
  private val graphOneShotEdgeCtes: String =
    "pe AS (SELECT x.id AS src, y.id AS dst, " +
      "list_sum(list_transform(generate_series(1, len(x.vec)), " +
      "i -> x.vec[i] * y.vec[i])) / (x.nrm * y.nrm) AS esim " +
      "FROM av x JOIN av y ON x.cid = y.cid AND x.id <> y.id), " +
      "oute AS (SELECT src, dst FROM (SELECT src, dst, row_number() " +
      "OVER (PARTITION BY src ORDER BY esim DESC, dst) AS ern " +
      "FROM pe) WHERE ern <= 6), " +
      "edges AS (SELECT DISTINCT src, dst FROM (SELECT src, dst " +
      "FROM oute UNION ALL SELECT dst AS src, src AS dst " +
      "FROM oute))"

  private def knnGraphCtes(edgeCtes: String): String =
    s"$vecCte, " +
      "c AS (SELECT vec_id AS cid, vec AS cvec, nrm AS cnrm FROM n " +
      "WHERE vec_id < 16), " +
      "sc AS (SELECT n.vec_id AS id, c.cid, " +
      "list_sum(list_transform(generate_series(1, len(n.vec)), " +
      "i -> c.cvec[i] * n.vec[i])) / (c.cnrm * n.nrm) AS sim " +
      "FROM n, c), " +
      "assign AS (SELECT id, cid FROM (SELECT id, cid, row_number() " +
      "OVER (PARTITION BY id ORDER BY sim DESC, cid DESC) AS rn " +
      "FROM sc) WHERE rn = 1), " +
      "av AS (SELECT a.id, a.cid, n.vec, n.nrm FROM assign a " +
      "JOIN n ON n.vec_id = a.id), " +
      edgeCtes + ", " +
      "q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnrm " +
      "FROM n WHERE vec_id < 10), " +
      "ent AS (SELECT id AS query_id, cid AS id FROM (SELECT id, " +
      "cid, row_number() OVER (PARTITION BY id ORDER BY sim DESC, " +
      "cid DESC) AS pr FROM sc WHERE id < 10) WHERE pr <= 2), " +
      "x1 AS (SELECT f.query_id, e.dst AS id FROM ent f " +
      "JOIN edges e ON e.src = f.id), " +
      "c1 AS (SELECT DISTINCT query_id, id FROM (SELECT query_id, " +
      "id FROM ent UNION ALL SELECT query_id, id FROM x1)), " +
      "s1 AS (SELECT c1.query_id, c1.id, " +
      "list_sum(list_transform(generate_series(1, len(q.qvec)), " +
      "i -> q.qvec[i] * m.vec[i])) / (q.qnrm * m.nrm) AS sim " +
      "FROM c1 JOIN q ON q.query_id = c1.query_id " +
      "JOIN n m ON m.vec_id = c1.id), " +
      "f1 AS (SELECT query_id, id FROM (SELECT query_id, id, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, " +
      "id) AS bn FROM s1) WHERE bn <= 10), " +
      "x2 AS (SELECT f.query_id, e.dst AS id FROM f1 f " +
      "JOIN edges e ON e.src = f.id), " +
      "c2 AS (SELECT DISTINCT query_id, id FROM (SELECT query_id, " +
      "id FROM f1 UNION ALL SELECT query_id, id FROM x2)), " +
      "s2 AS (SELECT c2.query_id, c2.id, " +
      "list_sum(list_transform(generate_series(1, len(q.qvec)), " +
      "i -> q.qvec[i] * m.vec[i])) / (q.qnrm * m.nrm) AS sim " +
      "FROM c2 JOIN q ON q.query_id = c2.query_id " +
      "JOIN n m ON m.vec_id = c2.id), " +
      "fin AS (SELECT query_id, id, sim, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY sim DESC, id) AS bn FROM s2)"

  private val embedNearDupOracle: String =
    s"WITH $vecCte, " +
      "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
      "round(list_sum(list_transform(generate_series(1, len(a.vec)), " +
      "i -> a.vec[i] * b.vec[i])) / (a.nrm * b.nrm), 6) AS cos " +
      "FROM n a JOIN n b ON a.vec_id < b.vec_id) " +
      "SELECT id_a, id_b, cos FROM p WHERE cos >= 0.45 " +
      "ORDER BY id_a, id_b"

  /** DuckDB replay of `Dedup.simhashPairs(replayableHash = true)`: the
    * LCG token-hash fold ((h+c)*A mod 2^64) as a HUGEINT list_reduce
    * over each token's code points, ±1 bit votes, majority signature,
    * then all-pairs hamming ≤ 3 (the oracle can afford all-pairs at
    * sf0.01; the engine's chunk blocking is complete for ≤ 3, so the
    * sets coincide).
    */
  private val dedupSimhashOracle: String = {
    val bitConsts = (0 until 64)
      .map(i => s"($i, CAST(${BigInt(1) << i} AS HUGEINT))")
      .mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
       |  FROM documents
       |), th AS (
       |  SELECT doc_id, list_reduce(
       |    list_prepend(CAST(1125899906842597 AS HUGEINT),
       |      list_transform(range(1, length(tok)+1),
       |        i -> CAST(ascii(substr(tok, i, 1)) AS HUGEINT))),
       |    (acc, x) -> ((acc + x) * 6364136223846793005)
       |      % 18446744073709551616) AS h
       |  FROM toks
       |), bitc AS (SELECT * FROM (VALUES $bitConsts) t(bit, p)),
       |votes AS (
       |  SELECT doc_id, bit, ANY_VALUE(p) AS p,
       |    SUM(CASE WHEN (h // p) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM th CROSS JOIN bitc GROUP BY doc_id, bit
       |), sigu AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN v > 0 THEN p ELSE CAST(0 AS HUGEINT) END) AS su
       |  FROM votes GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN su >= CAST(9223372036854775808 AS HUGEINT)
       |      THEN su - CAST(18446744073709551616 AS HUGEINT)
       |      ELSE su END AS BIGINT) AS sim
       |  FROM sigu
       |), p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |)
       |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB replay of `Similarity.lshNearDupPairsReplayable`: the 48
    * integer hyperplanes are inlined as VALUES (computed by the same
    * BigInt LCG as the engine), bucket bits decided by exact BIGINT
    * dot products over the floor(x*2^20)-quantized vectors, then
    * bucket-equality candidates verified by exact cosine.
    */
  private val embedNearDupLshOracle: String = {
    val dim = 64
    val planes = (for { t <- 0 until 8; b <- 0 until 6 } yield {
      val cs = (0 until dim)
        .map(i => graft.operators.Similarity.replayComp(t, b, i))
        .mkString(",")
      s"($t, $b, [$cs])"
    }).mkString(", ")
    s"""WITH $vecCte,
       |q AS (SELECT vec_id, list_transform(vec,
       |  x -> CAST(floor(x * 1048576) AS BIGINT)) AS vq FROM v),
       |hp AS (SELECT * FROM (VALUES $planes) t(tbl, bit, cs)),
       |dots AS (
       |  SELECT q.vec_id, hp.tbl, hp.bit,
       |    list_sum(list_transform(generate_series(1, $dim),
       |      i -> q.vq[i] * hp.cs[i])) AS dot
       |  FROM q CROSS JOIN hp
       |), buckets AS (
       |  SELECT vec_id, tbl,
       |    SUM(CASE WHEN dot >= 0 THEN CAST(power(2, bit) AS BIGINT)
       |      ELSE 0 END) AS bucket
       |  FROM dots GROUP BY vec_id, tbl
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM buckets a JOIN buckets b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket
       |    AND a.vec_id < b.vec_id
       |), p AS (
       |  SELECT c.id_a, c.id_b,
       |    round(list_sum(list_transform(generate_series(1, $dim),
       |      i -> na.vec[i] * nb.vec[i])) / (na.nrm * nb.nrm), 6) AS cos
       |  FROM cand c JOIN n na ON na.vec_id = c.id_a
       |    JOIN n nb ON nb.vec_id = c.id_b
       |)
       |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.45
       |ORDER BY id_a, id_b""".stripMargin
  }

  private def knnBruteCtes: String =
    s"WITH $vecCte, " +
      "q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnrm " +
      "FROM n WHERE vec_id < 10), " +
      "p AS (SELECT q.query_id, n.vec_id AS neighbor_id, " +
      "list_sum(list_transform(generate_series(1, len(q.qvec)), " +
      "i -> q.qvec[i] * n.vec[i])) / (q.qnrm * n.nrm) AS sim " +
      "FROM q, n WHERE n.vec_id <> q.query_id), " +
      "r AS (SELECT query_id, neighbor_id, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn " +
      "FROM p)"

  /** DuckDB replay of TextMetrics.bm25Search over the fixed query
    * terms: same tokenizer, same fixed-order double arithmetic (all
    * decimal literals promote to DOUBLE through a DOUBLE operand),
    * idf and per-(doc, term) weights rounded at 9 into DECIMAL(20,9),
    * per-doc sum exact, rounded at 6. `2.2` = k1+1, `1.2` = k1,
    * `0.25` = 1−b, `0.75` = b.
    */
  private val bm25Ctes: String =
    "WITH tk AS (SELECT doc_id AS id, " +
      "string_split(lower(text), ' ') AS toks FROM documents), " +
      "dl AS (SELECT id, CAST(len(toks) AS BIGINT) AS dl FROM tk), " +
      "st AS (SELECT CAST(count(*) AS BIGINT) AS nn, " +
      "CAST(sum(dl) AS BIGINT) AS tot FROM dl), " +
      "tf AS (SELECT id, t, CAST(count(*) AS BIGINT) AS tf " +
      "FROM (SELECT id, unnest(toks) AS t FROM tk) " +
      "WHERE t IN ('spark','query','fast','merge') GROUP BY id, t), " +
      "idf AS (SELECT t, CAST(round(ln(" +
      "(CAST(nn - dft AS DOUBLE) + 0.5) / " +
      "(CAST(dft AS DOUBLE) + 0.5) + 1.0), 9) AS DECIMAL(20,9)) " +
      "AS idf FROM (SELECT t, CAST(count(*) AS BIGINT) AS dft " +
      "FROM tf GROUP BY t), st), " +
      "w AS (SELECT tf.id, CAST(round(" +
      "CAST(idf.idf AS DOUBLE) * (CAST(tf.tf AS DOUBLE) * 2.2) / " +
      "(CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + " +
      "0.75 * CAST(dl.dl AS DOUBLE) / " +
      "(CAST(st.tot AS DOUBLE) / st.nn))), 9) AS DECIMAL(20,9)) AS w " +
      "FROM tf JOIN idf USING (t) JOIN dl USING (id) CROSS JOIN st), " +
      "sc AS (SELECT id, CAST(count(*) AS BIGINT) AS n_terms, " +
      "CAST(round(sum(w), 6) AS DOUBLE) AS score FROM w GROUP BY id)"

  /** DuckDB replay of synthesizeBmp → resize(9×8) → dhash64 straight
    * from the text: sampled source pixel (⌊x·8/9⌋, ⌊y·h/8⌋), fixture
    * channel arithmetic, integer luminance b+g+r, bit (y·8+x) set
    * when the right neighbor is brighter. The bit sum runs in HUGEINT
    * (BIGINT refuses 1<<63) and wraps back to the signed 64-bit value
    * Spark's Long carries.
    */
  private val imageDhashCtes: String =
    "WITH d AS (SELECT doc_id, text, strlen(text) AS n, " +
      "CAST(ceil(strlen(text) / 8.0) AS BIGINT) AS h " +
      "FROM documents " +
      "WHERE length(text) = strlen(text) AND strlen(text) > 0), " +
      "gy AS (SELECT doc_id, text, n, h, " +
      "unnest(generate_series(0, 7)) AS y FROM d), " +
      "g AS (SELECT doc_id, text, n, h, y, " +
      "unnest(generate_series(0, 8)) AS x FROM gy), " +
      "smp AS (SELECT doc_id, y, x, " +
      "((y * h) // 8) * 8 + ((x * 8) // 9) AS k, n, text FROM g), " +
      "lm AS (SELECT doc_id, y, x, b + (3 * b + 1) % 256 + k % 256 " +
      "AS lum FROM (SELECT doc_id, y, x, k, " +
      "CASE WHEN k < n THEN unicode(substr(text, CAST(k + 1 AS INT), 1)) " +
      "ELSE CAST((k * 7) % 256 AS INT) END AS b FROM smp)), " +
      "bits AS (SELECT doc_id, y, x, lum, " +
      "lead(lum) OVER (PARTITION BY doc_id, y ORDER BY x) AS nlum " +
      "FROM lm), " +
      "hs AS (SELECT doc_id, CAST(CASE WHEN s >= 9223372036854775808 " +
      "THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS dhash " +
      "FROM (SELECT doc_id, sum(CASE WHEN nlum > lum " +
      "THEN CAST(1 AS HUGEINT) << (y * 8 + x) ELSE 0 END) AS s " +
      "FROM bits WHERE x < 8 GROUP BY doc_id))"

  private val knnBruteForceOracle: String =
    knnBruteCtes +
      " SELECT query_id, CAST(rn AS INT) AS rn, neighbor_id FROM r " +
      "WHERE rn <= 5 ORDER BY query_id, rn"

  private val semanticSearchOracle: String =
    knnBruteCtes +
      " SELECT r.query_id, CAST(r.rn AS INT) AS rn, r.neighbor_id, " +
      "d.source, d.lang FROM r " +
      "JOIN documents d ON d.doc_id = r.neighbor_id " +
      "WHERE r.rn <= 3 ORDER BY query_id, rn"

  /** Full replay of Similarity.knnIvf (deterministic end to end):
    * centroid scores for every vector, assignment argmax with the
    * struct tie-break (sim DESC, cid DESC), top-nprobe probes per
    * query with the same tie-break, candidates from probed inverted
    * lists, final rank by true cosine (sim DESC, neighbor ASC).
    */
  private val knnIvfOracle: String =
    s"WITH $vecCte, " +
      "c AS (SELECT vec_id AS cid, vec AS cvec, nrm AS cnrm FROM n " +
      "WHERE vec_id < 16), " +
      "sc AS (SELECT n.vec_id AS id, c.cid, " +
      "list_sum(list_transform(generate_series(1, len(n.vec)), " +
      "i -> c.cvec[i] * n.vec[i])) / (c.cnrm * n.nrm) AS sim " +
      "FROM n, c), " +
      "assign AS (SELECT id, cid FROM (SELECT id, cid, row_number() " +
      "OVER (PARTITION BY id ORDER BY sim DESC, cid DESC) AS rn " +
      "FROM sc) WHERE rn = 1), " +
      "probes AS (SELECT id AS query_id, cid FROM (SELECT id, cid, " +
      "row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid DESC) " +
      "AS rn FROM sc WHERE id < 10) WHERE rn <= 4), " +
      "cand AS (SELECT p.query_id, a.id AS neighbor_id FROM probes p " +
      "JOIN assign a ON a.cid = p.cid WHERE a.id <> p.query_id), " +
      "s2 AS (SELECT cd.query_id, cd.neighbor_id, " +
      "list_sum(list_transform(generate_series(1, len(q.vec)), " +
      "i -> q.vec[i] * m.vec[i])) / (q.nrm * m.nrm) AS sim " +
      "FROM cand cd JOIN n q ON q.vec_id = cd.query_id " +
      "JOIN n m ON m.vec_id = cd.neighbor_id), " +
      "r AS (SELECT query_id, neighbor_id, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn " +
      "FROM s2) " +
      "SELECT query_id, CAST(rn AS INT) AS rn, neighbor_id FROM r " +
      "WHERE rn <= 5 ORDER BY query_id, rn"

  /** Full replay of Similarity.knnPq: per-subspace slicing, codebook =
    * vectors with id < 16, argmin encoding with the (d2 ASC, code ASC)
    * tie-break, per-query ADC lookup tables, and the final distance as
    * the same fixed-order list fold over 9-decimal-rounded subspace
    * distances the engine uses — so the doubles agree bit-for-bit.
    * CTE chain shared with `ann_recall_eval_pq` (VERDICT r17 #6) so
    * the ranked search (`r`) and its recall gate can never drift.
    */
  private val knnPqCtes: String = {
    val (m, kc, sd) = (8, 16, 8)
    s"""WITH $vecCte,
       |sub AS (
       |  SELECT vec_id AS id, t.m, list_transform(
       |    generate_series(1, $sd),
       |    i -> vec[t.m * $sd + i] / nrm) AS svec
       |  FROM n, generate_series(0, ${m - 1}) AS t(m)
       |), cb AS (
       |  SELECT m, CAST(id AS INT) AS code, svec AS cvec
       |  FROM sub WHERE id < $kc
       |), d AS (
       |  SELECT s.id, s.m, cb.code,
       |    round(list_sum(list_transform(generate_series(1, $sd),
       |      i -> (s.svec[i] - cb.cvec[i]) * (s.svec[i] - cb.cvec[i]))),
       |      9) AS d2
       |  FROM sub s JOIN cb ON cb.m = s.m
       |), enc AS (
       |  SELECT id, list(code ORDER BY m) AS codes FROM (
       |    SELECT id, m, code, row_number() OVER
       |      (PARTITION BY id, m ORDER BY d2, code) AS rn FROM d)
       |  WHERE rn = 1 GROUP BY id
       |), lut AS (
       |  SELECT id AS query_id, list(d2 ORDER BY m * $kc + code) AS lt
       |  FROM d WHERE id < 10 GROUP BY id
       |), dist AS (
       |  SELECT l.query_id, e.id AS neighbor_id,
       |    list_sum(list_transform(generate_series(1, $m),
       |      mi -> l.lt[(mi - 1) * $kc + e.codes[mi] + 1])) AS dist
       |  FROM enc e, lut l WHERE e.id <> l.query_id
       |), cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER
       |      (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
       |    FROM dist)
       |  WHERE rn <= 50
       |), s2 AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    list_sum(list_transform(generate_series(1, 64),
       |      i -> q.vec[i] * x.vec[i])) / (q.nrm * x.nrm) AS sim
       |  FROM cand c JOIN n q ON q.vec_id = c.query_id
       |    JOIN n x ON x.vec_id = c.neighbor_id
       |), r AS (
       |  SELECT query_id, neighbor_id, row_number() OVER
       |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
       |  FROM s2
       |)""".stripMargin
  }

  private val knnPqOracle: String =
    s"""$knnPqCtes
       |SELECT query_id, CAST(rn AS INT) AS rn, neighbor_id
       |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin

  /** Recall@5 of the PQ tier against exact brute force (VERDICT r17
    * #6): the PQ side is the SAME ranked `r` CTE knn_pq replays, the
    * brute side the same fold `ann_recall_eval` uses — recall for the
    * third ANN tier is an oracle-pinned number, not a spec assertion.
    */
  private val annRecallPqOracle: String =
    s"""$knnPqCtes,
       |ptop AS (
       |  SELECT query_id, neighbor_id FROM r WHERE rn <= 5
       |), bq2 AS (
       |  SELECT vec_id AS query_id, vec AS qvec, nrm AS qnrm
       |  FROM n WHERE vec_id < 10
       |), bp AS (
       |  SELECT bq2.query_id, m.vec_id AS neighbor_id,
       |    list_sum(list_transform(generate_series(1, len(bq2.qvec)),
       |      i -> bq2.qvec[i] * m.vec[i])) / (bq2.qnrm * m.nrm) AS sim
       |  FROM bq2, n m WHERE m.vec_id <> bq2.query_id
       |), btop AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER
       |      (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
       |      AS rn FROM bp)
       |  WHERE rn <= 5
       |)
       |SELECT b.query_id, count(p.neighbor_id) AS n_hits,
       |  round(CAST(count(p.neighbor_id) AS DOUBLE) / 5, 6)
       |    AS recall_at_5
       |FROM btop b LEFT JOIN ptop p ON p.query_id = b.query_id
       |  AND p.neighbor_id = b.neighbor_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Full replay of Similarity.knnIvfTrained: seed centroids = vectors
    * with id < 16, two fixed Lloyd's rounds — assignment argmax with
    * the (sim DESC, cid DESC) tie-break, per-(cid,dim) means as
    * DECIMAL(30,12)-exact sums divided in double and rounded at 9
    * decimals (the operator computes the identical expression, so the
    * replay is bit-stable) — then the same probe/rank replay as
    * [[knnIvfOracle]] against the trained centroids. Dim is fixed at
    * 64 (the embeddings-table contract; DuckDB's generate_series can't
    * laterally reference len(vec)).
    */
  private def oracleDot(a: String, b: String, d: Int = 64): String =
    s"list_sum(list_transform(generate_series(1, $d), " +
      s"i -> $a[i] * $b[i]))"

  /** Shared CTE chain for the trained-IVF oracles: seed centroids =
    * vectors with id < 16, two fixed Lloyd's rounds (assignment
    * argmax with the (sim DESC, cid DESC) tie-break, per-(cid,dim)
    * means as DECIMAL(30,12)-exact sums divided in double and rounded
    * at 9 decimals), then the final `assignf` corpus assignment and
    * the per-query top-`nprobe` `probes`. Trained centroids land in
    * CTE `c2`. Dim is fixed at 64 (the embeddings-table contract;
    * DuckDB's generate_series can't laterally reference len(vec)).
    */
  private def trainedIvfPrefix(nprobe: Int): String = {
    val D = 64
    def score(cIn: String, name: String, filter: String = ""): String =
      s"$name AS (SELECT n.vec_id AS id, c.cid, " +
        s"${oracleDot("c.cvec", "n.vec")} / (c.cnrm * n.nrm) AS sim " +
        s"FROM n, $cIn c$filter)"
    val iters = 2
    val sb = new StringBuilder
    sb.append(s"WITH $vecCte, ")
    sb.append("c0 AS (SELECT vec_id AS cid, vec AS cvec, nrm AS cnrm " +
      "FROM n WHERE vec_id < 16)")
    for (it <- 0 until iters) {
      sb.append(", " + score(s"c$it", s"sc$it"))
      sb.append(s", a$it AS (SELECT id, cid FROM (SELECT id, cid, " +
        "row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid DESC) " +
        s"AS rn FROM sc$it) WHERE rn = 1)")
      sb.append(s", m${it + 1} AS (SELECT a.cid, t.i AS dimi, " +
        "round(CAST(sum(CAST(n.vec[t.i] AS DECIMAL(30,12))) AS DOUBLE) " +
        s"/ count(*), 9) AS m FROM a$it a JOIN n ON n.vec_id = a.id, " +
        s"generate_series(1, $D) AS t(i) GROUP BY 1, 2)")
      sb.append(s", c${it + 1} AS (SELECT cid, cvec, " +
        "sqrt(list_sum(list_transform(cvec, x -> x * x))) AS cnrm FROM " +
        s"(SELECT cid, list(m ORDER BY dimi) AS cvec FROM m${it + 1} " +
        "GROUP BY cid))")
    }
    sb.append(", " + score(s"c$iters", "scf"))
    sb.append(", assignf AS (SELECT id, cid FROM (SELECT id, cid, " +
      "row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid DESC) " +
      "AS rn FROM scf) WHERE rn = 1)")
    sb.append(", probes AS (SELECT id AS query_id, cid FROM (SELECT id, " +
      "cid, row_number() OVER (PARTITION BY id ORDER BY sim DESC, " +
      s"cid DESC) AS rn FROM scf WHERE id < 10) WHERE rn <= $nprobe)")
    sb.toString
  }

  /** Probe/rank tail over the trained centroids — see
    * [[trainedIvfPrefix]] for the shared chain.
    */
  private val knnIvfTrainedOracle: String = {
    val sb = new StringBuilder(trainedIvfPrefix(nprobe = 6))
    sb.append(", cand AS (SELECT p.query_id, a.id AS neighbor_id " +
      "FROM probes p JOIN assignf a ON a.cid = p.cid " +
      "WHERE a.id <> p.query_id)")
    sb.append(", s2 AS (SELECT cd.query_id, cd.neighbor_id, " +
      s"${oracleDot("q.vec", "m.vec")} / (q.nrm * m.nrm) AS sim " +
      "FROM cand cd JOIN n q ON q.vec_id = cd.query_id " +
      "JOIN n m ON m.vec_id = cd.neighbor_id)")
    sb.append(", r AS (SELECT query_id, neighbor_id, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn " +
      "FROM s2)")
    sb.append(" SELECT query_id, CAST(rn AS INT) AS rn, neighbor_id " +
      "FROM r WHERE rn <= 5 ORDER BY query_id, rn")
    sb.toString
  }

  /** Full replay of Similarity.knnIvfPq: the trained-IVF prefix
    * (training, assignment, probes), then unit-space residuals
    * against the assigned/probed centroid, the shared residual
    * codebook (residuals of id < 16), per-(id, subspace) argmin
    * encode with the (d2 ASC, code ASC) tie-break, per-(query, list)
    * LUTs, the fixed-order ADC fold over 9-decimal-rounded subspace
    * distances, the shortlist cut (dist ASC, neighbor ASC), and the
    * exact-cosine rerank to top-5.
    */
  private val knnIvfPqOracle: String = {
    val (m, kc, sd) = (8, 32, 8)
    val sb = new StringBuilder(trainedIvfPrefix(nprobe = 8))
    sb.append(", cu AS (SELECT cid, " +
      "list_transform(cvec, x -> x / cnrm) AS cuvec FROM c2)")
    sb.append(", un AS (SELECT vec_id AS id, " +
      "list_transform(vec, x -> x / nrm) AS uvec FROM n)")
    def residual(keyOut: String, from: String, idRef: String): String =
      s"(SELECT $keyOut, g.cid, list_transform(generate_series(1, 64), " +
        s"i -> u.uvec[i] - cu.cuvec[i]) AS rvec FROM $from g " +
        s"JOIN un u ON u.id = $idRef JOIN cu ON cu.cid = g.cid)"
    sb.append(", resid AS " +
      residual("g.id AS id", "assignf", "g.id"))
    sb.append(", qresid AS " +
      residual("g.query_id AS query_id", "probes", "g.query_id"))
    def slices(name: String, src: String, key: String): String =
      s", $name AS (SELECT $key, t.m, list_transform(" +
        s"generate_series(1, $sd), i -> rvec[t.m * $sd + i]) AS svec " +
        s"FROM $src, generate_series(0, ${m - 1}) AS t(m))"
    sb.append(slices("rsub", "resid", "id, cid"))
    sb.append(slices("qsub", "qresid", "query_id, cid"))
    sb.append(s", cb AS (SELECT m, CAST(id AS INT) AS code, " +
      s"svec AS cvec FROM rsub WHERE id < $kc)")
    def d2(name: String, src: String, key: String): String =
      s", $name AS (SELECT $key, s.m, cb.code, " +
        s"round(list_sum(list_transform(generate_series(1, $sd), " +
        "i -> (s.svec[i] - cb.cvec[i]) * (s.svec[i] - cb.cvec[i]))), " +
        "9) AS d2 FROM " + s"$src s JOIN cb ON cb.m = s.m)"
    sb.append(d2("dd", "rsub", "s.id, s.cid"))
    sb.append(d2("qd", "qsub", "s.query_id, s.cid"))
    sb.append(", enc AS (SELECT id, cid, list(code ORDER BY m) " +
      "AS codes FROM (SELECT id, cid, m, code, row_number() OVER " +
      "(PARTITION BY id, m ORDER BY d2, code) AS rn FROM dd) " +
      "WHERE rn = 1 GROUP BY id, cid)")
    sb.append(s", lut AS (SELECT query_id, cid, " +
      s"list(d2 ORDER BY m * $kc + code) AS lt FROM qd " +
      "GROUP BY query_id, cid)")
    sb.append(s", adc AS (SELECT l.query_id, e.id AS neighbor_id, " +
      s"list_sum(list_transform(generate_series(1, $m), " +
      s"mi -> l.lt[(mi - 1) * $kc + e.codes[mi] + 1])) AS dist " +
      "FROM enc e JOIN lut l ON l.cid = e.cid " +
      "WHERE e.id <> l.query_id)")
    sb.append(", cand AS (SELECT query_id, neighbor_id FROM " +
      "(SELECT query_id, neighbor_id, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn " +
      "FROM adc) WHERE rn <= 50)")
    sb.append(", s2 AS (SELECT c.query_id, c.neighbor_id, " +
      s"${oracleDot("q.vec", "x.vec")} / (q.nrm * x.nrm) AS sim " +
      "FROM cand c JOIN n q ON q.vec_id = c.query_id " +
      "JOIN n x ON x.vec_id = c.neighbor_id)")
    sb.append(", r AS (SELECT query_id, neighbor_id, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn " +
      "FROM s2)")
    sb.append(" SELECT query_id, CAST(rn AS INT) AS rn, neighbor_id " +
      "FROM r WHERE rn <= 5 ORDER BY query_id, rn")
    sb.toString
  }

  private def multimodalMetaQuery(s: SparkSession, dir: String): DataFrame =
    Multimodal.binarize(tbl(s, dir, "documents"), "doc_id", "text")
      .select("doc_id", "n_bytes", "content_hash", "n_chunks")
      .orderBy("doc_id")

  private val multimodalMetaOracle: String =
    "SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes, " +
      "sha256(text) AS content_hash, " +
      "CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / 256.0) " +
      "AS INT) AS n_chunks FROM documents ORDER BY doc_id"

  /** DuckDB replay of the resize pipeline (synthesize → resize 4×2 →
    * stats) straight from the text: nearest-neighbor sampling picks
    * source pixel k = ⌊y·h/2⌋·8 + 2x for output (x, y), whose
    * channels follow the generation formula — both codec passes and
    * the sampler must agree for the hash to match.
    */
  private val multimodalResizeOracle: String =
    "WITH d AS (SELECT doc_id, text, strlen(text) AS n, " +
      "CAST(ceil(strlen(text) / 8.0) AS BIGINT) AS h " +
      "FROM documents " +
      "WHERE length(text) = strlen(text) AND strlen(text) > 0), " +
      "py AS (SELECT doc_id, text, n, h, " +
      "unnest(generate_series(0, 1)) AS y FROM d), " +
      "p AS (SELECT doc_id, text, n, h, y, " +
      "unnest(generate_series(0, 3)) AS x FROM py), " +
      "v AS (SELECT doc_id, (y * 4 + x) AS di, " +
      "((y * h) // 2) * 8 + 2 * x AS k, n, text FROM p) " +
      "SELECT doc_id, 4 AS img_w, 2 AS img_h, 8 AS n_px, " +
      "round(CAST(sum(b) AS DOUBLE) / 8, 6) AS mean_b, " +
      "round(CAST(sum((3 * b + 1) % 256) AS DOUBLE) / 8, 6) AS mean_g, " +
      "round(CAST(sum(k % 256) AS DOUBLE) / 8, 6) AS mean_r, " +
      "CAST(sum((di + 1) * b) AS BIGINT) AS wsum_b, " +
      "CAST(sum((di + 1) * ((3 * b + 1) % 256)) AS BIGINT) AS wsum_g, " +
      "CAST(sum((di + 1) * (k % 256)) AS BIGINT) AS wsum_r " +
      "FROM (SELECT doc_id, di, k, " +
      "CASE WHEN k < n THEN unicode(substr(text, CAST(k + 1 AS INT), 1)) " +
      "ELSE CAST((k * 7) % 256 AS INT) END AS b FROM v) " +
      "GROUP BY doc_id ORDER BY doc_id"

  /** DuckDB replay of synthesizeBmp → decodeImageStats WITHOUT going
    * through BMP bytes: the fixture's pixel arithmetic (blue = text
    * byte / (k·7) mod 256 padding, green = (3·b+1) mod 256, red =
    * k mod 256 over npx = 8·ceil(n/8) pixels) is recomputed straight
    * from the text, so the two sides agree only if the Scala writer
    * AND parser round-trip every pixel into its correct position.
    */
  private val multimodalFeaturesOracle: String =
    "WITH d AS (SELECT doc_id, text, strlen(text) AS n, " +
      "CAST(ceil(strlen(text) / 8.0) AS BIGINT) * 8 AS npx " +
      "FROM documents " +
      "WHERE length(text) = strlen(text) AND strlen(text) > 0), " +
      "px AS (SELECT doc_id, npx, k, " +
      "CASE WHEN k < n THEN unicode(substr(text, CAST(k + 1 AS INT), 1)) " +
      "ELSE CAST((k * 7) % 256 AS INT) END AS b " +
      "FROM (SELECT doc_id, text, n, npx, " +
      "unnest(generate_series(0, npx - 1)) AS k FROM d)) " +
      "SELECT doc_id, 8 AS img_w, CAST(npx // 8 AS INT) AS img_h, " +
      "CAST(npx AS INT) AS n_px, " +
      "round(CAST(sum(b) AS DOUBLE) / npx, 6) AS mean_b, " +
      "round(CAST(sum((3 * b + 1) % 256) AS DOUBLE) / npx, 6) AS mean_g, " +
      "round(CAST(sum(k % 256) AS DOUBLE) / npx, 6) AS mean_r, " +
      "CAST(sum((k + 1) * b) AS BIGINT) AS wsum_b, " +
      "CAST(sum((k + 1) * ((3 * b + 1) % 256)) AS BIGINT) AS wsum_g, " +
      "CAST(sum((k + 1) * (k % 256)) AS BIGINT) AS wsum_r " +
      "FROM px GROUP BY doc_id, npx ORDER BY doc_id"

  // -------------------------------------------------------------------
  // Streaming (Structured Streaming over the bounded events stream)
  // -------------------------------------------------------------------

  private def streamingProfileQuery(s: SparkSession,
      dir: String): DataFrame =
    graft.streaming.StreamingProfile.runWindowedProfile(s, dir)
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("sum_value"), col("min_value"),
        col("max_value"))
      .orderBy("window_start_us", "event_type")

  private val streamingProfileOracle: String =
    "SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, " +
      "event_type, count(*) AS n, " +
      "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value, " +
      "min(value) AS min_value, max(value) AS max_value " +
      "FROM events GROUP BY 1,2 ORDER BY 1,2"

  /** Batch replay of the streaming category-drift monitor: identical
    * hourly counts, reference shares, dense grid, Laplace smoothing,
    * and rounded DECIMAL term sum.
    */
  private val streamDriftOracle: String = {
    val pw = "(CASE WHEN n > 0 THEN CAST(n AS DOUBLE) ELSE 0.5 END " +
      "/ w_n)"
    "WITH w AS (SELECT epoch_us(date_trunc('hour', ts)) AS wus, " +
      "event_type, count(*) AS n FROM events GROUP BY 1, 2), " +
      "ref AS (SELECT event_type, CAST(count(*) AS DOUBLE) / " +
      "(SELECT count(*) FROM events) AS p_ref FROM events " +
      "GROUP BY 1), " +
      "tot AS (SELECT wus, CAST(sum(n) AS BIGINT) AS w_n FROM w " +
      "GROUP BY 1), " +
      "cells AS (SELECT t.wus, t.w_n, r.p_ref, COALESCE(w.n, 0) AS n " +
      "FROM tot t CROSS JOIN ref r " +
      "LEFT JOIN w ON w.wus = t.wus AND w.event_type = r.event_type) " +
      s"SELECT wus AS window_start_us, w_n AS n_events, " +
      s"round(CAST(sum(CAST(round(($pw - p_ref) * ln($pw / p_ref), 9) " +
      "AS DECIMAL(20,9))) AS DOUBLE), 6) AS psi " +
      "FROM cells GROUP BY 1, 2 ORDER BY window_start_us"
  }

  private def streamingEnrichedQuery(s: SparkSession,
      dir: String): DataFrame =
    graft.streaming.StreamingProfile.runEnrichedProfile(s, dir)
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("segment"), col("n"), col("sum_value"))
      .orderBy("window_start_us", "segment")

  private val streamingEnrichedOracle: String =
    "SELECT epoch_us(date_trunc('hour', e.ts)) AS window_start_us, " +
      "c.c_mktsegment AS segment, count(*) AS n, " +
      "CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
      "FROM events e JOIN customer c ON e.user_id = c.c_custkey " +
      "GROUP BY 1,2 ORDER BY 1,2"

  private val sessionGapUs = 1800000000L // 30 min

  private def sessionizeBatchQuery(s: SparkSession,
      dir: String): DataFrame =
    graft.streaming.StreamingProfile.sessionizeBatch(
      tbl(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us")),
      sessionGapUs)

  private def sessionizeStreamQuery(s: SparkSession,
      dir: String): DataFrame =
    graft.streaming.StreamingProfile.runSessionize(s, dir, sessionGapUs)
      .select("user_id", "session_id", "n_events", "start_us", "end_us")
      .orderBy("user_id", "session_id")

  private val sessionizeOracle: String =
    "WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events), " +
      "x AS (SELECT user_id, ts_us, CASE WHEN " +
      "lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL " +
      "OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) " +
      s"> $sessionGapUs THEN 1 ELSE 0 END AS new_s FROM e), " +
      "y AS (SELECT user_id, ts_us, CAST(sum(new_s) OVER " +
      "(PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) " +
      "- 1 AS BIGINT) AS session_id FROM x) " +
      "SELECT user_id, session_id, count(*) AS n_events, " +
      "min(ts_us) AS start_us, max(ts_us) AS end_us FROM y " +
      "GROUP BY 1,2 ORDER BY 1,2"

  // -------------------------------------------------------------------
  // Public contract
  // -------------------------------------------------------------------

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    roundedSummary(tbl(spark, "/root/testdata/sf0.001", "lineitem"))

  /** How a registered query's correctness is gated. */
  sealed trait Gate

  /** DuckDB SQL over the same parquet tables: the oracle check
    * compares rows, schema and value hash against the query's result.
    */
  final case class Oracle(sql: String) extends Gate

  /** No SQL-expressible oracle (sketch values, a search over a
    * session-cached index): Bench times the query, and the named
    * oracle-gated contract query pins its accuracy.
    */
  final case class ContractTwin(name: String) extends Gate

  /** One registered query: how to run it and how it is gated. */
  final case class Query(run: (SparkSession, String) => DataFrame,
      gate: Gate)

  /** The query registry: one entry per implemented operator from
    * SURVEY.md §2 and per LLM-pipeline extension, its gate beside it.
    * A `def`, not a `val`: an object's vals initialise top to bottom,
    * so a registry val would read any oracle val declared below it
    * as null.
    */
  def registry: Map[String, Query] = Map(
    // ops 9,10,12,13,14 — per-column profile suites (whiteRRabbit.R:309-423)
    "summary_lineitem" -> Query(
      (s, dir) => roundedSummary(tbl(s, dir, "lineitem")),
      Oracle(summaryOracle("lineitem"))),
    "summary_orders" -> Query((s, dir) => roundedSummary(tbl(s, dir, "orders")),
      Oracle(summaryOracle("orders"))),
    "summary_customer" -> Query(
      (s, dir) => roundedSummary(tbl(s, dir, "customer")),
      Oracle(summaryOracle("customer"))),
    // op 11 — thresholded top-K value frequencies (whiteRRabbit.R:329-352)
    "freq_lineitem" -> Query((s, dir) => freqQuery(tbl(s, dir, "lineitem"),
      Seq("l_returnflag", "l_linestatus", "l_linenumber"), 5L, 1000),
      Oracle(freqOracle("lineitem",
        Seq("l_returnflag" -> true, "l_linestatus" -> true,
          "l_linenumber" -> false), 5L, 1000))),
    "freq_orders" -> Query((s, dir) => freqQuery(tbl(s, dir, "orders"),
      Seq("o_orderstatus", "o_orderpriority"), 5L, 1000),
      Oracle(freqOracle("orders",
        Seq("o_orderstatus" -> true, "o_orderpriority" -> true), 5L, 1000))),
    "freq_customer" -> Query((s, dir) => freqQuery(tbl(s, dir, "customer"),
      Seq("c_mktsegment"), 5L, 1000),
      Oracle(freqOracle("customer",
        Seq("c_mktsegment" -> true), 5L, 1000))),
    // op 11, 100 TB sketch path: Misra-Gries heavy hitters — capacity
    // 4096 >> the columns' distinct counts, so counts are exact and
    // the oracle replays them; the under-capacity error contract is
    // pinned in ProfileFrequencySpec
    "freq_approx_topk" -> Query((s, dir) => Frequency.approxTopK(
      tbl(s, dir, "lineitem"),
      Seq("l_returnflag", "l_linestatus", "l_linenumber"), k = 10)
      .select(col("col_name"), col("value"), col("cnt"),
        round(col("pct"), 6).as("pct"))
      .orderBy(col("col_name"), col("cnt").desc, col("value")),
      Oracle(freqApproxOracle("lineitem",
        Seq("l_returnflag" -> true, "l_linestatus" -> true,
          "l_linenumber" -> false), 10))),
    // op 11 truncation path: top-10 cap exercises the post-truncation
    // percentage denominator (whiteRRabbit.R:336-344)
    "freq_orders_custkey_top10" -> Query((s, dir) => freqQuery(
      tbl(s, dir, "orders"), Seq("o_custkey"), 5L, 10),
      Oracle(freqOracle("orders",
        Seq("o_custkey" -> false), 5L, 10))),
    "summary_part" -> Query((s, dir) => roundedSummary(tbl(s, dir, "part")),
      Oracle(summaryOracle("part"))),
    "summary_supplier" -> Query(
      (s, dir) => roundedSummary(tbl(s, dir, "supplier")),
      Oracle(summaryOracle("supplier"))),
    // oracle-facing gate for the sketch profile: rank-correctness of
    // every approx quantile + HLL-vs-exact distinct, emitted as
    // deterministic 0/1 flags the oracle pins at 1 (see
    // Profile.approxContract) — a sketch regression flips rows red
    "summary_approx_contract" -> Query((s, dir) =>
      Profile.approxContract(tbl(s, dir, "lineitem")),
      Oracle(sketchContractOracle)),
    // 100 TB mode: HLL distinct + sketch quantiles folded in one
    // scan, no value buffering. Sketch values have no SQL-expressible
    // oracle: bench-only, accuracy pinned by the contract query above
    // (and the ProfileFrequencySpec pins)
    "summary_lineitem_approx" -> Query((s, dir) =>
      Profile.summarizeApprox(tbl(s, dir, "lineitem"))
        .orderBy("column_name"),
      ContractTwin("summary_approx_contract")),
    // date aggregate suite (op 13) on microsecond-precision timestamps
    "summary_events" -> Query((s, dir) => roundedSummary(tbl(s, dir, "events")),
      Oracle(summaryOracle("events"))),
    // the profiler pointed at the LLM corpus table itself
    "summary_documents" -> Query((s, dir) =>
      roundedSummary(tbl(s, dir, "documents")),
      Oracle(summaryOracle("documents"))),
    "freq_documents" -> Query((s, dir) => freqQuery(tbl(s, dir, "documents"),
      Seq("lang", "source"), 5L, 1000),
      Oracle(freqOracle("documents",
        Seq("lang" -> true, "source" -> true), 5L, 1000))),
    // profiling extensions beyond the reference's flat summary: the
    // distribution view (equi-width histogram, two parallel passes)
    // and the Tukey-fence outlier report (fences rounded before the
    // compare so the in/out decision is engine-portable)
    "hist_totalprice" -> Query((s, dir) => Profile.numericHistogram(
      tbl(s, dir, "orders"), "o_totalprice", buckets = 12),
      Oracle("WITH mm AS (SELECT CAST(min(o_totalprice) AS DOUBLE) AS lo, " +
        "CAST(max(o_totalprice) AS DOUBLE) AS hi FROM orders) " +
        "SELECT CAST(CASE WHEN mm.hi = mm.lo THEN 0 ELSE " +
        "least(11, floor((o_totalprice - mm.lo) * 12 / (mm.hi - mm.lo))) " +
        "END AS INT) AS bucket, count(*) AS n_rows, " +
        "round(min(o_totalprice), 6) AS b_min, " +
        "round(max(o_totalprice), 6) AS b_max " +
        "FROM orders, mm WHERE o_totalprice IS NOT NULL " +
        "GROUP BY 1 ORDER BY 1")),
    // exact per-group quantiles over a discrete domain (token counts)
    // from count-based CDFs — no per-group value buffering
    "group_quantiles" -> Query((s, dir) => Profile.groupedCountQuantiles(
      tbl(s, dir, "documents").select(col("source"),
        size(TextFunctions.tokens(col("text"))).as("n_tok")),
      "source", "n_tok", Seq(25, 50, 75)),
      Oracle(groupQuantilesOracle)),
    "outliers_acctbal" -> Query((s, dir) => Profile.outlierFences(
      tbl(s, dir, "customer"), "c_acctbal"),
      Oracle("WITH q AS (SELECT quantile_cont(c_acctbal, 0.25) AS q1, " +
        "quantile_cont(c_acctbal, 0.75) AS q3 FROM customer) " +
        "SELECT round(q1, 6) AS q1, round(q3, 6) AS q3, " +
        "round(q3 - q1, 6) AS iqr, " +
        "round(q1 - 1.5 * (q3 - q1), 6) AS lo_fence, " +
        "round(q3 + 1.5 * (q3 - q1), 6) AS hi_fence, " +
        "CAST(sum(CASE WHEN c_acctbal < round(q1 - 1.5 * (q3 - q1), 6) " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_below, " +
        "CAST(sum(CASE WHEN c_acctbal > round(q3 + 1.5 * (q3 - q1), 6) " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_above, " +
        "count(*) AS n_rows " +
        "FROM customer, q WHERE c_acctbal IS NOT NULL GROUP BY q1, q3")),
    // robust-statistics twin of the Tukey fences: median absolute
    // deviation outliers (|x − med| > 3·1.4826·MAD — the consistent-
    // estimator scaling). Two exact interpolated medians (the same
    // arithmetic DuckDB's median/mad interpolate), broadcast back as
    // 1-row aggregates — never a driver collect
    "outliers_mad" -> Query((s, dir) => {
      val c = tbl(s, dir, "customer")
      val med = c.agg(expr("percentile(c_acctbal, 0.5)").as("med"))
      val dev = c.crossJoin(broadcast(med))
        .select(col("med"), abs(col("c_acctbal") - col("med")).as("dev"))
      val mad = dev.agg(expr("percentile(dev, 0.5)").as("mad"))
      dev.crossJoin(broadcast(mad))
        .agg(count(lit(1)).as("n"),
          round(max(col("med")), 6).as("med"),
          round(max(col("mad")), 6).as("mad"),
          sum(when(col("dev") > lit(3.0) * lit(1.4826) * col("mad"),
            1L).otherwise(0L)).as("n_outliers"))
    },
      Oracle("WITH m AS (SELECT median(c_acctbal) AS med FROM customer), " +
        "d AS (SELECT med, abs(c_acctbal - med) AS dev " +
        "FROM customer CROSS JOIN m), " +
        "m2 AS (SELECT median(dev) AS mad FROM d) " +
        "SELECT count(*) AS n, round(max(med), 6) AS med, " +
        "round(max(mad), 6) AS mad, " +
        "CAST(sum(CASE WHEN dev > 3.0 * 1.4826 * mad THEN 1 ELSE 0 " +
        "END) AS BIGINT) AS n_outliers FROM d CROSS JOIN m2")),
    "freq_part" -> Query((s, dir) => freqQuery(tbl(s, dir, "part"),
      Seq("p_brand", "p_type"), 5L, 1000),
      Oracle(freqOracle("part",
        Seq("p_brand" -> true, "p_type" -> true), 5L, 1000))),
    // ops 5-6 — statistical type promotion (whiteRRabbit.R:139-204)
    "typeinfer_orders" -> Query(
      (s, dir) => typeinferQuery(s, tbl(s, dir, "orders")),
      Oracle(typeinferOracle("orders"))),
    "typeinfer_events" -> Query(
      (s, dir) => typeinferQuery(s, tbl(s, dir, "events")),
      Oracle(typeinferOracle("events"))),
    // ops 5-6 roundtrip: stringify → infer → promote → profile must
    // reproduce the typed table's profile exactly. The promoted frame
    // localCheckpoints (optimization r18, guide §1.2): the profile
    // reads it twice (counters agg + histogram melt) and each pass would
    // otherwise re-evaluate the full promote cast cascade — the
    // 40-format date parse included — over every row; materializing
    // parses once and hands both passes binary columns.
    "typeinfer_roundtrip" -> Query((s, dir) => {
      val promoted = TypeInference
        .inferAndPromote(
          Profile.widened(stringified(tbl(s, dir, "orders"))))
        ._1.localCheckpoint(true)
      // summary = one row per column; released via collectReleased
      collectReleased(roundedSummary(promoted), promoted)
    },
      Oracle(summaryOracle("orders"))),
    // op 4 — exact-k random sample (whiteRRabbit.R:225-272)
    "sample_exactk" -> Query((s, dir) => sampleQuery(s, dir),
      Oracle("SELECT LEAST(1000, count(*)) AS n FROM lineitem")),
    // LLM pipeline — per-group exact-k sampling (source balancing);
    // the sampled rows are seed-dependent, so the contract checks the
    // per-group sample SIZE and sampled-key distinctness
    // LLM pipeline — weighted exact-k sampling (Efraimidis-Spirakis
    // A-Res): contract checks sample size, key distinctness, and the
    // weight bias (sampled mean totalprice must exceed the population
    // mean — hardcoded-true in the oracle, flips red if the weighting
    // breaks; the sampled rows themselves are seed-dependent)
    "sample_weighted" -> Query((s, dir) => {
      val orders = tbl(s, dir, "orders")
      val sampled = Sampling.weightedExactK(orders, "o_totalprice", 1000)
      sampled.agg(count(lit(1)).as("n"),
          countDistinct(col("o_orderkey")).as("n_distinct"),
          avg(col("o_totalprice")).as("__avg_s"))
        .crossJoin(orders.agg(avg(col("o_totalprice")).as("__avg_p")))
        .select(col("n"), col("n_distinct"),
          (col("__avg_s") > col("__avg_p")).cast("int").as("uplift"))
    },
      Oracle("SELECT CAST(1000 AS BIGINT) AS n, " +
        "CAST(1000 AS BIGINT) AS n_distinct, CAST(1 AS INT) AS uplift")),
    "sample_stratified" -> Query((s, dir) => Sampling.stratifiedExactK(
      tbl(s, dir, "orders"), "o_orderpriority", 100)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_sampled"),
        countDistinct(col("o_orderkey")).as("n_distinct"))
      .orderBy("o_orderpriority"),
      Oracle("SELECT o_orderpriority, LEAST(100, count(*)) AS n_sampled, " +
        "LEAST(100, count(*)) AS n_distinct FROM orders " +
        "GROUP BY 1 ORDER BY 1")),
    // LLM pipeline — the combined mixer primitive: per-source k docs
    // biased by quality (A-Res per group, per-group exact-ladder
    // pre-thin). Contract: per-group size, distinctness, and the
    // weighted uplift flag (sampled mean weight must beat the
    // group's population mean — flips red if the weighting or the
    // grouping breaks)
    "sample_weighted_stratified" -> Query((s, dir) => {
      val orders = tbl(s, dir, "orders")
      val sampled = Sampling.weightedStratifiedExactK(
        orders, "o_orderpriority", "o_totalprice", 100)
      val pop = orders.where(col("o_totalprice") > 0)
        .groupBy(col("o_orderpriority").as("__p"))
        .agg(avg(col("o_totalprice")).as("__avg_p"))
      sampled.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_sampled"),
          countDistinct(col("o_orderkey")).as("n_distinct"),
          avg(col("o_totalprice")).as("__avg_s"))
        .join(broadcast(pop), col("o_orderpriority") === col("__p"))
        .select(col("o_orderpriority"), col("n_sampled"),
          col("n_distinct"),
          (col("__avg_s") > col("__avg_p")).cast("int").as("uplift"))
        .orderBy("o_orderpriority")
    },
      Oracle("SELECT o_orderpriority, LEAST(100, count(*)) AS n_sampled, " +
        "LEAST(100, count(*)) AS n_distinct, 1 AS uplift FROM orders " +
        "WHERE o_totalprice > 0 GROUP BY 1 ORDER BY 1")),
    // LLM pipeline — corpus mix report: per-source doc/token/char
    // volume and token share (what a data-mixing step consumes)
    "corpus_mix" -> Query((s, dir) => {
      val d = tbl(s, dir, "documents")
      val agg = d.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(size(TextFunctions.tokens(col("text")))).as("n_tokens"),
        sum(length(col("text"))).as("n_chars"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
      agg.withColumn("token_share",
          round(col("n_tokens") / sum(col("n_tokens")).over(w), 6))
        .orderBy("source")
    },
      Oracle("WITH m AS (SELECT source, count(*) AS n_docs, " +
        "sum(len(string_split(lower(text), ' '))) AS n_tokens, " +
        "sum(length(text)) AS n_chars FROM documents GROUP BY 1) " +
        "SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "CAST(n_chars AS BIGINT) AS n_chars, " +
        "round(n_tokens / (SELECT sum(n_tokens) FROM m), 6) " +
        "AS token_share FROM m ORDER BY source")),
    // LLM pipeline — perplexity filtering with an EXACT global
    // percentile cut: per-doc unigram logprob, ranked by the
    // distributed ranking operator (no single-partition window), the
    // bottom decile dropped, survivors reported per source. The
    // integer rank cut (rank*10 > n) replays exactly in SQL.
    "pipeline_perplexity" -> Query((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val lp = TextMetrics.unigramLogprob(docs, "doc_id", "text")
      val ranked = graft.operators.Ranking.globalRowNumber(
        lp, Seq(col("avg_logprob"), col("id")), 32)
      val n = lp.agg(count(lit(1)).as("__n"))
      ranked.crossJoin(broadcast(n))
        .where(col("row_num") * 10 > col("__n"))
        .join(docs.select(col("doc_id").as("id"), col("source")), "id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("avg_logprob")).as("worst_kept_lp"))
        .orderBy("source")
    },
      Oracle(pipelinePerplexityOracle)),
    // event analytics — funnel conversion rate: share of purchases
    // preceded by a click from the same user within 15 minutes
    // (EXISTS semi-join over the interval condition)
    "funnel_conversion" -> Query((s, dir) => {
      val ev = tbl(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"), col("event_type"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t_us"))
      val c = ev.where(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("t_us").as("c_us"))
      val converted = p.join(c, col("user_id") === col("cu") &&
          col("c_us") <= col("t_us") &&
          col("c_us") >= col("t_us") - lit(900000000L), "left_semi")
      p.agg(count(lit(1)).as("n_purchases"))
        .crossJoin(converted.agg(count(lit(1)).as("n_converted")))
        .select(col("n_purchases"), col("n_converted"),
          round(col("n_converted").cast("double") / col("n_purchases"),
            6).as("conversion_rate"))
    },
      Oracle("WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t_us " +
        "FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id AS cu, epoch_us(ts) AS c_us FROM events " +
        "WHERE event_type = 'click'), " +
        "conv AS (SELECT count(*) AS n_converted FROM p WHERE EXISTS " +
        "(SELECT 1 FROM c WHERE cu = p.user_id " +
        "AND c_us <= p.t_us AND c_us >= p.t_us - 900000000)) " +
        "SELECT (SELECT count(*) FROM p) AS n_purchases, n_converted, " +
        "round(CAST(n_converted AS DOUBLE) / " +
        "(SELECT count(*) FROM p), 6) AS conversion_rate FROM conv")),
    // LLM pipeline — temperature-scaled source mixing weights
    // (p_i^alpha multinomial sampling, mT5-style)
    "mix_weights" -> Query((s, dir) => TextMetrics.mixWeights(
      tbl(s, dir, "documents"), "text", "source", alpha = 0.7),
      Oracle("WITH c AS (SELECT source, count(*) AS n_docs, " +
        "CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) " +
        "AS n_tokens FROM documents GROUP BY 1), " +
        "s AS (SELECT *, CAST(n_tokens AS DOUBLE) / " +
        "sum(n_tokens) OVER () AS share FROM c), " +
        "t AS (SELECT *, CAST(round(pow(share, 0.7), 9) " +
        "AS DECIMAL(20,9)) AS sc FROM s) " +
        "SELECT source, n_docs, n_tokens, round(share, 6) AS share, " +
        "round(CAST(sc AS DOUBLE) / CAST(sum(sc) OVER () AS DOUBLE), 6) " +
        "AS weight FROM t ORDER BY source")),
    // profiling extension — per-column value-distribution entropy
    // (near-constant vs identifier-like columns; feed-collapse flag)
    "col_entropy" -> Query((s, dir) => Profile.valueEntropy(
      tbl(s, dir, "lineitem"),
      Seq("l_returnflag", "l_linestatus", "l_linenumber",
        "l_quantity", "l_discount", "l_tax")),
      Oracle(colEntropyOracle)),
    // profiling extension — FK discovery: inclusion coefficients for
    // three candidate relationships (two true FKs, one non-FK control)
    "fk_inclusion" -> Query((s, dir) => {
      val pairs = Seq(
        ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey",
          "customer", "c_custkey"),
        ("lineitem.l_orderkey->orders.o_orderkey", "lineitem",
          "l_orderkey", "orders", "o_orderkey"),
        ("customer.c_custkey->supplier.s_suppkey", "customer",
          "c_custkey", "supplier", "s_suppkey"))
      pairs.map { case (label, ta, ca, tb, cb) =>
        Profile.inclusionCoefficient(tbl(s, dir, ta), ca,
            tbl(s, dir, tb), cb)
          .select(lit(label).as("pair"), col("n_a"), col("n_in_b"),
            col("inclusion"))
      }.reduce(_ unionByName _).orderBy("pair")
    },
      Oracle {
        def one(label: String, ta: String, ca: String, tb: String,
            cb: String) =
          s"SELECT '$label' AS pair, count(*) AS n_a, " +
            s"count(b.v) AS n_in_b, " +
            "round(CAST(count(b.v) AS DOUBLE) / " +
            "greatest(count(*), 1), 6) AS inclusion FROM " +
            s"(SELECT DISTINCT CAST($ca AS VARCHAR) AS v FROM $ta " +
            s"WHERE $ca IS NOT NULL) a LEFT JOIN " +
            s"(SELECT DISTINCT CAST($cb AS VARCHAR) AS v FROM $tb " +
            s"WHERE $cb IS NOT NULL) b ON a.v = b.v"
        one("orders.o_custkey->customer.c_custkey", "orders",
          "o_custkey", "customer", "c_custkey") +
          " UNION ALL " +
          one("lineitem.l_orderkey->orders.o_orderkey", "lineitem",
            "l_orderkey", "orders", "o_orderkey") +
          " UNION ALL " +
          one("customer.c_custkey->supplier.s_suppkey", "customer",
            "c_custkey", "supplier", "s_suppkey") +
          " ORDER BY pair"
      }),
    // data-quality constraint suite: 8 declarative checks (incl. one
    // that intentionally fails — uniqueness of a 5-value segment
    // column) evaluated in ONE aggregation scan
    "quality_checks" -> Query((s, dir) => {
      import graft.operators.QualityChecks._
      evaluate(tbl(s, dir, "customer"), Seq(
        completeness("c_name", 1.0),
        completeness("c_acctbal", 1.0),
        uniqueness("c_custkey", 1.0),
        uniqueness("c_mktsegment", 0.5),
        minValue("c_acctbal", -1000.0),
        maxValue("c_acctbal", 10000.0),
        matchFraction("c_name", "^Customer#[0-9]{9}$", 1.0),
        inSet("c_mktsegment", Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY"), 1.0)))
    },
      Oracle {
        // one aggregate subquery (mirroring the engine's single pass),
        // melted via UNION ALL; every literal cast so types match the
        // Spark report exactly (DOUBLE metric/threshold, INT passed)
        def row(name: String, c: String, metric: String, op: String,
            t: Double) =
          s"SELECT '$name' AS check_name, '$c' AS col_name, " +
            s"$metric AS metric, CAST($t AS DOUBLE) AS threshold, " +
            s"CASE WHEN $metric $op $t THEN 1 ELSE 0 END AS passed FROM a"
        "WITH a AS (SELECT " +
          "round(CAST(count(c_name) AS DOUBLE) / count(*), 9) AS m1, " +
          "round(CAST(count(c_acctbal) AS DOUBLE) / count(*), 9) AS m2, " +
          "round(CAST(count(DISTINCT c_custkey) AS DOUBLE) / " +
          "count(c_custkey), 9) AS m3, " +
          "round(CAST(count(DISTINCT c_mktsegment) AS DOUBLE) / " +
          "count(c_mktsegment), 9) AS m4, " +
          "round(CAST(min(c_acctbal) AS DOUBLE), 9) AS m5, " +
          "round(CAST(max(c_acctbal) AS DOUBLE), 9) AS m6, " +
          "round(CAST(sum(CASE WHEN regexp_matches(c_name, " +
          "'^Customer#[0-9]{9}$') THEN 1 ELSE 0 END) AS DOUBLE) / " +
          "count(c_name), 9) AS m7, " +
          "round(CAST(sum(CASE WHEN c_mktsegment IN ('AUTOMOBILE', " +
          "'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY') " +
          "THEN 1 ELSE 0 END) AS DOUBLE) / count(c_mktsegment), 9) " +
          "AS m8 FROM customer) " +
          Seq(
            row("completeness_c_name", "c_name", "m1", ">=", 1.0),
            row("completeness_c_acctbal", "c_acctbal", "m2", ">=", 1.0),
            row("uniqueness_c_custkey", "c_custkey", "m3", ">=", 1.0),
            row("uniqueness_c_mktsegment", "c_mktsegment", "m4", ">=",
              0.5),
            row("min_c_acctbal", "c_acctbal", "m5", ">=", -1000.0),
            row("max_c_acctbal", "c_acctbal", "m6", "<=", 10000.0),
            row("match_c_name", "c_name", "m7", ">=", 1.0),
            row("in_set_c_mktsegment", "c_mktsegment", "m8", ">=", 1.0)
          ).mkString(" UNION ALL ") +
          " ORDER BY check_name"
      }),
    // Z-order clustering key: Morton interleave of (l_partkey,
    // l_suppkey) on a 16-bit grid with fixed bounds — the sort key
    // ZOrder.clustered range-partitions files by (file-skipping evidence
    // is measured in ZOrderSpec; this pins the code arithmetic)
    "zorder_code" -> Query((s, dir) => tbl(s, dir, "lineitem")
      .where(col("l_orderkey") < 400)
      .select(col("l_orderkey"), col("l_linenumber"),
        operators.ZOrder.mortonCode(col("l_partkey"), col("l_suppkey"),
          0.0, 4000.0, 0.0, 200.0).as("zcode"))
      .orderBy("l_orderkey", "l_linenumber"),
      Oracle("SELECT l_orderkey, l_linenumber, " +
        graft.operators.ZOrder.mortonSql("l_partkey", "l_suppkey",
          0.0, 4000.0, 0.0, 200.0) + " AS zcode " +
        "FROM lineitem WHERE l_orderkey < 400 " +
        "ORDER BY l_orderkey, l_linenumber")),
    // N-dimensional Morton interleave (bit b of dim i at position
    // b·d+i, 10 bits × 3 dims) — the multi-column OPTIMIZE ZORDER
    // key, bit-replayed by the generated SQL twin
    "zorder3_code" -> Query((s, dir) => tbl(s, dir, "lineitem")
      .where(col("l_orderkey") < 400)
      .select(col("l_orderkey"), col("l_linenumber"),
        operators.ZOrder.mortonCodeN(Seq(
          (col("l_partkey"), 0.0, 4000.0),
          (col("l_suppkey"), 0.0, 200.0),
          (col("l_quantity"), 0.0, 50.0)), bits = 10).as("zcode3"))
      .orderBy("l_orderkey", "l_linenumber"),
      Oracle("SELECT l_orderkey, l_linenumber, " +
        graft.operators.ZOrder.mortonSqlN(Seq(
          ("l_partkey", 0.0, 4000.0), ("l_suppkey", 0.0, 200.0),
          ("l_quantity", 0.0, 50.0)), bits = 10) + " AS zcode3 " +
        "FROM lineitem WHERE l_orderkey < 400 " +
        "ORDER BY l_orderkey, l_linenumber")),
    // incremental view maintenance: two batch states (orders before /
    // after a cutover date) merged WITHOUT rescanning raw rows must
    // equal the direct full aggregation the oracle computes; the HLL
    // flag pins the sketch merge like hll_rollup
    "ivm_merge" -> Query((s, dir) => {
      val orders = tbl(s, dir, "orders")
      val keys = Seq("o_orderstatus")
      val cut = "1997-01-01"
      val merged = operators.Ivm.merge(Seq(
        operators.Ivm.aggState(orders.where(col("o_orderdate") < cut),
          keys, "o_totalprice", "o_custkey"),
        operators.Ivm.aggState(orders.where(col("o_orderdate") >= cut),
          keys, "o_totalprice", "o_custkey")), keys)
      val exact = orders.groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      operators.Ivm.finalizeState(merged, keys)
        .join(exact, "o_orderstatus")
        .select(col("o_orderstatus"), col("n"), col("sum_v"),
          col("min_v"), col("max_v"), col("avg_v"), col("n_exact"),
          (abs(col("n_distinct_est") - col("n_exact")) /
            col("n_exact") <= 0.05).cast("int").as("within_5pct"))
        .orderBy("o_orderstatus")
    },
      Oracle("SELECT o_orderstatus, count(*) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS sum_v, " +
        "min(o_totalprice) AS min_v, max(o_totalprice) AS max_v, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) " +
        "AS DOUBLE) / count(*), 6) AS avg_v, " +
        "count(DISTINCT o_custkey) AS n_exact, 1 AS within_5pct " +
        "FROM orders GROUP BY 1 ORDER BY 1")),
    // MERGE-style upsert on the versioned table: base snapshot + the
    // even-keyed half of the revised snapshot as the update set; the
    // committed result must equal the SQL merge replay row-for-row
    // (pins the left-anti + union shape AND the committed bytes)
    "table_upsert" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_upsert_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val (old, nw) = cdcSnapshots(s, dir)
      val cols = Seq("o_orderkey", "o_totalprice", "o_orderstatus")
      graft.sources.VersionedTable.commit(
        old.select(cols.map(col): _*), root, tag = "base")
      graft.sources.VersionedTable.upsert(s, root,
        nw.where(col("o_orderkey") % 2 === 0).select(cols.map(col): _*),
        Seq("o_orderkey"), tag = "merge")
      graft.sources.VersionedTable.read(s, root).orderBy("o_orderkey")
    },
      Oracle("WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus " +
        "FROM orders WHERE o_orderkey % 10 <> 0), " +
        "nn AS (SELECT o_orderkey, " +
        "CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100 " +
        "ELSE o_totalprice END AS o_totalprice, " +
        "CASE WHEN o_orderkey % 5 = 0 THEN 'X' " +
        "ELSE o_orderstatus END AS o_orderstatus " +
        "FROM orders WHERE o_orderkey % 7 <> 0), " +
        "upd AS (SELECT * FROM nn WHERE o_orderkey % 2 = 0) " +
        "SELECT * FROM (" +
        "SELECT * FROM o WHERE o_orderkey NOT IN " +
        "(SELECT o_orderkey FROM upd) " +
        "UNION ALL SELECT * FROM upd) ORDER BY o_orderkey")),
    // MERGE-ON-READ upsert: ONE atomic commit carries the update
    // batch's delta dir AND a delete sidecar of the matched keys
    // (both sequenced at the commit, so the erasure scopes to
    // pre-existing dirs only) — metadata-time updates on a huge
    // table where the CoW upsert pays a full rewrite. Replayed once:
    // the second commit's delete erases the first delta's rows and
    // re-appends identical ones — content-idempotent. Self-verified
    // against the CoW-upsert expectation; same oracle as
    // table_upsert.
    "table_upsert_mor" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_upsertmor_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val (old, nw) = cdcSnapshots(s, dir)
      val cols = Seq("o_orderkey", "o_totalprice", "o_orderstatus")
      val v0 = graft.sources.VersionedTable.commit(
        old.select(cols.map(col): _*), root, tag = "base")
      val before = graft.sources.VersionedTable.dataBytes(s, root, v0)
      val ups = nw.where(col("o_orderkey") % 2 === 0)
        .select(cols.map(col): _*)
      graft.sources.VersionedTable.upsertMor(s, root, ups,
        Seq("o_orderkey"), tag = "mor-upsert")
      graft.sources.VersionedTable.upsertMor(s, root, ups,
        Seq("o_orderkey"), tag = "mor-upsert-replay")
      // the MoR promise: the base commit's bytes were never rewritten
      require(graft.sources.VersionedTable.dataBytes(s, root, v0) ==
        before, "upsertMor rewrote base data bytes")
      val kept = old.select(cols.map(col): _*).join(
        ups.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      selfVerified(s, "table_upsert_mor", root,
        graft.sources.VersionedTable.read(s, root).orderBy("o_orderkey"),
        kept.unionByName(ups).orderBy("o_orderkey"))
    },
      // the MoR upsert must equal the CoW upsert — same oracle
      Oracle("WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus " +
        "FROM orders WHERE o_orderkey % 10 <> 0), " +
        "nn AS (SELECT o_orderkey, " +
        "CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100 " +
        "ELSE o_totalprice END AS o_totalprice, " +
        "CASE WHEN o_orderkey % 5 = 0 THEN 'X' " +
        "ELSE o_orderstatus END AS o_orderstatus " +
        "FROM orders WHERE o_orderkey % 7 <> 0), " +
        "upd AS (SELECT * FROM nn WHERE o_orderkey % 2 = 0) " +
        "SELECT * FROM (" +
        "SELECT * FROM o WHERE o_orderkey NOT IN " +
        "(SELECT o_orderkey FROM upd) " +
        "UNION ALL SELECT * FROM upd) ORDER BY o_orderkey")),
    // full MERGE INTO on the versioned table: the even-keyed half of
    // the revised snapshot is the source batch, its mod-9 keys marked
    // as delete requests through an `op` column the deleteIf branch
    // reads (and the target schema never sees). One full-outer key
    // join classifies matched-update / matched-delete /
    // not-matched-insert; unmatched deletes are no-ops. The merge is
    // run TWICE — idempotence under at-least-once redelivery is part
    // of the pinned contract — and the committed bytes are
    // self-verified against the source-derived expectation before the
    // oracle replays the same branches as SQL set operations.
    "table_merge" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_merge_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val (old, nw) = cdcSnapshots(s, dir)
      val cols = Seq("o_orderkey", "o_totalprice", "o_orderstatus")
      graft.sources.VersionedTable.commit(
        old.select(cols.map(col): _*), root, tag = "base")
      val src = nw.where(col("o_orderkey") % 2 === 0)
        .select(cols.map(col): _*)
        .withColumn("op", when(col("o_orderkey") % 9 === 0, lit("D"))
          .otherwise(lit("U")))
      graft.sources.VersionedTable.merge(s, root, src,
        Seq("o_orderkey"), deleteIf = Some(col("op") === "D"),
        tag = "merge")
      graft.sources.VersionedTable.merge(s, root, src,
        Seq("o_orderkey"), deleteIf = Some(col("op") === "D"),
        tag = "merge-replay")
      // source-derived expectation: untouched target rows plus every
      // non-delete source row (update if matched, insert if not)
      val kept = old.select(cols.map(col): _*).join(
        src.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      val expect = kept.unionByName(
        src.where(col("op") =!= "D").select(cols.map(col): _*))
      selfVerified(s, "table_merge", root,
        graft.sources.VersionedTable.read(s, root).orderBy("o_orderkey"),
        expect.orderBy("o_orderkey"))
    },
      Oracle("WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus " +
        "FROM orders WHERE o_orderkey % 10 <> 0), " +
        "nn AS (SELECT o_orderkey, " +
        "CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100 " +
        "ELSE o_totalprice END AS o_totalprice, " +
        "CASE WHEN o_orderkey % 5 = 0 THEN 'X' " +
        "ELSE o_orderstatus END AS o_orderstatus " +
        "FROM orders WHERE o_orderkey % 7 <> 0), " +
        "src AS (SELECT *, CASE WHEN o_orderkey % 9 = 0 THEN 'D' " +
        "ELSE 'U' END AS op FROM nn WHERE o_orderkey % 2 = 0) " +
        "SELECT * FROM (" +
        "SELECT o_orderkey, o_totalprice, o_orderstatus FROM o " +
        "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src) " +
        "UNION ALL SELECT o_orderkey, o_totalprice, o_orderstatus " +
        "FROM src WHERE op <> 'D') ORDER BY o_orderkey")),
    // CDC: insert/update/delete classification between two snapshots
    // (both derived deterministically from orders so the oracle can
    // rebuild them); one full-outer sort-merge join, unchanged keys
    // never leave the join
    "cdc_diff" -> Query((s, dir) => {
      val (old, nw) = cdcSnapshots(s, dir)
      Cdc.snapshotDiff(old, nw, Seq("o_orderkey"),
        Seq("o_totalprice", "o_orderstatus"))
    },
      Oracle(cdcDiffOracle)),
    // snapshot-versioned table layer: commit the SAME two snapshots
    // as manifest-last parquet versions, read both back BY VERSION ID
    // (time travel), and re-derive the cdc_diff classification from
    // the committed bytes — one oracle pins the diff AND the
    // round-trip fidelity of the versioned reads
    "table_time_travel" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_orders_$tag"
      // fresh table per run: two commits, ids returned by the protocol
      graft.sources.VersionedTable.destroy(s, root)
      val (old, nw) = cdcSnapshots(s, dir)
      val cols = Seq("o_orderkey", "o_totalprice", "o_orderstatus")
      val v0 = graft.sources.VersionedTable.commit(
        old.select(cols.map(col): _*), root, tag = "base")
      val v1 = graft.sources.VersionedTable.commit(
        nw.select(cols.map(col): _*), root, tag = "revised")
      Cdc.snapshotDiff(
        graft.sources.VersionedTable.readVersion(s, root, v0),
        graft.sources.VersionedTable.readVersion(s, root, v1),
        Seq("o_orderkey"), Seq("o_totalprice", "o_orderstatus"))
    },
      // time travel re-derives cdc_diff's classification from two
      // COMMITTED snapshots read back by version id — the oracle is
      // identical because the versioned reads must be byte-faithful
      Oracle(cdcDiffOracle)),
    // named refs: tag the curated snapshot, advance the table twice,
    // vacuum with a retention window that would EXPIRE the tagged
    // version — the ref pins it — then time-travel by name; the
    // oracle replays the curated slice off the raw table
    "table_ref_read" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_ref_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val orders = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      val v0 = graft.sources.VersionedTable.commit(
        orders.where(col("o_orderkey") % 4 === 0), root, "curated")
      graft.sources.VersionedTable.createRef(s, root,
        "train-2026.08", v0)
      graft.sources.VersionedTable.commit(orders, root, "full")
      graft.sources.VersionedTable.commit(
        orders.where(col("o_orderkey") % 2 === 0), root, "half")
      graft.sources.VersionedTable.vacuum(s, root, keepLast = 2)
      graft.sources.VersionedTable.readRef(s, root, "train-2026.08")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice"), 2).as("sum_price"))
        .orderBy("o_orderstatus")
    },
      Oracle("SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS sum_price FROM orders WHERE o_orderkey % 4 = 0 " +
        "GROUP BY 1 ORDER BY 1")),
    // write-audit-publish over branch refs: readers follow the
    // movable `main` ref; a new snapshot commits UNREFERENCED
    // (staged), a declarative quality audit runs against it, and only
    // a passing audit moves `main` — failed stages stay invisible to
    // readers forever (the spec drives that path). The oracle pins
    // what a reader of `main` sees after a passing publish
    "table_wap_publish" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_wap_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val orders = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      val v0 = graft.sources.VersionedTable.commit(
        orders.where(col("o_orderkey") % 2 === 0), root, "seed")
      graft.sources.VersionedTable.createRef(s, root, "main", v0,
        movable = true)
      val v1 = graft.sources.VersionedTable.commit(orders, root,
        "staged-full")
      val staged = graft.sources.VersionedTable.readVersion(s, root, v1)
      val audit = staged.agg(
        count(lit(1)).as("n"),
        sum(col("o_orderkey").isNull.cast("long")).as("null_keys"))
        .head()
      val mainRows = graft.sources.VersionedTable
        .readRef(s, root, "main").count()
      if (audit.getLong(1) == 0L && audit.getLong(0) > mainRows)
        graft.sources.VersionedTable.moveRef(s, root, "main", v1)
      graft.sources.VersionedTable.readRef(s, root, "main")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice"), 2).as("sum_price"))
        .orderBy("o_orderstatus")
    },
      Oracle("SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS sum_price FROM orders GROUP BY 1 ORDER BY 1")),
    // multi-writer optimistic append (commitAppendRetry): four
    // appenders race the Iceberg-style manifest-create loop on one
    // table — every delta must land exactly once whatever the
    // interleaving, so the committed union is schedule-independent
    // and the oracle replays it off the raw table
    "table_append_race" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_race_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val orders = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      graft.sources.VersionedTable.commit(
        orders.where(col("o_orderkey") % 4 === 0), root, "seed")
      val threads = (1 to 3).map { r =>
        new Thread(() => {
          graft.sources.VersionedTable.commitAppendRetry(
            orders.where(col("o_orderkey") % 4 === r), root,
            tag = s"writer-$r")
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      require(graft.sources.VersionedTable
        .versions(s, root).size == 4, "an appender lost its commit")
      graft.sources.VersionedTable.read(s, root)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice"), 2).as("sum_price"))
        .orderBy("o_orderstatus")
    },
      // the four residue classes union back to the whole table — any
      // append interleaving must reproduce it exactly
      Oracle("SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS sum_price FROM orders GROUP BY 1 ORDER BY 1")),
    // merge-on-read delete lifecycle: base commit → O(keys) sidecar
    // delete (no data rewritten) → fast append of NEW keys (sidecar
    // carried forward) → fold back to copy-on-write — the final read
    // must equal the logical replay at every step, and the oracle
    // pins the end state
    "table_mor_delete" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_mor_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val orders = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      graft.sources.VersionedTable.commit(orders, root, "base")
      graft.sources.VersionedTable.deleteWhereMor(s, root,
        col("o_orderkey") % 7 === 0, Seq("o_orderkey"), "mor-erase")
      graft.sources.VersionedTable.commitAppendRetry(
        orders.where(col("o_orderkey") % 7 === 1)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L),
        root, "delta")
      graft.sources.VersionedTable.compactDeletes(s, root)
      graft.sources.VersionedTable.read(s, root)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice"), 2).as("sum_price"))
        .orderBy("o_orderstatus")
    },
      Oracle("WITH base AS (SELECT o_orderkey, o_totalprice, o_orderstatus " +
        "FROM orders), " +
        "kept AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0), " +
        "delta AS (SELECT o_orderkey + 10000000 AS o_orderkey, " +
        "o_totalprice, o_orderstatus FROM base " +
        "WHERE o_orderkey % 7 = 1), " +
        "allr AS (SELECT * FROM kept UNION ALL SELECT * FROM delta) " +
        "SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS sum_price FROM allr GROUP BY 1 ORDER BY 1")),
    // maintenance OPTIMIZE: a deliberately fragmented commit (32
    // small files — the shape an incremental writer leaves), a
    // copy-on-write delete, then bin-packing compaction; the oracle
    // pins that the compacted bytes are row-identical to the logical
    // content (file-count evidence lives in VersionedTableSpec)
    "table_compaction" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_compact_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val (old, _) = cdcSnapshots(s, dir)
      val cols = Seq("o_orderkey", "o_totalprice", "o_orderstatus")
      graft.sources.VersionedTable.commit(
        old.select(cols.map(col): _*).repartition(32), root, tag = "frag")
      graft.sources.VersionedTable.deleteWhere(s, root,
        col("o_orderkey") % 11 === 0, tag = "erase")
      graft.sources.VersionedTable.compact(s, root,
        targetBytes = 1L << 30)
      graft.sources.VersionedTable.read(s, root).orderBy("o_orderkey")
    },
      // fragmented commit + copy-on-write delete + compaction must be
      // row-identical to the logical content — the oracle IS that
      // content; file-count evidence is spec-side
      Oracle("SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders " +
        "WHERE o_orderkey % 10 <> 0 AND o_orderkey % 11 <> 0 " +
        "ORDER BY o_orderkey")),
    // incremental changes feed (CDF read): classify row changes
    // between committed versions on demand — step 1 = base→revised
    // (the cdc_diff classification), step 2 = revised→after a
    // copy-on-write delete (deletes only); one full-outer join per
    // step, unchanged keys never leave it
    "table_changes" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_changes_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val (old, nw) = cdcSnapshots(s, dir)
      val cols = Seq("o_orderkey", "o_totalprice", "o_orderstatus")
      val v0 = graft.sources.VersionedTable.commit(
        old.select(cols.map(col): _*), root, tag = "base")
      val v1 = graft.sources.VersionedTable.commit(
        nw.select(cols.map(col): _*), root, tag = "revised")
      val v2 = graft.sources.VersionedTable.deleteWhere(s, root,
        col("o_orderkey") % 11 === 0, tag = "erase")
      graft.sources.VersionedTable.changes(s, root, v0, v1,
          Seq("o_orderkey")).withColumn("step", lit(1))
        .unionByName(graft.sources.VersionedTable.changes(s, root, v1,
          v2, Seq("o_orderkey")).withColumn("step", lit(2)))
        .orderBy("step", "action", "o_orderkey")
    },
      // changes feed: step 1 replays the cdc_diff full-outer
      // classification, step 2 is exactly the copy-on-write delete set
      Oracle("WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus " +
        "FROM orders WHERE o_orderkey % 10 <> 0), " +
        "nn AS (SELECT o_orderkey, " +
        "CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100 " +
        "ELSE o_totalprice END AS o_totalprice, " +
        "CASE WHEN o_orderkey % 5 = 0 THEN 'X' " +
        "ELSE o_orderstatus END AS o_orderstatus " +
        "FROM orders WHERE o_orderkey % 7 <> 0), " +
        "j AS (SELECT coalesce(o.o_orderkey, nn.o_orderkey) " +
        "AS o_orderkey, " +
        "CASE WHEN o.o_orderkey IS NULL THEN 'insert' " +
        "WHEN nn.o_orderkey IS NULL THEN 'delete' " +
        "WHEN (o.o_totalprice IS DISTINCT FROM nn.o_totalprice) " +
        "OR (o.o_orderstatus IS DISTINCT FROM nn.o_orderstatus) " +
        "THEN 'update' END AS action, " +
        "(CASE WHEN o.o_totalprice IS DISTINCT FROM nn.o_totalprice " +
        "THEN 1 ELSE 0 END + " +
        "CASE WHEN o.o_orderstatus IS DISTINCT FROM nn.o_orderstatus " +
        "THEN 1 ELSE 0 END) AS nc " +
        "FROM o FULL OUTER JOIN nn ON o.o_orderkey = nn.o_orderkey) " +
        "SELECT o_orderkey, action, " +
        "CASE WHEN action = 'update' THEN nc ELSE 0 END AS n_changed, " +
        "1 AS step FROM j WHERE action IS NOT NULL " +
        "UNION ALL " +
        "SELECT o_orderkey, 'delete' AS action, 0 AS n_changed, " +
        "2 AS step FROM nn WHERE o_orderkey % 11 = 0 " +
        "ORDER BY step, action, o_orderkey")),
    // dead-letter routing: per-row conformance rules tag violators
    // with their reasons (declaration order); the quarantined subset
    // is returned, the clean path is its complement — one codegen'd
    // projection, no shuffle
    "quarantine_route" -> Query((s, dir) => operators.QualityChecks
      .quarantine(tbl(s, dir, "orders"), Seq(
        "price_cap" -> (col("o_totalprice") <= 400000.0),
        "status_final" -> (col("o_orderstatus") =!= "P"),
        "key_mod" -> (col("o_orderkey") % 97 =!= 0)))
      .where(col("n_reasons") > 0)
      .select(col("o_orderkey"), col("reasons"), col("n_reasons"))
      .orderBy("o_orderkey"),
      // quarantine tags replayed with the same declaration-order
      // concat_ws (both engines skip NULLs)
      Oracle("SELECT o_orderkey, concat_ws(',', " +
        "CASE WHEN o_totalprice <= 400000.0 THEN NULL " +
        "ELSE 'price_cap' END, " +
        "CASE WHEN o_orderstatus <> 'P' THEN NULL " +
        "ELSE 'status_final' END, " +
        "CASE WHEN o_orderkey % 97 <> 0 THEN NULL " +
        "ELSE 'key_mod' END) AS reasons, " +
        "CAST((CASE WHEN o_totalprice <= 400000.0 THEN 0 ELSE 1 END + " +
        "CASE WHEN o_orderstatus <> 'P' THEN 0 ELSE 1 END + " +
        "CASE WHEN o_orderkey % 97 <> 0 THEN 0 ELSE 1 END) AS INT) " +
        "AS n_reasons FROM orders " +
        "WHERE o_totalprice > 400000.0 OR o_orderstatus = 'P' " +
        "OR o_orderkey % 97 = 0 ORDER BY o_orderkey")),
    // token-budget curation: per source, admit documents in quality
    // order (rounded at 6 so cross-engine ordering is stable, doc_id
    // tiebreak) while the RUNNING token total stays within the
    // budget — the greedy-prefix rule every budgeted data-mix uses.
    // One window per source; at extreme per-source cardinality swap
    // the window for Ranking.globalRowNumber's range-partition rank
    "budget_select" -> Query((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id"))
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(functions.TextFunctions.tokens(col("text")))
            .cast("long").as("n_tokens"),
          round(functions.TextFunctions.qualityScore(col("text")), 6)
            .as("quality"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .where(col("cum_tokens") <= 800L)
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("quality"), col("cum_tokens"))
        .orderBy("source", "cum_tokens")
    },
      // greedy-prefix budget admission replayed with the same rounded
      // quality key and running-sum window
      Oracle {
        val toks = "string_split(lower(text), ' ')"
        val stopSet = functions.TextFunctions.stopwordProfiles.head._2
          .map(w => s"'$w'").mkString(", ")
        val punct = "CAST(len(regexp_extract_all(text, " +
          "'[^A-Za-z0-9\\s]')) AS DOUBLE) / greatest(length(text), 1)"
        val stop = s"CAST(len(list_filter($toks, t -> t IN ($stopSet)))" +
          s" AS DOUBLE) / greatest(len($toks), 1)"
        val lenCredit = s"least(CAST(len($toks) AS DOUBLE) / 100.0, 1.0)"
        "WITH d AS (SELECT source, doc_id, " +
          s"CAST(len($toks) AS BIGINT) AS n_tokens, " +
          s"round($lenCredit * 0.5 + $stop * 0.3 + (1.0 - $punct) * 0.2" +
          ", 6) AS quality FROM documents), " +
          "c AS (SELECT source, doc_id, n_tokens, quality, " +
          "sum(n_tokens) OVER (PARTITION BY source " +
          "ORDER BY quality DESC, doc_id " +
          "ROWS UNBOUNDED PRECEDING) AS cum_tokens FROM d) " +
          "SELECT source, doc_id, n_tokens, quality, " +
          "CAST(cum_tokens AS BIGINT) AS cum_tokens FROM c " +
          "WHERE cum_tokens <= 800 ORDER BY source, cum_tokens"
      }),
    // corpus curation: multinomial Naive Bayes quality classifier —
    // trained on the seed third (doc_id % 3 = 0, label = lang='en'),
    // scoring the WHOLE corpus; closed-form training (two
    // aggregations), broadcast vocabulary-sized model, per-doc
    // distinct-token counts before the join
    "nb_quality_score" -> Query((s, dir) => {
      val docs = tbl(s, dir, "documents")
      operators.Classify.naiveBayesScore(
        docs, "doc_id", "text",
        docs.where(col("doc_id") % 3 === 0)
          .withColumn("__lab", col("lang") === "en"),
        "__lab")
        .select(col("id").as("doc_id"), col("n_tokens"), col("nb_llr"))
        .orderBy("doc_id")
    },
      // NB classifier: closed-form Laplace-smoothed token LLRs from the
      // seed third, exact-decimal per-doc sums — digit-for-digit replay
      Oracle("WITH tr AS (SELECT d.lang = 'en' AS pos, " +
        "unnest(string_split(lower(d.text), ' ')) AS t " +
        "FROM documents d WHERE d.doc_id % 3 = 0), " +
        "cnt AS (SELECT t, " +
        "CAST(count(*) FILTER (pos) AS BIGINT) AS cp, " +
        "CAST(count(*) FILTER (NOT pos) AS BIGINT) AS cn " +
        "FROM tr GROUP BY t), " +
        "tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np, " +
        "CAST(sum(cn) AS BIGINT) AS nn, " +
        "CAST(count(*) AS BIGINT) AS v FROM cnt), " +
        "model AS (SELECT t, CAST(round(" +
        "ln(CAST(cp + 1 AS DOUBLE) / (np + v)) - " +
        "ln(CAST(cn + 1 AS DOUBLE) / (nn + v)), 9) " +
        "AS DECIMAL(20,9)) AS llr FROM cnt, tot), " +
        "pri AS (SELECT CAST(round(ln(" +
        "CAST((SELECT count(*) FROM documents " +
        "WHERE doc_id % 3 = 0 AND lang = 'en') AS DOUBLE) / " +
        "(SELECT count(*) FROM documents " +
        "WHERE doc_id % 3 = 0 AND lang <> 'en')), 9) " +
        "AS DECIMAL(20,9)) AS prior, " +
        "CAST(round(ln(CAST(1 AS DOUBLE) / (np + v)) - " +
        "ln(CAST(1 AS DOUBLE) / (nn + v)), 9) AS DECIMAL(20,9)) " +
        "AS llr_unseen FROM tot), " +
        "dt AS (SELECT d.doc_id, " +
        "unnest(string_split(lower(d.text), ' ')) AS t " +
        "FROM documents d), " +
        "dk AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS k " +
        "FROM dt GROUP BY doc_id, t) " +
        "SELECT dk.doc_id, CAST(sum(dk.k) AS BIGINT) AS n_tokens, " +
        "CAST(round(any_value(pri.prior) + CAST(sum(CAST(dk.k AS " +
        "DECIMAL(10,0)) * coalesce(model.llr, pri.llr_unseen)) " +
        "AS DECIMAL(28,9)), 6) AS DOUBLE) AS nb_llr " +
        "FROM dk LEFT JOIN model ON dk.t = model.t CROSS JOIN pri " +
        "GROUP BY dk.doc_id ORDER BY dk.doc_id")),
    // SQ8 scalar quantization: per-dimension byte codes of the unit
    // vectors (no codebook training), affine-decoded scan against
    // exact queries, shortlist 50, exact rerank — completes the
    // IVF / PQ / IVF-PQ quantization ladder
    "knn_sq8" -> Query((s, dir) => Similarity.knnSq8(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      numQueries = 10, k = 5, shortlist = 50),
      // SQ8 replay: per-dim [min,max] of the unit vectors, round-to-byte
      // encode, affine decode, rounded-at-9 approximate inner product,
      // shortlist, exact rerank — every double expression fixed-order
      Oracle(s"WITH $vecCte, " +
        "u AS (SELECT vec_id, list_transform(generate_series(1, 64), " +
        "i -> vec[i] / nrm) AS uvec FROM n), " +
        "st AS (SELECT i, min(uvec[i]) AS mn, max(uvec[i]) AS mx " +
        "FROM u, (SELECT unnest(generate_series(1, 64)) AS i) " +
        "GROUP BY i), " +
        "sta AS (SELECT list(mn ORDER BY i) AS mns, " +
        "list(mx ORDER BY i) AS mxs FROM st), " +
        "dqv AS (SELECT vec_id, list_transform(" +
        "generate_series(1, 64), i -> CASE WHEN mxs[i] = mns[i] " +
        "THEN mns[i] + 0.0 * (mxs[i] - mns[i]) / 255.0 " +
        "ELSE mns[i] + round((uvec[i] - mns[i]) * 255.0 / " +
        "(mxs[i] - mns[i])) * (mxs[i] - mns[i]) / 255.0 END) AS dvec " +
        "FROM u, sta), " +
        "qs AS (SELECT vec_id AS query_id, uvec AS qvec FROM u " +
        "WHERE vec_id < 10), " +
        "sq AS (SELECT q.query_id, d.vec_id AS id, " +
        "round(list_sum(list_transform(generate_series(1, 64), " +
        "i -> d.dvec[i] * q.qvec[i])), 9) AS simq " +
        "FROM qs q, dqv d WHERE d.vec_id <> q.query_id), " +
        "sl AS (SELECT query_id, id FROM (SELECT query_id, id, " +
        "row_number() OVER (PARTITION BY query_id " +
        "ORDER BY simq DESC, id) AS rn FROM sq) WHERE rn <= 50), " +
        "rr AS (SELECT sl.query_id, sl.id, " +
        "list_sum(list_transform(generate_series(1, len(qn.vec)), " +
        "i -> qn.vec[i] * dn.vec[i])) / (qn.nrm * dn.nrm) AS sim " +
        "FROM sl JOIN n qn ON qn.vec_id = sl.query_id " +
        "JOIN n dn ON dn.vec_id = sl.id) " +
        "SELECT query_id, CAST(rn AS INT) AS rn, neighbor_id " +
        "FROM (SELECT query_id, id AS neighbor_id, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, id) AS rn FROM rr) " +
        "WHERE rn <= 5 ORDER BY query_id, rn")),
    // filtered ANN: metadata predicate (lang='en') applied BEFORE the
    // vector search — pre-filtering, the semantics real vector stores
    // call "filtered search" (post-filtering k results can starve);
    // queries are the filtered ids < 10, neighbors only from the
    // filtered set
    "knn_filtered" -> Query((s, dir) => {
      val filtered = tbl(s, dir, "embeddings")
        .join(tbl(s, dir, "documents")
          .where(col("lang") === "en")
          .select(col("doc_id").as("vec_id")), Seq("vec_id"))
      Similarity.knnBruteForce(filtered, "vec_id", "embedding",
        numQueries = 10, k = 5)
    },
      // pre-filtered vector search: the same brute-force ranking over
      // only the lang='en' subset
      Oracle("WITH v AS (SELECT vec_id, list_transform(embedding, " +
        "x -> CAST(x AS DOUBLE)) AS vec FROM embeddings " +
        "JOIN documents ON doc_id = vec_id AND lang = 'en'), " +
        "n AS (SELECT vec_id, vec, sqrt(list_sum(list_transform(vec, " +
        "x -> x * x))) AS nrm FROM v), " +
        "q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnrm " +
        "FROM n WHERE vec_id < 10), " +
        "p AS (SELECT q.query_id, n.vec_id AS neighbor_id, " +
        "list_sum(list_transform(generate_series(1, len(q.qvec)), " +
        "i -> q.qvec[i] * n.vec[i])) / (q.qnrm * n.nrm) AS sim " +
        "FROM q, n WHERE n.vec_id <> q.query_id), " +
        "r AS (SELECT query_id, neighbor_id, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn " +
        "FROM p) " +
        "SELECT query_id, CAST(rn AS INT) AS rn, neighbor_id FROM r " +
        "WHERE rn <= 5 ORDER BY query_id, rn")),
    // audio near-dup pairs: the same pigeonhole-blocked hamming miner
    // over the clip fingerprints; oracle is the full n² scan, so
    // blocking completeness is pinned for the audio modality too
    "audio_neardup" -> Query((s, dir) => operators.Dedup.hammingPairs64(
      Multimodal.audioFingerprints(Multimodal.synthesizeWav(
        tbl(s, dir, "documents")
          .where(length(col("text")) === octet_length(col("text"))),
        "doc_id", "text")),
      "doc_id", "afp", maxHamming = 3),
      // full n-squared hamming scan over the audio fingerprints
      Oracle("WITH t AS (SELECT doc_id, text FROM documents " +
        "WHERE length(text) > 0 " +
        "AND length(text) = octet_length(encode(text))), " +
        "s AS (SELECT doc_id, list_transform(" +
        "range(1, length(text) + 1), " +
        "i -> ((ascii(substr(text, i, 1)) * 131 + i * 7) % 65536) " +
        "- 32768) AS sm FROM t), " +
        "fr AS (SELECT doc_id, sm, len(sm) AS n, " +
        "unnest(generate_series(0, 64)) AS f FROM s), " +
        "en AS (SELECT doc_id, f, coalesce(list_sum(list_transform(" +
        "range((f * n) // 65 + 1, ((f + 1) * n) // 65 + 1), " +
        "i -> abs(sm[i]))), 0) AS e FROM fr), " +
        "bits AS (SELECT doc_id, f, e, " +
        "lead(e) OVER (PARTITION BY doc_id ORDER BY f) AS ne " +
        "FROM en), " +
        "hs AS (SELECT doc_id, " +
        "CAST(CASE WHEN s2 >= 9223372036854775808 " +
        "THEN s2 - 18446744073709551616 ELSE s2 END AS BIGINT) AS afp " +
        "FROM (SELECT doc_id, sum(CASE WHEN ne > e " +
        "THEN CAST(1 AS HUGEINT) << f ELSE 0 END) AS s2 " +
        "FROM bits WHERE f < 64 GROUP BY doc_id)) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming " +
        "FROM hs a JOIN hs b ON a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.afp, b.afp)) <= 3 " +
        "ORDER BY id_a, id_b")),
    // video modality: a clip = 4 frames (equal text slices, each
    // synthesized to a BMP), per-frame dHash through the codec, and a
    // SCENE CUT wherever consecutive frame hashes differ by more than
    // 16 bits — shot-boundary detection, the standard first pass of
    // video curation; composes sliceing (zero-shuffle), the codec
    // batch path, and one per-clip lead() window
    "video_scenecut" -> Query((s, dir) => {
      val d = tbl(s, dir, "documents")
        .where(length(col("text")) === octet_length(col("text")) &&
          length(col("text")) >= 4)
        .select(col("doc_id"), col("text"),
          length(col("text")).as("n"))
      val frames = d.select(col("doc_id"), col("text"), col("n"),
          explode(sequence(lit(0), lit(3))).as("fidx"))
        .select((col("doc_id") * 4 + col("fidx")).as("fid"),
          expr("substring(text, CAST(fidx * n DIV 4 AS INT) + 1, " +
            "CAST((fidx + 1) * n DIV 4 - fidx * n DIV 4 AS INT))")
            .as("slice"))
      val fh = Multimodal.imageDhashes(
        Multimodal.synthesizeBmp(frames, "fid", "slice"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("fidx"))
      fh.select(expr("doc_id DIV 4").as("doc_id"),
          pmod(col("doc_id"), lit(4L)).as("fidx"), col("dhash"))
        .withColumn("next_hash", lead(col("dhash"), 1).over(w))
        .where(col("next_hash").isNotNull)
        .select(col("doc_id"), col("fidx"),
          bit_count(col("dhash").bitwiseXOR(col("next_hash")))
            .as("hamming"))
        .withColumn("is_cut", (col("hamming") > 16).cast("int"))
        .orderBy("doc_id", "fidx")
    },
      // per-frame dHash replay over the 4 equal text slices, then
      // consecutive-frame hamming with the >16 cut rule
      Oracle("WITH d0 AS (SELECT doc_id, text, strlen(text) AS n " +
        "FROM documents WHERE length(text) = strlen(text) " +
        "AND strlen(text) >= 4), " +
        "fr AS (SELECT doc_id, f, substr(text, " +
        "CAST((f * n) // 4 + 1 AS INT), " +
        "CAST(((f + 1) * n) // 4 - (f * n) // 4 AS INT)) AS s " +
        "FROM (SELECT doc_id, text, n, " +
        "unnest(generate_series(0, 3)) AS f FROM d0)), " +
        "fd AS (SELECT doc_id, f, s, strlen(s) AS m, " +
        "CAST(ceil(strlen(s) / 8.0) AS BIGINT) AS h FROM fr), " +
        "g AS (SELECT doc_id, f, s, m, h, y, " +
        "unnest(generate_series(0, 8)) AS x " +
        "FROM (SELECT doc_id, f, s, m, h, " +
        "unnest(generate_series(0, 7)) AS y FROM fd)), " +
        "smp AS (SELECT doc_id, f, y, x, " +
        "((y * h) // 8) * 8 + ((x * 8) // 9) AS k, m, s FROM g), " +
        "lm AS (SELECT doc_id, f, y, x, " +
        "b + (3 * b + 1) % 256 + k % 256 AS lum " +
        "FROM (SELECT doc_id, f, y, x, k, " +
        "CASE WHEN k < m THEN unicode(substr(s, CAST(k + 1 AS INT), 1)) " +
        "ELSE CAST((k * 7) % 256 AS INT) END AS b FROM smp)), " +
        "bits AS (SELECT doc_id, f, y, x, lum, " +
        "lead(lum) OVER (PARTITION BY doc_id, f, y ORDER BY x) AS nlum " +
        "FROM lm), " +
        "hs AS (SELECT doc_id, f, " +
        "CAST(CASE WHEN s2 >= 9223372036854775808 " +
        "THEN s2 - 18446744073709551616 ELSE s2 END AS BIGINT) " +
        "AS dhash FROM (SELECT doc_id, f, " +
        "sum(CASE WHEN nlum > lum THEN CAST(1 AS HUGEINT) << " +
        "(y * 8 + x) ELSE 0 END) AS s2 FROM bits WHERE x < 8 " +
        "GROUP BY doc_id, f)), " +
        "cc AS (SELECT doc_id, f AS fidx, dhash, " +
        "lead(dhash) OVER (PARTITION BY doc_id ORDER BY f) AS nh " +
        "FROM hs) " +
        "SELECT doc_id, fidx, " +
        "CAST(bit_count(xor(dhash, nh)) AS INT) AS hamming, " +
        "CAST(CASE WHEN bit_count(xor(dhash, nh)) > 16 THEN 1 " +
        "ELSE 0 END AS INT) AS is_cut " +
        "FROM cc WHERE nh IS NOT NULL ORDER BY doc_id, fidx")),
    // image perceptual fingerprint over REAL PNG payloads: the
    // fixture pixels ship through the adaptively-filtered zlib PNG
    // container (hand-rolled codec — inflate, defilter, CRC), then
    // decode → 9×8 nearest-neighbor resize → 64-bit dHash; the oracle
    // recomputes every bit from the text alone, so the whole inflate/
    // defilter/resize/bit-packing chain is pinned (the BMP container
    // runs the same pipeline in multimodal_features/multimodal_meta)
    "image_dhash" -> Query((s, dir) => Multimodal.imageDhashes(
      Multimodal.synthesizePng(
        tbl(s, dir, "documents")
          .where(length(col("text")) === octet_length(col("text"))),
        "doc_id", "text"))
      .orderBy("doc_id"),
      Oracle(imageDhashCtes +
        " SELECT doc_id, dhash FROM hs ORDER BY doc_id")),
    // image near-dup pairs: pigeonhole-blocked hamming ≤ 3 over the
    // dHashes of PNG payloads — candidates only from chunk-equal
    // pairs; the oracle is the full n² hamming scan, so blocking
    // completeness is pinned
    "image_neardup" -> Query((s, dir) => operators.Dedup.hammingPairs64(
      Multimodal.imageDhashes(Multimodal.synthesizePng(
        tbl(s, dir, "documents")
          .where(length(col("text")) === octet_length(col("text"))),
        "doc_id", "text")),
      "doc_id", "dhash", maxHamming = 3),
      // full n-squared hamming scan: pigeonhole blocking must find
      // exactly these pairs
      Oracle(imageDhashCtes +
        " SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming " +
        "FROM hs a JOIN hs b ON a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.dhash, b.dhash)) <= 3 " +
        "ORDER BY id_a, id_b")),
    // incrementally-maintained ANN index: two embedding batches
    // assign independently (broadcast centroids + map-side argmax,
    // no re-scan of prior batches) and land as fast-APPEND commits —
    // probing the appended index must equal the one-shot knn_ivf
    // build, so this replays knn_ivf's own oracle
    "knn_ivf_incremental" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/ivf_index_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val emb = tbl(s, dir, "embeddings")
      val cents = operators.Similarity.ivfSeedCentroids(
        emb, "vec_id", "embedding", numCentroids = 16)
      Seq(0, 1).foreach { par =>
        graft.sources.VersionedTable.commitAppend(
          operators.Similarity.ivfIndexAssign(
            emb.where(col("vec_id") % 2 === par),
            "vec_id", "embedding", cents),
          root, tag = s"batch$par")
      }
      operators.Similarity.knnIvfOnIndex(
        graft.sources.VersionedTable.read(s, root),
        emb, "vec_id", "embedding", cents,
        nprobe = 4, numQueries = 10, k = 5)
    },
      // the append-maintained index must be indistinguishable from the
      // one-shot build — identical oracle by design
      Oracle(knnIvfOracle)),
    // lexical retrieval: Okapi BM25 over a fixed query-term set —
    // term-filter BEFORE the shuffle, broadcast idf table, top-10 by
    // (score DESC, id) with ranks assigned after the limit
    "bm25_search" -> Query((s, dir) => {
      val top = operators.TextMetrics.bm25Search(
        tbl(s, dir, "documents"), "doc_id", "text",
        terms = Seq("spark", "query", "fast", "merge"))
        .orderBy(col("score").desc, col("id")).limit(10)
      top.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("id"))))
        .select(col("rank"), col("id").as("doc_id"), col("n_terms"),
          col("score"))
        .orderBy("rank")
    },
      // BM25: fixed-order double expression over exact integers, idf
      // and weights rounded at 9 into decimal, per-doc sum exact
      Oracle(bm25Ctes +
        " SELECT CAST(row_number() OVER (ORDER BY score DESC, id) " +
        "AS INT) AS rank, id AS doc_id, n_terms, score " +
        "FROM sc ORDER BY score DESC, id LIMIT 10")),
    // hybrid retrieval: reciprocal-rank fusion of the BM25 top-20 and
    // the ANN top-20 (query vector 0) — 1/(60+rank) per list, missing
    // list contributes 0; the standard RRF k=60 constant
    "hybrid_search" -> Query((s, dir) => {
      val lexTop = operators.TextMetrics.bm25Search(
        tbl(s, dir, "documents"), "doc_id", "text",
        terms = Seq("spark", "query", "fast", "merge"))
        .orderBy(col("score").desc, col("id")).limit(20)
      val lex = lexTop.withColumn("rn_lex", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("id"))))
        .select(col("id"), col("rn_lex"))
      val sem = operators.Similarity.knnBruteForce(
        tbl(s, dir, "embeddings"), "vec_id", "embedding",
        numQueries = 1, k = 20)
        .select(col("neighbor_id").as("id"), col("rn").as("rn_sem"))
      lex.join(sem, Seq("id"), "full_outer")
        .select(col("id"), col("rn_lex"), col("rn_sem"),
          round(coalesce(lit(1.0) / (lit(60) + col("rn_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rn_sem")), lit(0.0)), 9)
            .as("rrf"))
        .orderBy(col("rrf").desc, col("id")).limit(10)
        .orderBy(col("rrf").desc, col("id"))
    },
      // RRF fusion of the BM25 top-20 and ANN top-20 for query vec 0;
      // 1/(60+rank) per list in DOUBLE (decimal literals cast)
      Oracle(bm25Ctes + ", " +
        "lex AS (SELECT id, CAST(row_number() OVER (ORDER BY score " +
        "DESC, id) AS INT) AS rn_lex FROM sc " +
        "ORDER BY score DESC, id LIMIT 20), " +
        "v AS (SELECT vec_id, list_transform(embedding, " +
        "x -> CAST(x AS DOUBLE)) AS vec FROM embeddings), " +
        "n AS (SELECT vec_id, vec, sqrt(list_sum(list_transform(vec, " +
        "x -> x * x))) AS nrm FROM v), " +
        "q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnrm " +
        "FROM n WHERE vec_id < 1), " +
        "p AS (SELECT q.query_id, n.vec_id AS neighbor_id, " +
        "list_sum(list_transform(generate_series(1, len(q.qvec)), " +
        "i -> q.qvec[i] * n.vec[i])) / (q.qnrm * n.nrm) AS sim " +
        "FROM q, n WHERE n.vec_id <> q.query_id), " +
        "r AS (SELECT query_id, neighbor_id, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn " +
        "FROM p), " +
        "sem AS (SELECT neighbor_id AS id, CAST(rn AS INT) AS rn_sem " +
        "FROM r WHERE rn <= 20), " +
        "f AS (SELECT coalesce(lex.id, sem.id) AS id, lex.rn_lex, " +
        "sem.rn_sem, " +
        "round(coalesce(CAST(1.0 AS DOUBLE) / (60 + lex.rn_lex), " +
        "CAST(0.0 AS DOUBLE)) + " +
        "coalesce(CAST(1.0 AS DOUBLE) / (60 + sem.rn_sem), " +
        "CAST(0.0 AS DOUBLE)), 9) AS rrf " +
        "FROM lex FULL OUTER JOIN sem ON lex.id = sem.id) " +
        "SELECT id, rn_lex, rn_sem, rrf FROM f " +
        "ORDER BY rrf DESC, id LIMIT 10")),
    // data skipping: commit a range-clustered snapshot WITH per-file
    // min/max stats, then range-scan through the sidecar — only
    // overlapping files are opened (file-count evidence spec-side);
    // the oracle pins that pruning loses no rows
    "table_pruned_scan" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_pruned_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"))
      val v = graft.sources.VersionedTable.commitWithStats(
        li.repartitionByRange(8, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey"),
        root, statsCols = Seq("l_orderkey"), tag = "clustered")
      val in = col("l_orderkey").cast("double").between(1000d, 2000d)
      def shape(d: DataFrame) = d.where(in)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("sum_qty"))
        .orderBy("l_orderkey")
      // pruning must lose no rows: the pruned-scan answer is checked
      // row-for-row against the same aggregate straight off the
      // source table before anything is returned
      selfVerified(s, "table_pruned_scan", root,
        shape(graft.sources.VersionedTable.readWhereVersion(s, root, v, in)),
        shape(li))
    },
      // pruned range scan must lose no rows vs the plain filter
      Oracle("SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) " +
        "AS DOUBLE) AS sum_qty " +
        "FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000 " +
        "GROUP BY 1 ORDER BY 1")),
    // data skipping on BOTH clustered dimensions: Z-order the
    // snapshot on (l_orderkey, l_partkey) with stats on both, then
    // conjunction range-scan through the sidecar — the either/both-
    // dim skip is what the Z layout exists for (file-count evidence
    // lives in VersionedTableSpec); the oracle pins no row loss
    "table_pruned_scan2" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_pruned2_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      // Z bounds are writer-supplied domain edges: one bounded agg,
      // not a convention — re-derive per commit and codes stay stable
      val b = li.agg(max(col("l_orderkey")).cast("double"),
        max(col("l_partkey")).cast("double")).head()
      val z = operators.ZOrder.clustered(li, operators.ZOrder.mortonCode(
          col("l_orderkey"), col("l_partkey"),
          0d, b.getDouble(0), 0d, b.getDouble(1)), numFiles = 16)
      val v = graft.sources.VersionedTable.commitWithStats(z, root,
        statsCols = Seq("l_orderkey", "l_partkey"), tag = "zorder")
      val in = col("l_orderkey").cast("double").between(1000d, 4000d) &&
        col("l_partkey").cast("double").between(1d, 100d)
      def shape(d: DataFrame) = d.where(in)
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("sum_qty"))
        .orderBy("l_partkey")
      selfVerified(s, "table_pruned_scan2", root,
        shape(graft.sources.VersionedTable.readWhereVersion(s, root, v, in)),
        shape(li))
    },
      // conjunction pruning on the Z-ordered pair must lose no rows
      // vs the plain two-predicate filter
      Oracle("SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_lines, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) " +
        "AS DOUBLE) AS sum_qty " +
        "FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 4000 " +
        "AND l_partkey BETWEEN 1 AND 100 " +
        "GROUP BY 1 ORDER BY 1")),
    // Bloom-sidecar point lookup: a HASH-partitioned key column makes
    // min/max stats useless (every file spans the domain), so the
    // commit builds a per-file Bloom of the key set and the lookup
    // opens only admitted files (file-count evidence lives in
    // VersionedTableSpec); the oracle pins that admission loses no row
    "table_bloom_lookup" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_bloom_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"))
      val v = graft.sources.VersionedTable.commitWithBloom(
        li.repartition(16, col("l_orderkey")), root,
        bloomCols = Seq("l_orderkey"), expectedItemsPerFile = 100000L,
        tag = "hashed")
      val in = col("l_orderkey").isin(7L, 996L, 1995L, 2950L)
      selfVerified(s, "table_bloom_lookup", root,
        graft.sources.VersionedTable.readWhereVersion(s, root, v, in)
          .orderBy("l_orderkey", "l_linenumber"),
        li.where(in).orderBy("l_orderkey", "l_linenumber"))
    },
      // Bloom admission is one-sided, so the lookup must equal the
      // plain IN filter row-for-row; file-skip evidence is spec-side
      Oracle("SELECT l_orderkey, l_linenumber, l_partkey, l_quantity " +
        "FROM lineitem WHERE l_orderkey IN (7, 996, 1995, 2950) " +
        "ORDER BY l_orderkey, l_linenumber")),
    // schema evolution: an APPEND whose delta carries a column the
    // base commit lacks; the merged-schema read surfaces it as NULL
    // on pre-evolution rows — ADD COLUMN without a rewrite
    "table_schema_evolution" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_evolve_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
      graft.sources.VersionedTable.commit(
        o.where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice")),
        root, tag = "base")
      graft.sources.VersionedTable.commitAppend(
        o.where(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority")),
        root, tag = "evolved")
      graft.sources.VersionedTable.readMerged(s, root)
        .orderBy("o_orderkey")
    },
      // merged-schema read: pre-evolution rows surface the appended
      // column as NULL — exactly a UNION with a NULL fill
      Oracle("SELECT * FROM (" +
        "SELECT o_orderkey, o_totalprice, " +
        "CAST(NULL AS VARCHAR) AS o_orderpriority " +
        "FROM orders WHERE o_orderkey % 2 = 0 " +
        "UNION ALL " +
        "SELECT o_orderkey, o_totalprice, o_orderpriority " +
        "FROM orders WHERE o_orderkey % 2 = 1) " +
        "ORDER BY o_orderkey")),
    // SQL surface: the versioned table (after a MoR erasure AND a
    // metadata-only rename) reads through spark.read.format("graft")
    // into a temp view, and plain spark.sql answers over it — time
    // travel, delete anti-joins, and the field mapping all compose
    // under Catalyst with pushed filters translated onto the sidecar
    // pruning path. Oracle replays erasure+rename as a filter+alias.
    "table_sql_read" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_sql_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      graft.sources.VersionedTable.commit(o, root, tag = "base")
      graft.sources.VersionedTable.deleteKeysMor(s, root,
        o.where(col("o_orderkey") % 7 === 0).select("o_orderkey"),
        tag = "erase")
      graft.sources.VersionedTable.renameColumn(s, root,
        "o_totalprice", "price")
      s.read.format("graft").load(root)
        .createOrReplaceTempView("graft_orders_sql")
      s.sql(
        """SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
           FROM graft_orders_sql
           WHERE o_orderkey BETWEEN 1000 AND 9000
           GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
      // SQL over the graft source: MoR erasure = key filter, rename =
      // alias; the aggregate replays over the raw table
      Oracle("SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS sum_price FROM orders " +
        "WHERE o_orderkey BETWEEN 1000 AND 9000 " +
        "AND o_orderkey % 7 <> 0 " +
        "GROUP BY 1 ORDER BY 1")),
    // SQL DDL surface: CREATE TABLE ... USING graft registers the
    // table in the session catalog, INSERT INTO drives the optimistic
    // fast append, and MERGE INTO (delete-first / UPDATE SET * /
    // INSERT *) resolves through the injected GraftMergeRule onto the
    // engine's one-join copy-on-write merge — the same statement a
    // Delta/Iceberg user would run, replayed once to pin content
    // idempotence. Oracle: the same CDC fold in plain SQL.
    "table_sql_merge" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_sqlmerge_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val (old, nw) = cdcSnapshots(s, dir)
      val cols = Seq("o_orderkey", "o_totalprice", "o_orderstatus")
      graft.sources.VersionedTable.commit(
        old.select(cols.map(col): _*), root, tag = "base")
      val t = s"graft_sqlmerge_$tag"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t USING graft OPTIONS (path '$root')")
      nw.where(col("o_orderkey") % 2 === 0)
        .select(cols.map(col): _*)
        .withColumn("op", when(col("o_orderkey") % 9 === 0, lit("D"))
          .otherwise(lit("U")))
        .createOrReplaceTempView(s"${t}_src")
      val mergeSql =
        s"""MERGE INTO $t t USING ${t}_src s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND s.op = 'D' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin
      s.sql(mergeSql).collect()
      s.sql(mergeSql).collect() // replay: content-idempotent
      val kept = old.select(cols.map(col): _*).join(
        s.table(s"${t}_src").select("o_orderkey"),
        Seq("o_orderkey"), "left_anti")
      val expect = kept.unionByName(
        s.table(s"${t}_src").where(col("op") =!= "D")
          .select(cols.map(col): _*))
      val got = selfVerified(s, "table_sql_merge", root,
        s.sql(s"SELECT * FROM $t ORDER BY o_orderkey"),
        expect.orderBy("o_orderkey"))
      s.sql(s"DROP TABLE $t")
      got
    },
      // the SQL-driven merge commits the same CDC fold — same oracle
      Oracle("WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus " +
        "FROM orders WHERE o_orderkey % 10 <> 0), " +
        "nn AS (SELECT o_orderkey, " +
        "CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100 " +
        "ELSE o_totalprice END AS o_totalprice, " +
        "CASE WHEN o_orderkey % 5 = 0 THEN 'X' " +
        "ELSE o_orderstatus END AS o_orderstatus " +
        "FROM orders WHERE o_orderkey % 7 <> 0), " +
        "src AS (SELECT *, CASE WHEN o_orderkey % 9 = 0 THEN 'D' " +
        "ELSE 'U' END AS op FROM nn WHERE o_orderkey % 2 = 0) " +
        "SELECT * FROM (" +
        "SELECT o_orderkey, o_totalprice, o_orderstatus FROM o " +
        "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src) " +
        "UNION ALL SELECT o_orderkey, o_totalprice, o_orderstatus " +
        "FROM src WHERE op <> 'D') ORDER BY o_orderkey")),
    // SQL UPDATE + DELETE statements over a catalog graft table —
    // both copy-on-write rewrites under the optimistic retry, with
    // standard SQL semantics (assignment casts, NULL-keeps-row).
    // Oracle: the same mutations as CASE/filter expressions.
    "table_sql_dml" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_sqldml_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      graft.sources.VersionedTable.commit(o, root, tag = "base")
      val t = s"graft_sqldml_$tag"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t USING graft OPTIONS (path '$root')")
      s.sql(s"UPDATE $t SET o_totalprice = o_totalprice * 2, " +
        "o_orderstatus = 'U' WHERE o_orderkey % 3 = 0").collect()
      s.sql(s"DELETE FROM $t WHERE o_orderkey % 7 = 0").collect()
      // the table stays registered (re-created fresh next run): the
      // result is read lazily by the caller, never via the driver
      s.sql(s"SELECT * FROM $t ORDER BY o_orderkey")
    },
      Oracle("SELECT o_orderkey, " +
        "CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2 " +
        "ELSE o_totalprice END AS o_totalprice, " +
        "CASE WHEN o_orderkey % 3 = 0 THEN 'U' " +
        "ELSE o_orderstatus END AS o_orderstatus " +
        "FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey")),
    // SQL schema-evolution parity (VERDICT r13 #2): the
    // table_schema_evolution2 lifecycle driven END-TO-END through
    // ALTER TABLE statements — RENAME COLUMN / ALTER COLUMN TYPE /
    // DROP COLUMN / ADD COLUMN rewrite at parse time onto the
    // metadata-only evolution verbs, the post-evolution rows land via
    // INSERT INTO — same oracle as the API-driven twin.
    "table_sql_ddl" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_sqlddl_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
      graft.sources.VersionedTable.commit(
        o.where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey").cast("int"),
            col("o_totalprice"), col("o_orderstatus")),
        root, tag = "base")
      val t = s"graft_sqlddl_$tag"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t USING graft OPTIONS (path '$root')")
      s.sql(s"ALTER TABLE $t RENAME COLUMN o_orderstatus TO status")
      s.sql(s"ALTER TABLE $t ALTER COLUMN o_custkey TYPE BIGINT")
      s.sql(s"ALTER TABLE $t DROP COLUMN o_totalprice")
      s.sql(s"ALTER TABLE $t ADD COLUMN priority STRING")
      o.where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority"))
        .createOrReplaceTempView(s"${t}_src")
      s.sql(s"INSERT INTO $t SELECT * FROM ${t}_src").collect()
      s.sql(s"SELECT * FROM $t ORDER BY o_orderkey")
    },
      // the SQL-ALTER-driven evolution commits the same lifecycle as
      // the API-driven table_schema_evolution2 — same oracle
      Oracle("SELECT * FROM (" +
        "SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey, " +
        "o_orderstatus AS status, CAST(NULL AS VARCHAR) AS priority " +
        "FROM orders WHERE o_orderkey % 2 = 0 " +
        "UNION ALL " +
        "SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey, " +
        "o_orderstatus AS status, o_orderpriority AS priority " +
        "FROM orders WHERE o_orderkey % 2 = 1) " +
        "ORDER BY o_orderkey")),
    // SQL maintenance statements (Delta-parity surface stock Spark
    // cannot parse): OPTIMIZE folds the MoR delete sidecar and
    // bin-packs the three-append fragmentation under the pinned-base
    // retry, VACUUM RETAIN 1 VERSIONS expires everything but the
    // optimized snapshot — the surviving content is plain SQL.
    // Partition-scoped OPTIMIZE (VERDICT r15 #8): low keys land as a
    // range-clustered stats commit, high keys as three stats-carrying
    // appends; `OPTIMIZE … WHERE key above the split` must compact
    // ONLY the append directories — the cold directory's bytes are
    // byte-identical after (names + lengths), the scoped no-op arm
    // publishes nothing — and the content aggregate equals the plain
    // table (scoped maintenance is content-preserving by definition).
    // The three booleans are selfVerified-style: computed and
    // required in Scala, emitted as literals the oracle pins true.
    "table_optimize_where" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_optwhere_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      val mid = o.agg(
        percentile_approx(col("o_orderkey"), lit(0.5), lit(10000)))
        .head().get(0).toString.toDouble.toLong
      graft.sources.VersionedTable.commitWithStats(
        o.where(col("o_orderkey") <= mid)
          .repartitionByRange(4, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"),
        root, Seq("o_orderkey"), tag = "cold")
      for (i <- 0 until 3)
        graft.sources.VersionedTable.commitAppendWithStats(
          o.where(col("o_orderkey") > mid &&
            col("o_orderkey") % 3 === i),
          root, Seq("o_orderkey"), tag = s"hot$i")
      def coldFiles(): Set[(String, Long)] =
        new java.io.File(s"$root/v0").listFiles().toSeq
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length())).toSet
      val before = coldFiles()
      val t = s"graft_optwhere_$tag"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t USING graft OPTIONS (path '$root')")
      // >= mid+1, not > mid: strict bounds widen to closed ones in
      // the conservative extractor, and a closed [mid, inf) re-admits
      // the cold file whose max IS mid
      val r1 = s.sql(s"OPTIMIZE $t WHERE o_orderkey >= ${mid + 1}")
        .collect()
      val scopedRewrote = r1.head.getBoolean(1) &&
        r1.head.getLong(0) == 4L
      val coldUntouched = coldFiles() == before &&
        (graft.sources.VersionedTable.resolveDirs(s, root, 4L) match {
          case Seq("v0", a) => a.startsWith("a")
          case _ => false
        })
      val r2 = s.sql(
        s"OPTIMIZE $t WHERE o_orderkey > ${Long.MaxValue / 2}")
        .collect()
      val noopSkipped = !r2.head.getBoolean(1) &&
        r2.head.getLong(0) == 4L
      require(scopedRewrote && coldUntouched && noopSkipped,
        s"table_optimize_where contract: scopedRewrote=$scopedRewrote" +
          s" coldUntouched=$coldUntouched noopSkipped=$noopSkipped")
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           $scopedRewrote AS scoped_rewrote,
           $coldUntouched AS cold_files_untouched,
           $noopSkipped AS noop_skipped
         FROM $t GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
      // OPTIMIZE + VACUUM preserve exactly the post-erasure content
      // scoped OPTIMIZE is content-preserving: the aggregate equals the
      // plain table; the contract booleans were required in Scala
      Oracle("SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS sum_price, true AS scoped_rewrote, " +
        "true AS cold_files_untouched, true AS noop_skipped " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")),
    "table_sql_maintenance" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_sqlmaint_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      graft.sources.VersionedTable.commit(
        o.where(col("o_orderkey") % 3 === 0), root, tag = "base")
      graft.sources.VersionedTable.commitAppend(
        o.where(col("o_orderkey") % 3 === 1), root, tag = "d1")
      graft.sources.VersionedTable.commitAppend(
        o.where(col("o_orderkey") % 3 === 2), root, tag = "d2")
      graft.sources.VersionedTable.deleteKeysMor(s, root,
        o.where(col("o_orderkey") % 7 === 0).select("o_orderkey"),
        tag = "erase")
      val t = s"graft_sqlmaint_$tag"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t USING graft OPTIONS (path '$root')")
      s.sql(s"OPTIMIZE $t").collect()
      s.sql(s"VACUUM $t RETAIN 1 VERSIONS").collect()
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
         FROM $t GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
      Oracle("SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS sum_price FROM orders WHERE o_orderkey % 7 <> 0 " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus")),
    // SQL RESTORE: roll-forward to a pinned version — the old content
    // commits as the NEWEST version; the undone version stays
    // time-travelable (pinned by a branch of the union). The second
    // RESTORE pins by TIMESTAMP (newest commit at or before the
    // instant, resolved at execution time in the session zone): it
    // binds v1's full content even though the version-restore already
    // rolled the head back to v0's — so a wrong binding (head instead
    // of the instant) would flip the `restored_head` row's aggregate.
    "table_sql_restore" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_sqlrestore_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.VersionedTable.commit(
        o.where(col("o_orderkey") % 2 === 0), root, tag = "base")
      graft.sources.VersionedTable.commitAppend(
        o.where(col("o_orderkey") % 2 === 1), root, tag = "delta")
      val t1 = graft.sources.VersionedTable.commitTimeMs(s, root, 1L)
      // ms-fence: the next commit must land strictly after t1, so
      // TIMESTAMP AS OF t1 deterministically binds v1, never v2
      while (System.currentTimeMillis() <= t1) Thread.sleep(1)
      val t = s"graft_sqlrestore_$tag"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t USING graft OPTIONS (path '$root')")
      s.sql(s"RESTORE TABLE $t TO VERSION AS OF 0").collect()
      s.sql(s"RESTORE TABLE $t TO TIMESTAMP AS OF '$t1'").collect()
      def agg(snap: String, from: String) =
        s"SELECT '$snap' AS snap, COUNT(*) AS n, " +
          "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
          s"AS sum_price FROM $from"
      s.sql(Seq(
        agg("restored_head", t),
        agg("version_restored", s"$t VERSION AS OF 2"),
        agg("undone", s"$t VERSION AS OF 1"))
        .mkString("", " UNION ALL ", " ORDER BY snap"))
    },
      // the version-RESTORE rolls forward to the even half (readable at
      // its version v2), then the timestamp-RESTORE binds v1's FULL
      // content back onto the head — a head-instead-of-instant binding
      // bug would leave restored_head at the even half
      Oracle("SELECT * FROM (" +
        "SELECT 'restored_head' AS snap, CAST(COUNT(*) AS BIGINT) " +
        "AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) " +
        "AS DOUBLE) AS sum_price FROM orders " +
        "UNION ALL SELECT 'version_restored', COUNT(*), " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "FROM orders WHERE o_orderkey % 2 = 0 " +
        "UNION ALL SELECT 'undone', COUNT(*), " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "FROM orders) ORDER BY snap")),
    // SQL CTAS: CREATE TABLE … USING graft AS SELECT rides the stock
    // V1 CTAS path into the provider's CreatableRelationProvider —
    // the manifest-last v0 commit — and the created table continues
    // the normal lifecycle (INSERT appends as v1).
    "table_sql_ctas" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_sqlctas_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val t = s"graft_sqlctas_$tag"
      s.sql(s"DROP TABLE IF EXISTS $t")
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .createOrReplaceTempView(s"${t}_src")
      s.sql(s"CREATE TABLE $t USING graft OPTIONS (path '$root') " +
        s"AS SELECT * FROM ${t}_src WHERE o_orderkey % 2 = 0")
      s.sql(s"INSERT INTO $t SELECT * FROM ${t}_src " +
        "WHERE o_orderkey % 2 = 1").collect()
      s.sql(s"SELECT o_orderkey, o_totalprice, o_orderstatus FROM $t " +
        "ORDER BY o_orderkey")
    },
      // CTAS commits the even half as v0, INSERT appends the odd half
      // — together the whole table
      Oracle("SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders " +
        "ORDER BY o_orderkey")),
    // SQL SHALLOW CLONE: the zero-copy clone (manifest-only, absolute
    // directory references) created by statement, then the clone-side
    // lifecycle (INSERT + DELETE) — which must never touch the source
    // (selfVerified pins that inline).
    "table_sql_clone" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val src = graft.config.Scratch.runDir + s"/vt_sqlclonesrc_$tag"
      val dst = graft.config.Scratch.runDir + s"/vt_sqlclonedst_$tag"
      graft.sources.VersionedTable.destroy(s, src)
      graft.sources.VersionedTable.destroy(s, dst)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      graft.sources.VersionedTable.commit(
        o.where(col("o_orderkey") % 2 === 0), src, tag = "base")
      val t = s"graft_sqlclone_$tag"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t SHALLOW CLONE '$src' LOCATION '$dst'")
        .collect()
      o.where(col("o_orderkey") % 2 === 1)
        .createOrReplaceTempView(s"${t}_src")
      s.sql(s"INSERT INTO $t SELECT * FROM ${t}_src").collect()
      s.sql(s"DELETE FROM $t WHERE o_orderkey % 10 = 0").collect()
      // the source must be untouched by the clone's whole lifecycle
      selfVerified(s, "table_sql_clone_src", src,
        graft.sources.VersionedTable.read(s, src).orderBy("o_orderkey"),
        o.where(col("o_orderkey") % 2 === 0).orderBy("o_orderkey"))
      s.sql(s"SELECT o_orderkey, o_totalprice, o_orderstatus FROM $t " +
        "ORDER BY o_orderkey")
    },
      // the SQL clone lifecycle equals the API clone lifecycle
      // (table_clone): even base + odd insert - the %10 deletes
      Oracle("SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders " +
        "WHERE o_orderkey % 10 <> 0 ORDER BY o_orderkey")),
    // CONVERT TO GRAFT: zero-copy import of an existing parquet
    // directory as v0 (manifest references it absolutely — no byte
    // read or rewritten at import time), then the normal lifecycle
    // (INSERT appends as v1) on top; the source dir must stay
    // untouched through it all (selfVerified inline).
    "table_convert" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val src = graft.config.Scratch.runDir + s"/vt_convsrc_$tag"
      val root = graft.config.Scratch.runDir + s"/vt_convert_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      o.where(col("o_orderkey") % 2 === 0)
        .write.mode("overwrite").parquet(src)
      val t = s"graft_convert_$tag"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CONVERT TO GRAFT parquet.`$src` LOCATION '$root' AS $t")
        .collect()
      o.where(col("o_orderkey") % 2 === 1)
        .createOrReplaceTempView(s"${t}_src")
      s.sql(s"INSERT INTO $t SELECT * FROM ${t}_src").collect()
      // the import's whole lifecycle must leave the source untouched
      selfVerified(s, "table_convert_src", src,
        s.read.parquet(src).orderBy("o_orderkey"),
        o.where(col("o_orderkey") % 2 === 0).orderBy("o_orderkey"))
      s.sql(s"SELECT o_orderkey, o_totalprice, o_orderstatus FROM $t " +
        "ORDER BY o_orderkey")
    },
      // the zero-copy import (even half referenced in place) plus the
      // appended odd half = the whole table
      Oracle("SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders " +
        "ORDER BY o_orderkey")),
    // SQL CREATE OR REPLACE … AS SELECT: the replace is a VERSIONED
    // Overwrite commit — the head carries the narrowed replacement,
    // the replaced full content stays time-travelable at v0.
    "table_sql_replace" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_sqlreplace_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val t = s"graft_sqlreplace_$tag"
      s.sql(s"DROP TABLE IF EXISTS $t")
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .createOrReplaceTempView(s"${t}_src")
      s.sql(s"CREATE OR REPLACE TABLE $t USING graft " +
        s"OPTIONS (path '$root') AS SELECT * FROM ${t}_src")
      s.sql(s"CREATE OR REPLACE TABLE $t USING graft " +
        s"OPTIONS (path '$root') AS SELECT o_orderkey, o_totalprice " +
        s"FROM ${t}_src WHERE o_orderkey % 2 = 0")
      def agg(snap: String, from: String) =
        s"SELECT '$snap' AS snap, COUNT(*) AS n, " +
          "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
          s"AS sum_price FROM $from"
      s.sql(Seq(
        agg("replaced_head", t),
        agg("original", s"$t VERSION AS OF 0"))
        .mkString("", " UNION ALL ", " ORDER BY snap"))
    },
      // REPLACE head = the even 2-col narrowing; the replaced full
      // content stays readable at v0
      Oracle("SELECT * FROM (" +
        "SELECT 'original' AS snap, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS sum_price FROM orders " +
        "UNION ALL SELECT 'replaced_head', COUNT(*), " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "FROM orders WHERE o_orderkey % 2 = 0) ORDER BY snap")),
    // SQL VACUUM … DRY RUN: the plan lists without removing (every
    // version still readable after it), and the real sweep then
    // removes EXACTLY the planned set — the row carries that
    // adjudication plus the retained head's content aggregate.
    "table_sql_vacuum_dry" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_sqlvacdry_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.VersionedTable.commit(
        o.where(col("o_orderkey") % 2 === 0), root, tag = "base")
      graft.sources.VersionedTable.commitAppend(
        o.where(col("o_orderkey") % 2 === 1), root, tag = "delta")
      graft.sources.VersionedTable.commit(
        o.where(col("o_orderkey") % 3 === 0), root, tag = "rewrite")
      val t = s"graft_sqlvacdry_$tag"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t USING graft OPTIONS (path '$root')")
      val planned = s.sql(s"VACUUM $t RETAIN 1 VERSIONS DRY RUN")
        .collect().map(_.getString(0)).toSet
      // nothing removed: the dry run leaves every version readable
      val stillReadable = graft.sources.VersionedTable
        .versions(s, root) == Seq(0L, 1L, 2L) &&
        graft.sources.VersionedTable.readVersion(s, root, 1L)
          .count() > 0
      val before = graft.sources.VersionedTable.fsListRootNames(s, root)
      s.sql(s"VACUUM $t RETAIN 1 VERSIONS").collect()
      val after = graft.sources.VersionedTable.fsListRootNames(s, root)
      val matches = (before -- after) == planned
      import s.implicits._
      val verdictDf = Seq((planned.nonEmpty, stillReadable, matches,
        graft.sources.VersionedTable.versions(s, root).size.toLong))
        .toDF("planned_nonempty", "dry_run_left_all_readable",
          "sweep_matches_plan", "n_versions_after")
      verdictDf.crossJoin(
        s.sql(s"SELECT COUNT(*) AS n, CAST(SUM(CAST(o_totalprice " +
          s"AS DECIMAL(18,2))) AS DOUBLE) AS sum_price FROM $t"))
    },
      // the dry run plans without removing, the sweep removes exactly
      // the plan, and the retained head is the %3 rewrite
      Oracle("SELECT true AS planned_nonempty, " +
        "true AS dry_run_left_all_readable, " +
        "true AS sweep_matches_plan, " +
        "CAST(1 AS BIGINT) AS n_versions_after, " +
        "CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS sum_price FROM orders WHERE o_orderkey % 3 = 0")),
    // SQL batch change-data-feed: the table_changes TVF (parse-time
    // rewrite onto the delta-sized changeDelta read — insert rows and
    // delete KEYS tagged _change_type/_commit_version, never a
    // snapshot diff) replays the same lifecycle the oracle states in
    // plain SQL.
    "table_sql_changes" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_sqlchanges_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      graft.sources.VersionedTable.commit(
        o.where(col("o_orderkey") % 2 === 0), root, tag = "base")
      graft.sources.VersionedTable.commitAppend(
        o.where(col("o_orderkey") % 2 === 1), root, tag = "delta")
      graft.sources.VersionedTable.deleteKeysMor(s, root,
        o.where(col("o_orderkey") % 6 === 0).select("o_orderkey"),
        tag = "erase")
      s.sql("SELECT o_orderkey, o_totalprice, o_orderstatus, " +
        "_change_type, _commit_version " +
        s"FROM table_changes('$root', 0) " +
        "ORDER BY _commit_version, o_orderkey")
    },
      // the TVF's CDF equals the lifecycle stated directly: v0's even
      // initial inserts (from is INCLUSIVE, Delta semantics), v1's odd
      // inserts, v2's delete keys (key populated, other columns NULL)
      Oracle("SELECT * FROM (" +
        "SELECT o_orderkey, o_totalprice, o_orderstatus, " +
        "'insert' AS _change_type, CAST(0 AS BIGINT) " +
        "AS _commit_version FROM orders WHERE o_orderkey % 2 = 0 " +
        "UNION ALL SELECT o_orderkey, o_totalprice, o_orderstatus, " +
        "'insert', CAST(1 AS BIGINT) " +
        "FROM orders WHERE o_orderkey % 2 = 1 " +
        "UNION ALL SELECT o_orderkey, CAST(NULL AS DOUBLE), " +
        "CAST(NULL AS VARCHAR), 'delete', CAST(2 AS BIGINT) " +
        "FROM orders WHERE o_orderkey % 6 = 0) " +
        "ORDER BY _commit_version, o_orderkey")),
    // DESCRIBE HISTORY: the commit audit (version, tag, data_change)
    // of a fixed four-commit lifecycle — deterministic by
    // construction, so the oracle is a VALUES literal (the wall-clock
    // commit_ts_ms column is projected out).
    "table_sql_history" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_sqlhist_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.VersionedTable.commit(
        o.where(col("o_orderkey") % 2 === 0), root, tag = "base")
      graft.sources.VersionedTable.commitAppend(
        o.where(col("o_orderkey") % 2 === 1), root, tag = "delta")
      graft.sources.VersionedTable.deleteKeysMor(s, root,
        o.where(col("o_orderkey") % 6 === 0).select("o_orderkey"),
        tag = "erase")
      val t = s"graft_sqlhist_$tag"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t USING graft OPTIONS (path '$root')")
      s.sql(s"OPTIMIZE $t").collect()
      s.sql(s"DESCRIBE HISTORY $t")
        .select(col("version"), col("tag"), col("data_change"))
        .orderBy("version")
    },
      // the four-commit audit, stated as a literal
      Oracle("SELECT * FROM (VALUES " +
        "(CAST(0 AS BIGINT), 'base', true), " +
        "(CAST(1 AS BIGINT), 'delta', true), " +
        "(CAST(2 AS BIGINT), 'erase', true), " +
        "(CAST(3 AS BIGINT), 'sql-optimize', false)) " +
        "t(version, tag, data_change) ORDER BY version")),
    // SQL time travel (VERDICT r13 #3): VERSION AS OF <id>,
    // VERSION AS OF '<named ref>', and TIMESTAMP AS OF <instant> all
    // bind pinned snapshot reads in one statement next to the
    // head-tracking read — erasure replay through pure SQL. The
    // strict-separation busy-wait makes the TIMESTAMP branch
    // deterministic (two commits can otherwise share a millisecond).
    "table_sql_time_travel" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_sqltt_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      graft.sources.VersionedTable.commit(
        o.where(col("o_orderkey") % 2 === 0), root, tag = "base")
      val t0 = graft.sources.VersionedTable.commitTimeMs(s, root, 0L)
      while (System.currentTimeMillis() <= t0) Thread.sleep(1)
      graft.sources.VersionedTable.commitAppend(
        o.where(col("o_orderkey") % 2 === 1), root, tag = "delta")
      graft.sources.VersionedTable.createRef(s, root, "pre_erase", 1L)
      graft.sources.VersionedTable.deleteKeysMor(s, root,
        o.where(col("o_orderkey") % 6 === 0).select("o_orderkey"),
        tag = "erase")
      val t = s"graft_sqltt_$tag"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t USING graft OPTIONS (path '$root')")
      def agg(snap: String, from: String) =
        s"SELECT '$snap' AS snap, COUNT(*) AS n, " +
          "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
          s"AS sum_price FROM $from"
      s.sql(Seq(
        agg("head", t),
        agg("pre_erase", s"$t VERSION AS OF 'pre_erase'"),
        agg("ts0", s"$t TIMESTAMP AS OF $t0"),
        agg("v0", s"$t VERSION AS OF 0"))
        .mkString("", " UNION ALL ", " ORDER BY snap"))
    },
      // VERSION AS OF <id> / <'ref'> and TIMESTAMP AS OF replay the
      // table's history: v0 and the timestamp bind the even half, the
      // pre-erase ref the full set, the head the post-erasure content
      Oracle("SELECT * FROM (" +
        "SELECT 'head' AS snap, COUNT(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS sum_price FROM orders WHERE o_orderkey % 6 <> 0 " +
        "UNION ALL SELECT 'pre_erase', COUNT(*), " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "FROM orders " +
        "UNION ALL SELECT 'ts0', COUNT(*), " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "FROM orders WHERE o_orderkey % 2 = 0 " +
        "UNION ALL SELECT 'v0', COUNT(*), " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "FROM orders WHERE o_orderkey % 2 = 0) ORDER BY snap")),
    // Metadata-time COUNT(*): parquet footers carry per-file row
    // counts, so a delete-free snapshot counts in a footer-only job
    // (zero data pages — the aggregate-pushdown answer at 100 TB);
    // a snapshot with MoR deletes falls back to the scoped anti-join
    // count, column-pruned to the delete key. Oracle: both counts in
    // plain SQL.
    "table_fast_count" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_fastcount_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
      graft.sources.VersionedTable.commit(
        o.where(col("o_orderkey") % 2 === 0), root, tag = "base")
      val v1 = graft.sources.VersionedTable.commitAppend(
        o.where(col("o_orderkey") % 2 === 1), root, tag = "delta")
      val nAll = graft.sources.VersionedTable.fastCount(s, root, v1)
      val v2 = graft.sources.VersionedTable.deleteKeysMor(s, root,
        o.where(col("o_orderkey") % 5 === 0).select("o_orderkey"),
        tag = "erase")
      val nAfter = graft.sources.VersionedTable.fastCount(s, root, v2)
      import s.implicits._
      Seq(("after_delete", nAfter), ("all", nAll))
        .toDF("phase", "cnt").orderBy("phase")
    },
      Oracle("SELECT * FROM (" +
        "SELECT 'after_delete' AS phase, COUNT(*) AS cnt FROM orders " +
        "WHERE o_orderkey % 5 <> 0 " +
        "UNION ALL SELECT 'all', COUNT(*) FROM orders) ORDER BY phase")),
    // SHALLOW CLONE: zero-copy clone of the committed source (the
    // clone's manifest references the source's data dirs by absolute
    // path — no byte moves), then the clone lives its own life: a
    // local append and a MoR erasure land clone-side only. The read
    // must see exactly source-content ∪ append − erasure, and the
    // SOURCE must remain byte-identical (self-verified here; vacuum
    // isolation is spec-side). Oracle: the composed lifecycle as one
    // filter over the raw table.
    "table_clone" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val src = graft.config.Scratch.runDir + s"/vt_clonesrc_$tag"
      val dst = graft.config.Scratch.runDir + s"/vt_clonedst_$tag"
      graft.sources.VersionedTable.destroy(s, src)
      graft.sources.VersionedTable.destroy(s, dst)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      graft.sources.VersionedTable.commit(
        o.where(col("o_orderkey") % 2 === 0), src, tag = "base")
      graft.sources.VersionedTable.cloneShallow(s, src, dst)
      graft.sources.VersionedTable.commitAppend(
        o.where(col("o_orderkey") % 2 === 1), dst, tag = "clone-delta")
      graft.sources.VersionedTable.deleteKeysMor(s, dst,
        o.where(col("o_orderkey") % 10 === 0).select("o_orderkey"),
        tag = "clone-erase")
      // the source must be untouched by the clone's whole lifecycle
      selfVerified(s, "table_clone_src", src,
        graft.sources.VersionedTable.read(s, src).orderBy("o_orderkey"),
        o.where(col("o_orderkey") % 2 === 0).orderBy("o_orderkey"))
      graft.sources.VersionedTable.read(s, dst).orderBy("o_orderkey")
    },
      // clone ∪ append − erasure over the raw table (the even-keyed
      // source half arrives through zero-copy absolute references)
      Oracle("SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders " +
        "WHERE o_orderkey % 10 <> 0 ORDER BY o_orderkey")),
    // NON-additive schema evolution: rename / type-widen / drop / add
    // as METADATA-ONLY commits over the manifest's field-ID mapping
    // (physical names immutable, widen = read-time cast, drop =
    // tombstone, re-add can never resurrect), then an append under
    // the evolved schema; the read unifies old-narrow and new-wide
    // directories under the logical schema. The oracle replays the
    // whole lifecycle as casts + a NULL-filled union.
    "table_schema_evolution2" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_evolve2_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
      graft.sources.VersionedTable.commit(
        o.where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey").cast("int"),
            col("o_totalprice"), col("o_orderstatus")),
        root, tag = "base")
      graft.sources.VersionedTable.renameColumn(s, root,
        "o_orderstatus", "status")
      graft.sources.VersionedTable.widenColumn(s, root,
        "o_custkey", "BIGINT")
      graft.sources.VersionedTable.dropColumn(s, root, "o_totalprice")
      graft.sources.VersionedTable.addColumn(s, root,
        "priority", "STRING")
      graft.sources.VersionedTable.commitAppend(
        o.where(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus").as("status"),
            col("o_orderpriority").as("priority")),
        root, tag = "evolved-delta")
      graft.sources.VersionedTable.read(s, root).orderBy("o_orderkey")
    },
      // rename = alias, widen = cast, drop = projection, add = NULL
      // fill on pre-add rows — the metadata-only lifecycle replayed as
      // plain relational algebra
      Oracle("SELECT * FROM (" +
        "SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey, " +
        "o_orderstatus AS status, CAST(NULL AS VARCHAR) AS priority " +
        "FROM orders WHERE o_orderkey % 2 = 0 " +
        "UNION ALL " +
        "SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey, " +
        "o_orderstatus AS status, o_orderpriority AS priority " +
        "FROM orders WHERE o_orderkey % 2 = 1) " +
        "ORDER BY o_orderkey")),
    // a RENAMED column keeps its data-skipping sidecar (stats key by
    // the immutable physical name; pruning translates through the
    // mapping) — readWhere on the new logical name must equal the
    // plain filter row-for-row; the file-skip evidence is spec-side
    "table_evolve_prune" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_evoprune_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      graft.sources.VersionedTable.commitWithStats(
        o.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"),
        root, statsCols = Seq("o_orderkey"), tag = "clustered")
      graft.sources.VersionedTable.renameColumn(s, root,
        "o_orderkey", "order_id")
      def shape(d: DataFrame) = d
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("sum_price"))
        .orderBy("o_orderstatus")
      selfVerified(s, "table_evolve_prune", root,
        shape(graft.sources.VersionedTable.readWhere(s, root,
          col("order_id").between(2000L, 6000L))),
        shape(o.where(col("o_orderkey").between(2000L, 6000L))))
    },
      // pruning through a renamed column's retained sidecar loses no
      // rows vs the plain key-range filter
      Oracle("SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) " +
        "AS DOUBLE) AS sum_price " +
        "FROM orders WHERE o_orderkey BETWEEN 2000 AND 6000 " +
        "GROUP BY 1 ORDER BY 1")),
    // lexicographic data skipping: range-cluster on a CATEGORY column
    // (cast-to-double stats are blind to strings), commit with string
    // min/max, prune a two-priority range through the sidecar —
    // file-skip evidence lives in VersionedTableSpec; the oracle pins
    // no row loss
    "table_pruned_string" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_prunestr_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
      val v = graft.sources.VersionedTable.commitWithStats(
        o.repartitionByRange(8, col("o_orderpriority"), col("o_orderkey"))
          .sortWithinPartitions("o_orderpriority"),
        root, statsCols = Nil, tag = "bypriority",
        stringStatsCols = Seq("o_orderpriority"))
      val in = col("o_orderpriority").between("1-URGENT", "2-HIGH")
      def shape(d: DataFrame) = d.where(in)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
      selfVerified(s, "table_pruned_string", root,
        shape(graft.sources.VersionedTable.readWhereVersion(s, root, v, in)),
        shape(o))
    },
      // lexicographic pruning loses no rows vs the plain string range
      // (both engines compare strings in binary order)
      Oracle("SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) " +
        "AS DOUBLE) AS sum_price " +
        "FROM orders WHERE o_orderpriority " +
        "BETWEEN '1-URGENT' AND '2-HIGH' " +
        "GROUP BY 1 ORDER BY 1")),
    // retention GC: commit, copy-on-write delete, vacuum to the
    // newest snapshot only — the surviving read must still be exactly
    // the logical content (expired-bytes-gone evidence lives in
    // VersionedTableSpec)
    "table_vacuum" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_vacuum_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      graft.sources.VersionedTable.commit(o, root, tag = "base")
      graft.sources.VersionedTable.deleteWhere(s, root,
        col("o_orderstatus") === "F", tag = "erase")
      graft.sources.VersionedTable.vacuum(s, root, keepLast = 1)
      def shape(d: DataFrame) = d
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("sum_price"))
        .orderBy("o_orderstatus")
      // the post-vacuum read must be exactly the CoW delete's logical
      // content — checked against the source before returning
      selfVerified(s, "table_vacuum", root,
        shape(graft.sources.VersionedTable.read(s, root)),
        shape(o.where(col("o_orderstatus") =!= "F")))
    },
      // vacuum keeps only the newest snapshot; its read is exactly the
      // copy-on-write delete's logical content
      Oracle("SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) " +
        "AS DOUBLE) AS sum_price " +
        "FROM orders WHERE o_orderstatus <> 'F' " +
        "GROUP BY 1 ORDER BY 1")),
    // clustered OPTIMIZE: Z-commit, then compactZOrder re-bin-packs
    // WITHOUT losing the layout — the conjunction range scan after
    // the rewrite still prunes through the REBUILT stats sidecar and
    // must lose no rows (r9 gap: round-robin compact destroyed the
    // clustering and with it every later skip)
    "table_compact_zorder" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_compactz_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      val b = li.agg(max(col("l_orderkey")).cast("double"),
        max(col("l_partkey")).cast("double")).head()
      val z = operators.ZOrder.clustered(li, operators.ZOrder.mortonCode(
          col("l_orderkey"), col("l_partkey"),
          0d, b.getDouble(0), 0d, b.getDouble(1)), numFiles = 16)
      graft.sources.VersionedTable.commitWithStats(z, root,
        statsCols = Seq("l_orderkey", "l_partkey"), tag = "zorder")
      val v = graft.sources.VersionedTable.compactZOrder(s, root,
        Seq("l_orderkey", "l_partkey"),
        targetBytes = graft.sources.VersionedTable.dataBytes(s, root, 0L)
          / 4 + 1)
      val in = col("l_orderkey").cast("double").between(1000d, 4000d) &&
        col("l_partkey").cast("double").between(1d, 100d)
      def shape(d: DataFrame) = d.where(in)
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("sum_qty"))
        .orderBy("l_partkey")
      selfVerified(s, "table_compact_zorder", root,
        shape(graft.sources.VersionedTable.readWhereVersion(s, root, v, in)),
        shape(li))
    },
      // the rewritten (compacted) Z layout answers exactly the plain
      // two-predicate filter — compaction is invisible to the scan
      Oracle("SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_lines, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) " +
        "AS DOUBLE) AS sum_qty " +
        "FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 4000 " +
        "AND l_partkey BETWEEN 1 AND 100 " +
        "GROUP BY 1 ORDER BY 1")),
    // automatic data skipping: readWhere extracts the per-column
    // bounds from an ARBITRARY Column predicate (range on the
    // clustered key, equality on the priority string, an uncovered
    // numeric conjunct that only row-filters) and prunes through the
    // stats sidecars with no caller-side knowledge of which columns
    // carry stats — the scan-planning step Delta/Iceberg run on every
    // filtered read; the oracle pins that pruning loses no rows
    "table_read_where" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_readwhere_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
      graft.sources.VersionedTable.commitWithStats(
        o.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"),
        root, statsCols = Seq("o_orderkey"),
        stringStatsCols = Seq("o_orderpriority"), tag = "clustered")
      val pred = col("o_orderkey") >= 2000L &&
        col("o_orderkey") <= 6000L &&
        col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 1000d
      def shape(d: DataFrame) = d
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
      selfVerified(s, "table_read_where", root,
        shape(graft.sources.VersionedTable.readWhere(s, root, pred)),
        shape(o.where(pred)))
    },
      // automatic predicate pushdown loses no rows vs the plain filter
      Oracle("SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) " +
        "AS DOUBLE) AS sum_price FROM orders " +
        "WHERE o_orderkey BETWEEN 2000 AND 6000 " +
        "AND o_orderpriority = '1-URGENT' AND o_totalprice > 1000 " +
        "GROUP BY 1 ORDER BY 1")),
    // TEMPORAL predicate pushdown: a time-clustered event table prunes
    // a string-literal date range through the double-cast ts stats —
    // the dominant needle shape on event logs at 100 TB (the bound
    // extractor resolves the column's type from the snapshot schema
    // and maps the literal onto the stats scale); the oracle pins no
    // row loss
    "table_read_where_time" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_rwtime_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val e = tbl(s, dir, "events")
        .select(col("ts"), col("event_type"), col("value"))
      graft.sources.VersionedTable.commitWithStats(
        e.repartitionByRange(8, col("ts")).sortWithinPartitions("ts"),
        root, statsCols = Seq("ts"), tag = "timeclustered")
      val pred = col("ts") >= "2024-01-16" && col("ts") < "2024-01-21"
      def shape(d: DataFrame) = d
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)"))
            .cast("double").as("sum_value"))
        .orderBy("event_type")
      selfVerified(s, "table_read_where_time", root,
        shape(graft.sources.VersionedTable.readWhere(s, root, pred)),
        shape(e.where(pred)))
    },
      // temporal pushdown loses no rows vs the plain time-range filter
      Oracle("SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS sum_value FROM events " +
        "WHERE ts >= TIMESTAMP '2024-01-16' " +
        "AND ts < TIMESTAMP '2024-01-21' " +
        "GROUP BY 1 ORDER BY 1")),
    // sequence-scoped MoR deletes: erase a key set, then RE-REGISTER a
    // subset through a later append — the re-inserted rows must be
    // visible (the erasure's seq precedes the delta's), the
    // never-re-registered erasures must stay gone, and no pre-erasure
    // copy may resurface. This is the GDPR re-registration path the
    // round-10 advice flagged: without scoping, the append was
    // silently anti-joined away until a rewrite.
    "table_mor_reinsert" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_reinsert_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.VersionedTable.commit(o, root, tag = "base")
      graft.sources.VersionedTable.deleteKeysMor(s, root,
        o.where(col("o_orderkey") % 7 === 0).select(col("o_orderkey")),
        tag = "erase")
      graft.sources.VersionedTable.commitAppend(
        o.where(col("o_orderkey") % 14 === 0)
          .select(col("o_orderkey"),
            (col("o_totalprice") + 1000d).as("o_totalprice")),
        root, tag = "reregister")
      def shape(d: DataFrame) = d
        .groupBy(when(col("o_orderkey") % 14 === 0, "reinserted")
          .when(col("o_orderkey") % 7 === 0, "erased")
          .otherwise("kept").as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("sum_price"))
        .orderBy("grp")
      selfVerified(s, "table_mor_reinsert", root,
        shape(graft.sources.VersionedTable.read(s, root)),
        shape(o.where(col("o_orderkey") % 7 =!= 0)
          .unionByName(o.where(col("o_orderkey") % 14 === 0)
            .select(col("o_orderkey"),
              (col("o_totalprice") + 1000d).as("o_totalprice")))))
    },
      // sequence-scoped erasure: re-registered keys are visible with
      // their NEW rows, unre-registered erasures stay gone, no
      // pre-erasure copy resurfaces — exactly the filtered-union below
      Oracle("SELECT CASE WHEN o_orderkey % 14 = 0 THEN 'reinserted' " +
        "WHEN o_orderkey % 7 = 0 THEN 'erased' ELSE 'kept' END AS grp, " +
        "CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) " +
        "AS DOUBLE) AS sum_price FROM (" +
        "SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_orderkey % 7 <> 0 " +
        "UNION ALL " +
        "SELECT o_orderkey, o_totalprice + 1000 AS o_totalprice " +
        "FROM orders WHERE o_orderkey % 14 = 0) " +
        "GROUP BY 1 ORDER BY 1")),
    // profile-over-snapshot: the reference's column-summary report
    // runs against a PRUNED snapshot read — the scan-report surface
    // closing the loop with the table layer. Stats skip the
    // out-of-range files, Profile.summarize sees only the needle
    // range, and the result is self-verified against the same
    // profile computed straight off the source table.
    "table_profile_snapshot" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/vt_profile_$tag"
      graft.sources.VersionedTable.destroy(s, root)
      val o = tbl(s, dir, "orders")
      val v = graft.sources.VersionedTable.commitWithStats(
        o.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"),
        root, statsCols = Seq("o_orderkey"), tag = "clustered")
      val in = col("o_orderkey").cast("double").between(1000d, 8000d)
      selfVerified(s, "table_profile_snapshot", root,
        roundedSummary(graft.sources.VersionedTable.readWhereVersion(
          s, root, v, in)),
        roundedSummary(o.where(in)))
    },
      // the pruned-snapshot profile equals the profile of the plain
      // filtered table — pruning is invisible to the report
      Oracle(summaryOracle("orders",
        from = "(SELECT * FROM orders " +
          "WHERE o_orderkey BETWEEN 1000 AND 8000)"))),
    // training-data export: seeded deterministic epoch shuffle —
    // MINSTD permutation key, one exchange on the shard + per-shard
    // sort; byte-identical re-runs are the contract
    "epoch_shuffle" -> Query((s, dir) => operators.ShuffleExport
      .epochShuffle(tbl(s, dir, "documents"), "doc_id", seed = 42L,
        nShards = 8)
      .orderBy("shard", "pos"),
      // epoch shuffle: the MINSTD chain in plain BIGINT arithmetic —
      // every intermediate < 2^47, replayed exactly
      Oracle("WITH k AS (SELECT doc_id, " +
        "(((((((doc_id + 42) % 2147483647) * 48271) % 2147483647) " +
        "* 48271) % 2147483647) * 48271) % 2147483647 AS key " +
        "FROM documents) " +
        "SELECT key % 8 AS shard, " +
        "CAST(row_number() OVER (PARTITION BY key % 8 " +
        "ORDER BY key, doc_id) AS BIGINT) AS pos, doc_id " +
        "FROM k ORDER BY shard, pos")),
    // SCD type-2 history of each user's event_type: one shuffle, two
    // windows over the same key partitioning
    "scd2_history" -> Query((s, dir) => Cdc.scd2(tbl(s, dir, "events"),
        "user_id", "ts", "event_type", tieCols = Seq("event_id"))
      .select(col("user_id"), col("version"), col("event_type"),
        unix_micros(col("valid_from")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"),
        col("is_current"))
      .orderBy("user_id", "version"),
      Oracle(scd2HistoryOracle)),
    // time-series regularization: per-user daily grid with forward
    // fill — one shuffle, per-key generated calendar (no driver loop)
    "resample_ffill" -> Query((s, dir) => operators.Resample.dailyForwardFill(
      tbl(s, dir, "events"), "user_id", "ts", "value"),
      Oracle("WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, " +
        "CAST(ts AS DATE) AS day, value FROM events), " +
        "d AS (SELECT user_id, day, value FROM (" +
        "SELECT user_id, day, value, row_number() OVER " +
        "(PARTITION BY user_id, day ORDER BY ts_us DESC, value DESC) " +
        "AS rn FROM e) WHERE rn = 1), " +
        "span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 " +
        "FROM d GROUP BY 1), " +
        "grid AS (SELECT user_id, " +
        "CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), " +
        "CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day " +
        "FROM span), " +
        "j AS (SELECT g.user_id, g.day, d.value FROM grid g " +
        "LEFT JOIN d ON d.user_id = g.user_id AND d.day = g.day) " +
        "SELECT user_id, day, " +
        "last_value(value IGNORE NULLS) OVER (PARTITION BY user_id " +
        "ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW) AS v_ffill, " +
        "CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END " +
        "AS is_observed FROM j ORDER BY user_id, day")),
    // privacy: k-anonymity audit of the (nation, segment) quasi-
    // identifier — one groupBy + one rollup row
    "k_anonymity" -> Query((s, dir) => operators.Privacy.kAnonymity(
      tbl(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"),
      k = 10),
      Oracle("WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS sz " +
        "FROM customer GROUP BY 1, 2) " +
        "SELECT count(*) AS n_groups, " +
        "CAST(sum(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_violating, " +
        "CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT) " +
        "AS n_rows_at_risk, " +
        "min(sz) AS min_group, " +
        "round(CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) " +
        "AS DOUBLE) / sum(sz), 9) AS suppression_rate FROM g")),
    // privacy: disclosure-limited counts with seeded (replayable)
    // Laplace noise — production swaps the seed for a real RNG
    "dp_counts" -> Query((s, dir) => operators.Privacy.dpCounts(
      tbl(s, dir, "customer"), "c_mktsegment", eps = 1.0),
      Oracle("WITH h0 AS (SELECT c_mktsegment AS g, count(*) AS n " +
        "FROM customer GROUP BY 1), " +
        "hh AS (SELECT g, n, list_reduce(" +
        "list_prepend(CAST(1125899906842597 AS HUGEINT), " +
        "list_transform(range(1, length(g) + 1), " +
        "i -> CAST(ascii(substr(g, i, 1)) AS HUGEINT))), " +
        "(acc, x) -> ((acc + x) * 6364136223846793005) " +
        "% 18446744073709551616) AS hu FROM h0), " +
        "hs AS (SELECT g, n, CAST(CASE WHEN hu >= " +
        "CAST(9223372036854775808 AS HUGEINT) THEN hu - " +
        "CAST(18446744073709551616 AS HUGEINT) ELSE hu END " +
        "AS BIGINT) AS hsig FROM hh), " +
        "v1 AS (SELECT g, n, ((hsig % 2147483647) + 2147483647) " +
        "% 2147483647 AS v FROM hs), " +
        "v2 AS (SELECT g, n, (v * 48271) % 2147483647 AS v FROM v1), " +
        "v3 AS (SELECT g, n, (v * 48271) % 2147483647 AS v FROM v2), " +
        "v4 AS (SELECT g, n, (v * 48271) % 2147483647 AS v FROM v3), " +
        "u AS (SELECT g, n, (CAST(v AS DOUBLE) + 0.5) / 2147483647.0 " +
        "- 0.5 AS u FROM v4) " +
        "SELECT g AS c_mktsegment, " +
        "round(n + round(-1.0 * (CASE WHEN u >= 0 THEN 1.0 ELSE -1.0 " +
        "END) * ln(1.0 - 2.0 * abs(u)), 3), 3) AS noisy_n " +
        "FROM u ORDER BY 1")),
    // sketch set ops: pairwise distinct-user overlap between event
    // types via HLL inclusion-exclusion (|A|+|B|−|A∪B|) — mergeable
    // sketches, never a re-scan per pair; exact side + tolerance flag
    "distinct_overlap" -> Query((s, dir) => {
      val ev = tbl(s, dir, "events")
      val sk = ev.groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val a = sk.select(col("event_type").as("type_a"),
        col("sk").as("sk_a"))
      val b = sk.select(col("event_type").as("type_b"),
        col("sk").as("sk_b"))
      val est = a.join(b, col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"),
          (hll_sketch_estimate(col("sk_a")) +
            hll_sketch_estimate(col("sk_b")) -
            hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
            .as("est"))
      val d = ev.select("event_type", "user_id").distinct()
      val exact = d.select(col("event_type").as("type_a"),
          col("user_id"))
        .join(d.select(col("event_type").as("type_b"), col("user_id")),
          "user_id")
        .where(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_exact"))
      est.join(exact, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"), col("n_exact"),
          (abs(col("est") - col("n_exact")) / col("n_exact") <= 0.15)
            .cast("int").as("within_15pct"))
        .orderBy("type_a", "type_b")
    },
      Oracle("WITH d AS (SELECT DISTINCT event_type, user_id FROM events) " +
        "SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "count(*) AS n_exact, 1 AS within_15pct " +
        "FROM d a JOIN d b ON a.user_id = b.user_id " +
        "AND a.event_type < b.event_type " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),
    // entity resolution: customers linked to a deterministically
    // dirtied twin (one-char name edit, small balance jitter) via
    // nation-blocked levenshtein + numeric tolerance; ground truth =
    // same custkey, so per-block precision is part of the contract
    "entity_resolution" -> Query((s, dir) => {
      val cust = tbl(s, dir, "customer")
      val clean = cust.select(col("c_custkey").as("id_a"),
        col("c_nationkey").as("blk"), col("c_name").as("s_a"),
        col("c_acctbal").as("v_a"))
      val dirty = cust.select(col("c_custkey").as("id_b"),
        col("c_nationkey").as("blk"),
        concat(substring(col("c_name"), 1, 8), lit("-"),
          substring(col("c_name"), 10, 9)).as("s_b"),
        (col("c_acctbal") + when(col("c_custkey") % 7 === 0,
          lit(0.001)).otherwise(lit(0.0))).as("v_b"))
      operators.EntityResolution
        .scoredCandidates(clean, dirty, maxEdit = 2, numTol = 0.005)
        .groupBy("blk")
        .agg(count(lit(1)).as("n_candidates"),
          sum(col("matched")).as("n_matched"),
          sum(when(col("matched") === 1 && col("id_a") === col("id_b"),
            1L).otherwise(0L)).as("n_correct"))
        .orderBy("blk")
    },
      Oracle("WITH a AS (SELECT c_custkey AS id_a, c_nationkey AS blk, " +
        "c_name AS s_a, c_acctbal AS v_a FROM customer), " +
        "b AS (SELECT c_custkey AS id_b, c_nationkey AS blk, " +
        "substring(c_name, 1, 8) || '-' || substring(c_name, 10, 9) " +
        "AS s_b, " +
        "c_acctbal + CASE WHEN c_custkey % 7 = 0 THEN 0.001 " +
        "ELSE 0.0 END AS v_b FROM customer), " +
        "c AS (SELECT a.blk, id_a, id_b, " +
        "levenshtein(s_a, s_b) AS edit, " +
        "CASE WHEN levenshtein(s_a, s_b) <= 2 " +
        "AND abs(v_a - v_b) <= 0.005 THEN 1 ELSE 0 END AS m " +
        "FROM a JOIN b ON a.blk = b.blk) " +
        "SELECT blk, count(*) AS n_candidates, " +
        "CAST(sum(m) AS BIGINT) AS n_matched, " +
        "CAST(sum(CASE WHEN m = 1 AND id_a = id_b THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_correct " +
        "FROM c GROUP BY 1 ORDER BY 1")),
    // window-function breadth: percent_rank + cume_dist over segment
    // partitions (the two rank-normalizing windows nothing else uses)
    "window_percentiles" -> Query((s, dir) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      tbl(s, dir, "customer")
        .where(col("c_custkey") < 200)
        .select(col("c_mktsegment"), col("c_custkey"),
          round(percent_rank().over(w), 9).as("pct_rank"),
          round(cume_dist().over(w), 9).as("cume"))
        .orderBy("c_mktsegment", "c_custkey")
    },
      Oracle("SELECT c_mktsegment, c_custkey, " +
        "round(percent_rank() OVER w, 9) AS pct_rank, " +
        "round(cume_dist() OVER w, 9) AS cume " +
        "FROM customer WHERE c_custkey < 200 " +
        "WINDOW w AS (PARTITION BY c_mktsegment " +
        "ORDER BY c_acctbal, c_custkey) " +
        "ORDER BY c_mktsegment, c_custkey")),
    // schema drift between snapshots: the INFERRED logical schema of
    // two table versions compared column-by-column — added/removed
    // columns and inference-driven type demotions (a poisoned numeric
    // column demotes to character via the real vote, not a hardcode)
    "schema_drift" -> Query((s, dir) => {
      val o = tbl(s, dir, "orders")
      val nw = o.drop("o_orderpriority")
        .withColumn("o_totalprice",
          concat(col("o_totalprice").cast("string"),
            when(col("o_orderkey") % 50 === 0, lit("x"))
              .otherwise(lit(""))))
        .withColumn("o_flag",
          when(col("o_orderkey") % 2 === 0, lit("Y"))
            .otherwise(lit("N")))
      // inference is a single aggregation pass per snapshot since r15
      // (fused cascade), so the r13 #6 shareScan cache would be pure
      // overhead here — each side scans its projection exactly once.
      // The two snapshots are INDEPENDENT passes: submit them from
      // driver threads so their jobs share the cluster instead of
      // queueing (optimization r18, guide §2.6)
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val aF = Future(typeinferQuery(s, o)
        .select(col("column_name"), col("inferred_type").as("old_type")))
      val bF = Future(typeinferQuery(s, nw)
        .select(col("column_name").as("cn"),
          col("inferred_type").as("new_type")))
      val a = Await.result(aF, Duration.Inf)
      val b = Await.result(bF, Duration.Inf)
      a.join(b, a("column_name") === b("cn"), "full_outer")
        .select(coalesce(col("column_name"), col("cn")).as("col_name"),
          col("old_type"), col("new_type"),
          when(col("column_name").isNull, "added")
            .when(col("cn").isNull, "removed")
            .when(col("old_type") =!= col("new_type"), "type_changed")
            .otherwise("unchanged").as("change"))
        .orderBy("col_name")
    },
      Oracle(schemaDriftOracle)),
    // incremental SCD2: history built from the first half of the log,
    // the second half applied as a delta batch — untouched keys keep
    // their rows verbatim, touched keys replay change points + delta.
    // The oracle is the FULL-rebuild SQL, so incremental == batch is
    // driver-pinned
    "scd2_merge" -> Query((s, dir) => {
      val ev = tbl(s, dir, "events")
      val cut = "2024-01-16"
      val base = Cdc.scd2(ev.where(col("ts") < cut),
        "user_id", "ts", "event_type", tieCols = Seq("event_id"))
      val merged = Cdc.scd2Merge(base,
        ev.where(col("ts") >= cut),
        "user_id", "ts", "event_type", tieCols = Seq("event_id"))
      merged.select(col("user_id"), col("version"), col("event_type"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("is_current"))
        .orderBy("user_id", "version")
    },
      // the incremental merge must equal the batch rebuild — same oracle
      Oracle(scd2HistoryOracle)),
    // profiling extension — column-pair dependence (functional-
    // dependency candidates score MI ≈ min entropy)
    "mutual_info" -> Query((s, dir) => Profile.mutualInfo(
      tbl(s, dir, "lineitem"), "l_returnflag", "l_linestatus"),
      Oracle("WITH j AS (SELECT CAST(l_returnflag AS VARCHAR) AS x, " +
        "CAST(l_linestatus AS VARCHAR) AS y, count(*) AS n " +
        "FROM lineitem WHERE l_returnflag IS NOT NULL " +
        "AND l_linestatus IS NOT NULL GROUP BY 1, 2), " +
        "t AS (SELECT n, CAST(n AS DOUBLE) / sum(n) OVER () AS pxy, " +
        "CAST(sum(n) OVER (PARTITION BY x) AS DOUBLE) / " +
        "sum(n) OVER () AS px, " +
        "CAST(sum(n) OVER (PARTITION BY y) AS DOUBLE) / " +
        "sum(n) OVER () AS py FROM j) " +
        "SELECT round(CAST(sum(CAST(round(pxy * ln(pxy / (px * py)), 9) " +
        "AS DECIMAL(20,9))) AS DOUBLE), 6) AS mi_nats, " +
        "round(CAST(sum(CAST(round(-pxy * ln(px), 9) " +
        "AS DECIMAL(20,9))) AS DOUBLE), 6) AS h_x, " +
        "round(CAST(sum(CAST(round(-pxy * ln(py), 9) " +
        "AS DECIMAL(20,9))) AS DOUBLE), 6) AS h_y, " +
        "count(*) AS n_joint FROM t")),
    // corpus health — Zipf slope of the token-frequency distribution
    "zipf_fit" -> Query((s, dir) => TextMetrics.zipfFit(
      tbl(s, dir, "documents"), "text", topN = 100),
      Oracle(zipfFitOracle)),
    // op 7 — ±5-day date shift (whiteRRabbit.R:283-291)
    "dateshift_bounds" -> Query((s, dir) => dateshiftQuery(s, dir),
      Oracle("SELECT count(*) AS n, CAST(-5 AS INT) AS min_shift, " +
        "CAST(5 AS INT) AS max_shift, CAST(11 AS BIGINT) AS n_shifts " +
        "FROM orders")),
    // ops 1-3 — delimited source, all-string read, fast row count
    "csv_roundtrip" -> Query((s, dir) => csvRoundtripQuery(s, dir),
      Oracle(csvRoundtripOracle)),
    // JSONL source roundtrip (LLM-corpus interchange format)
    "jsonl_roundtrip" -> Query((s, dir) => jsonlRoundtripQuery(s, dir),
      Oracle(jsonlRoundtripOracle)),
    // plain-text source roundtrip: one newline-flattened document per
    // line out through the text sink, back through spark.read.text;
    // the facts are order-free aggregates, so the nondeterministic
    // file/line order of a parallel write cannot affect the hash
    "text_roundtrip" -> Query((s, dir) => {
      val out = graft.config.Scratch.runDir + "/text_rt_" +
        java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      tbl(s, dir, "documents")
        .select(regexp_replace(col("text"), "\n", " ").as("value"))
        .write.mode("overwrite").text(out)
      s.read.text(out)
        .agg(count(lit(1)).as("n_lines"),
          sum(length(col("value"))).as("sum_chars"),
          countDistinct(md5(encode(col("value"), "UTF-8")))
            .as("n_distinct_md5"))
    },
      Oracle("SELECT count(*) AS n_lines, " +
        "CAST(sum(length(replace(text, chr(10), ' '))) AS BIGINT) " +
        "AS sum_chars, " +
        "count(DISTINCT md5(replace(text, chr(10), ' '))) " +
        "AS n_distinct_md5 FROM documents")),
    // ORC source roundtrip (Spark's other built-in columnar format)
    "orc_roundtrip" -> Query((s, dir) => orcRoundtripQuery(s, dir),
      Oracle(jsonlRoundtripOracle)), // same facts contract
    // hive-partitioned layout + partition-pruned scan
    "partition_prune" -> Query((s, dir) => partitionPruneQuery(s, dir),
      Oracle(partitionPruneOracle)),
    // ops 1+17+18 end-to-end — the CLI lifecycle: listFiles →
    // scanFolder → writeTsv + writeWorkbook, sheets read back from disk
    // (whiteRRabbit.R:450-534)
    "scan_report_e2e" -> Query((s, dir) =>
      ScanReportE2E.query(s, dir, name => tbl(s, dir, name)),
      Oracle(ScanReportE2E.oracle)),
    // ops 15-16 — overview assembly (whiteRRabbit.R:466-480)
    "overview" -> Query((s, dir) => overviewQuery(s, dir),
      Oracle(overviewOracle)),
    // relational/bench headliners: agg, broadcast join, window
    "tpch_q1" -> Query((s, dir) => tpchQ1(s, dir),
      Oracle(tpchQ1Oracle)),
    "tpch_q3" -> Query((s, dir) => tpchQ3(s, dir),
      Oracle(tpchQ3Oracle)),
    "tpch_q10" -> Query((s, dir) => tpchQ10(s, dir),
      Oracle(tpchQ10Oracle)),
    "tpch_q18" -> Query((s, dir) => tpchQ18(s, dir),
      Oracle(tpchQ18Oracle)),
    "tpch_q5" -> Query((s, dir) => tpchQ5(s, dir),
      Oracle(tpchQ5Oracle)),
    "tpch_q7" -> Query((s, dir) => tpchQ7(s, dir),
      Oracle(tpchQ7Oracle)),
    "tpch_q8" -> Query((s, dir) => tpchQ8(s, dir),
      Oracle(tpchQ8Oracle)),
    "tpch_q14" -> Query((s, dir) => tpchQ14(s, dir),
      Oracle(tpchQ14Oracle)),
    "tpch_q15" -> Query((s, dir) => tpchQ15(s, dir),
      Oracle(tpchQ15Oracle)),
    "tpch_q9" -> Query((s, dir) => tpchQ9(s, dir),
      Oracle(tpchQ9Oracle)),
    "tpch_q12" -> Query((s, dir) => tpchQ12(s, dir),
      Oracle(tpchQ12Oracle)),
    // Q12 through the bucketed layout: BOTH fact sides are pre-
    // bucketed on the orderkey at write time, so the fact-fact join —
    // r9's flagged per-query double shuffle — plans with ZERO
    // Exchange below it (pinned in PlanShapeSpec). The layout write
    // is paid once per dataset and reused across sessions via the
    // persisted spec + source fingerprint, exactly like
    // `bucketed_join`; at 100 TB this is the difference between
    // shuffling 100 TB per query and once per ingest. Bucket count
    // bounds the co-located join's parallelism (no exchange = no
    // repartition), so it is sized to the executor-core budget (32
    // here; thousands on a real cluster), not minimized.
    "tpch_q12_bucketed" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val base = graft.config.Scratch.runDir + s"/bucketed_q12_$tag"
      val liFp = BucketedTable.sourceFingerprint(s,
        s"$dir/lineitem.parquet")
      val ordFp = BucketedTable.sourceFingerprint(s,
        s"$dir/orders.parquet")
      if (!BucketedTable.registerVersioned(s, s"graft_b12_li_$tag",
          s"$base/lineitem", liFp))
        BucketedTable.writeVersioned(tbl(s, dir, "lineitem")
            .select("l_orderkey", "l_linestatus", "l_shipdate"),
          s"graft_b12_li_$tag", s"$base/lineitem", "l_orderkey", 32,
          liFp)
      if (!BucketedTable.registerVersioned(s, s"graft_b12_ord_$tag",
          s"$base/orders", ordFp))
        BucketedTable.writeVersioned(tbl(s, dir, "orders")
            .select("o_orderkey", "o_orderpriority"),
          s"graft_b12_ord_$tag", s"$base/orders", "o_orderkey", 32,
          ordFp)
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      s.table(s"graft_b12_li_$tag")
        .where(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1997-01-01")
        .select("l_orderkey", "l_linestatus")
        .join(s.table(s"graft_b12_ord_$tag"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_cnt"),
          sum(when(high, 0L).otherwise(1L)).as("low_cnt"))
        .orderBy("l_linestatus")
    },
      // the bucketed twin must answer exactly what the shuffled join does
      Oracle(tpchQ12Oracle)),
    "tpch_q13" -> Query((s, dir) => tpchQ13(s, dir),
      Oracle(tpchQ13Oracle)),
    "tpch_q17" -> Query((s, dir) => tpchQ17(s, dir),
      Oracle(tpchQ17Oracle)),
    "tpch_q19" -> Query((s, dir) => tpchQ19(s, dir),
      Oracle(tpchQ19Oracle)),
    "tpch_q21" -> Query((s, dir) => tpchQ21(s, dir),
      Oracle(tpchQ21Oracle)),
    "tpch_q22" -> Query((s, dir) => tpchQ22(s, dir),
      Oracle(tpchQ22Oracle)),
    // Q4 shape: date-windowed EXISTS semi-join + agg (adapted to this
    // schema's columns: flagged lineitems stand in for late deliveries)
    "tpch_q4" -> Query((s, dir) => {
      val o = tbl(s, dir, "orders")
        .where(col("o_orderdate") >= "1996-07-01" &&
          col("o_orderdate") < "1996-10-01")
      val l = tbl(s, dir, "lineitem")
        .where(col("l_returnflag") === "R").select("l_orderkey")
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
      Oracle("SELECT o_orderpriority, count(*) AS order_count FROM orders " +
        "WHERE o_orderdate >= '1996-07-01' " +
        "AND o_orderdate < '1996-10-01' " +
        "AND EXISTS (SELECT 1 FROM lineitem " +
        "WHERE l_orderkey = o_orderkey AND l_returnflag = 'R') " +
        "GROUP BY 1 ORDER BY 1")),
    // Q6 shape: highly selective scan-local filter + single agg — the
    // pushdown/codegen benchmark head
    "tpch_q6" -> Query((s, dir) => tbl(s, dir, "lineitem")
      .where(col("l_shipdate") >= "1996-01-01" &&
        col("l_shipdate") < "1997-01-01" &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(sum((col("l_extendedprice") * col("l_discount"))
        .cast("decimal(18,4)")).cast("double").as("revenue")),
      Oracle("SELECT CAST(sum(CAST(l_extendedprice * l_discount " +
        "AS DECIMAL(18,4))) AS DOUBLE) AS revenue FROM lineitem " +
        "WHERE l_shipdate >= '1996-01-01' " +
        "AND l_shipdate < '1997-01-01' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24")),
    // approx point-frequency via Spark's built-in count-min sketch
    // (the complement of Misra-Gries: MG answers "who is heavy", CMS
    // answers "how often is THIS key", O(w·d) memory, mergeable).
    // Contract: the heavy-hitter keys' exact counts plus the two CMS
    // guarantees as pinned flags — estimate never undercounts
    // (always true) and overshoots by at most ⌈eps·N⌉ (holds at
    // 1-confidence, deterministic for fixed data + seed). The sketch
    // estimate itself is hash-dependent, so the flags ARE the
    // oracle-checkable surface.
    "freq_cms" -> Query((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val row = li.agg(
        count_min_sketch(col("l_orderkey"), lit(0.001), lit(0.99),
          lit(42)).as("sk"),
        count(lit(1)).as("n")).first()
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](0)))
      val n = row.getLong(1)
      val slack = math.ceil(0.001 * n).toLong
      val top = li.groupBy("l_orderkey")
        .agg(count(lit(1)).as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("l_orderkey"))
        .limit(10).collect()
        .map { r =>
          val k = r.getLong(0); val t = r.getLong(1)
          val est = cms.estimateCount(k)
          (k, t, if (est >= t) 1 else 0,
            if (est <= t + slack) 1 else 0)
        }
      import s.implicits._
      top.toSeq.toDF("l_orderkey", "true_cnt", "lb_ok", "ub_ok")
    },
      Oracle("SELECT l_orderkey, count(*) AS true_cnt, 1 AS lb_ok, " +
        "1 AS ub_ok FROM lineitem GROUP BY 1 " +
        "ORDER BY true_cnt DESC, l_orderkey LIMIT 10")),
    // per-group heavy hitters: one Misra-Gries sketch per group in a
    // single aggregation (capacity 4096 >> the 31 distinct tokens per
    // source, so counts are exact and the oracle replays them)
    "group_topk" -> Query((s, dir) => Frequency.groupedApproxTopK(
      tbl(s, dir, "documents").select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("tok")),
      "source", "tok", k = 3)
      .orderBy("source", "rank"),
      Oracle(groupTopkOracle)),
    "rollup_revenue" -> Query((s, dir) => rollupRevenue(s, dir),
      Oracle(rollupRevenueOracle)),
    "cube_revenue" -> Query((s, dir) => cubeRevenue(s, dir),
      Oracle(cubeRevenueOracle)),
    "groupingsets_revenue" -> Query((s, dir) => groupingSetsRevenue(s, dir),
      Oracle(groupingSetsRevenueOracle)),
    "rolling_revenue" -> Query((s, dir) => rollingRevenue(s, dir),
      Oracle(rollingRevenueOracle)),
    // time-series decomposition: 7-day centered trend + day-of-week
    // seasonal + residual over the daily revenue series (date-
    // cardinality-bounded window; decimal-exact money)
    "seasonal_decompose" -> Query((s, dir) => seasonalDecompose(s, dir),
      Oracle(seasonalDecomposeOracle)),
    // time-series changepoint scan: peak |CUSUM| days of the daily
    // revenue series (level-shift boundaries)
    "changepoint_cusum" -> Query((s, dir) => changepointCusum(s, dir),
      Oracle(changepointCusumOracle)),
    // association mining: PMI between event types over shared users
    // (which behaviors co-occur beyond chance). Per-user distinct
    // type sets keep the pair join bounded by |types|² per user —
    // never event-volume quadratic; totals ride one broadcast row
    "event_pmi" -> Query((s, dir) => {
      val ut = tbl(s, dir, "events")
        .select(col("user_id"), col("event_type")).distinct()
      val perType = ut.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_t"))
      val totals = ut.agg(countDistinct(col("user_id")).as("n_users"))
      val a = ut.select(col("user_id"), col("event_type").as("type_a"))
      val b = ut.select(col("user_id"), col("event_type").as("type_b"))
      a.join(b, Seq("user_id")).where(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_ab"))
        .join(broadcast(perType
          .select(col("event_type").as("type_a"),
            col("n_t").as("n_a"))), Seq("type_a"))
        .join(broadcast(perType
          .select(col("event_type").as("type_b"),
            col("n_t").as("n_b"))), Seq("type_b"))
        .crossJoin(broadcast(totals))
        .select(col("type_a"), col("type_b"), col("n_ab"),
          // both products in DOUBLE: n_a*n_b as long*long would wrap
          // silently past ~3e9 distinct users per type (ANSI off) —
          // counts this size are exact in double (< 2^53) and the
          // oracle's HUGEINT product divides to the same double
          round(log(col("n_ab").cast("double") * col("n_users") /
            (col("n_a").cast("double") * col("n_b"))), 6).as("pmi"))
        .orderBy("type_a", "type_b")
    },
      Oracle("WITH ut AS (SELECT DISTINCT user_id, event_type FROM events), " +
        "pt AS (SELECT event_type, count(*) AS n_t FROM ut " +
        "GROUP BY 1), " +
        "tot AS (SELECT count(DISTINCT user_id) AS n_users FROM ut), " +
        "p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "count(*) AS n_ab FROM ut a JOIN ut b " +
        "ON a.user_id = b.user_id AND a.event_type < b.event_type " +
        "GROUP BY 1, 2) " +
        "SELECT type_a, type_b, n_ab, " +
        "round(ln(CAST(n_ab AS DOUBLE) * n_users / " +
        "(pa.n_t * pb.n_t)), 6) AS pmi " +
        "FROM p JOIN pt pa ON pa.event_type = p.type_a " +
        "JOIN pt pb ON pb.event_type = p.type_b CROSS JOIN tot " +
        "ORDER BY 1, 2")),
    // sequence mining: first-order Markov transition matrix over each
    // user's time-ordered event stream — which behavior follows
    // which, and with what probability. The lead() window is
    // partitioned per user (state bounded by one user's events, never
    // corpus-sized); transition counts map-side combine on a 5×5 key
    // domain and the per-source totals ride back as one broadcast
    "event_transitions" -> Query((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val pairs = tbl(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .where(col("next_type").isNotNull)
      val cnt = pairs
        .groupBy(col("event_type").as("src"),
          col("next_type").as("dst"))
        .agg(count(lit(1)).as("n"))
      cnt.join(broadcast(cnt.groupBy(col("src"))
          .agg(sum(col("n")).as("n_src"))), Seq("src"))
        .select(col("src"), col("dst"), col("n"),
          round(col("n").cast("double") /
            col("n_src").cast("double"), 6).as("p"))
        .orderBy("src", "dst")
    },
      Oracle("WITH seq AS (SELECT user_id, event_type, " +
        "lead(event_type) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) AS next_type FROM events), " +
        "c AS (SELECT event_type AS src, next_type AS dst, " +
        "count(*) AS n FROM seq WHERE next_type IS NOT NULL " +
        "GROUP BY 1, 2), " +
        "t AS (SELECT src, sum(n) AS n_src FROM c GROUP BY 1) " +
        "SELECT c.src, c.dst, c.n, round(CAST(c.n AS DOUBLE) / " +
        "CAST(n_src AS DOUBLE), 6) AS p " +
        "FROM c JOIN t ON c.src = t.src ORDER BY 1, 2")),
    "pivot_status" -> Query((s, dir) => pivotStatus(s, dir),
      Oracle(pivotStatusOracle)),
    "window_top_orders" -> Query((s, dir) => windowTopOrders(s, dir),
      Oracle(windowTopOrdersOracle)),
    // distributed global ranking (Ranking.globalRowNumber) driving a
    // decile cut over document quality — the scalable ntile
    "quality_deciles" -> Query((s, dir) => qualityDeciles(s, dir),
      Oracle(qualityDecilesOracle)),
    // bucketed-layout co-located join: both sides pre-bucketed on the
    // join key, so the join itself plans with zero Exchange (gated in
    // ScaleTechniquesSpec); the oracle replays the plain join. The
    // shuffle-at-write is paid ONCE per dataset: later sessions (each
    // driver run is a fresh JVM) find the persisted layout spec and
    // re-register the catalog entry instead of rewriting the data.
    "bucketed_join" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val base = graft.config.Scratch.runDir + s"/bucketed_vt_$tag"
      // the layout lives in a VersionedTable (re-bucketing commits a
      // new snapshot; a crashed rewrite never corrupts the serving
      // layout), and the reuse is keyed on the SOURCE fingerprint,
      // not just the dir name: a regenerated dataset under the same
      // dir fails the match and triggers a new version instead of
      // serving the stale layout
      val ordersFp = BucketedTable.sourceFingerprint(s,
        s"$dir/orders.parquet")
      val custFp = BucketedTable.sourceFingerprint(s,
        s"$dir/customer.parquet")
      if (!BucketedTable.registerVersioned(s, s"graft_b_orders_$tag",
          s"$base/orders", ordersFp))
        BucketedTable.writeVersioned(tbl(s, dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice"),
          s"graft_b_orders_$tag", s"$base/orders", "o_custkey", 8,
          ordersFp)
      if (!BucketedTable.registerVersioned(s, s"graft_b_customer_$tag",
          s"$base/customer", custFp))
        BucketedTable.writeVersioned(tbl(s, dir, "customer")
            .select("c_custkey", "c_mktsegment"),
          s"graft_b_customer_$tag", s"$base/customer", "c_custkey", 8,
          custFp)
      BucketedTable.colocatedJoin(s, s"graft_b_orders_$tag", "o_custkey",
          s"graft_b_customer_$tag", "c_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice"), 2).as("sum_price"))
        .orderBy("c_mktsegment")
    },
      Oracle("SELECT c_mktsegment, count(*) AS n_orders, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS sum_price FROM orders JOIN customer " +
        "ON o_custkey = c_custkey GROUP BY 1 ORDER BY c_mktsegment")),
    // exact two-sample KS drift between order-status slices: integral
    // max |cumA*nB - cumB*nA| via the distributed prefix sum
    "drift_ks" -> Query((s, dir) => Drift.ksStatistic(
      tbl(s, dir, "orders"), "o_totalprice", "o_orderstatus",
      "F", "O"),
      Oracle(driftKsOracle)),
    // binned PSI companion on the same slices (dashboard drift score;
    // O(numBins) state, decimal-exact term sum)
    "drift_psi" -> Query((s, dir) => Drift.psi(
      tbl(s, dir, "orders"), "o_totalprice", "o_orderstatus",
      "F", "O"),
      Oracle(driftPsiOracle)),
    // pairwise KS matrix across every source pair over the per-doc
    // token-count distribution (bounded discrete domain — the
    // operator's contract); dense-grid CDFs, domain-sized windows
    "drift_ks_matrix" -> Query((s, dir) => Drift.ksMatrix(
      tbl(s, dir, "documents")
        .select(col("source"),
          size(TextFunctions.tokens(col("text"))).cast("long")
            .as("n_tok")),
      "n_tok", "source"),
      Oracle(driftKsMatrixOracle)),
    // exact equi-depth histogram without a global sort: distinct-value
    // counts → distributed prefix sum → integral DIV bucket cut
    "hist_equidepth" -> Query((s, dir) => Profile.equiDepthHistogram(
      tbl(s, dir, "orders"), "o_totalprice", numBuckets = 10),
      Oracle(histEquidepthOracle)),
    // near-subset detection: containment |A∩B|/min(|A|,|B|) — the
    // asymmetric twin of the Jaccard pass (quotation/expansion dups)
    "dedup_containment" -> Query((s, dir) => Dedup.containmentPairs(
      tbl(s, dir, "documents"), "doc_id", "text", "source",
      threshold = 0.9),
      Oracle(dedupContainmentOracle)),
    // per-doc n-gram novelty (memorization/diversity signal): share
    // of a doc's distinct trigrams appearing in no other document
    "text_novelty" -> Query((s, dir) => TextMetrics.ngramNovelty(
      tbl(s, dir, "documents"), "doc_id", "text", n = 3)
      .orderBy("id"),
      Oracle(textNoveltyOracle)),
    // decimal-exact Pearson correlation matrix over the lineitem
    // money/quantity columns (single-pass exact sums, double finish)
    "corr_matrix" -> Query((s, dir) => Profile.corrMatrix(
      tbl(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      Oracle(corrMatrixOracle)),
    // semi/anti joins: per-nation counts of customers with and without
    // orders — both plan as broadcast hash joins with the dimension
    // side reused, no row duplication from the fact side
    "join_semi_anti" -> Query((s, dir) => {
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"))
      val withO = c.join(o, Seq("c_custkey"), "left_semi")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n_with_orders"))
      val withoutO = c.join(o, Seq("c_custkey"), "left_anti")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n_without_orders"))
      withO.join(withoutO, Seq("c_nationkey"), "full_outer")
        .select(col("c_nationkey"),
          coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
          coalesce(col("n_without_orders"), lit(0L))
            .as("n_without_orders"))
        .orderBy("c_nationkey")
    },
      Oracle("SELECT c_nationkey, " +
        "CAST(count(*) FILTER (WHERE EXISTS (SELECT 1 FROM orders o " +
        "WHERE o.o_custkey = c.c_custkey)) AS BIGINT) AS n_with_orders, " +
        "CAST(count(*) FILTER (WHERE NOT EXISTS (SELECT 1 FROM orders o " +
        "WHERE o.o_custkey = c.c_custkey)) AS BIGINT) " +
        "AS n_without_orders FROM customer c GROUP BY 1 ORDER BY 1")),
    // op 8 — column exclusion through the full Scan path (nFields
    // counted before exclusion, summaries after; whiteRRabbit.R:293-304)
    "summary_customer_excluded" -> Query((s, dir) => roundSummary(
      Scan.scanTable(s, tbl(s, dir, "customer"), "customer", 0L,
        graft.config.ScanConfig(maxRows = -1L,
          excludeCols = Seq("c_name"))).summary),
      Oracle(summaryOracle("customer", exclude = Set("c_name")))),
    // LLM pipeline — text analysis
    "text_stats" -> Query((s, dir) => textStatsQuery(s, dir),
      Oracle(textStatsOracle)),
    "text_quality" -> Query((s, dir) => textQualityQuery(s, dir),
      Oracle(textQualityOracle)),
    "lang_detect" -> Query((s, dir) => langDetectQuery(s, dir),
      Oracle(langDetectOracle)),
    // curation report — language × source mix (which slices carry
    // which languages)
    "lang_mix" -> Query((s, dir) => tbl(s, dir, "documents")
      .select(col("source"),
        TextFunctions.langId(col("text")).as("detected_lang"))
      .groupBy("source", "detected_lang").agg(count(lit(1)).as("n"))
      .orderBy("source", "detected_lang"),
      Oracle(langMixOracle)),
    // tokenizer prep — the statistic the first BPE merge maximizes
    "bpe_pairs" -> Query((s, dir) => TextMetrics.bpePairCounts(
      tbl(s, dir, "documents"), "text", k = 10),
      Oracle("WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS t " +
        "FROM documents), " +
        "p AS (SELECT substr(t, CAST(i AS INT), 2) AS pair FROM " +
        "(SELECT t, unnest(generate_series(1, length(t) - 1)) AS i " +
        "FROM t WHERE length(t) >= 2)) " +
        "SELECT pair, count(*) AS cnt FROM p GROUP BY 1 " +
        "ORDER BY cnt DESC, pair LIMIT 10")),
    // greedy longest-match BPE encode of the corpus against the
    // broadcast fixture vocabulary (native codegen expression with
    // the single-char fallback rule), token ids assigned by a
    // broadcast vocab join; the (cnt DESC, piece) total order makes
    // the top-30 cut engine-portable
    "bpe_encode" -> Query((s, dir) => {
      val enc = tbl(s, dir, "documents")
        .select(explode(BpeExpressions.bpeEncodePieces(
          lower(col("text")), bpeFixturePieces)).as("piece"))
        .groupBy(col("piece")).agg(count(lit(1)).as("cnt"))
      val vocab = s.createDataFrame(
        bpeFixturePieces.zipWithIndex.map { case (p, i) => (i, p) })
        .toDF("token_id", "piece")
      enc.join(broadcast(vocab), Seq("piece"), "left")
        .select(coalesce(col("token_id"), lit(-1)).as("token_id"),
          col("piece"), col("cnt"))
        .orderBy(col("cnt").desc, col("piece")).limit(30)
    },
      Oracle(bpeEncodeOracle)),
    // tokenizer ROUND-TRIP: train merges on the corpus, persist the
    // merges table (the artifact a packing pipeline ships), reload
    // it, encode with SentencePiece-style word markers, decode back —
    // decode(encode(x)) must equal the whitespace-normalized text for
    // EVERY doc. ok / n_words / n_chars are vocab-independent, so the
    // oracle stays exact while the query exercises the whole
    // train→persist→load→encode→decode path.
    "bpe_roundtrip" -> Query((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val path = graft.config.Scratch.runDir + s"/bpe_merges_$tag"
      TextMetrics.saveMerges(s,
        TextMetrics.trainBpeMerges(docs, "text", numMerges = 60), path)
      val pieces = TextMetrics.loadMergePieces(s, path)
      val normalized = array_join(
        filter(split(lower(col("text")), " "), w => length(w) > 0), " ")
      docs.select(col("doc_id"),
          BpeExpressions.bpeEncodePieces(lower(col("text")), pieces,
            markWords = true).as("p"),
          normalized.as("norm"))
        .select(col("doc_id"),
          (BpeExpressions.bpeDecodePieces(col("p")) <=> col("norm"))
            .cast("int").as("ok"),
          size(filter(col("p"), x =>
            x.substr(lit(1), lit(1)) === lit(graft.functions.WordMark.value)))
            .as("n_words"),
          length(col("norm")).as("n_chars"))
        .orderBy("doc_id")
    },
      // the roundtrip contract: every doc decodes back to its
      // whitespace-normalized text (ok pinned 1), the marker count is
      // the nonempty-word count, the decoded length is the normalized
      // length — all vocab-independent, so the trained vocabulary never
      // enters the oracle
      Oracle("WITH w AS (SELECT doc_id, list_filter(" +
        "string_split(lower(text), ' '), w -> length(w) > 0) AS ws " +
        "FROM documents) " +
        "SELECT doc_id, 1 AS ok, CAST(len(ws) AS INT) AS n_words, " +
        "CAST(length(array_to_string(ws, ' ')) AS INT) AS n_chars " +
        "FROM w ORDER BY doc_id")),
    // data-quality classic — first-significant-digit profile vs the
    // Benford expectation (digit via exact integer stringification,
    // never float log10)
    "benford_totalprice" -> Query((s, dir) => {
      val d = substring(floor(col("o_totalprice")).cast("long")
        .cast("string"), 1, 1)
      val n = tbl(s, dir, "orders").where(col("o_totalprice") >= 1.0)
        .groupBy(d.as("digit")).agg(count(lit(1)).as("n"))
      val all = Window.partitionBy(lit(1))
      n.withColumn("pct",
          round(col("n").cast("double") / sum(col("n")).over(all), 6))
        .withColumn("benford_pct",
          round(log(10.0, lit(1.0) + lit(1.0) /
            col("digit").cast("double")), 6))
        .orderBy("digit")
    },
      Oracle("WITH n AS (SELECT substr(CAST(CAST(floor(o_totalprice) " +
        "AS BIGINT) AS VARCHAR), 1, 1) AS digit, count(*) AS n " +
        "FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1) " +
        "SELECT digit, n, " +
        "round(CAST(n AS DOUBLE) / sum(n) OVER (), 6) AS pct, " +
        "round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) " +
        "AS benford_pct FROM n ORDER BY digit")),
    // tokenizer-prep report: per-source coverage of the global
    // top-500 token vocabulary
    "vocab_coverage" -> Query((s, dir) => TextMetrics.vocabCoverage(
      tbl(s, dir, "documents"), "text", "source", vocabSize = 500),
      Oracle(vocabCoverageOracle)),
    // CCNet-style perplexity proxy: per-doc mean unigram logprob
    // under the corpus's own unigram distribution
    "unigram_logprob" -> Query((s, dir) => TextMetrics.unigramLogprob(
      tbl(s, dir, "documents"), "doc_id", "text")
      .withColumnRenamed("id", "doc_id").orderBy("doc_id"),
      Oracle(unigramLogprobOracle)),
    // the bigram layer of the perplexity filter: interpolated-backoff
    // bigram LM score per doc (catches wrong-order/boilerplate text
    // that a unigram model scores fluently)
    "bigram_logprob" -> Query((s, dir) => TextMetrics.bigramLogprob(
      tbl(s, dir, "documents"), "doc_id", "text")
      .withColumnRenamed("id", "doc_id").orderBy("doc_id"),
      // bigram replay: DuckDB's parallel unnests zip the shifted token
      // slices into adjacent pairs; the probability mix, per-pair
      // round-9 log, DECIMAL(20,9) sum, and round-6 mean repeat the
      // engine's fixed-order expression exactly
      Oracle("WITH tok AS (SELECT doc_id, " +
        "unnest(string_split(lower(text), ' ')) AS t FROM documents), " +
        "u AS (SELECT t, count(*) AS cu FROM tok GROUP BY t), " +
        "tot AS (SELECT count(*) AS n FROM tok), " +
        "tk AS (SELECT doc_id, string_split(lower(text), ' ') AS ts " +
        "FROM documents WHERE len(string_split(lower(text), ' ')) >= 2), " +
        "bi AS (SELECT doc_id, unnest(ts[1:len(ts)-1]) AS w1, " +
        "unnest(ts[2:len(ts)]) AS w2 FROM tk), " +
        "b AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "round(CAST(sum(CAST(round(ln(" +
        "0.75 * (CAST(cb AS DOUBLE) / c1) + " +
        "0.25 * (CAST(cu AS DOUBLE) / n)), 9) AS DECIMAL(20,9))) " +
        "AS DOUBLE) / count(*), 6) AS avg_logprob " +
        "FROM bi JOIN b USING (w1, w2) " +
        "JOIN (SELECT t AS w1, cu AS c1 FROM u) USING (w1) " +
        "JOIN (SELECT t AS w2, cu FROM u) USING (w2) " +
        "CROSS JOIN tot " +
        "GROUP BY doc_id ORDER BY doc_id")),
    // LLM pipeline — dedup family
    "dedup_exact" -> Query((s, dir) => Dedup.exactByContent(
      tbl(s, dir, "documents"), "doc_id", "text").orderBy("doc_id"),
      Oracle(dedupExactOracle)),
    "dedup_minhash" -> Query((s, dir) => Dedup.minhashPairs(
      tbl(s, dir, "documents"), "doc_id", "text", threshold = 0.7),
      Oracle(dedupMinhashOracle)),
    // curation report over the same pair set: which source pairs
    // mirror each other (off-diagonal = scrape overlap)
    "corpus_overlap" -> Query((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.crossSourceOverlap(
        Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.7),
        docs, "doc_id", "source")
    },
      Oracle(corpusOverlapOracle)),
    "dedup_jaccard_block" -> Query((s, dir) => Dedup.blockedJaccardPairs(
      tbl(s, dir, "documents"), "doc_id", "text", "source",
      threshold = 0.9, shingleSize = 1),
      Oracle(dedupJaccardBlockOracle)),
    // incremental NEAR-dup admission: the every-5th-doc "batch" gated
    // against the rest as the seen corpus; candidates come from
    // new-bucket × seen-bucket equi-joins only (seen×seen never
    // pairs), verified by exact Jaccard — the oracle replays the
    // cross-boundary pairs exhaustively
    "dedup_incremental_near" -> Query((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.incrementalNearNew(
        docs.where(col("doc_id") % 5 === 0),
        docs.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", threshold = 0.7)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
      Oracle(s"WITH $shingleCte, " +
        "p AS (SELECT a.doc_id AS id_a FROM s a JOIN s b " +
        "ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0 AND " +
        "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
        "len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.7) " +
        "SELECT doc_id, source FROM documents WHERE doc_id % 5 = 0 " +
        "AND doc_id NOT IN (SELECT id_a FROM p) ORDER BY doc_id")),
    // replayableHash: LCG token hash so the DuckDB oracle replays the
    // signature bit-for-bit; the production xxh64 variant is pinned by
    // the pigeonhole-completeness spec in DedupSimilaritySpec
    "dedup_simhash" -> Query((s, dir) => Dedup.simhashPairs(
      tbl(s, dir, "documents"), "doc_id", "text", maxHamming = 3,
      replayableHash = true),
      Oracle(dedupSimhashOracle)),
    // pairs → per-document canonical representative (hash-to-min
    // connected components; doc_id == cluster_rep marks the survivor)
    "dedup_clusters" -> Query((s, dir) => Dedup.duplicateClusters(
      // sorted=false: the trailing global pair sort is dead work ahead
      // of the min-label aggregation (optimization r18, guide §2.4)
      Dedup.blockedJaccardPairs(tbl(s, dir, "documents"), "doc_id",
        "text", "source", threshold = 0.9, shingleSize = 1,
        sorted = false)),
      Oracle(dedupClustersOracle)),
    // the full dedup story in one report: pairs → clusters →
    // non-representative docs removed → per-source volume saved
    "dedup_savings" -> Query((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val removed = Dedup.duplicateClusters(
        // sorted=false: pairs feed the min-label aggregation and a
        // left join — order-free (optimization r18, guide §2.4)
        Dedup.blockedJaccardPairs(docs, "doc_id", "text", "source",
          threshold = 0.9, shingleSize = 1, sorted = false))
        .where(col("doc_id") =!= col("cluster_rep"))
        .select(col("doc_id"), lit(1).as("__rm"))
      docs.join(removed, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__rm").isNotNull, 1L).otherwise(0L))
            .as("n_removed"),
          sum(when(col("__rm").isNotNull, length(col("text"))
            .cast("long")).otherwise(0L)).as("chars_removed"))
        .orderBy("source")
    },
      Oracle(dedupSavingsOracle)),
    // exact dedup, keep-best policy: the highest-quality copy of each
    // content group survives (ties to the smallest id)
    "dedup_keep_best" -> Query((s, dir) => {
      val d = tbl(s, dir, "documents").withColumn("q",
        round(TextFunctions.qualityScore(col("text")), 6))
      Dedup.exactByContentKeepBest(d, "doc_id", "text", "q")
        .select(col("doc_id"), col("q"))
        .orderBy("doc_id")
    },
      Oracle(dedupKeepBestOracle)),
    // LLM pipeline — composition: quality filter → exact dedup →
    // per-source survivor counts, the canonical corpus-cleaning chain
    // (rounding the score before the threshold keeps the filter
    // decision engine-portable)
    "pipeline_clean" -> Query((s, dir) => {
      val d = tbl(s, dir, "documents")
      val kept = d.where(
        round(TextFunctions.qualityScore(col("text")), 6) >= 0.5)
      Dedup.exactByContent(kept, "doc_id", "text")
        .join(d.select("doc_id", "source"), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          (sum(col("n_copies")) - count(lit(1))).as("n_redundant"))
        .orderBy("source")
    },
      Oracle(pipelineCleanOracle)),
    // LLM pipeline — sub-document dedup: remove token chunks already
    // seen earlier in the corpus (C4-style boilerplate removal) and
    // reassemble the survivors
    "dedup_chunks" -> Query((s, dir) => Dedup.chunkDedup(
      tbl(s, dir, "documents"), "doc_id", "text", chunkSize = 10)
      .orderBy("doc_id"),
      Oracle(
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok, " +
        "generate_subscripts(string_split(text, ' '), 1) AS pos " +
        "FROM documents), " +
        "chunks AS (SELECT doc_id, (pos - 1) // 10 AS chunk_idx, " +
        "string_agg(tok, ' ' ORDER BY pos) AS chunk " +
        "FROM tok GROUP BY doc_id, (pos - 1) // 10), " +
        "ranked AS (SELECT doc_id, chunk_idx, chunk, " +
        "row_number() OVER (PARTITION BY chunk " +
        "ORDER BY doc_id, chunk_idx) AS rn FROM chunks), " +
        "per AS (SELECT doc_id, count(*) AS n_chunks FROM chunks " +
        "GROUP BY doc_id), " +
        "keptagg AS (SELECT doc_id, count(*) AS n_kept, " +
        "string_agg(chunk, ' ' ORDER BY chunk_idx) AS text_clean " +
        "FROM ranked WHERE rn = 1 GROUP BY doc_id) " +
        "SELECT p.doc_id, p.n_chunks, " +
        "CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept, " +
        "coalesce(k.text_clean, '') AS text_clean " +
        "FROM per p LEFT JOIN keptagg k USING (doc_id) " +
        "ORDER BY p.doc_id")),
    // substring-level exact dedup (Lee et al.: repeated >=k-token
    // spans across the corpus, sliding windows so chunk-boundary
    // straddlers are caught): maximal duplicated-span removal
    // candidates per doc, first corpus-order occurrence unspanned
    "dedup_substring" -> Query((s, dir) => Dedup.substringDedup(
      tbl(s, dir, "documents"), "doc_id", "text", k = 10)
      .orderBy("doc_id", "span_start"),
      // sliding k-token windows; a window whose content appeared
      // earlier in (doc_id, pos) order is a duplicate candidate;
      // overlapping/adjacent candidates merge into maximal spans
      // (gaps-and-islands). The oracle keys windows by CONTENT, so a
      // 64-bit hash collision on the Spark side would fail this gate.
      Oracle("WITH d AS (SELECT doc_id, string_split(text, ' ') AS t " +
        "FROM documents), " +
        "w0 AS (SELECT doc_id, t, unnest(range(1, len(t) - 10 + 2)) " +
        "AS wp FROM d WHERE len(t) >= 10), " +
        "wins AS (SELECT doc_id, wp - 1 AS pos, " +
        "array_to_string(t[wp:wp+9], ' ') AS w FROM w0), " +
        "dup AS (SELECT doc_id, pos FROM (SELECT doc_id, pos, " +
        "row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) " +
        "AS rn FROM wins) WHERE rn > 1), " +
        "isl AS (SELECT doc_id, pos, CASE WHEN pos > " +
        "coalesce(max(pos + 9) OVER (PARTITION BY doc_id " +
        "ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "1 PRECEDING), -2) + 1 THEN 1 ELSE 0 END AS brk FROM dup), " +
        "grp AS (SELECT doc_id, pos, sum(brk) OVER " +
        "(PARTITION BY doc_id ORDER BY pos) AS g FROM isl) " +
        "SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start, " +
        "CAST(max(pos) + 9 AS BIGINT) AS span_end " +
        "FROM grp GROUP BY doc_id, g ORDER BY doc_id, span_start")),
    // the corpus edit those candidates imply: covered tokens dropped,
    // survivors rejoin in order — rows stable, span-free docs pass
    // through with n_removed = 0
    "dedup_substring_apply" -> Query((s, dir) => Dedup.substringDedupApply(
      tbl(s, dir, "documents"), "doc_id", "text", k = 10)
      .orderBy("doc_id"),
      // same span derivation, then the edit: tokens covered by a span
      // drop, survivors re-join in order; every doc keeps its row
      Oracle("WITH d AS (SELECT doc_id, string_split(text, ' ') AS t " +
        "FROM documents), " +
        "w0 AS (SELECT doc_id, t, unnest(range(1, len(t) - 10 + 2)) " +
        "AS wp FROM d WHERE len(t) >= 10), " +
        "wins AS (SELECT doc_id, wp - 1 AS pos, " +
        "array_to_string(t[wp:wp+9], ' ') AS w FROM w0), " +
        "dup AS (SELECT doc_id, pos FROM (SELECT doc_id, pos, " +
        "row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) " +
        "AS rn FROM wins) WHERE rn > 1), " +
        "isl AS (SELECT doc_id, pos, CASE WHEN pos > " +
        "coalesce(max(pos + 9) OVER (PARTITION BY doc_id " +
        "ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "1 PRECEDING), -2) + 1 THEN 1 ELSE 0 END AS brk FROM dup), " +
        "grp AS (SELECT doc_id, pos, sum(brk) OVER " +
        "(PARTITION BY doc_id ORDER BY pos) AS g FROM isl), " +
        "spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 9 AS e " +
        "FROM grp GROUP BY doc_id, g), " +
        "tok AS (SELECT doc_id, unnest(t) AS tok, " +
        "generate_subscripts(t, 1) - 1 AS pos FROM d), " +
        "kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t " +
        "WHERE NOT EXISTS (SELECT 1 FROM spans s " +
        "WHERE s.doc_id = t.doc_id AND t.pos BETWEEN s.s AND s.e)), " +
        "per AS (SELECT doc_id, count(*) AS n_tokens FROM tok " +
        "GROUP BY doc_id), " +
        "ka AS (SELECT doc_id, count(*) AS n_kept, " +
        "string_agg(tok, ' ' ORDER BY pos) AS text_clean FROM kept " +
        "GROUP BY doc_id) " +
        "SELECT p.doc_id, CAST(p.n_tokens AS BIGINT) AS n_tokens, " +
        "CAST(p.n_tokens - coalesce(k.n_kept, 0) AS BIGINT) " +
        "AS n_removed, coalesce(k.text_clean, '') AS text_clean " +
        "FROM per p LEFT JOIN ka k USING (doc_id) ORDER BY p.doc_id")),
    // within-doc repetition removal (looping-generation artifacts):
    // later repeats of a chunk inside the SAME doc are dropped, other
    // docs never influence the verdict; chunkSize=3 so the synthetic
    // corpus actually exhibits intra-doc repeats
    "dedup_intradoc" -> Query((s, dir) => Dedup.intraDocChunkDedup(
      tbl(s, dir, "documents"), "doc_id", "text", chunkSize = 3)
      .orderBy("doc_id"),
      // keep-first WITHIN each doc: the dedup_chunks replay with the
      // doc id added to the ranking partition (chunk size 3)
      Oracle(
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok, " +
        "generate_subscripts(string_split(text, ' '), 1) AS pos " +
        "FROM documents), " +
        "chunks AS (SELECT doc_id, (pos - 1) // 3 AS chunk_idx, " +
        "string_agg(tok, ' ' ORDER BY pos) AS chunk " +
        "FROM tok GROUP BY doc_id, (pos - 1) // 3), " +
        "ranked AS (SELECT doc_id, chunk_idx, chunk, " +
        "row_number() OVER (PARTITION BY doc_id, chunk " +
        "ORDER BY chunk_idx) AS rn FROM chunks), " +
        "per AS (SELECT doc_id, count(*) AS n_chunks FROM chunks " +
        "GROUP BY doc_id), " +
        "keptagg AS (SELECT doc_id, count(*) AS n_kept, " +
        "string_agg(chunk, ' ' ORDER BY chunk_idx) AS text_clean " +
        "FROM ranked WHERE rn = 1 GROUP BY doc_id) " +
        "SELECT p.doc_id, p.n_chunks, " +
        "CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept, " +
        "coalesce(k.text_clean, '') AS text_clean " +
        "FROM per p LEFT JOIN keptagg k USING (doc_id) " +
        "ORDER BY p.doc_id")),
    // CCNet-style boilerplate removal: chunks appearing in MORE than
    // maxDocs distinct documents are dropped from every document
    // (frequency thresholding), survivors reassembled in order
    "dedup_boilerplate" -> Query((s, dir) => Dedup.boilerplateChunkFilter(
      tbl(s, dir, "documents"), "doc_id", "text", chunkSize = 10,
      maxDocs = 2)
      .orderBy("doc_id"),
      // frequency thresholding instead of keep-first: a chunk in MORE
      // than 2 distinct docs is boilerplate and survives in none
      Oracle(
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok, " +
        "generate_subscripts(string_split(text, ' '), 1) AS pos " +
        "FROM documents), " +
        "chunks AS (SELECT doc_id, (pos - 1) // 10 AS chunk_idx, " +
        "string_agg(tok, ' ' ORDER BY pos) AS chunk " +
        "FROM tok GROUP BY doc_id, (pos - 1) // 10), " +
        "freq AS (SELECT chunk, count(DISTINCT doc_id) AS n_docs " +
        "FROM chunks GROUP BY chunk), " +
        "per AS (SELECT doc_id, count(*) AS n_chunks FROM chunks " +
        "GROUP BY doc_id), " +
        "keptagg AS (SELECT c.doc_id, count(*) AS n_kept, " +
        "string_agg(c.chunk, ' ' ORDER BY c.chunk_idx) AS text_clean " +
        "FROM chunks c JOIN freq f USING (chunk) " +
        "WHERE f.n_docs <= 2 GROUP BY c.doc_id) " +
        "SELECT p.doc_id, p.n_chunks, " +
        "CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept, " +
        "coalesce(k.text_clean, '') AS text_clean " +
        "FROM per p LEFT JOIN keptagg k USING (doc_id) " +
        "ORDER BY p.doc_id")),
    // SoftDeDup-style reweighting: duplicates are kept but weighted
    // 1/multiplicity, so one weighted epoch sees each distinct
    // content once in expectation; sum(weight) = effective corpus size
    "dedup_soft_weights" -> Query((s, dir) => Dedup.softDedupWeights(
      tbl(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id"),
      Oracle("SELECT doc_id, count(*) OVER (PARTITION BY text) AS n_copies, " +
        "round(CAST(1 AS DOUBLE) / " +
        "count(*) OVER (PARTITION BY text), 6) AS weight " +
        "FROM documents ORDER BY doc_id")),
    // DSIR importance resampling: score the non-English pool by how
    // English-like its bigram profile is (lang='en' as the target
    // distribution), top-100 by log importance weight — ranks
    // assigned AFTER the limit so the window is 100 rows, not corpus
    "dsir_select" -> Query((s, dir) => {
      val top = TextMetrics.dsirWeights(tbl(s, dir, "documents"),
          "doc_id", "text", col("lang") === "en")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("logw").desc, col("doc_id")).limit(100)
      top.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("logw").desc, col("doc_id"))))
        .select(col("rank"), col("doc_id"), col("n_bigrams"), col("logw"))
        .orderBy("rank")
    },
      // DSIR log importance ratio replayed bigram-for-bigram: Laplace-
      // smoothed target/raw bigram models, shared vocabulary V, decimal
      // occurrence-count multiply (the bigram_logprob convention)
      Oracle("WITH tk AS (SELECT doc_id, lang, " +
        "string_split(lower(text), ' ') AS ts FROM documents " +
        "WHERE len(string_split(lower(text), ' ')) >= 2), " +
        "bi AS (SELECT doc_id, lang = 'en' AS tgt, " +
        "unnest(ts[1:len(ts)-1]) AS w1, " +
        "unnest(ts[2:len(ts)]) AS w2 FROM tk), " +
        "t AS (SELECT w1, w2, count(*) AS ct FROM bi WHERE tgt " +
        "GROUP BY 1, 2), " +
        "r AS (SELECT w1, w2, count(*) AS cr FROM bi WHERE NOT tgt " +
        "GROUP BY 1, 2), " +
        "sc AS (SELECT sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS nt, " +
        "sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS nr, " +
        "(SELECT count(*) FROM (SELECT DISTINCT w1, w2 FROM bi)) AS v " +
        "FROM bi), " +
        "d AS (SELECT doc_id, w1, w2, count(*) AS k FROM bi " +
        "WHERE NOT tgt GROUP BY 1, 2, 3), " +
        "s AS (SELECT d.doc_id, d.k, round(" +
        "ln((CAST(coalesce(t.ct, 0) AS DOUBLE) + 1.0) / " +
        "CAST(sc.nt + sc.v AS DOUBLE)) - " +
        "ln((CAST(r.cr AS DOUBLE) + 1.0) / " +
        "CAST(sc.nr + sc.v AS DOUBLE)), 9) AS lr " +
        "FROM d JOIN r USING (w1, w2) LEFT JOIN t USING (w1, w2), sc), " +
        "w AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams, " +
        "round(CAST(sum(CAST(k AS DECIMAL(10,0)) * " +
        "CAST(lr AS DECIMAL(20,9))) AS DOUBLE), 6) AS logw " +
        "FROM s GROUP BY doc_id), " +
        "top AS (SELECT doc_id, n_bigrams, logw, row_number() OVER " +
        "(ORDER BY logw DESC, doc_id) AS rank FROM w) " +
        "SELECT CAST(rank AS INT) AS rank, doc_id, n_bigrams, logw " +
        "FROM top WHERE rank <= 100 ORDER BY rank")),
    // LLM pipeline — salient terms: top-3 tf-idf keywords per document
    // (integer-ordered ranking, annotated float score)
    "keywords_tfidf" -> Query((s, dir) => TextMetrics.tfidfKeywords(
      tbl(s, dir, "documents"), "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("tf").desc, col("df"), col("term")),
      Oracle(
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term " +
        "FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok " +
        "GROUP BY doc_id, term), " +
        "dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
        "n AS (SELECT count(*) AS n FROM documents) " +
        "SELECT doc_id, term, tf, df, " +
        "round(tf * ln(CAST(n.n AS DOUBLE) / df), 6) AS tfidf " +
        "FROM (SELECT t.doc_id, t.term, t.tf, d.df, " +
        "row_number() OVER (PARTITION BY t.doc_id " +
        "ORDER BY t.tf DESC, d.df ASC, t.term ASC) AS rn " +
        "FROM tf t JOIN dfq d USING (term)) s, n " +
        "WHERE rn <= 3 ORDER BY doc_id, tf DESC, df, term")),
    // LLM pipeline — batching/packing surfaces: power-of-2 sequence-
    // length histogram, concat-and-chunk shard manifest (2048-token
    // budget), and the reproducible hash split
    "doc_length_hist" -> Query((s, dir) => TextMetrics.lengthHistogram(
      tbl(s, dir, "documents"), "text")
      .select(col("bucket").cast("int").as("bucket"), col("lo_tokens"),
        col("n_docs"), col("sum_tokens").cast("long").as("sum_tokens")),
      Oracle(docLengthHistOracle)),
    "pack_sequences" -> Query((s, dir) => TextMetrics.packSequences(
      tbl(s, dir, "documents"), "doc_id", "text", "source",
      budget = 2048L),
      Oracle(packSequencesOracle)),
    "data_split" -> Query((s, dir) => Sampling.assignSplits(
      tbl(s, dir, "documents"), "doc_id", dataSplits)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("split"),
      Oracle(dataSplitOracle)),
    // leakage-safe split: the split is assigned on the duplicate-
    // CLUSTER representative, not the doc, so near-duplicate docs can
    // never straddle train/test (the classic eval-contamination bug);
    // cross_split_pairs is the violation count, oracle-pinned at 0
    "split_leakage_safe" -> Query((s, dir) => {
      val docs = tbl(s, dir, "documents")
      // materialize the LSH pair pipeline ONCE (optimization r18,
      // guide §1.2): `pairs` feeds BOTH duplicateClusters (which
      // materializes its own projection of it) and the cross-split
      // violation join below — unmaterialized, the whole
      // shingle/banding/verify pipeline executed twice per query.
      // sorted=false additionally drops the global pair sort both
      // consumers ignore (guide §2.4).
      val pairs = Dedup.blockedJaccardPairs(docs, "doc_id", "text",
        "source", threshold = 0.9, shingleSize = 1, sorted = false)
        .localCheckpoint(true)
      val clusters = Dedup.duplicateClusters(pairs)
      val rep = docs.select("doc_id")
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_rep"), col("doc_id")).as("rep"))
      val assigned = Sampling.assignSplits(rep, "rep", dataSplits)
      val viol = pairs
        .join(assigned.select(col("doc_id").as("id_a"),
          col("split").as("sp_a")), "id_a")
        .join(assigned.select(col("doc_id").as("id_b"),
          col("split").as("sp_b")), "id_b")
        .where(col("sp_a") =!= col("sp_b"))
        .agg(count(lit(1)).as("cross_split_pairs"))
      // per-split rollup = |dataSplits| rows; released via
      // collectReleased so the pairs checkpoint blocks don't linger
      collectReleased(
        assigned.groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("rep")).as("n_clusters"))
          .crossJoin(broadcast(viol))
          .orderBy("split"),
        pairs)
    },
      Oracle(splitLeakageSafeOracle)),
    // LLM pipeline — embedding similarity
    "embed_neardup" -> Query((s, dir) => Dedup.embeddingNearDup(
      tbl(s, dir, "embeddings"), "vec_id", "embedding", 0.45),
      Oracle(embedNearDupOracle)),
    // approximate twin of embed_neardup: precision 1.0 by construction
    // (exact-cosine verification). The registered variant uses integer
    // LCG hyperplanes so the DuckDB oracle replays bucket assignment
    // exactly; the production xxh64 variant keeps its precision/recall
    // spec in DedupSimilaritySpec
    "embed_neardup_lsh" -> Query((s, dir) =>
      Similarity.lshNearDupPairsReplayable(
        tbl(s, dir, "embeddings"), "vec_id", "embedding", 0.45),
      Oracle(embedNearDupLshOracle)),
    // contrastive-training mining: per query the top-k corpus rows in
    // the [0.3, 0.8) cosine band — informative negatives below the
    // near-dup band (which would be false negatives)
    "hard_negatives" -> Query((s, dir) => Similarity.hardNegatives(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      numQueries = 10, k = 5, simLo = 0.3, simHi = 0.8),
      Oracle(s"WITH $vecCte, " +
        "q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnrm " +
        "FROM n WHERE vec_id < 10), " +
        "p AS (SELECT q.query_id, n.vec_id AS id, " +
        "round(list_sum(list_transform(generate_series(1, " +
        "len(q.qvec)), i -> q.qvec[i] * n.vec[i])) / " +
        "(q.qnrm * n.nrm), 6) AS sim " +
        "FROM q, n WHERE n.vec_id <> q.query_id), " +
        "f AS (SELECT * FROM p WHERE sim >= 0.3 AND sim < 0.8), " +
        "r AS (SELECT query_id, id, sim, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, id) AS rn FROM f) " +
        "SELECT query_id, CAST(rn AS INT) AS rn, id AS negative_id, " +
        "sim FROM r WHERE rn <= 5 ORDER BY query_id, rn")),
    // RAG chunking: 32-token sliding windows advancing by 24 (8-token
    // overlap); pure projection+explode, zero shuffle
    "chunk_documents" -> Query((s, dir) => operators.TextMetrics.chunkDocs(
      tbl(s, dir, "documents"), "doc_id", "text",
      chunkTokens = 32, overlap = 8),
      Oracle("WITH t AS (SELECT doc_id, string_split(lower(text), ' ') " +
        "AS tk FROM documents), " +
        "c AS (SELECT doc_id, tk, greatest(CAST(ceil(" +
        "CAST(len(tk) - 8 AS DOUBLE) / 24) AS INT), 1) AS nc FROM t), " +
        "e AS (SELECT doc_id, tk, unnest(range(0, nc)) AS ci FROM c), " +
        "w AS (SELECT doc_id, ci, " +
        "tk[ci * 24 + 1 : ci * 24 + 32] AS w FROM e) " +
        "SELECT doc_id, CAST(ci AS INT) AS chunk_idx, " +
        "CAST(len(w) AS INT) AS n_tok, " +
        "array_to_string(w, ' ') AS chunk_text FROM w " +
        "ORDER BY doc_id, chunk_idx")),
    // SemDeDup: near-dup pairs mined only within coarse-quantizer
    // clusters — the O(sum cluster^2) path that replaces the exact
    // grid self-join at corpus scale
    "semantic_dedup" -> Query((s, dir) => Similarity.semanticNearDupPairs(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      numCentroids = 16, threshold = 0.45),
      Oracle(semanticDedupOracle)),
    // embedding ops — per-dimension mean/variance melt (feature-
    // collapse and dead-dimension diagnosis); variance via the
    // avg(x²)−avg(x)² identity so both engines run the same formula
    "embed_variance" -> Query((s, dir) => {
      val v = tbl(s, dir, "embeddings")
        .select(posexplode(transform(col("embedding"),
          x => x.cast("double"))).as(Seq("pos", "x")))
      v.groupBy(col("pos").cast("bigint").as("dim"))
        .agg(round(avg(col("x")), 6).as("mean"),
          round(avg(col("x") * col("x")) -
            avg(col("x")) * avg(col("x")), 6).as("var_pop"))
        .orderBy("dim")
    },
      Oracle("WITH v AS (SELECT list_transform(embedding, " +
        "x -> CAST(x AS DOUBLE)) AS vec FROM embeddings) " +
        "SELECT t.i - 1 AS dim, round(avg(vec[t.i]), 6) AS mean, " +
        "round(avg(vec[t.i] * vec[t.i]) - " +
        "avg(vec[t.i]) * avg(vec[t.i]), 6) AS var_pop " +
        "FROM v, unnest(generate_series(1, len(vec))) AS t(i) " +
        "GROUP BY 1 ORDER BY 1")),
    // embedding ops — leading principal component via one-pass
    // mergeable vector moments + driver-side power iteration (the
    // d×d matrix is model-sized, never data-sized); the oracle pins
    // corpus size/dimension and the convergence certificates
    "embed_pca_contract" -> Query((s, dir) => {
      val p = Similarity.pcaTopComponent(
        tbl(s, dir, "embeddings"), "embedding")
      val nrm = math.sqrt(p.eigenvector.map(x => x * x).sum)
      import s.implicits._
      Seq((p.n, p.dim,
        if (p.explainedRatio > 0 && p.explainedRatio <= 1.0) 1 else 0,
        if (p.residual < 1e-8) 1 else 0,
        if (math.abs(nrm - 1.0) < 1e-12) 1 else 0))
        .toDF("n_vectors", "n_dims", "ratio_ok", "residual_ok",
          "norm_ok")
    },
      Oracle("SELECT count(*) AS n_vectors, 64 AS n_dims, 1 AS ratio_ok, " +
        "1 AS residual_ok, 1 AS norm_ok FROM embeddings")),
    // LLM pipeline — model-free text embedding (hashing trick): LCG
    // token hash → signed power-of-two buckets → L2-normalized dense
    // vector; exploded nonzero entries are hash-checked against a
    // full HUGEINT replay of the hash fold
    "text_hash_embed" -> Query((s, dir) => {
      operators.TextMetrics.hashEmbedding(
        tbl(s, dir, "documents").where(col("doc_id") < 50),
        "doc_id", "text")
        .select(col("id").as("doc_id"),
          posexplode(col("vec")).as(Seq("dim", "val")))
        .where(col("val") =!= 0.0)
        .select(col("doc_id"), col("dim"),
          round(col("val"), 6).as("val"))
        .orderBy("doc_id", "dim")
    },
      Oracle("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents WHERE doc_id < 50
        |), th AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST(1125899906842597 AS HUGEINT),
        |      list_transform(range(1, length(tok)+1),
        |        i -> CAST(ascii(substr(tok, i, 1)) AS HUGEINT))),
        |    (acc, x) -> ((acc + x) * 6364136223846793005)
        |      % 18446744073709551616) AS h
        |  FROM toks
        |), b AS (
        |  SELECT doc_id, CAST(h % 64 AS INT) AS dim,
        |    CASE WHEN (h // 64) % 2 = 1 THEN 1 ELSE -1 END AS sgn
        |  FROM th
        |), w AS (
        |  SELECT doc_id, dim, sum(sgn) AS w FROM b GROUP BY 1, 2
        |), n AS (
        |  SELECT doc_id, sqrt(sum(CAST(w AS DOUBLE) * w)) AS nrm
        |  FROM w GROUP BY 1
        |)
        |SELECT w.doc_id, w.dim,
        |  round(CAST(w.w AS DOUBLE) / n.nrm, 6) AS val
        |FROM w JOIN n USING (doc_id) WHERE w.w <> 0
        |ORDER BY 1, 2""".stripMargin)),
    // LLM pipeline — the hashing-trick payoff: exact cosine k-NN over
    // text WITHOUT any trained model, end to end (tokens → signed
    // buckets → normalize → broadcast-query top-3); the oracle
    // replays hash, vectors, and ranking. Ranking keys on the
    // 6-decimal-rounded similarity (vectors are unit-norm, dot =
    // cosine) so the two engines' different summation orders can
    // never flip a rank
    "knn_text_hash" -> Query((s, dir) => {
      val v = operators.TextMetrics.hashEmbedding(
        tbl(s, dir, "documents").where(col("doc_id") < 50),
        "doc_id", "text")
      val q = v.where(col("id") < 5)
        .select(col("id").as("query_id"), col("vec").as("qvec"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("s").desc, col("id"))
      v.join(broadcast(q), col("id") =!= col("query_id"))
        .withColumn("s", round(graft.functions.VectorExpressions
          .vectorDot(col("qvec"), col("vec")), 6))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("query_id"), col("rn"),
          col("id").as("neighbor_id"))
        .orderBy("query_id", "rn")
    },
      Oracle("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents WHERE doc_id < 50
        |), th AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST(1125899906842597 AS HUGEINT),
        |      list_transform(range(1, length(tok)+1),
        |        i -> CAST(ascii(substr(tok, i, 1)) AS HUGEINT))),
        |    (acc, x) -> ((acc + x) * 6364136223846793005)
        |      % 18446744073709551616) AS h
        |  FROM toks
        |), b AS (
        |  SELECT doc_id, CAST(h % 64 AS INT) AS dim,
        |    CASE WHEN (h // 64) % 2 = 1 THEN 1 ELSE -1 END AS sgn
        |  FROM th
        |), w AS (
        |  SELECT doc_id, dim, sum(sgn) AS w FROM b GROUP BY 1, 2
        |), nm AS (
        |  SELECT doc_id, sqrt(sum(CAST(w AS DOUBLE) * w)) AS nrm
        |  FROM w GROUP BY 1
        |), prod AS (
        |  SELECT wa.doc_id AS qa, wb.doc_id AS nb,
        |    sum((CAST(wa.w AS DOUBLE) / na.nrm) *
        |        (CAST(wb.w AS DOUBLE) / nb2.nrm)) AS s
        |  FROM w wa JOIN w wb ON wa.dim = wb.dim
        |    AND wa.doc_id < 5 AND wb.doc_id <> wa.doc_id
        |  JOIN nm na ON na.doc_id = wa.doc_id
        |  JOIN nm nb2 ON nb2.doc_id = wb.doc_id
        |  WHERE wa.w <> 0 AND wb.w <> 0
        |  GROUP BY 1, 2
        |), grid AS (
        |  SELECT q.doc_id AS qa, c.doc_id AS nb
        |  FROM nm q, nm c WHERE q.doc_id < 5 AND c.doc_id <> q.doc_id
        |), sim AS (
        |  SELECT g.qa, g.nb, round(coalesce(p.s, 0.0), 6) AS s
        |  FROM grid g LEFT JOIN prod p ON p.qa = g.qa AND p.nb = g.nb
        |), r AS (
        |  SELECT qa, nb, row_number() OVER
        |    (PARTITION BY qa ORDER BY s DESC, nb) AS rn
        |  FROM sim
        |)
        |SELECT qa AS query_id, CAST(rn AS INT) AS rn,
        |  nb AS neighbor_id FROM r WHERE rn <= 3
        |ORDER BY query_id, rn""".stripMargin)),
    // embedding ops — per-label distribution summary from one grouped
    // moments pass: centroid norm + total in-group variance (the
    // collapse/diversity diagnostic per shard)
    "embed_group_stats" -> Query((s, dir) => Similarity.groupMomentStats(
      tbl(s, dir, "embeddings"), "label", "embedding", dim = 64),
      Oracle("WITH v AS (SELECT label, list_transform(embedding, " +
        "x -> CAST(x AS DOUBLE)) AS vec FROM embeddings), " +
        "m AS (SELECT label, t.i AS i, count(*) AS n, " +
        "avg(vec[t.i]) AS am, avg(vec[t.i] * vec[t.i]) AS aq " +
        "FROM v, unnest(generate_series(1, len(vec))) AS t(i) " +
        "GROUP BY 1, 2) " +
        "SELECT label, max(n) AS n_vectors, " +
        "round(sqrt(sum(am * am)), 6) AS mean_norm, " +
        "round(sum(aq - am * am), 6) AS cov_trace " +
        "FROM m GROUP BY 1 ORDER BY 1")),
    // embedding ops — outlier screen: distance-to-label-centroid
    // z-score; the curation pass that surfaces mis-embedded /
    // mislabeled vectors before ANN-index or contrastive work
    "embed_outliers" -> Query((s, dir) => Similarity.embeddingOutliers(
      tbl(s, dir, "embeddings"), "vec_id", "embedding", "label"),
      Oracle("WITH v AS (SELECT vec_id, label, list_transform(embedding, " +
        "x -> CAST(x AS DOUBLE)) AS vec FROM embeddings), " +
        "c AS (SELECT label, t.i AS i, sum(vec[t.i]) AS s, " +
        "count(*) AS cnt FROM v, " +
        "unnest(generate_series(1, len(vec))) AS t(i) GROUP BY 1, 2), " +
        "cent AS (SELECT label, list(s / cnt ORDER BY i) AS mu " +
        "FROM c GROUP BY 1), " +
        "dist AS (SELECT vec_id, v.label, " +
        "sqrt(list_sum(list_transform(list_zip(vec, mu), " +
        "p -> (p[1] - p[2]) * (p[1] - p[2])))) AS dist " +
        "FROM v JOIN cent ON v.label = cent.label), " +
        "stats AS (SELECT label, avg(dist) AS m, " +
        "sqrt(greatest(0.0, avg(dist * dist) - avg(dist) * avg(dist))) " +
        "AS sd FROM dist GROUP BY 1) " +
        "SELECT dist.label AS grp, vec_id, round(dist, 6) AS dist, " +
        "round((dist - m) / sd, 6) AS z " +
        "FROM dist JOIN stats ON dist.label = stats.label " +
        "WHERE sd > 0 AND (dist - m) / sd > 2.0 ORDER BY 1, 2")),
    // embedding ops — all-but-the-top correction: mean + top-2 PC
    // projections removed distributively (model ships as plan
    // literals; the correction is zip_with arithmetic, zero shuffle);
    // the contract re-measures the corrected corpus — mean collapsed
    // to ~0 and the leading eigenvalue strictly reduced
    "embed_abtt_contract" -> Query((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      // ONE moments pass serves both the reference eigenvalue and the
      // correction model; one more over the corrected vectors serves
      // both post-checks — two data passes total, not four
      val (n1, mean1, cov1) = Similarity.momentsOf(emb, "embedding")
      val top = Similarity.pcaTopKFromCov(n1, cov1, 1).head
      val corrected = Similarity.abttCorrectFromMoments(emb, "vec_id",
        "embedding", mean1, cov1, numComponents = 2)
      val (n2, mean2, cov2) = Similarity.momentsOf(corrected,
        "corrected")
      val ctop = Similarity.pcaTopKFromCov(n2, cov2, 1).head
      import s.implicits._
      Seq((n2,
        if (mean2.forall(m => math.abs(m) < 1e-9)) 1 else 0,
        if (ctop.eigenvalue < top.eigenvalue) 1 else 0))
        .toDF("n_vectors", "centered_ok", "top_reduced_ok")
    },
      Oracle("SELECT count(*) AS n_vectors, 1 AS centered_ok, " +
        "1 AS top_reduced_ok FROM embeddings")),
    // LLM pipeline — embedding-space decontamination: corpus vectors
    // (label != 0) within cosine 0.4 of ANY benchmark vector (label
    // 0), with the argmax benchmark hit; benchmark side broadcast,
    // one map-side max(struct) row per corpus vector
    "decontaminate_semantic" -> Query((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.semanticDecontaminate(
        emb.where(col("label") =!= 0), emb.where(col("label") === 0),
        "vec_id", "embedding", threshold = 0.4)
    },
      Oracle("WITH v AS (SELECT vec_id, label, list_transform(embedding, " +
        "x -> CAST(x AS DOUBLE)) AS vec FROM embeddings), " +
        "n AS (SELECT vec_id, label, vec, sqrt(list_sum(" +
        "list_transform(vec, x -> x * x))) AS nrm FROM v), " +
        "p AS (SELECT a.vec_id AS id, b.vec_id AS bench_id, " +
        "round(list_sum(list_transform(" +
        "generate_series(1, len(a.vec)), " +
        "i -> a.vec[i] * b.vec[i])) / (a.nrm * b.nrm), 6) AS sim " +
        "FROM n a JOIN n b ON a.label <> 0 AND b.label = 0), " +
        "r AS (SELECT id, bench_id, sim, row_number() OVER " +
        "(PARTITION BY id ORDER BY sim DESC, bench_id DESC) AS rn " +
        "FROM p WHERE sim >= 0.4) " +
        "SELECT id, bench_id, sim FROM r WHERE rn = 1 ORDER BY id")),
    // LLM pipeline — measure-don't-guess harness: precision/recall of
    // the MinHash-LSH candidate stage vs EXACT inverted-index ground
    // truth on a bounded eval sample; the oracle pins the exact pair
    // count and the measured floors (raw ratios are hash-family-
    // dependent, so they ship as floor booleans, not values)
    "minhash_eval" -> Query((s, dir) => Dedup.minhashEval(
      tbl(s, dir, "documents"), "doc_id", "text", threshold = 0.7,
      sampleLimit = 100000L, precisionFloor = 0.9,
      recallFloor = 0.95),
      Oracle(s"WITH $shingleCte, " +
        "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
        "len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jac " +
        "FROM s a JOIN s b ON a.doc_id < b.doc_id) " +
        "SELECT count(*) AS n_true, 1 AS precision_ok, " +
        "1 AS recall_ok FROM p WHERE jac >= 0.7")),
    // Scale technique under the correctness gate: salted join of the
    // (skew-prone) events fact against a per-user dim; result must
    // equal the plain join, which the oracle replays directly.
    // GenScale's sf1 directory carries an `events_skew` twin (one user
    // holding ~10% of events) — used when present so the bench smoke
    // exercises the salted path under REAL skew; the oracle dirs have
    // only the uniform table.
    "skew_salted_join" -> Query((s, dir) => {
      val events =
        if (new java.io.File(s"$dir/events_skew.parquet").isDirectory)
          s.read.parquet(s"$dir/events_skew.parquet")
        else tbl(s, dir, "events")
      val userDim = tbl(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"))
        .agg(countDistinct(col("o_orderkey")).as("n_orders"))
      Skew.saltedJoin(events, userDim, "user_id", saltFactor = 8)
        .agg(count(lit(1)).as("n"),
          sum(col("n_orders")).as("sum_orders"),
          countDistinct(col("user_id")).as("n_users"))
    },
      Oracle("WITH u AS (SELECT o_custkey AS user_id, " +
        "count(DISTINCT o_orderkey) AS n_orders FROM orders GROUP BY 1) " +
        "SELECT count(*) AS n, " +
        "CAST(sum(n_orders) AS BIGINT) AS sum_orders, " +
        "count(DISTINCT e.user_id) AS n_users " +
        "FROM events e JOIN u ON e.user_id = u.user_id")),
    // LLM pipeline — incremental ingestion dedup: new batch (upper
    // half of doc ids) minus content already in the seen corpus
    // (lower half); Bloom prefilter + exact anti-join verification
    "dedup_incremental" -> Query((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val mid = 250L
      Dedup.incrementalNew(
        docs.where(col("doc_id") >= mid),
        docs.where(col("doc_id") < mid), "text")
        .select(col("doc_id"))
        .orderBy("doc_id")
    },
      Oracle("SELECT n.doc_id FROM documents n WHERE n.doc_id >= 250 " +
        "AND NOT EXISTS (SELECT 1 FROM documents s " +
        "WHERE s.doc_id < 250 AND s.text = n.text) ORDER BY n.doc_id")),
    // LLM pipeline — benchmark decontamination: corpus docs sharing
    // any 3-gram with the benchmark set (stand-in: every 50th doc),
    // counted per doc. N-gram equality join, benchmark side broadcast.
    "decontaminate" -> Query((s, dir) => {
      val docs = tbl(s, dir, "documents")
      operators.TextMetrics.decontaminate(docs, "doc_id", "text",
        docs.where(col("doc_id") % 50 === 0), "text", 3)
        .orderBy("doc_id")
    },
      Oracle(
        "WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t " +
        "FROM documents), " +
        "cg AS (SELECT DISTINCT doc_id, " +
        "unnest(list_transform(generate_series(1, len(t) - 2), " +
        "i -> array_to_string(t[i:i+2], ' '))) AS ng " +
        "FROM tok WHERE len(t) >= 3), " +
        "bg AS (SELECT DISTINCT " +
        "unnest(list_transform(generate_series(1, len(t) - 2), " +
        "i -> array_to_string(t[i:i+2], ' '))) AS ng " +
        "FROM tok WHERE doc_id % 50 = 0 AND len(t) >= 3) " +
        "SELECT doc_id, count(*) AS n_hits FROM cg JOIN bg USING (ng) " +
        "GROUP BY 1 ORDER BY doc_id")),
    // LLM pipeline — contamination dashboard: benchmark-overlap rate
    // per source (which feeds are poisoning eval metrics); the
    // doc-level gate re-used, one broadcast-sized left join on ids
    "contamination_by_source" -> Query((s, dir) => {
      val d = tbl(s, dir, "documents")
      val bad = operators.TextMetrics.decontaminate(d, "doc_id",
          "text", d.where(col("doc_id") % 50 === 0), "text", 3)
        .select(col("doc_id"), lit(1).as("hit"))
      d.select("doc_id", "source")
        .join(broadcast(bad), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("hit")).as("n_contaminated"))
        .select(col("source"), col("n_docs"), col("n_contaminated"),
          round(col("n_contaminated").cast("double") / col("n_docs"),
            6).as("rate"))
        .orderBy("source")
    },
      Oracle(
        "WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t " +
        "FROM documents), " +
        "cg AS (SELECT DISTINCT doc_id, " +
        "unnest(list_transform(generate_series(1, len(t) - 2), " +
        "i -> array_to_string(t[i:i+2], ' '))) AS ng " +
        "FROM tok WHERE len(t) >= 3), " +
        "bg AS (SELECT DISTINCT " +
        "unnest(list_transform(generate_series(1, len(t) - 2), " +
        "i -> array_to_string(t[i:i+2], ' '))) AS ng " +
        "FROM tok WHERE doc_id % 50 = 0 AND len(t) >= 3), " +
        "bad AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (ng)) " +
        "SELECT d.source, count(*) AS n_docs, " +
        "count(b.doc_id) AS n_contaminated, " +
        "round(CAST(count(b.doc_id) AS DOUBLE) / count(*), 6) AS rate " +
        "FROM documents d LEFT JOIN bad b USING (doc_id) " +
        "GROUP BY 1 ORDER BY 1")),
    // LLM pipeline — PII scan + scrub: deterministic PII is injected
    // into every 50th doc (both engines replicate it), counts are
    // taken before and after redaction, and the after-count must be
    // zero — the scrub is verified, not assumed
    "pii_scan" -> Query((s, dir) => {
      import graft.functions.TextFunctions.{piiCount, piiPatterns, redactPii}
      val t = when(col("doc_id") % 50 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or +12025550123 at 10.0.0.1")))
        .otherwise(col("text"))
      val injected = tbl(s, dir, "documents").withColumn("t", t)
      val red = redactPii(col("t"))
      val Seq(email, phone, ipv4) = piiPatterns.map(_._2)
      injected.agg(
        sum(piiCount(col("t"), email)).as("n_emails"),
        sum(piiCount(col("t"), phone)).as("n_phones"),
        sum(piiCount(col("t"), ipv4)).as("n_ips"),
        sum(piiCount(red, email) + piiCount(red, phone) +
          piiCount(red, ipv4)).as("n_after_redact"))
    },
      Oracle {
        val Seq(email, phone, ipv4) =
          graft.functions.TextFunctions.piiPatterns.map(_._2)
        def cnt(src: String, p: String) =
          s"len(regexp_extract_all($src, '$p'))"
        s"WITH d AS (SELECT CASE WHEN doc_id % 50 = 0 THEN text || " +
          "' contact user' || CAST(doc_id AS VARCHAR) || " +
          "'@example.com or +12025550123 at 10.0.0.1' ELSE text END AS t " +
          "FROM documents), " +
          "r AS (SELECT t, regexp_replace(regexp_replace(regexp_replace(" +
          s"t, '$email', '[EMAIL]', 'g'), '$phone', '[PHONE]', 'g'), " +
          s"'$ipv4', '[IPV4]', 'g') AS rt FROM d) " +
          s"SELECT CAST(sum(${cnt("t", email)}) AS BIGINT) AS n_emails, " +
          s"CAST(sum(${cnt("t", phone)}) AS BIGINT) AS n_phones, " +
          s"CAST(sum(${cnt("t", ipv4)}) AS BIGINT) AS n_ips, " +
          s"CAST(sum(${cnt("rt", email)} + ${cnt("rt", phone)} + " +
          s"${cnt("rt", ipv4)}) AS BIGINT) AS n_after_redact FROM r"
      }),
    // LLM pipeline — within-doc repetition profile (Gopher-style
    // duplicate-text signals)
    "text_repetition" -> Query((s, dir) => operators.TextMetrics
      .repetitionStats(tbl(s, dir, "documents"), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id"),
      Oracle(
        "WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t " +
        "FROM documents WHERE text IS NOT NULL), " +
        "tc AS (SELECT doc_id, tk, count(*) AS c FROM " +
        "(SELECT doc_id, unnest(t) AS tk FROM tok) GROUP BY 1, 2), " +
        "ta AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup " +
        "FROM tc GROUP BY 1), " +
        "bgx AS (SELECT doc_id, " +
        "unnest(list_transform(generate_series(1, len(t) - 1), " +
        "i -> array_to_string(t[i:i+1], ' '))) AS bg " +
        "FROM tok WHERE len(t) >= 2), " +
        "bc AS (SELECT doc_id, bg, count(*) AS c FROM bgx GROUP BY 1, 2), " +
        "ba AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top, " +
        "CAST(sum(c) AS BIGINT) AS n_bg FROM bc GROUP BY 1) " +
        "SELECT t.doc_id, t.n_tokens, " +
        "round(CAST(t.dup AS DOUBLE) / t.n_tokens, 6) AS dup_token_frac, " +
        "round(CAST(b.top AS DOUBLE) / b.n_bg, 6) AS top_bigram_frac " +
        "FROM ta t LEFT JOIN ba b ON t.doc_id = b.doc_id " +
        "ORDER BY t.doc_id")),
    "knn_bruteforce" -> Query((s, dir) => Similarity.knnBruteForce(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      numQueries = 10, k = 5),
      Oracle(knnBruteForceOracle)),
    // end-to-end semantic search: ANN neighbors joined back to the
    // document table for serving metadata (the retrieval-result shape
    // a RAG pipeline returns); the doc join is a broadcast of the
    // k·queries result, never the corpus
    "semantic_search" -> Query((s, dir) => {
      val knn = Similarity.knnBruteForce(tbl(s, dir, "embeddings"),
        "vec_id", "embedding", numQueries = 10, k = 3)
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"))
        .join(broadcast(knn), col("doc_id") === col("neighbor_id"))
        .select(col("query_id"), col("rn"), col("neighbor_id"),
          col("source"), col("lang"))
        .orderBy("query_id", "rn")
    },
      Oracle(semanticSearchOracle)),
    // recall vs knn_bruteforce measured 0.94 at nprobe=4/16 on the
    // sf0.001 table — see DedupSimilaritySpec
    "knn_ivf" -> Query((s, dir) => Similarity.knnIvf(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      numCentroids = 16, nprobe = 4, numQueries = 10, k = 5),
      Oracle(knnIvfOracle)),
    // the recall number itself, under the correctness gate: per-query
    // recall@5 of the registered IVF config against exact brute
    // force; BOTH sides are deterministic, so the oracle replays the
    // two searches end-to-end and the recall values hash-match
    "ann_recall_eval" -> Query((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.recallAtK(
        Similarity.knnBruteForce(emb, "vec_id", "embedding",
          numQueries = 10, k = 5),
        Similarity.knnIvf(emb, "vec_id", "embedding",
          numCentroids = 16, nprobe = 4, numQueries = 10, k = 5),
        k = 5)
    },
      Oracle(s"WITH $vecCte, " +
        "bq AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnrm " +
        "FROM n WHERE vec_id < 10), " +
        "bp AS (SELECT bq.query_id, n.vec_id AS neighbor_id, " +
        "list_sum(list_transform(generate_series(1, len(bq.qvec)), " +
        "i -> bq.qvec[i] * n.vec[i])) / (bq.qnrm * n.nrm) AS sim " +
        "FROM bq, n WHERE n.vec_id <> bq.query_id), " +
        "br AS (SELECT query_id, neighbor_id, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn " +
        "FROM bp), " +
        "btop AS (SELECT query_id, neighbor_id FROM br WHERE rn <= 5), " +
        "c AS (SELECT vec_id AS cid, vec AS cvec, nrm AS cnrm FROM n " +
        "WHERE vec_id < 16), " +
        "sc AS (SELECT n.vec_id AS id, c.cid, " +
        "list_sum(list_transform(generate_series(1, len(n.vec)), " +
        "i -> c.cvec[i] * n.vec[i])) / (c.cnrm * n.nrm) AS sim " +
        "FROM n, c), " +
        "assign AS (SELECT id, cid FROM (SELECT id, cid, row_number() " +
        "OVER (PARTITION BY id ORDER BY sim DESC, cid DESC) AS rn " +
        "FROM sc) WHERE rn = 1), " +
        "probes AS (SELECT id AS query_id, cid FROM (SELECT id, cid, " +
        "row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid DESC) " +
        "AS rn FROM sc WHERE id < 10) WHERE rn <= 4), " +
        "cand AS (SELECT p.query_id, a.id AS neighbor_id FROM probes p " +
        "JOIN assign a ON a.cid = p.cid WHERE a.id <> p.query_id), " +
        "s2 AS (SELECT cd.query_id, cd.neighbor_id, " +
        "list_sum(list_transform(generate_series(1, len(q2.vec)), " +
        "i -> q2.vec[i] * m.vec[i])) / (q2.nrm * m.nrm) AS sim " +
        "FROM cand cd JOIN n q2 ON q2.vec_id = cd.query_id " +
        "JOIN n m ON m.vec_id = cd.neighbor_id), " +
        "ir AS (SELECT query_id, neighbor_id, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn " +
        "FROM s2), " +
        "itop AS (SELECT query_id, neighbor_id FROM ir WHERE rn <= 5) " +
        "SELECT b.query_id, count(i.neighbor_id) AS n_hits, " +
        "round(CAST(count(i.neighbor_id) AS DOUBLE) / 5, 6) " +
        "AS recall_at_5 FROM btop b LEFT JOIN itop i " +
        "ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id " +
        "GROUP BY 1 ORDER BY 1")),
    // the graph tier's quality under the same gate (VERDICT r16 #8):
    // per-query recall@5 of the registered knn_graph config against
    // exact brute force — both sides deterministic, so the oracle
    // replays search AND recall end-to-end
    "ann_recall_eval_graph" -> Query((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.recallAtK(
        Similarity.knnBruteForce(emb, "vec_id", "embedding",
          numQueries = 10, k = 5),
        Similarity.knnGraph(emb, "vec_id", "embedding",
          numCentroids = 16, graphDegree = 6, numEntries = 2,
          beam = 10, rounds = 2, numQueries = 10, k = 5),
        k = 5)
    },
      // recall@5 of the registered graph config against exact brute
      // force (VERDICT r16 #8) — the same deterministic replay as
      // knn_graph composed with ann_recall_eval's brute-force side, so
      // the graph tier's QUALITY is oracle-pinned alongside its plan
      // guard
      Oracle(s"WITH ${knnGraphCtes(graphOneShotEdgeCtes)}, " +
        "gtop AS (SELECT query_id, id AS neighbor_id FROM " +
        "(SELECT query_id, id, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY sim DESC, id) AS rn FROM fin " +
        "WHERE bn <= 10 AND id <> query_id) WHERE rn <= 5), " +
        "bp AS (SELECT q.query_id, m.vec_id AS neighbor_id, " +
        "list_sum(list_transform(generate_series(1, len(q.qvec)), " +
        "i -> q.qvec[i] * m.vec[i])) / (q.qnrm * m.nrm) AS sim " +
        "FROM q, n m WHERE m.vec_id <> q.query_id), " +
        "btop AS (SELECT query_id, neighbor_id FROM (SELECT query_id, " +
        "neighbor_id, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY sim DESC, neighbor_id) AS rn FROM bp) WHERE rn <= 5) " +
        "SELECT b.query_id, count(g.neighbor_id) AS n_hits, " +
        "round(CAST(count(g.neighbor_id) AS DOUBLE) / 5, 6) " +
        "AS recall_at_5 FROM btop b LEFT JOIN gtop g " +
        "ON g.query_id = b.query_id AND g.neighbor_id = b.neighbor_id " +
        "GROUP BY 1 ORDER BY 1")),
    // the PQ tier under the same gate (VERDICT r17 #6): recall@5 of
    // the registered knn_pq config against exact brute force — the
    // last ANN tier whose quality lived only in ScalaTest moves under
    // the oracle (the oracle replays the shared knn_pq CTE chain)
    "ann_recall_eval_pq" -> Query((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.recallAtK(
        Similarity.knnBruteForce(emb, "vec_id", "embedding",
          numQueries = 10, k = 5),
        Similarity.knnPq(emb, "vec_id", "embedding",
          numCodes = 16, numSubspaces = 8, numQueries = 10, k = 5,
          shortlist = 50),
        k = 5)
    },
      Oracle(annRecallPqOracle)),
    // IVF over k-means-TRAINED centroids (2 fixed Lloyd's rounds,
    // decimal-exact means — fully deterministic, full SQL replay).
    // nprobe=6 reaches recall 0.96 on the sf0.001 corpus (the seed
    // quantizer happens to fit this label-clustered synthetic data, so
    // training needs 2 extra probes to match it — measured in
    // DedupSimilaritySpec; at real corpus scale training is what keeps
    // list sizes bounded when seeds are NOT representative)
    "knn_ivf_trained" -> Query((s, dir) => Similarity.knnIvfTrained(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      numCentroids = 16, nprobe = 6, numQueries = 10, k = 5,
      iterations = 2),
      Oracle(knnIvfTrainedOracle)),
    // product-quantization ANN: corpus compressed to 8 one-byte codes
    // per vector, queries scan codes through a broadcast ADC lookup
    // table — the 100 TB path where the index is 64× smaller than the
    // embeddings (recall vs brute force measured in DedupSimilaritySpec)
    // graph-based ANN tier: beam search over a cluster-blocked kNN
    // graph (HNSW layer 0 + IVF entry points, the SPANN/DiskANN
    // shape) — per-round search cost is O(queries × beam × degree)
    // score evaluations regardless of corpus size, fully
    // deterministic and replayed round-by-round by the oracle
    "knn_graph" -> Query((s, dir) => Similarity.knnGraph(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      numCentroids = 16, graphDegree = 6, numEntries = 2,
      beam = 10, rounds = 2, numQueries = 10, k = 5),
      // round-by-round replay of the graph tier: assignment + within-
      // cluster top-6 out-edges symmetrized, 2-nearest-centroid entry
      // points, two expand/score/beam-10 rounds, top-5 self-excluded.
      // Ties everywhere by id (centroid ties toward larger cid, the
      // max(struct) rule); sims are identical sequential folds in both
      // engines
      Oracle(knnGraphOracle(graphOneShotEdgeCtes))),
    // graph-tier SEARCH cost in isolation (VERDICT r17 #8): the
    // one-shot knn_graph head rebuilds the O(Σ cluster²) edge
    // window every invocation, so its bench number is build-
    // dominated. This entry searches a session-cached prebuilt
    // index (build charged to the first call only) — the
    // production read-path shape, where the index is a persisted
    // graft table. Accuracy is pinned by knn_graph's oracle (the
    // search path is knnGraphOnIndex in both).
    "knn_graph_search_only" -> Query((s, dir) => {
      val (edges, index, cents) = graphIdxCache
        .getOrElseUpdate(dir, {
          val emb = tbl(s, dir, "embeddings")
          val c = operators.Similarity.ivfSeedCentroids(
            emb, "vec_id", "embedding", numCentroids = 16)
          val e = operators.Similarity.graphIndexEdges(
            emb, "vec_id", "embedding", c, None, graphDegree = 6)
          val idx = operators.Similarity.ivfIndexAssign(
            emb, "vec_id", "embedding", c)
          // materialize to local relations: the build runs ONCE
          // here, and per-call search plans start from in-memory
          // rows with no pinned cache entries to leak (the search
          // itself pins and releases per invocation)
          (collectReleased(e), collectReleased(idx),
            collectReleased(c))
        })
      operators.Similarity.knnGraphOnIndex(edges, index, cents,
        numEntries = 2, beam = 10, rounds = 2, numQueries = 10,
        k = 5)
    },
      // same knnGraphOnIndex search path as the oracle-replayed
      // one-shot head; quality additionally pinned by
      // ann_recall_eval_graph
      ContractTwin("knn_graph")),
    // incrementally-MAINTAINED graph index: vectors and edges persist
    // as two graft tables; each arriving batch assigns + computes its
    // out-edges against the existing cluster pool (batch-sized blocked
    // join, never a rebuild) and APPENDS both — the 100 TB maintenance
    // path for the graph tier. Reverse edges give settled vectors
    // paths toward arrivals (the standard online-graph approximation;
    // settled out-lists do not re-rank). Search = knn_graph's beam
    // over the accumulated tables; the oracle replays both phases
    "knn_graph_incremental" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val vecRoot = graft.config.Scratch.runDir + s"/graph_vec_$tag"
      val edgeRoot = graft.config.Scratch.runDir + s"/graph_edge_$tag"
      graft.sources.VersionedTable.destroy(s, vecRoot)
      graft.sources.VersionedTable.destroy(s, edgeRoot)
      val emb = tbl(s, dir, "embeddings")
      val cents = operators.Similarity.ivfSeedCentroids(
        emb, "vec_id", "embedding", numCentroids = 16)
      Seq(0, 1).foreach { par =>
        val batch = emb.where(col("vec_id") % 2 === par)
        val existing =
          if (par == 0) None
          else Some(graft.sources.VersionedTable.read(s, vecRoot))
        graft.sources.VersionedTable.commitAppend(
          operators.Similarity.graphIndexEdges(
            batch, "vec_id", "embedding", cents, existing,
            graphDegree = 6),
          edgeRoot, tag = s"edges$par")
        graft.sources.VersionedTable.commitAppend(
          operators.Similarity.ivfIndexAssign(
            batch, "vec_id", "embedding", cents),
          vecRoot, tag = s"vecs$par")
      }
      operators.Similarity.knnGraphOnIndex(
        graft.sources.VersionedTable.read(s, edgeRoot),
        graft.sources.VersionedTable.read(s, vecRoot), cents,
        numEntries = 2, beam = 10, rounds = 2, numQueries = 10, k = 5)
    },
      // two-phase replay of the incremental build (batch 0 = even ids
      // against itself, batch 1 = odd ids against the full pool), then
      // the identical beam search over the accumulated edges
      Oracle(knnGraphOracle(
        "b0 AS (SELECT * FROM av WHERE id % 2 = 0), " +
          "pe0 AS (SELECT x.id AS src, y.id AS dst, " +
          "list_sum(list_transform(generate_series(1, len(x.vec)), " +
          "i -> x.vec[i] * y.vec[i])) / (x.nrm * y.nrm) AS esim " +
          "FROM b0 x JOIN b0 y ON x.cid = y.cid AND x.id <> y.id), " +
          "o0 AS (SELECT src, dst FROM (SELECT src, dst, row_number() " +
          "OVER (PARTITION BY src ORDER BY esim DESC, dst) AS ern " +
          "FROM pe0) WHERE ern <= 6), " +
          "e0 AS (SELECT DISTINCT src, dst FROM (SELECT src, dst " +
          "FROM o0 UNION ALL SELECT dst AS src, src AS dst FROM o0)), " +
          "b1 AS (SELECT * FROM av WHERE id % 2 = 1), " +
          "pe1 AS (SELECT x.id AS src, y.id AS dst, " +
          "list_sum(list_transform(generate_series(1, len(x.vec)), " +
          "i -> x.vec[i] * y.vec[i])) / (x.nrm * y.nrm) AS esim " +
          "FROM b1 x JOIN av y ON x.cid = y.cid AND x.id <> y.id), " +
          "o1 AS (SELECT src, dst FROM (SELECT src, dst, row_number() " +
          "OVER (PARTITION BY src ORDER BY esim DESC, dst) AS ern " +
          "FROM pe1) WHERE ern <= 6), " +
          "e1 AS (SELECT DISTINCT src, dst FROM (SELECT src, dst " +
          "FROM o1 UNION ALL SELECT dst AS src, src AS dst FROM o1)), " +
          "edges AS (SELECT DISTINCT src, dst FROM (SELECT src, dst " +
          "FROM e0 UNION ALL SELECT src, dst FROM e1))"))),
    "knn_pq" -> Query((s, dir) => Similarity.knnPq(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      numCodes = 16, numSubspaces = 8, numQueries = 10, k = 5,
      shortlist = 50),
      Oracle(knnPqOracle)),
    // IVF-PQ (IVFADC): trained coarse quantizer bounds the search to
    // 8/16 lists, PQ codes of unit-space RESIDUALS bound the stored
    // bytes, broadcast per-(query, list) ADC LUTs scan the codes, and
    // the exact rerank touches only the shortlist — the composition
    // that IS the standard 100 TB ANN index (recall 0.88 vs brute
    // force at the flat-PQ shortlist, measured in DedupSimilaritySpec;
    // 32 residual codes per subspace because the stand-in codebook is
    // residuals of the first ids, which post-training cluster small —
    // twice the entries recovers the coverage a k-means codebook
    // would give 16)
    "knn_ivfpq" -> Query((s, dir) => Similarity.knnIvfPq(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      numCentroids = 16, nprobe = 8, numCodes = 32, numSubspaces = 8,
      numQueries = 10, k = 5, shortlist = 50, iterations = 2),
      Oracle(knnIvfPqOracle)),
    // corpus clustering report over the trained quantizer: cluster
    // sizes + cohesion (mean cosine to own centroid, decimal-exact
    // mean so engine and oracle sum identically)
    "embed_clusters" -> Query((s, dir) => Similarity.clusterAssignments(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      numCentroids = 16, iterations = 2)
      .groupBy("cid")
      .agg(count(lit(1)).as("n"),
        round(sum(round(col("csim"), 9).cast("decimal(20,12)"))
          .cast("double") / count(lit(1)), 6).as("mean_sim"))
      .orderBy("cid"),
      // cluster report replay: trained assignment (assignf) joined back
      // to its own (id, cid) score row in scf, decimal-exact mean
      Oracle(trainedIvfPrefix(nprobe = 8) +
        " SELECT a.cid, count(*) AS n, " +
        "round(CAST(sum(CAST(round(s.sim, 9) AS DECIMAL(20,12))) " +
        "AS DOUBLE) / count(*), 6) AS mean_sim " +
        "FROM assignf a JOIN scf s ON s.id = a.id AND s.cid = a.cid " +
        "GROUP BY 1 ORDER BY 1")),
    // LLM pipeline — multimodal plumbing with a REAL codec: corpus
    // text synthesized into 24-bit BMPs, decoded back by the header-
    // validating parser, per-image pixel statistics compared against
    // an oracle that recomputes them from the text alone (the
    // position-weighted sums are order-sensitive, so row-order or
    // padding bugs in either codec half go red). ASCII filter: the
    // oracle replays byte arithmetic as per-char codepoints.
    "multimodal_meta" -> Query((s, dir) => multimodalMetaQuery(s, dir),
      Oracle(multimodalMetaOracle)),
    "multimodal_features" -> Query((s, dir) => Multimodal.decodeImageStats(
      Multimodal.synthesizeBmp(
        tbl(s, dir, "documents")
          .where(length(col("text")) === octet_length(col("text"))),
        "doc_id", "text"))
      .orderBy("doc_id"),
      Oracle(multimodalFeaturesOracle)),
    // audio modality through a REAL codec: text synthesized into
    // 16-bit mono PCM WAV, parsed back by the header-validating
    // decoder; position-weighted sums + zero crossings are
    // order-sensitive, so sample permutation/padding bugs go red
    "multimodal_audio" -> Query((s, dir) => Multimodal.decodeAudioStats(
      Multimodal.synthesizeWav(
        tbl(s, dir, "documents")
          .where(length(col("text")) === octet_length(col("text"))),
        "doc_id", "text"))
      .orderBy("doc_id"),
      Oracle("WITH t AS (SELECT doc_id, text FROM documents " +
        "WHERE length(text) > 0 " +
        "AND length(text) = octet_length(encode(text))), " +
        "s AS (SELECT doc_id, list_transform(" +
        "range(1, length(text) + 1), " +
        "i -> ((ascii(substr(text, i, 1)) * 131 + i * 7) % 65536) " +
        "- 32768) AS sm FROM t) " +
        "SELECT doc_id, 16000 AS sample_rate, " +
        "CAST(len(sm) AS BIGINT) AS n_samples, " +
        "CAST(list_sum(sm) AS BIGINT) AS sum_s, " +
        "CAST(list_sum(list_transform(range(1, len(sm) + 1), " +
        "i -> i * sm[i])) AS BIGINT) AS wsum_s, " +
        "CAST(len(list_filter(range(2, len(sm) + 1), " +
        "i -> (sm[i] < 0) <> (sm[i - 1] < 0))) AS BIGINT) " +
        "AS n_zero_cross FROM s ORDER BY doc_id")),
    // audio twin of image_dhash: 65 frame energies (exact integer
    // sum of |sample| per equal index range) through the real WAV
    // codec, bit f = frame f+1 louder than frame f; the oracle
    // recomputes every frame energy from the text alone
    "audio_fingerprint" -> Query((s, dir) => Multimodal.audioFingerprints(
      Multimodal.synthesizeWav(
        tbl(s, dir, "documents")
          .where(length(col("text")) === octet_length(col("text"))),
        "doc_id", "text"))
      .orderBy("doc_id"),
      // frame energies recomputed from the text (same sample formula as
      // multimodal_audio), difference bits summed in HUGEINT and
      // wrapped to the signed value
      Oracle("WITH t AS (SELECT doc_id, text FROM documents " +
        "WHERE length(text) > 0 " +
        "AND length(text) = octet_length(encode(text))), " +
        "s AS (SELECT doc_id, list_transform(" +
        "range(1, length(text) + 1), " +
        "i -> ((ascii(substr(text, i, 1)) * 131 + i * 7) % 65536) " +
        "- 32768) AS sm FROM t), " +
        "fr AS (SELECT doc_id, sm, len(sm) AS n, " +
        "unnest(generate_series(0, 64)) AS f FROM s), " +
        "en AS (SELECT doc_id, f, coalesce(list_sum(list_transform(" +
        "range((f * n) // 65 + 1, ((f + 1) * n) // 65 + 1), " +
        "i -> abs(sm[i]))), 0) AS e FROM fr), " +
        "bits AS (SELECT doc_id, f, e, " +
        "lead(e) OVER (PARTITION BY doc_id ORDER BY f) AS ne " +
        "FROM en), " +
        "hs AS (SELECT doc_id, " +
        "CAST(CASE WHEN s2 >= 9223372036854775808 " +
        "THEN s2 - 18446744073709551616 ELSE s2 END AS BIGINT) AS afp " +
        "FROM (SELECT doc_id, sum(CASE WHEN ne > e " +
        "THEN CAST(1 AS HUGEINT) << f ELSE 0 END) AS s2 " +
        "FROM bits WHERE f < 64 GROUP BY doc_id)) " +
        "SELECT doc_id, afp FROM hs ORDER BY doc_id")),
    // resize composes through the PNG codec twice: synthesize →
    // deflate+filter encode → inflate+defilter decode + nearest-
    // neighbor sample + re-encode (container-preserving) → decode →
    // stats; the oracle computes the sampled pixels straight from the
    // text via the generation formula at positions (2x, floor(y*h/2))
    "multimodal_resize" -> Query((s, dir) => Multimodal.decodeImageStats(
      Multimodal.resizeTable(
        Multimodal.synthesizePng(
          tbl(s, dir, "documents")
            .where(length(col("text")) === octet_length(col("text"))),
          "doc_id", "text"),
        outW = 4, outH = 2))
      .orderBy("doc_id"),
      Oracle(multimodalResizeOracle)),
    // as-of join (no native Spark operator): each event matched to its
    // user's latest order at-or-before the event time; DuckDB's native
    // ASOF JOIN is the oracle
    "asof_last_order" -> Query((s, dir) => {
      val ev = tbl(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"))
      val ord = tbl(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("last_order"))
        // parquet without isAdjustedToUTC reads as TIMESTAMP_NTZ; the
        // session tz is UTC so the cast denotes the same instant
        .select(col("o_custkey"),
          unix_micros(col("o_orderdate").cast(TimestampType)).as("t_us"),
          col("last_order"))
      graft.operators.AsofJoin.asofJoin(
        ev, "user_id", "t_us", ord, "o_custkey", "t_us", "last_order")
        .select("event_id", "last_order")
        .orderBy("event_id")
    },
      Oracle("WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tu " +
        "FROM events), " +
        "r AS (SELECT o_custkey AS k, epoch_us(o_orderdate) AS tu, " +
        "max(o_orderkey) AS last_order FROM orders GROUP BY 1, 2) " +
        "SELECT e.event_id, r.last_order FROM e " +
        "ASOF LEFT JOIN r ON e.user_id = r.k AND e.tu >= r.tu " +
        "ORDER BY event_id")),
    // as-of FORWARD: each event's user's earliest order at-or-after
    // the event (the "time to next purchase" attribution join); one
    // key shuffle, matched epoch pinned too
    "asof_next_order" -> Query((s, dir) => {
      val (ev, ord) = asofBase(s, dir)
      graft.operators.AsofJoin.asofJoinDirectional(
        ev, "user_id", "t_us", ord, "o_custkey", "t_us", "last_order",
        direction = "forward")
        .select(col("event_id"), col("last_order").as("next_order"),
          col("matched_ts"))
        .orderBy("event_id")
    },
      // DuckDB's ASOF is backward-only, so the forward/nearest replays
      // use correlated LIMIT-1 subqueries over the same deduped right
      Oracle("WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tu " +
        "FROM events), " +
        "r AS (SELECT o_custkey AS k, epoch_us(o_orderdate) AS tu, " +
        "max(o_orderkey) AS last_order FROM orders GROUP BY 1, 2) " +
        "SELECT e.event_id, " +
        "(SELECT r.last_order FROM r WHERE r.k = e.user_id " +
        "AND r.tu >= e.tu ORDER BY r.tu LIMIT 1) AS next_order, " +
        "(SELECT r.tu FROM r WHERE r.k = e.user_id " +
        "AND r.tu >= e.tu ORDER BY r.tu LIMIT 1) AS matched_ts " +
        "FROM e ORDER BY event_id")),
    // as-of NEAREST: the closer of the backward/forward matches (an
    // exact tie prefers backward) — both direction frames ride ONE
    // sort, so nearest costs the same single shuffle
    "asof_nearest_order" -> Query((s, dir) => {
      val (ev, ord) = asofBase(s, dir)
      graft.operators.AsofJoin.asofJoinDirectional(
        ev, "user_id", "t_us", ord, "o_custkey", "t_us", "last_order",
        direction = "nearest")
        .select(col("event_id"), col("last_order").as("near_order"),
          col("matched_ts"))
        .orderBy("event_id")
    },
      Oracle("WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tu " +
        "FROM events), " +
        "r AS (SELECT o_custkey AS k, epoch_us(o_orderdate) AS tu, " +
        "max(o_orderkey) AS last_order FROM orders GROUP BY 1, 2), " +
        "m AS (SELECT e.event_id, e.tu, " +
        "(SELECT r.last_order FROM r WHERE r.k = e.user_id " +
        "AND r.tu <= e.tu ORDER BY r.tu DESC LIMIT 1) AS bv, " +
        "(SELECT r.tu FROM r WHERE r.k = e.user_id " +
        "AND r.tu <= e.tu ORDER BY r.tu DESC LIMIT 1) AS bt, " +
        "(SELECT r.last_order FROM r WHERE r.k = e.user_id " +
        "AND r.tu >= e.tu ORDER BY r.tu LIMIT 1) AS fv, " +
        "(SELECT r.tu FROM r WHERE r.k = e.user_id " +
        "AND r.tu >= e.tu ORDER BY r.tu LIMIT 1) AS ft FROM e) " +
        "SELECT event_id, " +
        "CASE WHEN bt IS NULL THEN fv WHEN ft IS NULL THEN bv " +
        "WHEN tu - bt <= ft - tu THEN bv ELSE fv END AS near_order, " +
        "CASE WHEN bt IS NULL THEN ft WHEN ft IS NULL THEN bt " +
        "WHEN tu - bt <= ft - tu THEN bt ELSE ft END AS matched_ts " +
        "FROM m ORDER BY event_id")),
    // range join (no native Spark operator): events bucketed into
    // their containing sessions via granularity equi-join + exact
    // containment filter; counts must reproduce each session's
    // n_events, and the oracle recomputes the BETWEEN join in SQL
    "range_join_sessions" -> Query((s, dir) => {
      val sess = sessionizeBatchQuery(s, dir)
        .select(col("user_id").as("s_user"), col("session_id"),
          col("start_us"), col("end_us"))
      val ev = tbl(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      graft.operators.RangeJoin.pointInInterval(
        ev, "user_id", "ts_us", sess, "s_user", "start_us", "end_us",
        granularityUs = 3600000000L)
        .groupBy(col("s_user").as("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_in_range"))
        .orderBy("user_id", "session_id")
    },
      Oracle("WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events), " +
        "x AS (SELECT user_id, ts_us, CASE WHEN " +
        "lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL " +
        "OR ts_us - lag(ts_us) OVER " +
        "(PARTITION BY user_id ORDER BY ts_us) " +
        s"> $sessionGapUs THEN 1 ELSE 0 END AS new_s FROM e), " +
        "y AS (SELECT user_id, ts_us, CAST(sum(new_s) OVER " +
        "(PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) " +
        "- 1 AS BIGINT) AS session_id FROM x), " +
        "sess AS (SELECT user_id, session_id, " +
        "min(ts_us) AS start_us, max(ts_us) AS end_us FROM y " +
        "GROUP BY 1,2) " +
        "SELECT s.user_id, s.session_id, count(*) AS n_in_range " +
        "FROM e JOIN sess s ON e.user_id = s.user_id " +
        "AND e.ts_us BETWEEN s.start_us AND s.end_us " +
        "GROUP BY 1,2 ORDER BY 1,2")),
    // multimodal frame sampling (pure byte plumbing — real, not
    // stubbed): every 4th 64-byte frame, hash-identified. The ASCII
    // filter (bytes == chars) mirrors the oracle, which replays byte
    // slicing as substring over 1-byte characters.
    "multimodal_frames" -> Query((s, dir) => {
      val d = tbl(s, dir, "documents")
        .where(length(col("text")) === octet_length(col("text")))
      Multimodal.sampleFrames(
        Multimodal.binarize(d, "doc_id", "text"),
        frameBytes = 64, stride = 4)
        .select(col("doc_id"), col("frame_idx"), col("frame_hash"))
        .orderBy("doc_id", "frame_idx")
    },
      Oracle("WITH d AS (SELECT doc_id, text FROM documents " +
        "WHERE octet_length(encode(text)) = length(text) " +
        "AND length(text) > 0), " +
        "f AS (SELECT doc_id, text, unnest(generate_series(0, " +
        "CAST(ceil(length(text) / 64.0) AS INT) - 1)) AS i FROM d) " +
        "SELECT doc_id, CAST(i AS INT) AS frame_idx, " +
        "sha256(substring(text, CAST(i * 64 + 1 AS INT), 64)) " +
        "AS frame_hash FROM f WHERE i % 4 = 0 " +
        "ORDER BY doc_id, frame_idx")),
    // semi-structured: JSON field extraction from the events props
    "events_json" -> Query((s, dir) => tbl(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_event"))
      .orderBy("k"),
      Oracle("SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, " +
        "count(*) AS n, min(event_id) AS min_event FROM events " +
        "GROUP BY 1 ORDER BY k")),
    // semi-structured via Spark 4's VARIANT type: parse once, extract
    // typed fields with variant_get — the shredded-JSON path that
    // replaces per-field get_json_object re-parsing at scale
    "events_variant" -> Query((s, dir) => tbl(s, dir, "events")
      .select(try_variant_get(parse_json(col("props")), "$.k", "int")
        .as("k"), col("value"))
      .groupBy(expr("CAST(k DIV 10 AS INT)").as("k_decile"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_value"))
      .orderBy("k_decile"),
      Oracle("SELECT CAST(CAST(props->>'$.k' AS INT) // 10 AS INT) " +
        "AS k_decile, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS sum_value FROM events GROUP BY 1 ORDER BY 1")),
    // mergeable-sketch rollup: one HLL sketch per (event_type, day)
    // slice, merged per event_type with hll_union_agg — the
    // precompute-then-merge pattern that lets 100 TB distinct counts
    // come from slice sketches instead of re-scanning raw data. The
    // estimate must land within 5% of exact (the oracle pins the
    // flag, so a broken merge flips the row red).
    "hll_rollup" -> Query((s, dir) => {
      val ev = tbl(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("d"),
          col("user_id"))
      val daily = ev.groupBy("event_type", "d")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val merged = daily.groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      merged.join(exact, "event_type")
        .select(col("event_type"), col("n_exact"),
          (abs(col("est") - col("n_exact")) / col("n_exact") <= 0.05)
            .cast("int").as("within_5pct"))
        .orderBy("event_type")
    },
      // the within_5pct flag is the contract: DuckDB computes the exact
      // side, the constant 1 flips red if the sketch merge drifts
      Oracle("SELECT event_type, count(DISTINCT user_id) AS n_exact, " +
        "1 AS within_5pct FROM events GROUP BY 1 ORDER BY 1")),
    // dataset-card summary: the one-row corpus overview a training
    // run's data sheet starts from. Distinct counts run as separate
    // distinct+count pipelines crossJoined back (one agg with three
    // countDistincts would plan an Expand multiplying every corpus
    // row 4x through the scan — the melt rule from the profiler)
    "corpus_card" -> Query((s, dir) => {
      val d = tbl(s, dir, "documents")
      val toks = size(TextFunctions.tokens(col("text")))
      val base = d.agg(count(lit(1)).as("n_docs"),
        sum(toks.cast("long")).as("n_tokens"),
        round(avg(toks.cast("double")), 6).as("mean_doc_tokens"),
        round(avg((length(col("text")) === octet_length(col("text")))
          .cast("double")), 6).as("ascii_share"))
      def distinctCount(name: String,
          proj: org.apache.spark.sql.Column) =
        d.select(proj.as("__k")).distinct()
          .agg(count(lit(1)).as(name))
      base
        .crossJoin(broadcast(distinctCount("n_sources", col("source"))))
        .crossJoin(broadcast(distinctCount("n_langs", col("lang"))))
        .crossJoin(broadcast(
          distinctCount("n_distinct_texts", sha2(col("text"), 256))))
        .select(col("n_docs"), col("n_sources"), col("n_langs"),
          col("n_tokens"), col("mean_doc_tokens"), col("ascii_share"),
          (col("n_docs") - col("n_distinct_texts")).as("n_exact_dups"))
    },
      Oracle("SELECT count(*) AS n_docs, " +
        "(SELECT count(DISTINCT source) FROM documents) AS n_sources, " +
        "(SELECT count(DISTINCT lang) FROM documents) AS n_langs, " +
        "CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) " +
        "AS n_tokens, " +
        "round(avg(CAST(len(string_split(lower(text), ' ')) " +
        "AS DOUBLE)), 6) AS mean_doc_tokens, " +
        "round(avg(CASE WHEN length(text) = strlen(text) " +
        "THEN 1.0 ELSE 0.0 END), 6) AS ascii_share, " +
        "count(*) - (SELECT count(DISTINCT sha256(text)) " +
        "FROM documents) AS n_exact_dups FROM documents")),
    // time-series anomaly report: per-day order volume z-scored
    // against the whole series (sample sd), top-10 |z| days. The
    // series is calendar-day-sized, the stats row broadcasts back —
    // one day-keyed aggregation at any corpus size; both engines
    // round z BEFORE ranking so the cut is portable
    "anomaly_days" -> Query((s, dir) => {
      val daily = tbl(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n_orders"))
      val stats = daily.agg(
        avg(col("n_orders").cast("double")).as("__mu"),
        stddev_samp(col("n_orders").cast("double")).as("__sd"))
      daily.crossJoin(broadcast(stats))
        .select(col("d").cast("string").as("d"), col("n_orders"),
          round((col("n_orders").cast("double") - col("__mu")) /
            col("__sd"), 6).as("z"))
        .orderBy(abs(col("z")).desc, col("d"))
        .limit(10)
    },
      Oracle("WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d, " +
        "count(*) AS n_orders FROM orders GROUP BY 1), " +
        "st AS (SELECT avg(CAST(n_orders AS DOUBLE)) AS mu, " +
        "stddev_samp(CAST(n_orders AS DOUBLE)) AS sd FROM daily) " +
        "SELECT CAST(d AS VARCHAR) AS d, n_orders, " +
        "round((CAST(n_orders AS DOUBLE) - mu) / sd, 6) AS z " +
        "FROM daily, st " +
        "ORDER BY abs(round((CAST(n_orders AS DOUBLE) - mu) / sd, 6)) " +
        "DESC, d LIMIT 10")),
    // event analytics: weekly retention cohorts — users bucketed by
    // first-activity epoch week, distinct-active counts per
    // (cohort, week offset). Two user-keyed aggregations and one
    // user-keyed join: every group is user- or cohort-sized
    "retention_cohorts" -> Query((s, dir) => {
      val ev = tbl(s, dir, "events").select(col("user_id"),
        expr("unix_micros(ts) DIV 604800000000").as("wk"))
      val first = ev.groupBy("user_id").agg(min(col("wk")).as("cohort"))
      ev.join(first, "user_id")
        .groupBy(col("cohort"), (col("wk") - col("cohort")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("cohort", "week_offset")
    },
      Oracle("WITH e AS (SELECT user_id, " +
        "epoch_us(ts) // 604800000000 AS wk FROM events), " +
        "f AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY 1) " +
        "SELECT cohort, wk - cohort AS week_offset, " +
        "count(DISTINCT e.user_id) AS n_active " +
        "FROM e JOIN f ON e.user_id = f.user_id " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),
    // streaming: incremental windowed profile + stateful sessionization
    // (flatMapGroupsWithState), plus the window-function batch twin
    // streaming IVM: a foreachBatch sink folds each micro-batch's agg
    // state into a persistent state table; the final rollup must equal
    // the batch recompute (monoid merge ⇒ batch-boundary-independent)
    "streaming_ivm" -> Query((s, dir) =>
      graft.streaming.StreamingIvm.runStreamingIvm(s, dir),
      Oracle("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v, " +
        "min(value) AS min_v, max(value) AS max_v, " +
        "round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) " +
        "/ count(*), 6) AS avg_v, " +
        "count(DISTINCT user_id) AS n_exact, 1 AS within_5pct " +
        "FROM events GROUP BY 1 ORDER BY 1")),
    // streaming ingestion into the snapshot table: each micro-batch
    // is one optimistic fast-append tagged with its batch id (a
    // replayed id is at or below the newest tag — skipped in one
    // manifest read); the committed table must equal the batch
    // replay of the raw log whatever the batch boundaries
    // change-data-feed replication: the mirror tails the source's
    // CDF stream (inserts AND delete keys, _commit_version-ordered
    // apply: appends land as fast appends, erasures as MoR deletes)
    // while an append and an erasure hit the source mid-query — the
    // mirror must equal the source's logical content
    "stream_cdf_replicate" -> Query((s, dir) =>
      graft.streaming.StreamingIvm.runStreamCdfReplicate(s, dir),
      // CDF replication: evens arrive as the initial snapshot, odds as
      // an insert batch, the %6 keys as a delete batch — the mirror is
      // one filter over the raw table
      Oracle("SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders " +
        "WHERE o_orderkey % 6 <> 0 ORDER BY o_orderkey")),
    // streaming CDF → SCD2 (the medallion bronze→silver dimension
    // fold): the silver history tails the bronze table's change feed
    // through the incremental scd2Merge, one rewrite per source
    // commit, idempotent per _commit_version — and must equal the
    // one-shot batch scd2 over the whole log (scd2_history's oracle)
    "stream_scd2" -> Query((s, dir) =>
      graft.streaming.StreamingIvm.runStreamScd2(s, dir),
      // the streaming CDF→SCD2 fold equals the batch rebuild over the
      // whole raw log, whatever the commit/micro-batch boundaries
      Oracle(scd2HistoryOracle)),
    // table-to-table streaming: a graft table READ AS A STREAM
    // (version-id offsets, per-version delta reads) tails into a
    // second graft table through the exactly-once ingest sink — the
    // bronze→silver pipeline shape with both ends on the snapshot
    // layer; a third source append lands while the query runs
    "stream_from_table" -> Query((s, dir) =>
      graft.streaming.StreamingIvm.runStreamFromTable(s, dir),
      // whatever the micro-batch boundaries, tailing the source table
      // into the sink lands the whole log exactly once
      Oracle("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS sum_value FROM events GROUP BY 1 ORDER BY 1")),
    "stream_table_ingest" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/ingest_table_$tag"
      val res = graft.streaming.StreamingIvm.runStreamingTableIngest(s, dir)
      // table-backed scratch contract: self-verify against the batch
      // replay of the raw log, like the rest of the table family
      val expected = graft.sources.EventsSource.read(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
      selfVerified(s, "stream_table_ingest", root, res, expected)
    },
      Oracle("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS sum_value FROM events GROUP BY 1 ORDER BY 1")),
    // streaming dedup-gated ingestion: the continuously-admitting
    // deduplicated corpus loop — intra-batch keep-first, then the
    // Bloom-prefiltered gate against table content, then fast-append;
    // admitted set = "earliest batch wins, min id within batch wins",
    // independent of batch internals (self-verified + oracle-pinned)
    "stream_dedup_ingest" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/dedup_table_$tag"
      val res = graft.streaming.StreamingIvm.runStreamingDedupIngest(s, dir)
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      // replay the staged stream (incl. the planted duplicates), then
      // min(struct(batch, id)) per content = the survivor rule, with
      // no window: earliest batch first, then smallest id
      val streamRows = docs
        .select(col("doc_id"), col("text"),
          when(col("doc_id") < 250, 0).otherwise(1).as("bt"))
        .unionByName(docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
            lit(1).as("bt")))
        .unionByName(docs.where(col("doc_id").between(250, 259))
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
            lit(1).as("bt")))
      val expected = streamRows
        .groupBy(col("text"))
        .agg(min(struct(col("bt"), col("doc_id"))).as("s"))
        .select(col("s.doc_id").as("doc_id"))
        .orderBy("doc_id")
      selfVerified(s, "stream_dedup_ingest", root, res, expected)
    },
      // the streamed dedup gate admits exactly: earliest batch holding
      // the content, smallest doc_id within that batch
      Oracle("WITH b AS (SELECT doc_id, text, " +
        "CASE WHEN doc_id < 250 THEN 0 ELSE 1 END AS bt " +
        "FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, text, 1 FROM documents " +
        "WHERE doc_id < 50 " +
        "UNION ALL SELECT doc_id + 2000000, text, 1 FROM documents " +
        "WHERE doc_id BETWEEN 250 AND 259), " +
        "k AS (SELECT doc_id, bt, " +
        "min(bt) OVER (PARTITION BY text) AS mbt, " +
        "min(doc_id) OVER (PARTITION BY text, bt) AS mid FROM b) " +
        "SELECT doc_id FROM k WHERE bt = mbt AND doc_id = mid " +
        "ORDER BY doc_id")),
    // streaming GDPR erasure: a stream of delete-key requests lands
    // as one merge-on-read commit per micro-batch (O(keys) sidecar,
    // no data rewritten; batch-id-tag idempotent); the surviving
    // content must equal the plain anti-filter whatever the batch
    // boundaries — self-verified against the source before returning
    "stream_gdpr_erasure" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/erase_table_$tag"
      val res = graft.streaming.StreamingIvm.runStreamingGdprErasure(s, dir)
      val expected = tbl(s, dir, "orders")
        .where(!(col("o_orderkey") % 7 === 0 ||
          col("o_orderkey") % 11 === 0))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("sum_price"))
        .orderBy("o_orderstatus")
      selfVerified(s, "stream_gdpr_erasure", root, res, expected)
    },
      // the streamed MoR erasure equals the plain anti-filter of the
      // source, whatever the micro-batch boundaries
      Oracle("SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) " +
        "AS DOUBLE) AS sum_price FROM orders " +
        "WHERE NOT (o_orderkey % 7 = 0 OR o_orderkey % 11 = 0) " +
        "GROUP BY 1 ORDER BY 1")),
    // the full GDPR lifecycle on ONE table through the streaming
    // sinks: ingest stream, erasure stream (MoR sidecars in metadata
    // time), then a re-registration stream for a subset of the erased
    // keys — sequence scoping must surface the re-registered rows,
    // keep the unregistered erasures gone, and resurface no
    // pre-erasure copy, with each stream idempotent in its own tag
    // namespace. The round-10 advice named exactly this combination
    // load-bearing.
    "stream_erase_reingest" -> Query((s, dir) => {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val root = graft.config.Scratch.runDir + s"/reingest_table_$tag"
      val res = graft.streaming.StreamingIvm.runStreamingEraseReingest(s, dir)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      def shape(d: DataFrame) = d
        .groupBy(when(col("o_orderkey") % 14 === 0, "reinserted")
          .when(col("o_orderkey") % 7 === 0, "erased")
          .otherwise("kept").as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("sum_price"))
        .orderBy("grp")
      selfVerified(s, "stream_erase_reingest", root, res,
        shape(o.where(col("o_orderkey") % 7 =!= 0)
          .unionByName(o.where(col("o_orderkey") % 14 === 0)
            .select(col("o_orderkey"),
              (col("o_totalprice") + 1000d).as("o_totalprice")))))
    },
      // the streamed lifecycle equals the same filtered union the batch
      // reinsert contract pins, whatever the micro-batch boundaries
      Oracle("SELECT CASE WHEN o_orderkey % 14 = 0 THEN 'reinserted' " +
        "WHEN o_orderkey % 7 = 0 THEN 'erased' ELSE 'kept' END AS grp, " +
        "CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) " +
        "AS DOUBLE) AS sum_price FROM (" +
        "SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_orderkey % 7 <> 0 " +
        "UNION ALL " +
        "SELECT o_orderkey, o_totalprice + 1000 AS o_totalprice " +
        "FROM orders WHERE o_orderkey % 14 = 0) " +
        "GROUP BY 1 ORDER BY 1")),
    "streaming_profile" -> Query((s, dir) => streamingProfileQuery(s, dir),
      Oracle(streamingProfileOracle)),
    // streaming drift monitor: hourly event-type mix PSI-scored
    // against the full-corpus reference — windowed counts accumulate
    // in the stream, the score is a window-sized batch rollup
    "stream_drift" -> Query((s, dir) =>
      graft.streaming.StreamingProfile.runCategoryDrift(s, dir),
      Oracle(streamDriftOracle)),
    // stream-static broadcast enrichment + windowed agg
    "streaming_enriched" -> Query((s, dir) => streamingEnrichedQuery(s, dir),
      Oracle(streamingEnrichedOracle)),
    "sessionize_batch" -> Query((s, dir) => sessionizeBatchQuery(s, dir),
      Oracle(sessionizeOracle)),
    // Spark's NATIVE session_window in batch mode — same 30-min gap;
    // its merge rule closes a session when the delta is >= gap
    // (window overlap is half-open), vs the custom operator's > gap,
    // so it carries its own >=-semantics oracle; window.end is
    // last event + gap by definition, pinned as-is
    "sessionize_native" -> Query((s, dir) => tbl(s, dir, "events")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"), col("n_events"))
      .orderBy("user_id", "start_us"),
      Oracle("WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events), " +
        "x AS (SELECT user_id, ts_us, CASE WHEN " +
        "lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL " +
        "OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY " +
        s"ts_us) >= $sessionGapUs THEN 1 ELSE 0 END AS new_s FROM e), " +
        "g AS (SELECT user_id, ts_us, sum(new_s) OVER (PARTITION BY " +
        "user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS sid " +
        "FROM x) " +
        "SELECT user_id, min(ts_us) AS start_us, " +
        s"max(ts_us) + $sessionGapUs AS end_us, " +
        "CAST(count(*) AS BIGINT) AS n_events " +
        "FROM g GROUP BY user_id, sid ORDER BY user_id, start_us")),
    "sessionize_stream" -> Query((s, dir) => sessionizeStreamQuery(s, dir),
      Oracle(sessionizeOracle)),
    // streaming benchmark decontamination: a stateless map-side gate
    // (benchmark n-grams ride the plan as a literal — no join state,
    // no watermark); emits the clean doc ids
    "stream_decontaminate" -> Query((s, dir) =>
      graft.streaming.StreamingProfile
        .runStreamingDecontaminate(s, dir).orderBy("doc_id"),
      Oracle(
        "WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t " +
        "FROM documents), " +
        "cg AS (SELECT DISTINCT doc_id, " +
        "unnest(list_transform(generate_series(1, len(t) - 2), " +
        "i -> array_to_string(t[i:i+2], ' '))) AS ng " +
        "FROM tok WHERE len(t) >= 3), " +
        "bg AS (SELECT DISTINCT " +
        "unnest(list_transform(generate_series(1, len(t) - 2), " +
        "i -> array_to_string(t[i:i+2], ' '))) AS ng " +
        "FROM tok WHERE doc_id % 50 = 0 AND len(t) >= 3), " +
        "bad AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (ng)) " +
        "SELECT doc_id FROM documents " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM bad) ORDER BY 1")),
    // streaming exact dedup: watermark-bounded dropDuplicates state;
    // the bounded single-file replay is one micro-batch, so the
    // emitted key set is the exact distinct set (oracle-stable)
    "streaming_dedup" -> Query((s, dir) =>
      graft.streaming.StreamingProfile.runStreamingDedup(s, dir)
        .orderBy("user_id", "event_type"),
      Oracle("SELECT DISTINCT user_id, event_type FROM events " +
        "ORDER BY user_id, event_type")),
    // stream-stream interval join (funnel attribution): watermarked
    // on BOTH sides with a two-sided time bound, so join state stays
    // watermark-horizon-sized; the oracle replays the interval join
    // in batch SQL
    "stream_funnel" -> Query((s, dir) =>
      graft.streaming.StreamingProfile.runFunnel(s, dir)
        .orderBy("purchase_id", "click_id"),
      Oracle("SELECT p.event_id AS purchase_id, c.event_id AS click_id " +
        "FROM events p JOIN events c ON c.user_id = p.user_id " +
        "WHERE p.event_type = 'purchase' AND c.event_type = 'click' " +
        "AND epoch_us(c.ts) <= epoch_us(p.ts) " +
        "AND epoch_us(c.ts) >= epoch_us(p.ts) - 900000000 " +
        "ORDER BY 1, 2"))
  )

  /** The oracle-gated queries: what Verify runs. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.collect { case (k, Query(run, Oracle(_))) => k -> run }

  /** For each key in [[queries]], equivalent ANSI SQL runnable by
    * DuckDB on the same parquet tables.
    */
  def oracleSql: Map[String, String] =
    registry.collect { case (k, Query(_, Oracle(sql))) => k -> sql }

  /** Session-lifetime prebuilt graph indexes keyed by data dir —
    * bounded (one small index per scale dir the bench touches).
    */
  private val graphIdxCache = scala.collection.concurrent.TrieMap
    .empty[String, (DataFrame, DataFrame, DataFrame)]
}
