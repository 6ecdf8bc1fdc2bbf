package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Deduplication operators for the LLM-data-pipeline surface: exact
  * (content-hash groupBy), MinHash+LSH near-dup, SimHash near-dup, and
  * exact n-gram Jaccard with key blocking.
  *
  * Scale design: nothing here ever materializes an all-pairs cross
  * join. Candidates come from equality joins on hash buckets (LSH
  * bands / SimHash chunks / a user blocking key), which shuffle-join on
  * bucket keys and verify only within-bucket pairs — the classic
  * shingle→minhash→band→bucket-join pipeline. Skewed buckets are
  * handled by AQE skew-join splitting.
  */
object Dedup {

  /** Exact dedup via content hash (the groupBy carries a 32-byte key
    * instead of the document body). Output: one row per distinct
    * content, keeping the smallest id, with its multiplicity.
    */
  def exactByContent(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")

  /** Exact dedup with a quality-aware keep policy: within each group
    * of identical content, the row with the highest score survives
    * (ties break to the smallest id) — the production selection rule
    * when duplicates differ in metadata quality. The rank window
    * partitions by content hash, so partitions are duplicate-group
    * sized regardless of corpus size.
    */
  def exactByContentKeepBest(df: DataFrame, idCol: String,
      textCol: String, scoreCol: String): DataFrame = {
    val w = Window.partitionBy(sha2(col(textCol), 256))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** id + SORTED hashed shingle set via the native [[ShingleHashSet]]
    * expression (no shingle strings ever materialize), so Jaccard
    * verification runs as a zero-allocation merge over longs (see
    * SortedIntersectCount — 8-byte compares instead of UTF8String
    * compares). |set| and the intersection count are unchanged by the
    * hashing (a 64-bit collision inside one document — p ≈ |set|²/2⁶⁵
    * — is the only way a Jaccard value could move, negligible and far
    * below the 6-decimal rounding both engines apply). Rows with an
    * empty set dropped.
    */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, blockCol: Option[String] = None): DataFrame =
    df.select(idKeys(idCol, blockCol) :+
        graft.functions.SetExpressions.sortedShingleHashes(
          TextFunctions.tokens(col(textCol)), shingleSize).as("sh"): _*)
      .where(size(col("sh")) > 0)

  /** The id as `id`, plus the optional blocking key as `blk`. */
  private def idKeys(idCol: String, blockCol: Option[String]): Seq[Column] =
    col(idCol).as("id") +: blockCol.map(c => col(c).as("blk")).toSeq

  /** MinHash-LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * banding: b bands of r rows (b*r = numHashes); two docs collide if
    * any band hashes equal. With b=16, r=4 the s-curve catches
    * Jaccard≥0.7 with probability ≥ 1-(1-0.7^4)^16 ≈ 0.99 (and ≈1.0 at
    * 0.9). Collisions are then verified with the exact Jaccard on the
    * shingle sets, so false positives never ship — the LSH only bounds
    * the candidate count.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sets = shingleSets(df, idCol, textCol, shingleSize)
    val cand = minhashCandidates(df, idCol, textCol, numHashes, bands,
      shingleSize)
    verifyJaccard(cand, sets, threshold).orderBy("id_a", "id_b")
  }

  /** The LSH candidate stage of [[minhashPairs]], unverified:
    * distinct (id_a, id_b) pairs colliding in at least one band.
    * Exposed for [[minhashEval]] so the candidate set can be graded
    * against exact ground truth without the verification filter
    * hiding the false positives.
    */
  private[graft] def minhashCandidates(df: DataFrame, idCol: String,
      textCol: String, numHashes: Int, bands: Int,
      shingleSize: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    bucketPairs(bandBuckets(df, idCol, textCol, numHashes, bands,
      shingleSize), Seq("band", "bh"))
  }

  /** LSH band buckets: one (id, [blk,] band, bh) row per document and
    * band, `bh` being band `band`'s 64-bit key over its
    * numHashes/bands signature lanes. One native expression
    * ([[graft.functions.MinHashBandKeys]]) reads the raw tokens and
    * returns every band key as `array<long>` (no shingle strings, no
    * per-band lambdas, no signature column); `posexplode` turns it into
    * rows, and a document with fewer than `shingleSize` tokens (NULL
    * keys) yields none. Collision contract: two documents share a
    * bucket when that band's lanes are equal, and otherwise only on a
    * 64-bit key collision, which the exact-Jaccard verification drops.
    */
  private def bandBuckets(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, shingleSize: Int,
      blockCol: Option[String] = None): DataFrame =
    df.select(idKeys(idCol, blockCol) :+
      posexplode(graft.functions.MinHashExpression.minhashBandKeys(
        TextFunctions.tokens(col(textCol)), numHashes, shingleSize, bands))
        .as(Seq("band", "bh")): _*)

  /** Distinct (id_a, id_b) pairs sharing a bucket of `keys`, in one
    * branch over one exchange of the bucket rows.
    *
    * Count gate: a `count` window over the bucket keys (a sort-based,
    * spillable operator over fixed-width rows) sizes every bucket
    * first, and singleton buckets (nearly every row of a corpus) leave
    * before any object aggregate sees them.
    *
    * Replicated cell blocks: a bucket of n ids splits into
    * nc = ceil(n / [[maxLshBucket]]) cells by `pmod(xxhash64(id), nc)`
    * (nc = 1 below the cap), and each row goes to its nc cell-pair
    * blocks (least(home, d), greatest(home, d)). One groupBy over
    * (keys, lo, hi), which the window's exchange already clusters,
    * collects the ids of the `lo` and the `hi` cell; a diagonal block
    * expands the pairs of its sorted ids, an off-diagonal block the
    * cross product of its two cells. Every in-bucket pair is emitted
    * once per bucket, no task expands more than O(cap²) pairs however
    * hot the bucket, and nothing joins or re-reads the exchange. Pairs
    * colliding in several bands are emitted once per band and removed
    * by the final distinct.
    */
  private def bucketPairs(buckets: DataFrame, keys: Seq[String]): DataFrame = {
    val k = keys.map(col)
    val cells = buckets
      .withColumn("n", count(lit(1)).over(Window.partitionBy(k: _*)))
      .where(col("n") > 1)
      .withColumn("nc", ceil(col("n") / maxLshBucket).cast("int"))
      .withColumn("home", pmod(xxhash64(col("id")), col("nc")).cast("int"))
      .withColumn("d", explode(sequence(lit(0), col("nc") - 1)))
      .withColumn("lo", least(col("home"), col("d")))
      .withColumn("hi", greatest(col("home"), col("d")))
    cells
      .groupBy(k ++ Seq(col("lo"), col("hi")): _*)
      .agg(collect_list(when(col("home") === col("lo"), col("id"))).as("a"),
        collect_list(when(col("home") =!= col("lo"), col("id"))).as("b"))
      .where(size(col("a")) + size(col("b")) > 1)
      .select(col("lo"), col("hi"), array_sort(col("a")).as("a"), col("b"))
      .select(explode(when(col("lo") === col("hi"), pairsOf(col("a")))
        .otherwise(flatten(transform(col("a"), x => transform(col("b"),
          y => struct(least(x, y).as("id_a"), greatest(x, y).as("id_b"))))))
      ).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** The most ids a bucket of [[bucketPairs]] expands in one cell:
    * larger buckets split into ceil(n / cap) cells, and every task
    * then expands at most two cells' worth of pairs. Overridable
    * (system property) so the spec can force the replicated blocks on
    * a small corpus and prove them pair-identical to the direct
    * expansion.
    */
  private[graft] def maxLshBucket: Int =
    sys.props.get("graft.lsh.bucket.cap").map(_.toInt).getOrElse(1024)

  /** Measure, don't guess: precision/recall of the MinHash-LSH
    * candidate stage against EXACT ground truth, on an evaluation
    * sample — the harness that justifies a banding config before it
    * runs over a corpus. Ground truth comes from an inverted-index
    * similarity join (docs sharing ≥1 shingle, then exact Jaccard):
    * any pair with Jaccard > 0 shares a shingle, so the pair set is
    * complete — no LSH involved on the truth side. That join is
    * quadratic in a shingle's document frequency, which is exactly
    * why it only ever runs on the bounded eval sample (`sampleLimit`
    * ids) while the LSH path under test is the corpus-scale design.
    *
    * Output is one contract row: the exact pair count plus
    * measured-floor booleans (cast to int for oracle stability) —
    * precision/recall themselves depend on the hash family, so the
    * oracle pins the exact side and the floors, not the raw ratios.
    */
  def minhashEval(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, sampleLimit: Long,
      precisionFloor: Double, recallFloor: Double,
      numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3): DataFrame = {
    val sample = df.where(col(idCol) < sampleLimit)
    val sets = shingleSets(sample, idCol, textCol, shingleSize)
    val inv = sets.select(col("id"), explode(col("sh")).as("g"))
    val truthCand = inv.as("a").join(inv.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val truth = verifyJaccard(truthCand, sets, threshold)
      .select("id_a", "id_b")
    val cand = minhashCandidates(sample, idCol, textCol, numHashes,
      bands, shingleSize)
    val graded = cand.withColumn("in_cand", lit(1))
      .join(truth.withColumn("in_true", lit(1)),
        Seq("id_a", "id_b"), "full_outer")
      .agg(
        count(when(col("in_cand").isNotNull &&
          col("in_true").isNotNull, 1)).as("tp"),
        count(col("in_cand")).as("n_cand"),
        count(col("in_true")).as("n_true"))
    graded.select(col("n_true"),
      (col("tp").cast("double") / col("n_cand") >= precisionFloor)
        .cast("int").as("precision_ok"),
      (col("tp").cast("double") / col("n_true") >= recallFloor)
        .cast("int").as("recall_ok"))
  }

  /** Near-duplicate-aware incremental admission — the MinHash twin of
    * [[incrementalNew]]: admit only batch docs with NO near-duplicate
    * (exact Jaccard ≥ threshold) in the seen corpus. The scale shape
    * is what matters: batch and seen band-bucket SEPARATELY and the
    * candidate join is new-side buckets EQUI-JOINED to seen-side
    * buckets — seen×seen pairs are never generated, so each batch
    * costs O(batch signatures + bucket collisions), not a corpus
    * re-pairing (production keeps the seen bucket table as a
    * persisted index and this join probes it). Ids must be distinct
    * across the two inputs. Within-batch duplicates are the batch's
    * own dedup pass; this operator gates against history.
    */
  def incrementalNearNew(batch: DataFrame, seen: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.7,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3)
      : DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def bucketsOf(df: DataFrame, id: String): DataFrame =
      bandBuckets(df, idCol, textCol, numHashes, bands, shingleSize)
        .select(col("band"), col("bh"), col("id").as(id))
    val cand = bucketsOf(batch, "id_a")
      .join(bucketsOf(seen, "id_b"), Seq("band", "bh"))
      .select(col("id_a"), col("id_b")).distinct()
    val sets = shingleSets(
      batch.select(col(idCol), col(textCol))
        .unionByName(seen.select(col(idCol), col(textCol))),
      idCol, textCol, shingleSize)
    val dup = verifyJaccard(cand, sets, threshold)
      .select(col("id_a").as(idCol)).distinct()
    batch.join(dup, Seq(idCol), "left_anti")
  }

  /** All ordered pairs (a < b) of a sorted id array, as structs.
    * `ids` is referenced inside the lambdas, so it must be a bound
    * column, not an expression: higher-order functions run
    * interpreted and would re-evaluate it (an `array_sort`, say) for
    * every emitted pair.
    */
  private def pairsOf(ids: Column): Column =
    flatten(transform(sequence(lit(0), size(ids) - 2), i =>
      transform(slice(ids, i + lit(2), size(ids)),
        y => struct(element_at(ids, i + lit(1)).as("id_a"),
          y.as("id_b")))))

  /** Join candidate pairs back to their shingle sets and keep those
    * with exact Jaccard ≥ threshold (see [[jaccardAtLeast]]).
    */
  private def verifyJaccard(cand: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame = {
    val sa = sets.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val sb = sets.select(col("id").as("id_b"), col("sh").as("sh_b"))
    jaccardAtLeast(cand.join(sa, "id_a").join(sb, "id_b"), threshold)
  }

  /** (id_a, id_b, jac) for the (id_a, id_b, sh_a, sh_b) pairs with
    * exact Jaccard ≥ threshold (rounded at 6 decimals so the
    * comparison is oracle-stable). A size-ratio prefilter runs before
    * the merge: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so any pair whose
    * set sizes differ by more than the threshold ratio cannot qualify —
    * the check is exact (never drops a qualifying pair; at threshold
    * 0.9 it skips the linear merge for every candidate pair whose sizes
    * differ >10%).
    */
  private def jaccardAtLeast(pairs: DataFrame,
      threshold: Double): DataFrame =
    pairs
      .where(size(col("sh_a")).cast("double") >=
          lit(threshold) * size(col("sh_b")) &&
        size(col("sh_b")).cast("double") >=
          lit(threshold) * size(col("sh_a")))
      .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
      .where(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")

  /** Exact Jaccard of two SORTED distinct-element arrays: the
    * intersection is a codegen'd linear merge and |A∪B| is derived as
    * |A|+|B|-|A∩B| — no set materialization at all. Value identical
    * to the array_intersect/array_union formulation (same integers,
    * same division).
    */
  private def jaccard(a: Column, b: Column): Column = {
    val inter = graft.functions.SetExpressions.sortedIntersectCount(a, b)
    round(inter.cast("double") / (size(a) + size(b) - inter), 6)
  }

  /** n-gram Jaccard pairs restricted to a blocking key (e.g. source/
    * domain/length-bucket), with the per-block quadratic blow-up
    * BOUNDED: blocks up to `maxBlockSize` rows run the exact all-pairs
    * block join (cheapest at small block sizes — the common case), and
    * oversized blocks spill to MinHash-band sub-bucketing, where
    * candidates are pairs agreeing on (block, band, band-hash). Exact
    * Jaccard verifies every candidate either way, so precision is
    * always exact; on the banded path the band count is scaled to the
    * THRESHOLD automatically — caller-provided `bands` is a floor, and
    * whenever (1-threshold^rows)^bands exceeds `missTarget` the band
    * count is raised until a qualifying pair at exactly `threshold` is
    * missed with probability ≤ missTarget (at 0.9 the default 16×4
    * already gives ≈4e-8; at 0.7 the same shape would silently miss
    * ≈1.2e-2 of pairs, so it auto-raises to 34 bands ≈ 1e-4). The
    * spill is also logged, so callers on the probabilistic path know
    * it. A million-doc block costs ~bands·1M band rows instead of
    * ~5e11 comparisons; per-block exact cost is capped at
    * maxBlockSize²/2 cheap sorted-merge pairs.
    */
  def blockedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double, shingleSize: Int = 1,
      numHashes: Int = 64, bands: Int = 16,
      maxBlockSize: Int = 4096, missTarget: Double = 1e-4,
      sorted: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val (r, b) = bandingFor(threshold, numHashes / bands, bands, missTarget)
    if (b != bands)
      log.warn(s"blockedJaccardPairs: raising bands $bands -> $b " +
        s"(rows=$r, ${r * b} hashes/doc) so the banded spill path " +
        s"misses a Jaccard=$threshold pair with p <= $missTarget")
    val counts = df.groupBy(col(blockCol).as("__blk"))
      .agg(count(lit(1)).as("__blk_n"))
    val withN = df.join(counts, col(blockCol) === col("__blk"))
    val exact = exactPairsInBlocks(
      withN.where(col("__blk_n") <= maxBlockSize),
      idCol, textCol, blockCol, threshold, shingleSize)
    val banded = bandedPairsInBlocks(
      withN.where(col("__blk_n") > maxBlockSize),
      idCol, textCol, blockCol, threshold, shingleSize, r * b, b)
    val pairs = exact.unionByName(banded)
    // `sorted = false` skips the trailing GLOBAL sort (a range
    // exchange + its sampling pass) for consumers that feed the pairs
    // into order-insensitive downstream work — duplicateClusters'
    // min-aggregation, savings joins (optimization r18, guide §2.4:
    // "an orderBy used only to make output deterministic" is an
    // accidental Exchange when the caller aggregates anyway).
    if (sorted) pairs.orderBy("id_a", "id_b") else pairs
  }

  /** Hard ceiling on the auto-raised band count: 64 bands × rows-per-
    * band hashes per document is the most signature the spill path may
    * silently cost a caller (ADVICE r4 — threshold 0.5 would otherwise
    * auto-raise to 143 bands, 0.3 to ~1,100, a memory/shuffle cliff
    * nobody asked for). Callers who truly want looser thresholds must
    * pass `bands` explicitly, making the cost visible at the call site.
    */
  private[operators] val MaxAutoBands = 64

  /** (rows, bands) for the banded spill path: keeps the caller's
    * rows-per-band and raises the band count until a pair at exactly
    * `threshold` is missed with probability (1-t^r)^b ≤ missTarget,
    * capped at [[MaxAutoBands]]. Never weakens a caller's explicit
    * choice — bands only go up.
    */
  private[operators] def bandingFor(threshold: Double, rows: Int,
      bands: Int, missTarget: Double): (Int, Int) = {
    val missPerBand = 1.0 - math.pow(threshold, rows)
    if (math.pow(missPerBand, bands) <= missTarget) (rows, bands)
    else {
      val need = math.ceil(math.log(missTarget) / math.log(missPerBand))
      val capped = math.min(MaxAutoBands.toDouble, need).toInt
      if (need > MaxAutoBands)
        log.warn(s"bandingFor: capping band count at $MaxAutoBands " +
          s"(miss target $missTarget at Jaccard=$threshold wanted " +
          s"${need.toInt} bands = ${need.toInt * rows} hashes/doc; " +
          s"capped run uses ${MaxAutoBands * rows} hashes/doc and " +
          f"misses a threshold pair with p <= ${math.pow(missPerBand,
            MaxAutoBands)}%.2g). Pass bands explicitly to go looser.")
      (rows, math.max(bands, capped))
    }
  }

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(Dedup.getClass)

  /** Near-SUBSET detection: pairs whose smaller shingle set is almost
    * contained in the larger — containment |A∩B| / min(|A|, |B|) ≥
    * threshold. Catches the expansion/quotation duplicates symmetric
    * Jaccard structurally misses: a document pasted verbatim inside
    * one 5× longer scores containment 1.0 but Jaccard ≈ 0.2. Same
    * bounded-block exact shape (and salt fan-out) as
    * [[exactBlockedJaccardPairs]], O(block²) by the blocking-key
    * contract; NO size prefilter is possible here — wildly
    * asymmetric pairs are exactly the targets.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double, shingleSize: Int = 1,
      salts: Int = 8): DataFrame = {
    val inter = graft.functions.SetExpressions
      .sortedIntersectCount(col("sh_a"), col("sh_b"))
    blockPairs(shingleSets(df, idCol, textCol, shingleSize, Some(blockCol)),
        salts)
      .withColumn("containment", round(inter.cast("double") /
        least(size(col("sh_a")), size(col("sh_b"))), 6))
      .where(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
      .orderBy("id_a", "id_b")
  }

  /** Exact all-pairs n-gram Jaccard within blocks — O(block²), complete
    * by construction. Only for callers that can BOUND the block size
    * (e.g. ≤ a few thousand rows); [[blockedJaccardPairs]] applies the
    * bound automatically and spills oversized blocks to banding.
    */
  def exactBlockedJaccardPairs(df: DataFrame, idCol: String,
      textCol: String, blockCol: String, threshold: Double,
      shingleSize: Int = 1): DataFrame =
    exactPairsInBlocks(df, idCol, textCol, blockCol, threshold,
      shingleSize).orderBy("id_a", "id_b")

  private def exactPairsInBlocks(df: DataFrame, idCol: String,
      textCol: String, blockCol: String, threshold: Double,
      shingleSize: Int): DataFrame =
    jaccardAtLeast(blockPairs(
      shingleSets(df, idCol, textCol, shingleSize, Some(blockCol)),
      salts = 8), threshold)

  /** Every (id_a < id_b) pair of block-keyed shingle sets
    * (id, blk, sh) sharing a block, as (blk, salt, id_a, sh_a, id_b,
    * sh_b). The join key is salted: a block key alone gives at most
    * #blocks-way parallelism (20 sources → 20 tasks); side A takes one
    * salt per row, side B replicates across all salts, so the same
    * pairs surface (each once, thanks to the id_a < id_b filter) across
    * #blocks × salts partitions.
    */
  private def blockPairs(sets: DataFrame, salts: Int): DataFrame = {
    val a = sets.select(col("blk"),
      pmod(xxhash64(col("id")), lit(salts)).as("salt"),
      col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sets.select(col("blk"),
      explode(sequence(lit(0L), lit(salts - 1L))).as("salt"),
      col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("blk", "salt")).where(col("id_a") < col("id_b"))
  }

  /** Banded candidate generation within blocks (the oversized-block
    * spill path of [[blockedJaccardPairs]]): [[minhashPairs]]' band
    * buckets and salted pair expansion, bucketed by (block, band,
    * band-hash), so an oversized block of identical documents is
    * salted like any hot LSH bucket.
    */
  private def bandedPairsInBlocks(df: DataFrame, idCol: String,
      textCol: String, blockCol: String, threshold: Double,
      shingleSize: Int, numHashes: Int, bands: Int): DataFrame = {
    val cand = bucketPairs(bandBuckets(df, idCol, textCol, numHashes,
      bands, shingleSize, Some(blockCol)), Seq("blk", "band", "bh"))
    verifyJaccard(cand, shingleSets(df, idCol, textCol, shingleSize),
      threshold)
  }

  /** Cross-source near-duplicate overlap report: aggregates any pair
    * set (MinHash, SimHash, embedding — anything shaped (id_a, id_b))
    * by UNORDERED source pair. The curation question it answers: which
    * pairs of sources mirror each other's content (high off-diagonal
    * counts → scrape overlap; high diagonal → within-source
    * duplication). Two id-keyed joins against the id→source
    * projection; the pair side is the small one at any scale (pair
    * mining already bucketed it), so this adds no all-pairs work.
    */
  def crossSourceOverlap(pairs: DataFrame, docs: DataFrame,
      idCol: String, sourceCol: String): DataFrame = {
    val src = docs.select(col(idCol), col(sourceCol))
    pairs
      .join(src.select(col(idCol).as("id_a"),
        col(sourceCol).as("__src_a")), Seq("id_a"))
      .join(src.select(col(idCol).as("id_b"),
        col(sourceCol).as("__src_b")), Seq("id_b"))
      .select(least(col("__src_a"), col("__src_b")).as("source_a"),
        greatest(col("__src_a"), col("__src_b")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** Connected components over a near-duplicate pair set — the step
    * that turns pairwise matches into a per-document keep/drop
    * decision (every document maps to its component's minimum id as
    * the canonical representative).
    *
    * Hash-to-min label propagation with pointer-doubling: each round
    * every node first takes the min label among itself and its
    * neighbors (one-hop propagation), then shortcuts through its
    * label's own label (label[id] := min(label[id], label[label[id]])),
    * so label distance to the component minimum roughly halves per
    * round — near-dup components converge in 1-2 rounds instead of
    * diameter rounds. Each round is key-partitioned shuffle joins +
    * one aggregation — the standard cluster-scale connected-components
    * shape, no driver-side graph state.
    *
    * Fault tolerance: by default each round cuts lineage with an eager
    * `localCheckpoint` (fast, but executor-local — a lost executor
    * kills the job because lineage is gone). For real clusters pass
    * `checkpointDir` (a DFS path): labels are then persisted to
    * parquet each round (two alternating files, bounded storage) and
    * survive any executor loss. Convergence is checked every
    * `checkEvery` rounds via EDGE-CONSISTENCY — stop when every edge
    * has the same label at both ends. That state implies labels equal
    * the component minimum (the min keeps its own label forever: no
    * smaller id exists in its component to displace it, so a
    * label-constant component is pinned at the min), and unlike a
    * "no-change round" test it can stop after round one — the common
    * case, since near-dup clusters are clique-like and one-hop + the
    * shortcut reach the min immediately. The check is two joins over
    * the already-materialized edges and labels, far cheaper than the
    * extra full round the no-change test would run.
    *
    * Output: (doc_id, cluster_rep) for every document appearing in at
    * least one pair; `doc_id == cluster_rep` marks the canonical
    * survivor.
    *
    * Size-gated driver fast path (optimization r18, guide §1.2): the
    * near-dup pair set is usually orders of magnitude smaller than
    * the corpus (it is the OUTPUT of a ≥threshold verifier). When the
    * materialized edge count is at or under `driverGateEdges`
    * (default 1M pairs ≈ 16 MB of longs — same spirit as the engine's
    * size-gated broadcast hints) and the id type is integral, the
    * components run as a driver-side min-root union-find over the
    * already-materialized rows, read by one bounded collect of at most
    * `driverGateEdges` + 1 rows that is also the size probe (a null id
    * in them sends the graph to the distributed rounds): identical
    * labels by construction (the root of every union is the smaller
    * id, so each node's find
    * terminates at its component minimum — exactly the distributed
    * rounds' fixpoint), at zero shuffle rounds. Per-stage metrics
    * showed the distributed rounds' cost on bench-scale graphs was
    * ~100% scheduling (≤0.4 s of task time under 4.5 s of wall);
    * above the gate — the 100 TB shape — the pointer-doubling rounds
    * run unchanged. Pinned by DedupSimilaritySpec's gate tests.
    */
  def duplicateClusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", checkpointDir: Option[String] = None,
      checkEvery: Int = 1, maxRounds: Int = 50,
      driverGateEdges: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    def materialize(df: DataFrame, name: String): DataFrame =
      checkpointDir match {
        case Some(dir) =>
          val path = s"$dir/$name"
          df.write.mode("overwrite").parquet(path)
          spark.read.parquet(path)
        case None => df.localCheckpoint(true)
      }
    // materialize the PAIRS once — the pair computation upstream (LSH
    // + verification) must not re-run per propagation round, and the
    // two-direction union below references it twice (materializing
    // after the union would execute the pair pipeline twice — measured
    // ~2x the pair cost at sf0.1). The union itself is a trivial
    // narrow op over the materialized rows, fine to recompute each
    // round. No distinct: pair generators emit each undirected pair
    // once (id_a < id_b), so the union is duplicate-free by
    // construction, and min-aggregation is insensitive to duplicate
    // edges anyway — a distinct here would be a pure extra shuffle.
    val p = materialize(
      pairs.select(col(idA).as("src"), col(idB).as("dst")), "cc_pairs")
    // gate conditions (ADVICE r18): BOTH id columns must share one
    // integral type (mixed Int/Long would emit the wider ids through
    // the head column's narrower type) and carry no nulls (the driver
    // union-find has no null arithmetic; the distributed rounds
    // tolerate them). One bounded collect of at most gate + 1 edges is
    // both the size probe and, under the gate, the driver's input.
    val idTypes = p.schema.fields.map(_.dataType)
    val integralIds = idTypes(0) == idTypes(1) && idTypes.forall(t =>
      t == org.apache.spark.sql.types.LongType ||
      t == org.apache.spark.sql.types.IntegerType)
    if (integralIds) {
      val probe = (math.min(math.max(driverGateEdges, 0L),
        Int.MaxValue - 1L) + 1).toInt
      val head = p.limit(probe).collect()
      if (head.length <= driverGateEdges &&
          !head.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
        val out = driverComponents(head, p)
        // the gate path is done with the materialized pairs the moment
        // they are collected — release the checkpoint pin (RDD-level;
        // Dataset.unpersist does not see localCheckpoint blocks)
        scala.util.Try(
          org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpointed(p))
        return out
      }
    }
    var edges = p.unionByName(
      p.select(col("dst").as("src"), col("src").as("dst")))
    var labels = materialize(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")), "cc_labels_init")
    // components proven final at a convergence check are FROZEN out of
    // later rounds: their labels accumulate here and their edges leave
    // the per-round shuffles, so late rounds (the long tail of a
    // high-diameter graph) shuffle only the still-moving minority
    // instead of the full edge set every round
    var frozen: Option[DataFrame] = None
    var converged = false
    var round = 0
    // alternation index for the CHECK-path ping-pong. Keyed by check
    // COUNT, not round: with an even checkEvery every check lands on
    // the same round%2 parity, and a materialize would overwrite the
    // very cc_frozen_/cc_edges_ parquet it is reading
    var checkIdx = 0
    while (!converged && round < maxRounds) {
      round += 1
      // one-hop: min label among self and neighbors
      val viaNeighbors = edges
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .select(col("src").as("id"), col("label"))
      val oneHop = labels.unionByName(viaNeighbors)
        .groupBy("id").agg(min(col("label")).as("label"))
      // pointer-doubling: shortcut through the label's own label.
      // Labels are always node ids, so the self-join hits.
      val doubled = oneHop
        .join(oneHop.select(col("id").as("label"),
          col("label").as("label2")), Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("label2"), col("label")))
            .as("label"))
      labels = materialize(doubled, s"cc_labels_${round % 2}")
      if (round % checkEvery == 0 || round == maxRounds) {
        checkIdx += 1
        val edgeLabels = edges
          .join(labels.select(col("id").as("src"),
            col("label").as("__ls")), Seq("src"))
          .join(labels.select(col("id").as("dst"),
            col("label").as("__ld")), Seq("dst"))
        // every label of an inconsistent edge marks its group as
        // still moving; label-consistent GROUPS are closed (any edge
        // leaving a group is inconsistent, so a fully-consistent
        // group has no outside edge) and therefore final
        val moving = materialize(edgeLabels
          .where(col("__ls") =!= col("__ld"))
          .select(explode(array(col("__ls"), col("__ld"))).as("label"))
          .distinct(), s"cc_moving_${checkIdx % 2}")
        converged = moving.isEmpty
        if (!converged) {
          val fin = labels.join(moving, Seq("label"), "left_anti")
          frozen = Some(frozen match {
            case Some(d) => materialize(d.unionByName(fin),
              s"cc_frozen_${checkIdx % 2}")
            case None => materialize(fin, s"cc_frozen_${checkIdx % 2}")
          })
          labels = materialize(
            labels.join(moving, Seq("label"), "left_semi"),
            s"cc_labels_live_${checkIdx % 2}")
          // a consistent edge carries its group's label on both ends,
          // an inconsistent edge has both ends marked moving — so
          // src-label membership alone decides edge liveness
          edges = materialize(edgeLabels
            .join(moving.select(col("label").as("__ls")), Seq("__ls"),
              "left_semi")
            .select(col("src"), col("dst")), s"cc_edges_${checkIdx % 2}")
        }
      }
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge within $maxRounds rounds " +
          "(labels would be wrong — raise maxRounds; pointer-doubling " +
          "needs ~log2(longest path) rounds)")
    log.info(s"duplicateClusters converged after $round rounds")
    frozen.map(_.unionByName(labels)).getOrElse(labels)
      .select(col("id").as("doc_id"), col("label").as("cluster_rep"))
      .orderBy("doc_id")
  }

  /** Driver-side min-root union-find over the collected rows `edges`
    * of a gate-small materialized edge set `p` — [[duplicateClusters]]'
    * fast path. Every union hangs the LARGER root under the smaller,
    * so each component's final root is its minimum id: the same
    * (doc_id, min-of-component) labels the distributed pointer-doubling
    * rounds converge to.
    */
  private def driverComponents(edges: Array[org.apache.spark.sql.Row],
      p: DataFrame): DataFrame = {
    val spark = p.sparkSession
    val idType = p.schema.head.dataType
    val parent = new java.util.HashMap[Long, Long]()
    def add(x: Long): Unit =
      if (!parent.containsKey(x)) { parent.put(x, x); () }
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) {
        val nx = parent.get(c); parent.put(c, r); c = nx
      }
      r
    }
    edges.foreach { row =>
      val a = row.get(0).asInstanceOf[Number].longValue
      val b = row.get(1).asInstanceOf[Number].longValue
      add(a); add(b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        ()
      }
    }
    import scala.jdk.CollectionConverters._
    val isLong = idType == org.apache.spark.sql.types.LongType
    def lit_(v: Long): Any =
      if (isLong) java.lang.Long.valueOf(v)
      else java.lang.Integer.valueOf(v.toInt)
    val rows: Seq[org.apache.spark.sql.Row] =
      parent.keySet().asScala.toSeq.sorted.map { id =>
        org.apache.spark.sql.Row(lit_(id), lit_(find(id)))
      }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", idType,
        nullable = false),
      org.apache.spark.sql.types.StructField("cluster_rep", idType,
        nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .orderBy("doc_id")
  }

  /** Incremental exact dedup for continuous ingestion: the rows of
    * `newDf` whose content does NOT already appear in `seenDf` — the
    * every-batch operation of a pipeline that keeps admitting data
    * into a deduplicated corpus.
    *
    * Two-stage plan, exact result: a Bloom filter of the seen side's
    * content hashes (Spark's own BloomFilterAggregate — mergeable,
    * map-side combined) prunes the new side first; rows the filter
    * definitely hasn't seen pass through with NO join at all, and only
    * the might-contain rows (true duplicates + the filter's ~3% false
    * positives) pay the exact anti-join on the content hash. With
    * mostly-new batches — the common ingestion case — almost nothing
    * shuffles. The Bloom binary rides into the new side as a literal
    * (Spark's own runtime-filter mechanism inlines the same binary as
    * a subquery result). `expectedSeen` sizes the filter; the default
    * 0 means ADAPTIVE — one cheap `count()` of the seen side (a
    * parquet metadata read when nothing upstream filters it) sizes
    * the filter to the corpus, so a growing seen set never silently
    * saturates a fixed-size filter into fpp decay (the r9 scale-smoke
    * regression: a 1e6-item constant at a 10x corpus drove the 10x
    * ratio to 4.25 as every row fell through to the anti-join).
    * Spark still clamps at its runtime-filter ceilings (4e6 items /
    * 8 MB bits by default) — past those the fpp rises gracefully:
    * false positives only add anti-join traffic, never errors.
    */
  def incrementalNew(newDf: DataFrame, seenDf: DataFrame,
      textCol: String, expectedSeen: Long = 0L): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

    // adaptive sizing needs the seen side TWICE eagerly (count, then
    // the Bloom aggregate) — persist the 8-byte hash projection
    // around that pair so an expensive upstream computation is not
    // evaluated twice for the default (round-10 advice); both uses
    // are eager, so the cache is dropped before returning and the
    // lazy anti-join below re-derives the seen side exactly once at
    // execution, same as the fixed-size path
    val hashes = seenDf.select(xxhash64(col(textCol)).as("__h64"))
    val adaptive = expectedSeen <= 0
    val hsrc = if (adaptive) hashes.persist() else hashes
    val sized = if (adaptive) math.max(1024L, hsrc.count())
      else expectedSeen
    val bloomCol = ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(col("__h64")), sized)
        .toAggregateExpression())
    val bloomBytes =
      try hsrc.agg(bloomCol.as("bf")).head().getAs[Array[Byte]](0)
      finally if (adaptive) { hsrc.unpersist(); () }
    // empty seen corpus: the aggregate evals to NULL and might_contain
    // would go NULL too, silently dropping every row — everything is
    // new, return the batch as-is
    if (bloomBytes == null) return newDf
    val newCols = newDf.columns.map(c => col(s"`$c`")).toSeq
    val might = ColumnBridge.column(BloomFilterMightContain(
      ColumnBridge.expression(lit(bloomBytes)),
      ColumnBridge.expression(xxhash64(col(textCol)))))
    val definitelyNew = newDf.where(!might)
    val seenHashes = seenDf
      .select(sha2(col(textCol), 256).as("__sha")).distinct()
    val verifiedNew = newDf.where(might)
      .withColumn("__sha", sha2(col(textCol), 256))
      .join(seenHashes, Seq("__sha"), "left_anti")
      .select(newCols: _*)
    definitelyNew.unionByName(verifiedNew)
  }

  /** SimHash near-duplicate pairs with Hamming distance ≤ maxHamming.
    * The signature is the native 64-bit SimHash
    * ([[graft.functions.SimHash64]]): bit i is the majority vote of bit
    * i of the token hash across the token multiset.
    *
    * Candidate generation blocks on 4 disjoint 16-bit chunks of the
    * signature: any pair within Hamming distance 3 is identical in at
    * least one chunk (pigeonhole), so for maxHamming ≤ 3 the blocking
    * is COMPLETE — same-chunk equality join, then exact bit_count
    * verification. No all-pairs comparison anywhere.
    *
    * `replayableHash = true` swaps the xxh64 token hash for the
    * SQL-expressible LCG fold ([[graft.functions.PolySimHash64]]) so a
    * DuckDB oracle can replay the whole pipeline bit-for-bit; blocking
    * completeness is hash-independent, so both variants share the
    * plan shape. Production default stays xxh64.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, replayableHash: Boolean = false): DataFrame = {
    require(maxHamming <= 3,
      "4-chunk blocking is only complete for maxHamming <= 3")
    val sigOf: Column => Column =
      if (replayableHash) graft.functions.SetExpressions.polySimhash64
      else graft.functions.SetExpressions.simhash64
    val base = df.select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) > 0)
      .withColumn("sim", sigOf(col("toks")))
      .select("id", "sim")
    chunkBlockedPairs(base, maxHamming)
  }

  /** Shared candidate engine for the 4×16-bit pigeonhole pipelines:
    * `base` carries (id, sim). The chunk self-join runs over DISTINCT
    * hash values, not rows — a pile of byte-identical inputs (one
    * hash, thousands of ids) contributes ONE row per chunk to the
    * join instead of a quadratic bucket, and the id expansion at the
    * end is output-sized (those pairs genuinely belong in the
    * result). The hamming verify runs BEFORE the pair-dedup shuffle,
    * so rejected candidates (the large majority at maxHamming=3 on
    * 64 bits) never enter the distinct's exchange.
    */
  private def chunkBlockedPairs(base: DataFrame,
      maxHamming: Int): DataFrame = {
    val uniq = base.select("sim").distinct()
    val chunks = uniq.select(col("sim"),
      explode(expr("transform(sequence(0, 3), j -> " +
        "struct(j AS chunk, (shiftright(sim, j * 16) & 65535) AS ch))"))
        .as("c"))
      .select(col("sim"), col("c.chunk").as("chunk"),
        col("c.ch").as("ch"))
    val a = chunks.select(col("chunk"), col("ch"), col("sim").as("sim_a"))
    val b = chunks.select(col("chunk"), col("ch"), col("sim").as("sim_b"))
    val hashPairs = a.join(b, Seq("chunk", "ch"))
      .where(col("sim_a") <= col("sim_b"))
      .select(col("sim_a"), col("sim_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
    hashPairs
      .join(base.select(col("id").as("ida"), col("sim").as("sim_a")),
        Seq("sim_a"))
      .join(base.select(col("id").as("idb"), col("sim").as("sim_b")),
        Seq("sim_b"))
      // same-hash pairs: each unordered id pair once; cross-hash
      // pairs appear once per hash pair, ordered by least/greatest
      .where(col("sim_a") < col("sim_b") || col("ida") < col("idb"))
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** Near-dup pairs over ANY precomputed 64-bit fingerprint column
    * (image dHash, an external signature): identical 4×16-bit
    * pigeonhole blocking to [[simhashPairs]] — two hashes within
    * hamming ≤ 3 must agree on at least one 16-bit chunk, so the
    * candidate join touches only chunk-equal pairs, never all pairs —
    * with the exact `bit_count(xor)` verify behind it.
    */
  def hammingPairs64(df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "4-chunk blocking is only complete for maxHamming <= 3")
    chunkBlockedPairs(
      df.select(col(idCol).as("id"), col(hashCol).cast("long").as("sim")),
      maxHamming)
  }

  /** Embedding near-duplicate pairs: exact pairwise cosine ≥ threshold
    * via a BLOCK-GRID self-join — each vector lands in one of
    * `numBlocks` hash buckets, the B(B+1)/2 bucket pairs are enumerated
    * as a tiny grid table, and each grid cell joins its two buckets.
    * No side is ever broadcast whole and no task holds more than two
    * buckets, so the plan distributes across any cluster size (set
    * numBlocks ≈ the target parallelism); compute remains O(n²/2)
    * dot products, which exact all-pairs semantics requires. At corpus
    * scale use [[Similarity.lshNearDupPairs]] with a high threshold
    * instead — at thresholds as loose as this operator accepts, LSH
    * candidate generation provably cannot beat all-pairs (bucket
    * collision rates approach 1), which is why the exact grid is the
    * honest default.
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numBlocks: Int = 32): DataFrame = {
    val spark = df.sparkSession
    val v = Similarity.normed(df, idCol, vecCol)
      .withColumn("bkt", pmod(xxhash64(col("id")), lit(numBlocks)).cast("int"))
    val grid = spark.range(numBlocks.toLong)
      .select(col("id").cast("int").as("bu"))
      .crossJoin(spark.range(numBlocks.toLong)
        .select(col("id").cast("int").as("bv")))
      .where(col("bu") <= col("bv"))
    val a = v.select(col("id").as("id_a"), col("vec").as("vec_a"),
      col("norm").as("norm_a"), col("bkt").as("bu"))
    val b = v.select(col("id").as("id_b"), col("vec").as("vec_b"),
      col("norm").as("norm_b"), col("bkt").as("bv"))
    a.join(broadcast(grid), Seq("bu")).join(b, Seq("bv"))
      // each unordered pair appears exactly once: off-diagonal cells
      // see it in one orientation, the diagonal keeps id_a < id_b
      .where(col("bu") < col("bv") || col("id_a") < col("id_b"))
      .withColumn("cos", round(Similarity.cosine(col("vec_a"),
        col("vec_b"), col("norm_a"), col("norm_b")), 6))
      .where(col("cos") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cos"))
      .orderBy("id_a", "id_b")
  }

  /** Chunk-family scaffolding, shared by [[chunkDedup]],
    * [[boilerplateChunkFilter]] and [[intraDocChunkDedup]]: split each
    * document into fixed-size token chunks as an ordered
    * (chunk_idx, chunk) struct array — one projection, no shuffle.
    */
  private def chunkify(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive: $chunkSize")
    val toks = split(col(textCol), " ")
    df.select(col(idCol).as("id"),
      transform(
        sequence(lit(0), floor((size(toks) - 1) / chunkSize).cast("int")),
        i => struct(i.as("chunk_idx"), concat_ws(" ",
          slice(toks, i * chunkSize + 1, lit(chunkSize))).as("chunk")))
        .as("__chunks"))
  }

  /** The family's shared tail: reassemble the kept (id, chunk_idx,
    * chunk) rows in original order and emit the
    * (id, n_chunks, n_kept, text_clean) shape — rows stable, a
    * fully-dropped document survives with `text_clean = ""`.
    */
  private def reassembleKept(chunked: DataFrame, kept: DataFrame,
      idCol: String): DataFrame = {
    val perDoc = chunked.select(col("id"),
      size(col("__chunks")).cast("long").as("n_chunks"))
    val reassembled = kept.groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          c => c.getField("chunk"))).as("text_clean"))
    perDoc.join(reassembled, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Sub-document (chunk-level) exact dedup, the C4-style pass that
    * removes boilerplate repeated ACROSS documents rather than whole
    * duplicate documents: split each document into fixed-size token
    * chunks, keep only the globally-first occurrence of each distinct
    * chunk (ordered by (id, position)), and reassemble what survives
    * in original order. The reference profiles whole columns
    * (`whiteRRabbit.R:296-341`) and never looks inside a value; this
    * is pure extension surface for corpus curation.
    *
    * Output: (id, n_chunks, n_kept, text_clean) — documents whose
    * every chunk was seen earlier elsewhere survive with
    * `text_clean = ""`, so the row count is stable and callers can
    * filter on `n_kept`.
    *
    * Scale shape: chunks are built by a per-row `transform` over the
    * token array (no explode-then-regroup), and the keep-first decision
    * is `groupBy(chunk).agg(min(struct(id, chunk_idx)))` — the same
    * (id, chunk_idx) total order a first-seen window would use, but as
    * an AGGREGATE it gets map-side partial combine, so a boilerplate
    * chunk shared by half the corpus collapses to one row per map task
    * instead of funneling a corpus-sized sort partition through one
    * reducer (the previous window-by-chunk shape did exactly that and
    * smoked 15× at 10× data — hot-chunk skew, not volume). The winning
    * (id, chunk_idx) rows ARE the kept chunks, so there is no join-back
    * on the chunk key at all; reassembly aggregates the winners by id
    * (document-sized groups) and left-joins onto the per-doc chunk
    * counts (id-keyed, one row per doc). At 100 TB key the aggregate by
    * `xxhash64(chunk)` instead of the chunk string to halve the shuffle
    * width (kept as the string here so a SQL oracle can replay the
    * operator bit-for-bit).
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 10): DataFrame = {
    val chunked = chunkify(df, idCol, textCol, chunkSize)
    val exploded = chunked
      .select(col("id"), explode(col("__chunks")).as("c"))
      .select(col("id"), col("c.chunk_idx").as("chunk_idx"),
        col("c.chunk").as("chunk"))
    val firsts = exploded.groupBy(col("chunk"))
      .agg(min(struct(col("id"), col("chunk_idx"))).as("f"))
      .select(col("f.id").as("id"), col("f.chunk_idx").as("chunk_idx"),
        col("chunk"))
    reassembleKept(chunked, firsts, idCol)
  }

  /** CCNet-style boilerplate removal by CORPUS FREQUENCY: split each
    * document into fixed-size token chunks, count how many DISTINCT
    * documents each chunk content appears in across the whole corpus,
    * drop every chunk above `maxDocs` (headers, footers, cookie
    * banners and license blurbs repeat across thousands of pages;
    * body text does not), and reassemble the survivors in original
    * order. Differs from [[chunkDedup]] in the keep rule: frequency
    * thresholding keeps a common chunk in NO document once it crosses
    * the threshold (it is boilerplate everywhere), while first-seen
    * dedup keeps exactly one copy.
    *
    * Output: (id, n_chunks, n_kept, text_clean) — same shape as
    * [[chunkDedup]], rows stable, fully-boilerplate documents survive
    * with `text_clean = ""`.
    *
    * Scale shape: the frequency table aggregates by `xxhash64(chunk)`
    * — the shuffle carries 8-byte keys, not chunk strings — with
    * map-side combine on both the (hash, id) dedup and the distinct-
    * doc count; the verdict joins back to the exploded chunks
    * SHUFFLE-keyed on the same hash (the frequency table is
    * corpus-sized, never broadcast). A 64-bit collision merging two
    * chunks' doc counts is the only way a keep/drop verdict could
    * move (p ≈ n²/2⁶⁵ — the [[shingleSets]] argument); the SQL oracle
    * counts by chunk CONTENT, so the gate itself would catch one.
    */
  def boilerplateChunkFilter(df: DataFrame, idCol: String,
      textCol: String, chunkSize: Int = 10, maxDocs: Long = 2L): DataFrame = {
    require(maxDocs >= 1, s"maxDocs must be at least 1: $maxDocs")
    val chunked = chunkify(df, idCol, textCol, chunkSize)
    val exploded = chunked
      .select(col("id"), explode(col("__chunks")).as("c"))
      .select(col("id"), col("c.chunk_idx").as("chunk_idx"),
        col("c.chunk").as("chunk"), xxhash64(col("c.chunk")).as("__ch"))
    val freq = exploded.select(col("__ch"), col("id")).distinct()
      .groupBy(col("__ch")).agg(count(lit(1)).as("__n_docs"))
    val kept = exploded
      .join(freq, Seq("__ch"))
      .where(col("__n_docs") <= maxDocs)
    reassembleKept(chunked, kept, idCol)
  }

  /** WITHIN-document repetition removal, completing the chunk-dedup
    * matrix ([[chunkDedup]] = inter-doc keep-first,
    * [[boilerplateChunkFilter]] = inter-doc frequency threshold, this
    * = intra-doc): keep the FIRST occurrence of each distinct chunk
    * inside each document, drop later repeats of the same chunk in
    * the same document (looping generation artifacts, copy-pasted
    * sections), reassemble survivors in order. Other documents never
    * influence the verdict.
    *
    * Output: (id, n_chunks, n_kept, text_clean) — the family shape.
    *
    * Scale shape: the keep-first decision is
    * `groupBy(id, chunk).agg(min(chunk_idx))` — the document id is
    * PART of the grouping key, so a boilerplate chunk shared by half
    * the corpus still spreads across the id hash space; groups are
    * document-sized and there is no corpus-wide hot key at all (the
    * skew [[chunkDedup]] had to design around cannot occur here).
    */
  def intraDocChunkDedup(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 10): DataFrame = {
    val chunked = chunkify(df, idCol, textCol, chunkSize)
    val firsts = chunked
      .select(col("id"), explode(col("__chunks")).as("c"))
      .groupBy(col("id"), col("c.chunk").as("chunk"))
      .agg(min(col("c.chunk_idx")).as("chunk_idx"))
    reassembleKept(chunked, firsts, idCol)
  }

  /** SUBSTRING-level exact dedup — the Lee-et-al. "repeated ≥k-token
    * span" mode (Deduplicating Training Data Makes Language Models
    * Better, 2022), the one standard training-data dedup the chunk
    * family cannot express: [[chunkDedup]]'s fixed windows miss a
    * repeated span that straddles a chunk boundary, while EVERY
    * k-token duplicated span covers at least one SLIDING window.
    * Every k-token window of every document keys by content; a window
    * whose content appeared EARLIER in corpus order — (id, pos)
    * lexicographic, the deterministic stand-in for the paper's
    * suffix-array order — is a duplicated-window candidate, and
    * overlapping/adjacent candidates merge into maximal token spans.
    *
    * Output: one row per maximal duplicated span, the REMOVAL
    * candidates — (idCol, span_start, span_end), 0-based inclusive
    * token positions. The first (corpus-order) occurrence of each
    * content survives unspanned, so applying the candidates never
    * deletes all copies.
    *
    * Scale shape: the paper's suffix array is a global sort the
    * cluster cannot shard cheaply; rolling k-token windows find the
    * same ≥k-token repeats with one shuffle. Windows shuffle as
    * (id, pos, xxhash64(window)) — 8-byte content keys, never the
    * k-token strings ([[boilerplateChunkFilter]]'s trick; a 64-bit
    * collision mis-flagging a window moves a span boundary with
    * p ≈ n²/2⁶⁵, and the SQL oracle keys by CONTENT, so the gate
    * itself would catch one). The rank window partitions by content
    * hash (duplicate-group sized); the island merge partitions by
    * document id (document-sized). Nothing is corpus-quadratic, and
    * the k× token blowup carries only fixed-width rows.
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 10): DataFrame = {
    require(k > 0, s"window size must be positive: $k")
    val toks = split(col(textCol), " ")
    val wins = df
      .select(col(idCol).as("id"), toks.as("__t"))
      .where(size(col("__t")) >= k)
      .select(col("id"), explode(transform(
        sequence(lit(0), size(col("__t")) - k),
        i => struct(i.cast("long").as("pos"),
          xxhash64(concat_ws(" ", slice(col("__t"), i + 1, lit(k))))
            .as("h")))).as("w"))
      .select(col("id"), col("w.pos").as("pos"), col("w.h").as("h"))
    // Hot-span bound (VERDICT r15 #6): this window serializes each
    // content group onto one partition, so the worst partition is
    // SPAN-FREQUENCY-sized — the occurrence count of the single most
    // repeated k-token span, NOT corpus-sized (fixed-width 24-byte
    // rows; 10M occurrences of one boilerplate span sort in one
    // task's memory). A corpus whose hottest span outgrows a task
    // would salt this pick the way minHashDedup salts its buckets
    // (split h into salt cells, min-of-mins across cells); not done
    // here because the first-occurrence pick needs a TOTAL order per
    // h and the degenerate-corpus spec pins the current bound.
    val byContent = Window.partitionBy("h")
      .orderBy(col("id"), col("pos"))
    val dups = wins
      .withColumn("__rn", row_number().over(byContent))
      .where(col("__rn") > 1)
      .select(col("id"), col("pos"))
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val prevEnd = max(col("pos") + (k - 1)).over(
      byDoc.rowsBetween(Window.unboundedPreceding, -1))
    // gaps-and-islands: a candidate window STARTS a new span exactly
    // when it neither overlaps nor abuts the furthest end so far
    val islands = dups
      .withColumn("__brk",
        when(prevEnd.isNull || col("pos") > prevEnd + 1, 1)
          .otherwise(0))
      .withColumn("__g", sum(col("__brk")).over(byDoc))
    islands.groupBy(col("id"), col("__g"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"))
  }

  /** Applies [[substringDedup]]'s removal candidates: every token
    * covered by a duplicated span is dropped, survivors rejoin in
    * original order — the paper's actual corpus edit, completing the
    * find/apply pair the way [[chunkDedup]] bundles both. Output:
    * (idCol, n_tokens, n_removed, text_clean) — ROWS STABLE (every
    * input document appears, span-free documents pass through with
    * n_removed = 0), so the apply composes with downstream per-doc
    * operators without an outer join.
    *
    * Scale shape: [[substringDedup]]'s two bounded shuffles plus ONE
    * id-keyed left join of the span list (documents have FEW maximal
    * spans by construction — overlaps merged — so the per-token
    * `exists` over the collected span array is O(tokens × spans) with
    * a small constant, all inside one codegen'd projection).
    */
  def substringDedupApply(df: DataFrame, idCol: String,
      textCol: String, k: Int = 10): DataFrame = {
    val spans = substringDedup(df, idCol, textCol, k)
    val spanSets = spans.groupBy(col(idCol).as("id"))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    val perDoc = df.select(col(idCol).as("id"),
      split(col(textCol), " ").as("__t"))
    val indexed = transform(col("__t"),
      (tok, i) => struct(i.cast("long").as("p"), tok.as("tok")))
    val covered = (s: Column) => exists(
      coalesce(col("__spans"), array()),
      sp => s.getField("p").between(
        sp.getField("span_start"), sp.getField("span_end")))
    val kept = filter(indexed, s => !covered(s))
    perDoc.join(spanSets, Seq("id"), "left")
      .select(col("id").as(idCol),
        size(col("__t")).cast("long").as("n_tokens"),
        (size(col("__t")) - size(kept)).cast("long").as("n_removed"),
        concat_ws(" ", transform(kept, s => s.getField("tok")))
          .as("text_clean"))
  }

  /** Soft dedup: instead of DROPPING duplicates, weight each copy by
    * the inverse of its exact-content multiplicity, so one epoch over
    * the weighted corpus trains on each distinct content exactly once
    * in expectation (the SoftDeDup-style reweighting path — keeps the
    * corpus intact for loss-weighted samplers, where hard dedup would
    * discard the duplicate rows' distinct metadata). One shuffle: a
    * count window partitioned by the 32-byte content hash, so
    * partitions are duplicate-group sized regardless of corpus size.
    *
    * Output: (id, n_copies, weight) for every input row;
    * `sum(weight)` is the effective (deduplicated) corpus size.
    */
  def softDedupWeights(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val w = Window.partitionBy(sha2(col(textCol), 256))
    df.select(col(idCol),
        count(lit(1)).over(w).as("n_copies"))
      .select(col(idCol), col("n_copies"),
        round(lit(1.0) / col("n_copies"), 6).as("weight"))
  }
}
