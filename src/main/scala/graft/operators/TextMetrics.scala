package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-hygiene metrics for training-data pipelines beyond the
  * per-document quality score: benchmark decontamination and
  * within-document repetition (the Gopher-style duplicate-text
  * filters).
  */
object TextMetrics {

  /** Benchmark decontamination: for every corpus document, the number
    * of distinct token n-grams it shares with ANY document of the
    * benchmark set — the standard "does a test-set n-gram appear in
    * the training doc" contamination test. Output: (id, n_hits) for
    * contaminated documents only; callers anti-join or threshold.
    *
    * Scale shape: the benchmark side (typically tiny — test sets)
    * collapses to distinct n-grams and broadcasts; the corpus side
    * explodes and is FILTERED through that broadcast join before
    * anything shuffles, so the only shuffled rows are the contaminated
    * (id, n-gram) survivors — the distinct-then-count runs on the hit
    * set, not the corpus. (The previous shape deduplicated the FULL
    * corpus-wide (id, n-gram) projection first — a shuffle that scaled
    * with the corpus's n-gram volume and smoked 6.7× at 10× data; the
    * distinct commutes with the broadcast semi-filter, so filtering
    * first is value-identical.) Never a doc×doc comparison. N-grams
    * stay strings here (not hashes) so the operator is exactly
    * replayable by a SQL oracle — at 100 TB swap the join key for
    * xxhash64(ngram), which halves the broadcast width without
    * changing the plan shape.
    */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, ngram: Int): DataFrame = {
    def ngrams(df: DataFrame, outCols: Seq[org.apache.spark.sql.Column],
        text: String) = {
      val toks = TextFunctions.tokens(col(text))
      df.select(outCols :+ toks.as("__toks"): _*)
        .where(size(col("__toks")) >= ngram)
        .select(outCols :+ explode(transform(
          sequence(lit(0), size(col("__toks")) - ngram),
          i => concat_ws(" ",
            slice(col("__toks"), i + 1, lit(ngram))))).as("__ng"): _*)
    }
    val benchNgrams = ngrams(bench, Seq.empty, benchTextCol)
      .select(col("__ng"))
      .distinct()
    ngrams(corpus, Seq(col(idCol)), textCol)
      .join(broadcast(benchNgrams), Seq("__ng"))
      .select(col(idCol), col("__ng")).distinct()
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Per-document n-gram NOVELTY — the memorization/diversity signal
    * of a training corpus: what share of a document's distinct
    * n-grams appears in NO other document? Boilerplate- and
    * template-heavy docs score near 0, genuinely novel text near 1;
    * the corpus-level distribution is the diversity dashboard, and
    * low-novelty outliers are dedup candidates the pairwise passes
    * may have missed (many-way shared passages).
    *
    * Shape: distinct (doc, n-gram) projection, then TWO independent
    * aggregations of it — per-gram (document frequency + owner) and
    * per-doc (distinct-gram totals) — joined at DOC granularity. A
    * df=1 gram has exactly one owner, so `max(id)` inside the
    * per-gram aggregate names the doc to credit and the gram-keyed
    * JOIN-BACK of the full (doc, gram) pair set disappears: the only
    * gram-keyed shuffle ships one combined row per gram, the novel
    * credits reshuffle only the df=1 gram subset, and the per-doc
    * totals collapse map-side to one row per doc. (The previous shape
    * re-shuffled every (doc, gram) pair through the join — the worst
    * 10× smoke scaler in round 6 at 5.11; this one scales with the
    * gram dictionary instead.) No pairs are materialized anywhere (a
    * pairwise shared-passage report over the same signal would be
    * quadratic; novelty needs only the df=1 test). Per-doc grams are
    * DISTINCT so no single aggregation key exceeds the document
    * count. Docs shorter than `n` tokens have no n-grams and are
    * absent from the output (their novelty is undefined, not zero).
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n > 0, s"n must be positive: $n")
    val toks = TextFunctions.tokens(col(textCol))
    val grams = df
      .select(col(idCol).as("id"), toks.as("__toks"))
      .where(size(col("__toks")) >= n)
      .select(col("id"), explode(array_distinct(transform(
        sequence(lit(0), size(col("__toks")) - n),
        i => concat_ws(" ", slice(col("__toks"), i + 1, lit(n))))))
        .as("g"))
    val novel = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("df"), max(col("id")).as("owner"))
      .where(col("df") === 1)
      .groupBy(col("owner").as("id"))
      .agg(count(lit(1)).as("n_novel"))
    grams.groupBy(col("id"))
      .agg(count(lit(1)).as("n_ngrams"))
      .join(novel, Seq("id"), "left")
      .select(col("id"), col("n_ngrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_ngrams"), 6))
  }

  /** Sequence-length histogram for batching/packing decisions:
    * documents bucketed by power-of-2 token count (bucket = number of
    * binary digits of the count, so bucket b holds counts in
    * [2^(b-1), 2^b)). One projection + one tiny aggregation — the
    * 100 TB cost is the text scan, nothing else. The bit-length
    * formulation (`length(bin(n))`) avoids floating log2, whose
    * off-by-one-ulp at exact powers of two differs across engines.
    *
    * Output: (bucket, lo_tokens, n_docs, sum_tokens) ordered by
    * bucket.
    */
  def lengthHistogram(df: DataFrame, textCol: String): DataFrame = {
    // whitespace-token count == spaces + 1 (split-on-" " semantics,
    // empty fields included), computed ARITHMETICALLY: translate+length
    // touch the text once with zero per-row allocations, where
    // size(split(lower(text))) materialized a lowercased copy plus the
    // whole token array just to count it — on a corpus-wide scan the
    // histogram's only real cost is this projection (its x10 smoke
    // ratio was the suite's worst at 7.26 before the rewrite)
    val n = (length(col(textCol)) -
      length(translate(col(textCol), " ", "")) + 1).cast("long")
    df.select(length(bin(n)).as("bucket"), n.as("n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"))
      .withColumn("lo_tokens",
        when(col("bucket") > 1,
          expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)"))
          .otherwise(lit(1L)))
      .select(col("bucket"), col("lo_tokens"), col("n_docs"),
        col("sum_tokens"))
      .orderBy("bucket")
  }

  /** Concat-and-chunk packing — the standard LLM-pretraining shard
    * assignment: documents are (conceptually) concatenated per source
    * in doc-id order and cut every `budget` tokens; a document belongs
    * to the chunk its FIRST token falls in. chunk = floor(cumulative
    * tokens before this doc / budget), a running-sum window partitioned
    * by source — per-source partitions, so the shuffle is keyed by
    * source and no window partition outgrows a source (same skew
    * caveat as the as-of join: one giant source bounds parallelism;
    * pre-split hot sources upstream).
    *
    * Output: one row per (source, chunk): docs, tokens, first/last
    * doc id — the shard manifest a packing job writes.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, budget: Long,
      tokenizer: Column => Column = TextFunctions.tokens): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val n = size(tokenizer(col(textCol))).cast("long")
    df.select(col(sourceCol).as("source"), col(idCol).as("id"),
        n.as("n_tok"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("chunk", floor(col("cum_before") / budget))
      .groupBy(col("source"), col("chunk"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("id")).as("first_id"), max(col("id")).as("last_id"))
      .orderBy("source", "chunk")
  }

  /** RAG-style sliding-window chunking: each document's token array is
    * cut into windows of `chunkTokens` advancing by
    * `chunkTokens - overlap`, so consecutive chunks share `overlap`
    * tokens of context. Pure per-row projection + explode — no
    * shuffle at all; chunk count per doc is ⌈max(n−overlap,1) /
    * stride⌉, and the final short window is kept (a retrieval index
    * must cover the tail, not drop it).
    */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      "overlap must be in [0, chunkTokens)")
    val stride = chunkTokens - overlap
    val toks = TextFunctions.tokens(col(textCol))
    val nChunks = greatest(
      ceil((size(toks) - overlap).cast("double") / stride).cast("int"),
      lit(1))
    df.select(col(idCol).as("doc_id"), toks.as("t"), nChunks.as("nc"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), col("nc") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("t"), col("chunk_idx") * stride + 1,
          lit(chunkTokens)).as("w"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("w")).as("n_tok"),
        array_join(col("w"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Within-document repetition profile (Gopher-style duplicate-text
    * signals): per document, the fraction of tokens belonging to
    * repeated token TYPES (a type occurring k>1 times contributes all
    * k tokens) and the share of the most frequent bigram among all
    * bigrams. Pure per-document computation — explode + per-id
    * aggregation whose groups are document-sized, so the shuffle is
    * keyed by id and no group outgrows a document.
    */
  def repetitionStats(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) > 0)
    val tokCounts = toks
      .select(col("id"), explode(col("toks")).as("t"))
      .groupBy("id", "t").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0)))
          .as("dup_tokens"))
    val bigrams = toks
      .where(size(col("toks")) >= 2)
      .select(col("id"), explode(transform(
        sequence(lit(0), size(col("toks")) - 2),
        i => concat_ws(" ", slice(col("toks"), i + 1, lit(2))))).as("bg"))
      .groupBy("id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(max(col("c")).as("top_bigram"),
        sum(col("c")).as("n_bigrams"))
    tokCounts.join(bigrams, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        round(col("dup_tokens").cast("double") / col("n_tokens"), 6)
          .as("dup_token_frac"),
        round(col("top_bigram").cast("double") / col("n_bigrams"), 6)
          .as("top_bigram_frac"))
  }

  /** Tokenizer-prep vocabulary coverage: build the top-`vocabSize`
    * token vocabulary by corpus frequency (ties broken by token text
    * ascending, so selection is deterministic) and report, per source,
    * how much of that slice's token volume the vocabulary covers — the
    * report that sizes a tokenizer vocab against each corpus slice
    * before training one.
    *
    * Scale shape: token counts aggregate per (source, token) with
    * map-side combine; the global vocabulary is a top-K over the
    * vocabulary-sized count table selected via `orderBy(...).limit(V)`,
    * which Spark plans as TakeOrderedAndProject — per-partition heaps
    * of V entries, NO global sort and no single-partition window; the
    * selected vocab (V rows) broadcasts back onto the per-source
    * counts. Nothing exceeds vocabulary-sized state.
    *
    * Output per source: total/OOV token volume, distinct-type counts,
    * and the OOV token rate.
    */
  def vocabCoverage(df: DataFrame, textCol: String, sourceCol: String,
      vocabSize: Int,
      tokenizer: Column => Column = TextFunctions.tokens): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive: $vocabSize")
    val counts = df
      .select(col(sourceCol).as("source"),
        explode(tokenizer(col(textCol))).as("t"))
      .groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c"))
    val vocab = counts.groupBy(col("t")).agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("t").asc)
      .limit(vocabSize)
      .select(col("t"), lit(1).as("__in_vocab"))
    counts.join(broadcast(vocab), Seq("t"), "left")
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__in_vocab").isNull, col("c")).otherwise(lit(0L)))
          .as("oov_tokens"),
        sum(when(col("__in_vocab").isNull, lit(1L)).otherwise(lit(0L)))
          .as("oov_types"))
      .withColumn("oov_rate",
        round(col("oov_tokens").cast("double") / col("n_tokens"), 6))
      .orderBy("source")
  }

  /** The Zipf-head size for LM dictionary joins: the hottest `LmHeadK`
    * dictionary entries broadcast (a bounded, few-MB frame whatever
    * the corpus — top-K by count, NOT a frequency floor, because a
    * floor's head grows linearly with corpus size while top-K is a
    * constant); everything colder joins shuffle-keyed. The head IS
    * the skew set — by Zipf the hottest tokens carry most occurrences
    * AND all the reducer skew — so the tail join has no hot key on
    * either side by construction.
    */
  private val LmHeadK = 65536

  /** Two-path dictionary join (the `Skew.saltedJoin` insight applied
    * to Zipf dictionaries): broadcast the top-`headK` hottest `dict`
    * rows and join `facts` against them; anti-route the remaining
    * facts to a plain shuffle join with the full dictionary (whose
    * hot keys the anti-join just removed from BOTH sides). Replaces
    * the unbounded full-vocabulary broadcast that could not hold a
    * web-scale corpus's hundreds-of-millions-entry dictionary on an
    * executor (VERDICT r12 #2). Deterministic head: (count DESC,
    * keys ASC).
    */
  private def headTailJoin(facts: DataFrame, dict: DataFrame,
      keys: Seq[String], countCol: String,
      headK: Int = LmHeadK): DataFrame = {
    val head = dict.orderBy(
      col(countCol).desc +: keys.map(col(_).asc): _*).limit(headK)
    val hot = facts.join(broadcast(head), keys)
    val cold = facts
      .join(broadcast(head.select(keys.map(col): _*)), keys, "left_anti")
      .join(dict, keys)
    hot.unionByName(cold)
  }

  /** Unigram language-model score — the perplexity proxy of CCNet-style
    * quality filtering: per document, the mean natural-log probability
    * of its tokens under the corpus's OWN unigram distribution. Docs
    * full of rare tokens (boilerplate ids, binary spew) score far more
    * negative than natural prose; threshold downstream.
    *
    * Scale shape: tokens first collapse to DISTINCT (doc, token) rows
    * with an occurrence count (map-side combine — repeated tokens add
    * zero shuffle width), the vocabulary aggregates from those
    * combined rows, and the dictionary joins back through
    * [[headTailJoin]]: the bounded Zipf head broadcasts, the cold
    * tail joins shuffle-keyed with no hot key on either side. No
    * unbounded broadcast anywhere — the shape survives a
    * hundreds-of-millions-token web-corpus vocabulary.
    *
    * Determinism across engines: each token's log-probability is
    * rounded at 9 decimals and summed as DECIMAL — exact and
    * order-independent, where a double sum would drift with partition
    * order (k occurrences multiply the rounded term in exact decimal,
    * digit-identical to summing k copies). The per-token `ln` of an
    * identical double input is the only transcendental, the same
    * contract the tf-idf score already relies on.
    */
  def unigramLogprob(df: DataFrame, idCol: String, textCol: String,
      tokenizer: Column => Column = TextFunctions.tokens): DataFrame = {
    val tokDoc = df.select(col(idCol).as("id"),
        explode(tokenizer(col(textCol))).as("t"))
      .groupBy(col("id"), col("t")).agg(count(lit(1)).as("k"))
    // the dictionary is referenced FOUR times downstream (head, head
    // keys, tail, total); materialize it once — vocabulary-sized
    // executor storage — instead of re-deriving it from the corpus
    // per reference (at broadcast-friendly scales Catalyst inlines a
    // separate corpus scan into each, and nothing reuses them)
    val freq = tokDoc.groupBy(col("t")).agg(sum(col("k")).as("c"))
      .localCheckpoint(false)
    val total = freq.agg(sum(col("c")).as("__n"))
    val lp = round(log(col("c").cast("double") / col("__n")), 9)
      .cast("decimal(20,9)")
    headTailJoin(tokDoc, freq, Seq("t"), "c")
      .crossJoin(broadcast(total))
      .groupBy(col("id"))
      .agg(sum(col("k")).as("n_tokens"),
        round(sum(col("k").cast("decimal(10,0)") * lp).cast("double") /
          sum(col("k")), 6).as("avg_logprob"))
  }

  /** Per-document BIGRAM language-model score — the KenLM-shaped
    * perplexity filter most published data pipelines run (unigram
    * catches gibberish vocabulary; the bigram layer catches
    * wrong-order/boilerplate text that unigram scores fluently).
    * Each adjacent token pair scores
    * `ln(λ·P(w2|w1) + (1−λ)·P(w2))` — interpolated backoff, so
    * unseen-in-context pairs degrade to the unigram floor instead of
    * −∞; `P(w2|w1) = c(w1,w2)/c(w1)` with corpus unigram counts as
    * the context denominator.
    *
    * Scale shape: the bigram dictionary aggregates with map-side
    * combine and joins back SHUFFLE-keyed on the xxhash64 TOKEN-ID
    * pair (h1, h2) — a bigram dictionary outgrows broadcast long
    * before the corpus stops growing, and 8-byte ids keep its rows
    * fixed-width — and the two unigram sides go through
    * [[headTailJoin]] (bounded Zipf-head broadcast + skew-free
    * shuffle tail; a web corpus's full vocabulary fits no executor).
    * Only the 1-row total stays unconditionally broadcast. The
    * per-doc side collapses to DISTINCT (doc, h1, h2)
    * rows with an occurrence count BEFORE that join (map-side
    * combine), so the dictionary join ships one row per distinct
    * per-doc bigram instead of one per occurrence — repeated pairs
    * inside a document (exactly what boilerplate text is made of) add
    * zero shuffle width. Determinism: the probability mix is a
    * fixed-order double expression replayed verbatim by the oracle,
    * each log rounds at 9 decimals and the occurrence count multiplies
    * it in exact decimal (k · round(log p, 9) equals the sum of k
    * identical rounded terms, digit for digit), and the per-doc mean
    * rounds at 6 — the [[unigramLogprob]] convention. Docs with fewer
    * than 2 tokens have no bigrams and are absent.
    */
  def bigramLogprob(df: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.75,
      tokenizer: Column => Column = TextFunctions.tokens): DataFrame = {
    val base = df.select(col(idCol).as("id"),
        tokenizer(col(textCol)).as("__toks"))
      .where(size(col("__toks")) >= 2)
    // every aggregation and join below keys on xxhash64 TOKEN IDS,
    // never the token strings (optimization r19, guide §2.3 "narrower
    // types" / §8 "shuffle keys, not payloads"): the score needs only
    // count identities per token, so an 8-byte hash id carries the
    // whole computation — per-doc bigram rows shrink from
    // (long, string, string) to three longs, the aggregation hash
    // maps hold fixed-width rows instead of per-row string copies,
    // and the dictionary joins compare longs. The r18 driver measured
    // the string-keyed shape as the suite's worst citizen on all
    // three axes (40 s at 32 cores, 25x at 10x data, 8 cores beating
    // 32 by 12x — GC/spill contention from string-keyed hash maps).
    // Collision contract: over n distinct tokens the chance that any
    // two share an xxhash64 id is about n²/2⁶⁵ — ~3e-8 at 10⁶ tokens,
    // ~2.7% at 10⁹. A collision merges the two tokens' counts, and
    // with them every bigram and unigram probability they enter. The
    // output carries doc ids and probabilities only; the oracle gate
    // pins string-keyed equality at every tested SF.
    val bi = base.select(col("id"), explode(transform(
        sequence(lit(1), size(col("__toks")) - 1),
        i => struct(xxhash64(element_at(col("__toks"), i)).as("h1"),
          xxhash64(element_at(col("__toks"), i + 1)).as("h2")))).as("b"))
      .select(col("id"), col("b.h1").as("h1"), col("b.h2").as("h2"))
    val biDoc = bi.groupBy(col("id"), col("h1"), col("h2"))
      .agg(count(lit(1)).as("k"))
    val toksAll = df.select(explode(tokenizer(col(textCol))).as("t"))
      .select(xxhash64(col("t")).as("h"))
    // referenced five times (two head/tail joins + the total):
    // materialize the vocabulary once — see unigramLogprob
    val uni = toksAll.groupBy(col("h")).agg(count(lit(1)).as("cu"))
      .localCheckpoint(false)
    // corpus totals reduce the ALREADY-aggregated frames (per-doc
    // bigrams, vocabulary counts) instead of the raw exploded
    // streams — the DSIR lesson: shuffles carry distinct entries,
    // not occurrences
    val total = uni.agg(sum(col("cu")).as("__n"))
    val big = biDoc.groupBy(col("h1"), col("h2"))
      .agg(sum(col("k")).as("cb"))
    val p = lit(lambda) * (col("cb").cast("double") / col("c1")) +
      lit(1.0 - lambda) * (col("cu").cast("double") / col("__n"))
    val withDict = biDoc.join(big, Seq("h1", "h2"))
    val withC1 = headTailJoin(withDict,
      uni.select(col("h").as("h1"), col("cu").as("c1")), Seq("h1"), "c1")
    headTailJoin(withC1,
        uni.select(col("h").as("h2"), col("cu")), Seq("h2"), "cu")
      .crossJoin(broadcast(total))
      .groupBy(col("id"))
      .agg(sum(col("k")).as("n_bigrams"),
        round(sum(col("k").cast("decimal(10,0)") *
            round(log(p), 9).cast("decimal(20,9)"))
          .cast("double") / sum(col("k")), 6).as("avg_logprob"))
  }

  /** Adjacent-symbol pair counts — the statistic the first BPE merge
    * iteration maximizes: for every token of ≥ 2 characters, each
    * in-token character bigram counted corpus-wide, top-k by (count
    * DESC, pair ASC). Tokenizer-prep: the argmax pair is the first
    * merge a BPE trainer would learn. Explode + count with map-side
    * combine, top-k via TakeOrderedAndProject — the frequency shape.
    */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    df.select(explode(TextFunctions.tokens(col(textCol))).as("t"))
      .where(length(col("t")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("t")) - 1),
        i => col("t").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)
  }

  /** BPE TRAINER — learns a ranked merge list from the corpus,
    * completing the tokenizer path ([[bpePairCounts]] is the
    * statistic ONE iteration maximizes;
    * [[graft.functions.BpeExpressions]] encodes with the trained
    * pieces). Classic algorithm (Sennrich et al. 2016, public):
    * iterate on the distinct-WORD frequency dictionary — count
    * adjacent symbol pairs weighted by word frequency, merge the
    * (count DESC, pair ASC)-best pair everywhere (leftmost-first
    * within a word), repeat `numMerges` times.
    *
    * Scale split, exactly as production BPE training does it: the
    * DATA-sized work (tokenize + distinct-word counts over the
    * corpus) is one Spark shuffle with map-side combine; the
    * iteration then runs on the word dictionary, which is
    * VOCABULARY-sized by definition (and `maxWords` caps it — rare
    * words contribute counts of at most their frequency, so a top-N
    * cap by (count DESC, word ASC) is the standard sampling). A
    * 100 TB corpus and a 100 GB corpus hand the trainer the same few
    * hundred thousand dictionary rows.
    *
    * Deterministic: ties break (count DESC, pair lexicographic ASC),
    * the dictionary cut is total-ordered, so the same corpus always
    * learns the same merges. Returns merges in learned order; feed
    * `merges.map(m => m._1 + m._2)` to `bpeEncodePieces`.
    */
  def trainBpeMerges(df: DataFrame, textCol: String, numMerges: Int,
      maxWords: Int = 100000): Seq[(String, String)] = {
    require(numMerges > 0 && maxWords > 0)
    val dict: Array[(String, Long)] =
      df.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
        .where(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w"))
        .limit(maxWords)
        .collect().map(r => (r.getString(0), r.getLong(1)))
    var words: Array[(Array[String], Long)] =
      dict.map { case (w, c) => (w.map(_.toString).toArray, c) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var iter = 0
    while (iter < numMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + c
          i += 1
        }
      }
      if (counts.isEmpty) iter = numMerges
      else {
        var best: ((String, String), Long) = null
        counts.foreach { case (p, c) =>
          if (best == null || c > best._2 || (c == best._2 &&
              (p._1 < best._1._1 ||
                (p._1 == best._1._1 && p._2 < best._1._2))))
            best = (p, c)
        }
        val (a, b) = best._1
        merges += ((a, b))
        val merged = a + b
        words = words.map { case (syms, c) =>
          if (syms.length < 2) (syms, c)
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
                out += merged; i += 2 // leftmost-first, no overlap reuse
              } else { out += syms(i); i += 1 }
            }
            (out.toArray, c)
          }
        }
        iter += 1
      }
    }
    merges.toSeq
  }

  /** Persist a learned merge list ([[trainBpeMerges]] output) as a
    * parquet artifact of (rank, left, right) — the tokenizer file a
    * packing pipeline ships alongside its manifests. Rank preserves
    * learned order, which IS the merge priority.
    */
  def saveMerges(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, String)], path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted merges table back as encode-ready pieces (merge
    * products in learned-rank order — a merges list and its vocab are
    * equivalent for greedy encoding).
    */
  def loadMergePieces(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[String] =
    spark.read.parquet(path).orderBy("rank")
      .select(concat(col("left"), col("right")))
      .collect().map(_.getString(0)).toSeq

  /** Zipf-exponent fit over the corpus token-frequency distribution:
    * the least-squares slope of ln(count) against ln(rank) for the
    * top-`topN` tokens. Natural corpora fit slope ≈ −1; a corpus
    * whose slope collapses toward 0 is template/boilerplate-heavy and
    * one steeper than −1.5 is dominated by a tiny vocabulary — a
    * one-number corpus-health indicator. Token counts aggregate
    * distributedly; the regression runs on the topN-sized ranked
    * table (TakeOrderedAndProject, then a topN-row window), with
    * every regression sum rounded at 9 decimals and DECIMAL-summed so
    * the closed-form slope is engine-portable.
    */
  def zipfFit(df: DataFrame, textCol: String, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topN > 1, s"topN must exceed 1: $topN")
    val counts = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t")).limit(topN)
    val ranked = counts.withColumn("rank",
      row_number().over(Window.orderBy(col("n").desc, col("t"))))
    val x = log(col("rank").cast("double"))
    val y = log(col("n").cast("double"))
    def decSum9(c: org.apache.spark.sql.Column) =
      sum(round(c, 9).cast("decimal(24,9)")).cast("double")
    val agg = ranked.agg(count(lit(1)).as("k"), decSum9(x).as("sx"),
      decSum9(y).as("sy"), decSum9(x * y).as("sxy"),
      decSum9(x * x).as("sxx"))
    agg.select(col("k").as("n_points"),
      round((col("k") * col("sxy") - col("sx") * col("sy")) /
        (col("k") * col("sxx") - col("sx") * col("sx")), 4).as("slope"),
      round((col("sy") - ((col("k") * col("sxy") - col("sx") * col("sy")) /
        (col("k") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
        col("k"), 4).as("intercept"))
  }

  /** Temperature-scaled source-mixing weights — the multinomial
    * sampling step of multi-source pretraining (mT5/XLM-R style):
    * source i with token share p_i is sampled with probability
    * p_i^alpha / Σ p_j^alpha. alpha < 1 upsamples small sources,
    * alpha = 1 is proportional, alpha = 0 is uniform. One tiny
    * aggregation over per-source token counts; the normalization
    * rides a source-count-sized window. Weight arithmetic is rounded
    * at 9 decimals and the normalizer DECIMAL-summed so the output is
    * order-free and engine-portable (same scheme as the unigram
    * scorer).
    */
  def mixWeights(df: DataFrame, textCol: String, sourceCol: String,
      alpha: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(sourceCol).as("source"))
      .agg(sum(size(TextFunctions.tokens(col(textCol))))
        .as("n_tokens"), count(lit(1)).as("n_docs"))
    val all = Window.partitionBy(lit(1))
    val share = col("n_tokens").cast("double") /
      sum(col("n_tokens")).over(all)
    val scaled = round(pow(share, alpha), 9).cast("decimal(20,9)")
    counts
      .withColumn("share", round(share, 6))
      .withColumn("__s", scaled)
      .withColumn("weight", round(
        col("__s").cast("double") /
          sum(col("__s")).over(all).cast("double"), 6))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("share"), col("weight"))
      .orderBy("source")
  }

  /** Per-document salient terms (tf-idf keyword extraction): the top-k
    * terms of each document ranked by term frequency, breaking ties by
    * ascending document frequency (rarer wins) then term text. The
    * ranking is entirely integer-ordered — tf, df, and the term — so
    * the selection is deterministic across engines; the tf-idf score
    * `tf * ln(N/df)` is annotated on the output (rounded) rather than
    * used as the sort key, because ranking by a transcendental float
    * is not replayable bit-for-bit.
    *
    * Scale shape: tf is a (doc, term) aggregation with map-side
    * combine; df aggregates tf by term into a vocabulary-sized table
    * that broadcasts back; the corpus row count joins in as a
    * broadcast 1-row aggregate (never a driver-side collect); the
    * top-k window partitions by document. Nothing exceeds
    * document-sized or vocabulary-sized groups.
    */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive: $k")
    val tf = df
      .select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("__n"))
    val topk = Window.partitionBy(col("id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(broadcast(dfreq), Seq("term"))
      .withColumn("__rn", row_number().over(topk))
      .where(col("__rn") <= k)
      .crossJoin(broadcast(nDocs))
      .select(col("id").as(idCol), col("term"), col("tf"), col("df"),
        round(col("tf") * log(col("__n").cast("double") / col("df")), 6)
          .as("tfidf"))
  }

  /** BM25 lexical scoring of the corpus against a fixed term set —
    * the keyword-retrieval half of hybrid search (the ANN stack in
    * [[Similarity]] is the other half; [[graft.SparkEntry]] fuses the
    * two ranked lists with reciprocal-rank fusion). Okapi BM25 with
    * the Lucene-style idf floor:
    * `idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)` (always positive),
    * `w(t,d) = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`.
    * Output: (id, n_terms, score) for documents matching ≥1 term.
    *
    * Scale shape: the corpus explodes ONCE and is filtered to the
    * query terms BEFORE anything shuffles (the term set is a literal
    * predicate, codegen'd), so the shuffled volume is the posting
    * rows of the query terms only — never the corpus vocabulary. The
    * per-term idf table and the 2-value corpus stats broadcast. One
    * doc-keyed aggregation ends it.
    *
    * Determinism (the [[unigramLogprob]] convention): idf rounds at 9
    * into DECIMAL(20,9); each per-(doc, term) weight is a fixed-order
    * double expression over exact integers (tf, dl, N, Σdl) rounded
    * at 9; the per-doc sum is exact decimal, rounded at 6.
    */
  def bm25Search(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      tokenizer: Column => Column = TextFunctions.tokens): DataFrame = {
    require(terms.nonEmpty, "bm25Search needs at least one term")
    val toks = df.select(col(idCol).as("id"),
      tokenizer(col(textCol)).as("__toks"))
    val dl = toks.select(col("id"),
      size(col("__toks")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("nn"), sum(col("dl")).as("tot"))
    val tf = toks.select(col("id"), explode(col("__toks")).as("t"))
      .where(col("t").isInCollection(terms))
      .groupBy(col("id"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("t"))
      .agg(count(lit(1)).as("dft"))
      .crossJoin(broadcast(stats))
      .select(col("t"), round(log(
        ((col("nn") - col("dft")).cast("double") + lit(0.5)) /
          (col("dft").cast("double") + lit(0.5)) + lit(1.0)), 9)
        .cast("decimal(20,9)").as("idf"))
    val avgdl = col("tot").cast("double") / col("nn")
    val denom = col("tf").cast("double") +
      lit(k1) * (lit(1.0 - b) +
        lit(b) * col("dl").cast("double") / avgdl)
    val w = round(col("idf").cast("double") *
      (col("tf").cast("double") * lit(k1 + 1.0)) / denom, 9)
      .cast("decimal(20,9)")
    tf.join(broadcast(idf), Seq("t"))
      .join(dl, Seq("id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_terms"),
        round(sum(w), 6).cast("double").as("score"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document of the raw pool by the log importance ratio of its
    * bigram profile between a TARGET corpus (rows matching
    * `targetPred` — the small high-quality set you want more of) and
    * the raw pool itself, under Laplace-smoothed bag-of-bigrams
    * models:
    * {{{
    *   logw(doc) = Σ_b k_b · [ ln((ct(b)+1)/(Nt+V)) − ln((cr(b)+1)/(Nr+V)) ]
    * }}}
    * with ct/cr the target/raw corpus bigram counts, Nt/Nr the
    * corpora's total bigram occurrences, V the distinct-bigram
    * vocabulary of the WHOLE corpus (shared smoothing denominator)
    * and k_b the bigram's occurrence count in the doc. Sampling
    * proportionally to exp(logw) is the paper's importance
    * resampling; the top-k by logw is its deterministic argmax
    * variant — both consume exactly this output.
    *
    * Output: (id, n_bigrams, logw) for every raw-pool document with
    * ≥ 2 tokens (target rows are the reference distribution, not
    * candidates — they are absent).
    *
    * Scale shape: the same skeleton as [[bigramLogprob]] — the
    * per-doc side collapses to distinct (doc, bigram) rows with a
    * count BEFORE the dictionary join (map-side combine), the two
    * corpus dictionaries aggregate with partial combine and join
    * SHUFFLE-keyed on the bigram (a bigram dictionary outgrows
    * broadcast long before the corpus stops growing), and the three
    * scalars (Nt, Nr, V) ride a broadcast. The paper's hashed
    * features are the 100 TB variant: key every join by
    * `pmod(xxhash64(bigram), 2²⁰)` and the dictionaries collapse to
    * fixed-width bucket tables (kept as strings here so the SQL
    * oracle replays the operator bit-for-bit). Determinism: each log
    * rounds at 9 decimals, the per-doc sum multiplies occurrence
    * counts in exact decimal and rounds at 6 — the [[bigramLogprob]]
    * convention.
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column,
      tokenizer: Column => Column = TextFunctions.tokens): DataFrame = {
    // NULL-evaluating predicates route to the RAW pool (coalesce to
    // false) — a row must land on exactly one side, never vanish from
    // both counts (the quarantine() NULL lesson)
    val base = df.select(col(idCol).as("id"),
        coalesce(targetPred, lit(false)).as("__tgt"),
        tokenizer(col(textCol)).as("__toks"))
      .where(size(col("__toks")) >= 2)
    val bi = base.select(col("id"), col("__tgt"), explode(transform(
        sequence(lit(1), size(col("__toks")) - 1),
        i => struct(element_at(col("__toks"), i).as("w1"),
          element_at(col("__toks"), i + 1).as("w2")))).as("b"))
      .select(col("id"), col("__tgt"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    // every downstream count derives from ONE per-doc-bigram
    // aggregate: the corpus counts, the smoothing scalars, and the
    // per-doc score rows all reduce docAll instead of re-deriving
    // from the raw exploded stream — the branches share the same
    // partially-aggregated shape, so the per-branch shuffle carries
    // distinct per-doc bigrams (bounded by vocabulary × docs) rather
    // than every occurrence (r10 smoke: 2.75x → 1.79x, sf1 -27%)
    val docAll = bi.groupBy(col("id"), col("__tgt"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("k"))
    val tgtCounts = docAll.where(col("__tgt"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("ct"))
    val rawCounts = docAll.where(!col("__tgt"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("cr"))
    val scalars = docAll.agg(
      sum(when(col("__tgt"), col("k")).otherwise(0L)).as("nt"),
      sum(when(col("__tgt"), lit(0L)).otherwise(col("k"))).as("nr"),
      count_distinct(col("w1"), col("w2")).as("v"))
    val docBi = docAll.where(!col("__tgt"))
      .select(col("id"), col("w1"), col("w2"), col("k"))
    // every raw-doc bigram exists in rawCounts by construction (inner
    // join); a bigram the target corpus never saw degrades to the
    // smoothing floor via the left join's coalesce(ct, 0)
    val lr = round(
      log((coalesce(col("ct"), lit(0L)).cast("double") + lit(1.0)) /
        (col("nt") + col("v")).cast("double")) -
      log((col("cr").cast("double") + lit(1.0)) /
        (col("nr") + col("v")).cast("double")), 9)
    docBi.join(rawCounts, Seq("w1", "w2"))
      .join(tgtCounts, Seq("w1", "w2"), "left")
      .crossJoin(broadcast(scalars))
      .groupBy(col("id"))
      .agg(sum(col("k")).as("n_bigrams"),
        round(sum(col("k").cast("decimal(10,0)") *
            lr.cast("decimal(20,9)")).cast("double"), 6).as("logw"))
  }

  /** Hashing-trick text embedding (Weinberger et al. '09): each token
    * hashes to one of `dim` signed buckets (bucket = low hash bits,
    * sign = the next bit), per-doc signed counts L2-normalize into a
    * dense `array<double>` — a model-free text→vector encoder that
    * makes the whole similarity stack (cosine near-dup, k-NN, PCA,
    * semantic decontamination) usable on raw text with no trained
    * model in the loop.
    *
    * Scale shape: explode(token) → map-side-combinable
    * (id, bucket) partial sums → one per-doc aggregate whose state is
    * ≤ dim entries; nothing doc-pair-shaped anywhere. `dim` must be a
    * power of two: bucketing uses a bit mask, which is the ONLY
    * signed/unsigned-agnostic modulo — it keeps the engine's signed
    * 64-bit [[graft.functions.PolyHash64]] fold and the oracle's
    * unsigned HUGEINT replay on the same buckets. Note the house
    * tokenizer maps empty text to ONE empty token (string-split
    * semantics, shared with every n-gram oracle), so even empty docs
    * embed — to a fixed one-hot — rather than dropping out.
    */
  def hashEmbedding(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame = {
    require(dim > 0 && (dim & (dim - 1)) == 0,
      "dim must be a power of two")
    val signBit = Integer.numberOfTrailingZeros(dim)
    val h = graft.functions.SetExpressions.polyHash64(col("tok"))
    val sums = df
      .select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .select(col("id"),
        col("tok"),
        h.as("h"))
      .select(col("id"),
        col("h").bitwiseAND(lit((dim - 1).toLong)).cast("int")
          .as("bucket"),
        when(shiftrightunsigned(col("h"), signBit)
          .bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L).as("sgn"))
      .groupBy("id", "bucket")
      .agg(sum(col("sgn")).as("w"))
    sums.groupBy("id")
      .agg(map_from_entries(collect_list(
        struct(col("bucket"), col("w")))).as("m"))
      .select(col("id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("m"), i.cast("int")), lit(0L))
            .cast("double")).as("raw"))
      .withColumn("nrm",
        graft.functions.VectorExpressions.vectorNorm(col("raw")))
      .select(col("id"),
        when(col("nrm") > 0,
          transform(col("raw"), x => x / col("nrm")))
          .otherwise(col("raw")).as("vec"))
  }
}
