package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis expression library for the LLM-data-pipeline surface
  * (north-star extension, SURVEY §7.2.8): tokenization, shingling,
  * language ID, quality scoring, fingerprinting.
  *
  * Everything here is composed from codegen'd Spark builtins (split,
  * regexp_extract_all, higher-order array functions, sha2) — no UDFs,
  * so whole-stage codegen spans stay wide and the expressions vectorize
  * over 100 TB of documents exactly like any other projection.
  */
object TextFunctions {

  /** Lowercased whitespace tokens. */
  def tokens(c: Column): Column = split(lower(c), " ")

  /** BPE-ish lexer classes: alpha runs, digit runs, single punctuation. */
  val tokenPattern: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Token count under [[tokenPattern]]. `regexp_count` counts matches
    * without materializing the match array (`size(regexp_extract_all)`
    * allocated every token string per row just to count them).
    */
  def regexTokenCount(c: Column): Column =
    regexp_count(c, lit(tokenPattern))

  /** Distinct n-word shingles of a token array (n-gram set for
    * Jaccard/MinHash). Arrays shorter than n yield an empty set.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(toks, i + lit(j + 1))): _*))))

  /** Mean token length (characters). */
  def meanTokenLength(toks: Column): Column =
    aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast("double") /
      size(toks)

  /** Discriminative stopword profiles (pairwise-disjoint word lists so
    * the vote is unambiguous). Latin scripts vote by token membership;
    * zh has no whitespace tokens and votes by substring occurrences.
    */
  val stopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "you", "that", "it", "for",
      "with", "this"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ich",
      "mit", "ein", "zu"),
    "es" -> Seq("el", "y", "los", "las", "por", "como", "para", "pero",
      "sus", "muy"),
    "fr" -> Seq("le", "les", "des", "et", "est", "dans", "pour", "sur",
      "avec", "pas"))
  val zhMarkers: Seq[String] =
    Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这")

  /** n-gram-heuristic language ID over {en,de,es,fr,zh}: the language
    * whose marker set scores the most hits; "und" when nothing matches.
    */
  def langId(c: Column): Column = {
    val toks = tokens(c)
    val latin = stopwordProfiles.map { case (lang, words) =>
      struct(size(filter(toks, t => t.isin(words: _*))).as("score"),
        lit(lang).as("lang"))
    }
    // substring occurrence count: (len(text) - len(text minus marker)) / len(marker)
    val zhScore = zhMarkers.map { m =>
      (length(c) - length(replace(c, lit(m), lit("")))) / lit(m.length)
    }.reduce(_ + _)
    val zh = struct(zhScore.cast("int").as("score"), lit("zh").as("lang"))
    val best = array_max(array((latin :+ zh): _*))
    when(best.getField("score") <= 0, lit("und"))
      .otherwise(best.getField("lang"))
  }

  /** Punctuation density (non-alphanumeric, non-space chars per char).
    * Counted as length minus the kept-charset length via `translate` —
    * a plain per-char table lookup, measured 9× faster than the
    * equivalent `regexp_count(c, "[^A-Za-z0-9\\s]")` (2.4 s → 0.26 s
    * on 50k docs) and the dominant term of the quality score. The keep
    * set spells out Java regex `\s` ([ \t\n\x0B\f\r]) exactly, so the
    * count is bit-identical to the regex formulation the SQL oracle
    * replays.
    */
  private val alnumSpace: String =
    ('A' to 'Z').mkString + ('a' to 'z').mkString +
      ('0' to '9').mkString + " \t\n\u000B\f\r"

  def punctRatio(c: Column): Column =
    length(translate(c, alnumSpace, ""))
      .cast("double") / greatest(length(c), lit(1))

  /** Fraction of tokens that are (English) stopwords — a fluency
    * signal: natural prose sits around 0.2-0.5, keyword spam near 0.
    */
  def stopwordRatio(c: Column): Column = {
    val toks = tokens(c)
    size(filter(toks, t => t.isin(stopwordProfiles.head._2: _*)))
      .cast("double") / greatest(size(toks), lit(1))
  }

  /** Composite quality score in [0,1]: length credit + fluency credit +
    * punctuation sanity. Deliberately simple and SQL-portable so it can
    * be oracle-checked; swap in a model scorer via the same column slot.
    */
  def qualityScore(c: Column): Column = {
    val toks = tokens(c)
    val lengthCredit = least(size(toks).cast("double") / lit(100.0), lit(1.0))
    lengthCredit * lit(0.5) + stopwordRatio(c) * lit(0.3) +
      (lit(1.0) - punctRatio(c)) * lit(0.2)
  }

  /** Whitespace-insensitive content fingerprint: sha256 of the
    * lowercased, space-normalized text.
    */
  def fingerprint(c: Column): Column =
    sha2(encode(regexp_replace(lower(c), "\\s+", " "), "UTF-8"), 256)

  // -- PII detection / redaction --------------------------------------

  /** PII patterns, deliberately RE2-compatible (no backreferences or
    * lookaround) so a SQL oracle can replay them verbatim: emails,
    * international +digits phone numbers, US xxx-xxx-xxxx phones, and
    * IPv4 addresses. Detection patterns, not validators — a scrubber
    * prefers false positives over leaks.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "\\+[0-9]{7,15}|\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b",
    "ipv4" -> ("\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}" +
      "\\.[0-9]{1,3}\\b"))

  /** Count of matches of one PII pattern. */
  def piiCount(c: Column, pattern: String): Column =
    regexp_count(c, lit(pattern))

  /** Text with every PII match replaced by its category token
    * (`[EMAIL]`, `[PHONE]`, `[IPV4]`) — the scrub step of a
    * training-data pipeline. Order matters: emails first so their
    * host/digit substrings cannot be half-eaten by later patterns.
    */
  def redactPii(c: Column): Column =
    piiPatterns.foldLeft(c) { case (acc, (name, pattern)) =>
      regexp_replace(acc, pattern, s"[${name.toUpperCase}]")
    }
}
