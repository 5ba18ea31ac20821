package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShim
import java.util.Locale
import scala.util.hashing.MurmurHash3

/** Text-analysis operators for large-scale training-data pipelines:
  * quality scoring, token counting, language ID, document fingerprinting.
  *
  * Everything that can be a native Catalyst expression is one (codegen'd,
  * pushdown-friendly). The per-document kernels that compose badly from
  * built-ins are compiled Catalyst expressions: language ID
  * ([[graft.expressions.LangId]]), the word counts behind the stopword,
  * mean-length, quality and Gopher signals
  * ([[graft.expressions.WordStats]]) and the shingle set
  * ([[graft.expressions.CharShingles]]). The rolling fingerprints and the
  * MinHash/SimHash signatures are Scala functions exposed as UDFs,
  * applied once per document.
  */
object TextAnalysis extends Serializable {

  // ---------------------------------------------------------------- quality
  /** Stopword list used for the stopword-ratio quality signal. */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "at", "by", "be", "are")

  /** Whitespace-token count; 0 for blank text. Native expression. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** GPT2-style regex token count: letter runs, digit runs, punctuation
    * runs, each with optional leading space. Native expression.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(" ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"), lit(0)))

  /** Ratio of punctuation chars to total chars (0 for empty). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double") /
        length(text).cast("double"))

  /** The [[graft.expressions.WordStats]] counts of `text`: a struct of
    * `n_tokens`, `token_chars`, `stop_tokens`, `distinct_stops`,
    * `top_word_count` and `n_words`. The `…Of` forms below take it as a
    * column, so a frame that binds it once (`gopherRules`,
    * `Attributes.tag`) runs the kernel once per row.
    */
  private[graft] def wordStats(text: Column): Column =
    GraftSqlShim.column(graft.expressions.WordStats(GraftSqlShim.expression(text)))

  /** Ratio of stopword tokens to total tokens (0 for empty). */
  def stopwordRatio(text: Column): Column = stopwordRatioOf(wordStats(text))

  private def stopwordRatioOf(ws: Column): Column =
    when(ws("n_tokens") === 0, lit(0.0))
      .otherwise(ws("stop_tokens").cast("double") / ws("n_tokens").cast("double"))

  /** Mean token length in characters (0 for empty). */
  def meanTokenLen(text: Column): Column = meanTokenLenOf(wordStats(text))

  private def meanTokenLenOf(ws: Column): Column =
    when(ws("n_tokens") === 0, lit(0.0))
      .otherwise(ws("token_chars").cast("double") / ws("n_tokens").cast("double"))

  /** Composite document quality score in [0,1]: rewards reasonable length,
    * moderate stopword density and low punctuation noise. A deterministic
    * stand-in for model-based quality classifiers used in pretraining-data
    * curation pipelines.
    */
  def qualityScore(text: Column): Column = qualityScoreOf(text, wordStats(text))

  /** [[qualityScore]] over `text` and its bound [[wordStats]]. */
  private[graft] def qualityScoreOf(text: Column, ws: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 5.0)
    val stopScore = least(stopwordRatioOf(ws) * 2.5, lit(1.0))
    // floor-scale instead of round(): Spark's round() goes through the
    // shortest decimal string (BigDecimal HALF_UP) while DuckDB rounds the
    // binary double, so values landing exactly on a …5e-7 boundary split
    // between engines; floor is a pure function of the double and both
    // engines agree bit-for-bit.
    floorScale(lenScore * 0.4 + punctPenalty * 0.3 + stopScore * 0.3, 6)
  }

  /** Named boolean quality rules in the style of the Gopher paper's
    * document filters (Rae et al. 2021, §A1.1): token-count window,
    * mean-word-length window, single-word repetition cap, and minimum
    * distinct-stopword presence; `keep` = all rules pass. Filters want
    * DECISIONS with reasons — a doc dropped for repetition is a
    * different pipeline signal than one dropped for length — so each
    * rule is its own column rather than folded into one score
    * (complementing [[qualityScore]], which is the soft-score form).
    *
    * One per-row projection over the [[wordStats]] counts: the
    * repetition ratio is the top count of one non-empty lowered word
    * over the number of such words (0 for a doc without words), so no
    * explode, aggregation or join runs. `doc_id` is the document key:
    * each row is scored on its own text, and rows that share a `doc_id`
    * are not pooled. Defaults are the paper's; callers fit thresholds to
    * their corpus.
    */
  def gopherRules(
      docs: DataFrame,
      minTokens: Int = 50,
      maxTokens: Int = 100000,
      minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0,
      maxRepetition: Double = 0.2,
      minDistinctStopwords: Int = 2): DataFrame =
    docs.select(col("doc_id"), wordStats(col("text")).as("_ws"))
      .select(col("doc_id") +: gopherRulesOf(col("_ws"), minTokens, maxTokens,
        minMeanLen, maxMeanLen, maxRepetition, minDistinctStopwords): _*)

  /** [[gopherRules]]' columns (`n_tokens`, the four `rule_*` booleans,
    * `keep`) over a bound [[wordStats]] column. */
  private[graft] def gopherRulesOf(
      ws: Column,
      minTokens: Int,
      maxTokens: Int,
      minMeanLen: Double,
      maxMeanLen: Double,
      maxRepetition: Double,
      minDistinctStopwords: Int): Seq[Column] = {
    val meanLen = meanTokenLenOf(ws)
    val repRatio = when(ws("n_words") > 0,
      ws("top_word_count").cast("double") / ws("n_words").cast("double"))
    val wordCount = ws("n_tokens") >= minTokens && ws("n_tokens") <= maxTokens
    val meanWordLen = meanLen >= minMeanLen && meanLen <= maxMeanLen
    val repetition = coalesce(repRatio, lit(0.0)) <= maxRepetition
    val stopwords = ws("distinct_stops") >= minDistinctStopwords
    Seq(ws("n_tokens").as("n_tokens"),
      wordCount.as("rule_word_count"),
      meanWordLen.as("rule_mean_word_len"),
      repetition.as("rule_repetition"),
      stopwords.as("rule_stopwords"),
      (wordCount && meanWordLen && repetition && stopwords).as("keep"))
  }

  /** Cross-engine-stable truncation to `digits` decimals (see
    * [[qualityScore]] for why this beats `round` for oracle parity).
    */
  def floorScale(c: Column, digits: Int): Column = {
    val f = math.pow(10, digits)
    floor(c * f) / f
  }

  // ---------------------------------------------------------------- langid
  /** Tiny character-trigram language profiles for a 5-language ID heuristic.
    * Deterministic, dependency-free; scored by profile-hit counting.
    */
  private val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq(" th", "the", "he ", " an", "and", "nd ", "ing", "ng ", " of", "of ", " to", "to ", "ion"),
    "es" -> Seq(" de", "de ", " la", "la ", "os ", " qu", "que", "ue ", " el", "el ", "ión", "ció", " en"),
    "fr" -> Seq(" de", "de ", " le", "le ", "es ", " la", "et ", " et", "ent", "nt ", "ion", " un", "que"),
    "de" -> Seq("er ", "en ", " de", "der", "ie ", "die", "ch ", " di", "sch", "ein", "ung", "ich", " un"),
    "zh" -> Seq() // handled by CJK codepoint detection
  )

  /** Profiles, exposed so the DuckDB oracle SQL is generated from the same
    * source of truth (no duplicate gram lists to drift apart).
    */
  def langProfiles: Map[String, Seq[String]] = LangProfiles

  /** Heuristic language ID over char trigrams; "und" when no profile hits. */
  def detectLanguage(text: String): String = {
    if (text == null || text.trim.isEmpty) return "und"
    val cps = text.codePoints().toArray
    val cjk = cps.count(cp =>
      (cp >= 0x4E00 && cp <= 0x9FFF) || (cp >= 0x3400 && cp <= 0x4DBF))
    // codepoint-denominated (not UTF-16 units), matching the column form
    // and any engine that counts characters — astral-plane text would
    // otherwise split the two implementations
    if (cjk * 2 >= cps.length) return "zh"
    val t = " " + text.toLowerCase(Locale.ROOT).replaceAll("\\s+", " ") + " "
    val scores = LangProfiles.collect { case (lang, grams) if grams.nonEmpty =>
      var s = 0
      grams.foreach { g =>
        var idx = t.indexOf(g)
        while (idx >= 0) { s += 1; idx = t.indexOf(g, idx + 1) }
      }
      (lang, s)
    }
    val (best, score) = scores.maxBy { case (l, s) => (s, l) }
    if (score == 0) "und" else best
  }

  /** [[detectLanguage]] as a column: the compiled
    * [[graft.expressions.LangId]] kernel, one pass over the code points
    * per row. It equals the scalar form and the composed HOF form kept
    * in test sources (LangIdSpec), and the composed form is what the
    * DuckDB mirror replays.
    */
  def detectLanguageCol(text: Column): Column =
    GraftSqlShim.column(graft.expressions.LangId(GraftSqlShim.expression(text)))

  // --------------------------------------------------------- PII redaction
  /** Redact common PII patterns (emails, phone numbers, IPv4, SSN-shaped
    * ids) to typed placeholder tokens — a standard pretraining-corpus
    * scrub. Lookaround-free patterns, identical under Java regex and RE2.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ipv4 = regexp_replace(email,
      "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>")
    val ssn = regexp_replace(ipv4,
      "[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>")
    regexp_replace(ssn,
      "(\\+?[0-9]{1,2}[-. ])?\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}", "<PHONE>")
  }

  // ------------------------------------------------------- markdown strip
  /** T-11 (ChatInterface.js:224 `removeMd` before TTS): strip markdown
    * syntax to plain prose. Pure regexp_replace chain (no lookarounds, so
    * the same patterns run under Java regex and RE2 — oracle-checkable).
    */
  def stripMarkdown(text: Column): Column = {
    val noImages = regexp_replace(text, "!\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noLinks = regexp_replace(noImages, "\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noFences = regexp_replace(noLinks, "```[a-zA-Z]*", "")
    val noInlineCode = regexp_replace(noFences, "`", "")
    val noHeaders = regexp_replace(noInlineCode, "(?m)^#{1,6}[ \\t]*", "")
    val noQuotes = regexp_replace(noHeaders, "(?m)^>[ \\t]*", "")
    val noLists = regexp_replace(noQuotes, "(?m)^[ \\t]*[-*+][ \\t]+", "")
    val noEmphasis = regexp_replace(noLists, "(\\*\\*|__|\\*|_)", "")
    trim(regexp_replace(noEmphasis, "[ \\t]+", " "))
  }

  // ----------------------------------------------------------- fingerprint
  /** 64-bit rolling polynomial document fingerprint (Rabin-Karp style) over
    * the normalized text — a cheap content identity for exact-dup detection
    * that is stable under whitespace differences (unlike sha2 over raw
    * bytes, SURVEY.md T-5).
    */
  def fingerprint(text: String): Long = {
    if (text == null) return 0L
    val norm = text.toLowerCase(Locale.ROOT).replaceAll("\\s+", " ").trim
    var h = 1125899906842597L // prime
    var i = 0
    while (i < norm.length) { h = 31 * h + norm.charAt(i); i += 1 }
    h
  }

  def fingerprintUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => fingerprint(s))

  /** Overflow-free variant of [[fingerprint]]: the same rolling
    * polynomial reduced mod 2^31-1 at every step, so the arithmetic stays
    * below 2^36 and is exactly reproducible in any engine with 64-bit
    * integers (ANSI-SQL-expressible → oracle-checkable, unlike the
    * wrap-around Long form).
    */
  def fingerprintMod(text: String): Long = {
    if (text == null) return 0L
    val norm = text.toLowerCase(Locale.ROOT).replaceAll("\\s+", " ").trim
    var h = 7L
    var i = 0
    while (i < norm.length) {
      h = (31L * h + norm.codePointAt(i)) % 2147483647L
      i += Character.charCount(norm.codePointAt(i))
    }
    h
  }

  def fingerprintModUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => fingerprintMod(s))

  // ------------------------------------------------- portable mod-p hashing
  /** 2^31-1, the Mersenne prime all portable hashes reduce by: every
    * intermediate stays under 2^62, so the identical arithmetic runs on
    * any engine with 64-bit integers (the DuckDB oracle included).
    */
  val ModP: Long = 2147483647L

  /** Rolling polynomial hash of a string mod [[ModP]] (base 31, seed 7) —
    * the shared shingle/feature hash of the portable MinHash and SimHash
    * below. Same construction as [[fingerprintMod]] minus the whitespace
    * normalization (inputs here are already tokenized).
    */
  def hashMod(s: String): Long = {
    var h = 7L
    var i = 0
    while (i < s.length) {
      h = (31L * h + s.codePointAt(i)) % ModP
      i += Character.charCount(s.codePointAt(i))
    }
    h
  }

  /** Column form of [[hashMod]] for the portable (oracle-checkable)
    * feature-hash paths; the murmur `hash()` builtin stays the scale
    * default wherever cross-engine exactness isn't needed.
    */
  def hashModUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => hashMod(s))

  /** Sentinel for the MinHash of an empty shingle set: [[ModP]] itself,
    * unreachable by any `x mod ModP`. Two empty docs therefore agree on
    * every signature slot (estimated Jaccard 1), matching the convention
    * that two empty sets are identical.
    */
  val EmptySigSlot: Long = ModP

  /** Portable MinHash signature: permutation k is the affine map
    * h -> (A_k·h + B_k) mod p with A_k = 48271(k+1) mod p,
    * B_k = (16807(k+1)+11) mod p (both derived, no constant table to keep
    * in sync with the oracle SQL). Exact same output in any 64-bit-integer
    * engine. The murmur-based [[minHashSignature]] stays on the curate
    * path: this affine family over-estimates Jaccard at curate's 64
    * hashes / 16 bands and plants spurious duplicate clusters there (see
    * [[graft.operators.Dedup.minHashLshPairsPortable]]).
    */
  def minHashSignaturePortable(shingles: Array[String], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(EmptySigSlot)
    var i = 0
    while (i < shingles.length) {
      val h = hashMod(shingles(i))
      var k = 0
      while (k < numHashes) {
        val a = (48271L * (k + 1)) % ModP
        val b = (16807L * (k + 1) + 11L) % ModP
        val v = (a * h + b) % ModP
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      i += 1
    }
    sig
  }

  /** Portable 31-bit SimHash over word uni+bigram features (same feature
    * set as [[simHash]], but [[hashMod]] instead of murmur so the value is
    * engine-reproducible). Bit j set iff more feature hashes have bit j
    * set than clear.
    */
  def simHashMod(text: String): Long = {
    if (text == null) return 0L
    val v = new Array[Int](31)
    def add(f: String): Unit = {
      val h = hashMod(f)
      var b = 0
      while (b < 31) {
        if (((h >>> b) & 1L) == 1L) v(b) += 1 else v(b) -= 1
        b += 1
      }
    }
    val ts = HashEmbedder.tokens(text)
    var i = 0
    while (i < ts.length) {
      add(ts(i))
      if (i + 1 < ts.length) add(ts(i) + "_" + ts(i + 1))
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 31) { if (v(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def simHashModUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => simHashMod(s))

  // -------------------------------------------------------------- shingles
  /** Character n-gram shingle set as a native expression: distinct sorted
    * n-char substrings. Used by n-gram Jaccard dedup; expressible in ANSI
    * SQL so it stays oracle-checkable.
    */
  def charShingles(text: Column, n: Int): Column =
    GraftSqlShim.column(
      graft.expressions.CharShingles(GraftSqlShim.expression(text), n))

  /** Word w-shingles via Scala (for MinHash); lowercased. */
  def wordShingles(text: String, w: Int): Array[String] = {
    val ts = HashEmbedder.tokens(text)
    if (ts.length < w) { if (ts.isEmpty) Array.empty else Array(ts.mkString(" ")) }
    else ts.sliding(w).map(_.mkString(" ")).toArray
  }

  // --------------------------------------------------------------- minhash
  /** MinHash signature of a shingle set: `numHashes` permutations via the
    * standard double-hashing construction h_k(s) = h1(s) + k·h2(s)
    * (Kirsch-Mitzenmacher) — two murmur3 calls per shingle instead of
    * `numHashes`, a ~32× hash-cost cut that matters when signatures run
    * over billions of shingles. Same accuracy guarantees as independent
    * hash functions for MinHash estimation. It is the signature of
    * [[graft.operators.Dedup.minHashLshPairs]], the curate path, where the
    * portable affine family measurably fails (see
    * [[graft.operators.Dedup.minHashLshPairsPortable]]).
    */
  def minHashSignature(shingles: Array[String], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val s = shingles(i)
      val h1 = MurmurHash3.stringHash(s, 0x9E3779B9).toLong & 0xFFFFFFFFL
      val h2 = (MurmurHash3.stringHash(s, 0x85EBCA6B).toLong & 0xFFFFFFFFL) | 1L // odd
      var k = 0
      while (k < numHashes) {
        val h = (h1 + k * h2) & 0xFFFFFFFFL
        if (h < sig(k)) sig(k) = h
        k += 1
      }
      i += 1
    }
    sig
  }

  /** Band hashes for LSH banding of a MinHash signature:
    * (bandIndex, hashOfBandRows). Docs sharing any band hash are candidates.
    */
  def bandHashes(sig: Array[Long], bands: Int): Array[(Int, Long)] = {
    require(bands > 0 && bands <= sig.length && sig.length % bands == 0,
      s"bands ($bands) must evenly divide the signature length (${sig.length}) — " +
        "otherwise trailing rows are silently ignored or all bands collapse to a constant")
    val rows = sig.length / bands
    Array.tabulate(bands) { b =>
      var h = 1469598103934665603L
      var r = b * rows
      while (r < (b + 1) * rows) { h = (h ^ sig(r)) * 1099511628211L; r += 1 }
      (b, h)
    }
  }

  // --------------------------------------------------------------- simhash
  /** 64-bit SimHash over word uni+bigram features. Near-dup docs have small
    * Hamming distance between fingerprints.
    */
  def simHash(text: String): Long = {
    val v = new Array[Int](64)
    def add(f: String): Unit = {
      val h1 = MurmurHash3.stringHash(f, 0x51A4)
      val h2 = MurmurHash3.stringHash(f, 0xC0FE)
      val h = (h1.toLong << 32) | (h2.toLong & 0xFFFFFFFFL)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) v(b) += 1 else v(b) -= 1
        b += 1
      }
    }
    val ts = HashEmbedder.tokens(text)
    var i = 0
    while (i < ts.length) {
      add(ts(i))
      if (i + 1 < ts.length) add(ts(i) + "_" + ts(i + 1))
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (v(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def simHashUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => simHash(s))

  /** Hamming distance between two 64-bit fingerprints, as a native column. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
