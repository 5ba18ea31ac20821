package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.TextAnalysis
import graft.functions.TextAnalysis.{Stopwords, floorScale, punctRatio, tokenCount}

/** The composed forms the [[graft.expressions.WordStats]] kernel
  * replaced, kept as the references of [[WordStatsSpec]]: the per-token
  * `filter`/`aggregate` lambdas and Gopher's word explode with two
  * `groupBy`s and a left join back.
  */
object WordStatsReference {

  def stopwordRatio(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val stops = size(filter(toks, t => t.isin(Stopwords: _*)))
    when(tokenCount(text) === 0, lit(0.0))
      .otherwise(stops.cast("double") / tokenCount(text).cast("double"))
  }

  def meanTokenLen(text: Column): Column =
    when(tokenCount(text) === 0, lit(0.0))
      .otherwise(
        aggregate(split(trim(text), "\\s+"), lit(0L), (acc, t) => acc + length(t)).cast("double") /
          tokenCount(text).cast("double"))

  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 5.0)
    val stopScore = least(stopwordRatio(text) * 2.5, lit(1.0))
    floorScale(lenScore * 0.4 + punctPenalty * 0.3 + stopScore * 0.3, 6)
  }

  def gopherRules(
      docs: DataFrame,
      minTokens: Int,
      maxTokens: Int,
      minMeanLen: Double,
      maxMeanLen: Double,
      maxRepetition: Double,
      minDistinctStopwords: Int): DataFrame = {
    val rep = docs
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg((max("c").cast("double") / sum("c").cast("double")).as("rep_ratio"))
    val toks = split(lower(trim(col("text"))), "\\s+")
    val nStops = size(array_distinct(filter(toks, t => t.isin(Stopwords: _*))))
    docs
      .select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        meanTokenLen(col("text")).as("mean_len"),
        nStops.as("n_stop"))
      .join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
          .as("rule_word_count"),
        (col("mean_len") >= minMeanLen && col("mean_len") <= maxMeanLen)
          .as("rule_mean_word_len"),
        (coalesce(col("rep_ratio"), lit(0.0)) <= maxRepetition)
          .as("rule_repetition"),
        (col("n_stop") >= minDistinctStopwords).as("rule_stopwords"))
      .withColumn("keep",
        col("rule_word_count") && col("rule_mean_word_len") &&
          col("rule_repetition") && col("rule_stopwords"))
  }

  /** `Attributes.tag` before the kernels: the HOF quality and langid
    * columns, the exact-dup join, then a join to the composed Gopher. */
  def tag(docs: DataFrame): DataFrame = {
    val gopher = gopherRules(docs, 30, 100000, 4.0, 10.0, 0.125, 2)
      .withColumnRenamed("keep", "gopher_keep")
    val hashed = docs.select(
      col("doc_id"), col("lang"),
      qualityScore(col("text")).as("quality"),
      TwinReference.detectLanguageHof(col("text")).as("lang_pred"),
      sha2(coalesce(col("text"), lit("")), 256).as("_content_h"))
    val firsts = hashed.groupBy("_content_h")
      .agg(min(col("doc_id")).as("_first_doc"))
    hashed.join(firsts, Seq("_content_h"))
      .withColumn("is_exact_dup", col("doc_id") =!= col("_first_doc"))
      .drop("_content_h", "_first_doc")
      .join(gopher, Seq("doc_id"))
      .withColumn("lang_match", col("lang_pred") === col("lang"))
  }
}

/** The kernel-based `stopwordRatio`, `meanTokenLen`, `qualityScore`,
  * `gopherRules` and `Attributes.tag` equal their composed forms
  * ([[WordStatsReference]]) row for row, doubles bit for bit, on
  * generated text: null, empty and whitespace-only input, leading tabs
  * and newlines (kept by `trim`, so they make an empty first token),
  * NBSP (not `\s`), upper-case non-ASCII whose lowered form changes
  * length or that only ICU case mapping lowers, upper-case stopwords, repeated words, CJK and astral-plane
  * code points. Doc ids are unique (the document key).
  */
class WordStatsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val pieceGen: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf(Stopwords),
    2 -> Gen.oneOf("The", "AND", "Of", "IS"),
    5 -> Gen.oneOf("spark", "data", "corpus", "token", "a1", "x", "longerword", "ación"),
    3 -> Gen.oneOf("İSTANBUL", "ΣΑΣ", "ÉCOLE", "Straße", "中文", "🙂", "𝔸𝔹", "ß", "\u2C2F"),
    6 -> Gen.oneOf(" ", " ", "\u00A0", "  ", "\t", "\n", "\r\n", "\u000B", "\f", "\u00A0"),
    1 -> Gen.oneOf(",", "!!", "."))

  private val textGen: Gen[String] = for {
    k <- Gen.chooseNum(0, 40)
    parts <- Gen.listOfN(k, pieceGen)
  } yield parts.mkString

  private val fixed: Seq[String] = Seq(
    null, "", " ", "   ", "\t", "\n", " \t ", "\u00A0", "\tthe cat", "\n\nthe the a",
    "the", "THE The the", "spam spam spam spam the a", "İ İ i", "中文 中文 the",
    "a\u00A0the of", "word  word\t\tword ",
    // U+2C2F lowers to U+2C5F under ICU (what `lower` runs) but not under
    // the JVM's older tables: one repeated word, not two distinct ones
    "\u2C2F \u2C5F \u2C2F the", "\uA7C0 \uA7C1 the", "ΟΔΟΣ ΣΑΣ the")

  private def docs(n: Int): DataFrame =
    (fixed ++ (1 to n).map(i => textGen.pureApply(Gen.Parameters.default, Seed(i.toLong))))
      .zipWithIndex.map { case (t, i) => (i.toLong, t, if (i % 3 == 0) "en" else "es") }
      .toDF("doc_id", "text", "lang")

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    // names and types; nullability may tighten (LangId never returns null)
    assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType),
      s"${got.schema.simpleString} vs ${want.schema.simpleString}")
    val g = got.orderBy("doc_id").collect().toSeq
    val w = want.orderBy("doc_id").collect().toSeq
    assert(g.length == w.length)
    g.zip(w).foreach { case (a, b) => assert(a == b, s"kernel $a vs composed $b") }
  }

  test("property: stopwordRatio, meanTokenLen, qualityScore equal the composed forms") {
    val d = docs(400)
    def cols(stop: Column => Column, mean: Column => Column, q: Column => Column) =
      d.select(col("doc_id"), stop(col("text")).as("stop"), mean(col("text")).as("mean"),
        q(col("text")).as("q"))
    assertSameRows(
      cols(TextAnalysis.stopwordRatio, TextAnalysis.meanTokenLen, TextAnalysis.qualityScore),
      cols(WordStatsReference.stopwordRatio, WordStatsReference.meanTokenLen,
        WordStatsReference.qualityScore))
    // null text keeps its null ratios (and qualityScore's least/greatest skip them)
    val nul = cols(TextAnalysis.stopwordRatio, TextAnalysis.meanTokenLen, TextAnalysis.qualityScore)
      .filter(col("doc_id") === 0L).head()
    assert(nul.isNullAt(1) && nul.isNullAt(2) && !nul.isNullAt(3))
  }

  test("property: gopherRules equals the explode/groupBy/join form") {
    val d = docs(400)
    for ((minT, maxT, minL, maxL, rep, stops) <- Seq(
        (30, 100000, 4.0, 10.0, 0.125, 2), (1, 10, 1.0, 5.0, 0.5, 0), (0, 3, 0.0, 99.0, 0.0, 1))) {
      assertSameRows(
        TextAnalysis.gopherRules(d, minT, maxT, minL, maxL, rep, stops),
        WordStatsReference.gopherRules(d, minT, maxT, minL, maxL, rep, stops))
    }
    val nul = TextAnalysis.gopherRules(d).filter(col("doc_id") === 0L).head()
    assert(nul.isNullAt(1) && nul.isNullAt(2), s"null text: n_tokens and the word-count rule are null: $nul")
    assert(nul.getAs[Boolean]("rule_repetition"))
  }

  test("Attributes.tag equals its composed form") {
    val d = docs(200)
    val dup = d.filter(col("doc_id") < 40).withColumn("doc_id", col("doc_id") + 10000)
    val corpus = d.unionByName(dup)
    assertSameRows(graft.operators.Attributes.tag(corpus), WordStatsReference.tag(corpus))
  }
}
