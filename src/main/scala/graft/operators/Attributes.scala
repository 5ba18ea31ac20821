package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Dolma-style attribute sidecar (Soldaini et al. 2024, "Dolma: an Open
  * Corpus..."): run every tagger family ONCE over the corpus and
  * materialize per-document attribute columns — the document text is
  * never mutated, and filtering becomes a declarative POLICY over
  * attributes that can be re-evaluated, ablated, or audited without
  * re-running a single tagger. At 100 TB this is the difference between
  * "change a threshold → one cheap scan of the (narrow) attribute
  * sidecar" and "change a threshold → re-tokenize the corpus".
  *
  * Scale shape: every tagger but one is a per-row projection — quality,
  * language-ID and the Gopher rules (repetition included) read the
  * compiled [[graft.expressions.WordStats]] and
  * [[graft.expressions.LangId]] kernels, the word counts bound once per
  * row. The exact-dup tagger is the one non-local tagger: it ships one
  * 32-byte content hash per doc through a min-aggregate + equi-join (the
  * [[Dedup.exact]] shape), never the text.
  *
  * Reference behavior anchor: the reference app applies its validation
  * chain in-line and discards the evidence (file_utils.py validate →
  * ingest); the sidecar re-expresses that chain as data, which is what
  * makes decisions auditable downstream.
  */
object Attributes {

  /** Tag `docs` (doc_id, text, lang) with the standard attribute set:
    * Gopher rule booleans, the composite quality score, predicted
    * language + claimed-language agreement, and an exact-duplicate flag
    * (first doc_id per content hash survives). One projection over
    * `docs` plus the exact-dup join; `doc_id` is the document key.
    */
  def tag(
      docs: DataFrame,
      minTokens: Int = 30,
      maxTokens: Int = 100000,
      minMeanLen: Double = 4.0,
      maxMeanLen: Double = 10.0,
      maxRepetition: Double = 0.125,
      minDistinctStopwords: Int = 2): DataFrame = {
    val ws = col("_ws")
    val gopher = TextAnalysis.gopherRulesOf(ws, minTokens, maxTokens,
      minMeanLen, maxMeanLen, maxRepetition, minDistinctStopwords)
    val hashed = docs
      .select(col("doc_id"), col("lang"), col("text"),
        TextAnalysis.wordStats(col("text")).as("_ws"))
      .select(Seq(col("doc_id"), col("lang"),
        TextAnalysis.qualityScoreOf(col("text"), ws).as("quality"),
        TextAnalysis.detectLanguageCol(col("text")).as("lang_pred"),
        sha2(coalesce(col("text"), lit("")), 256).as("_content_h")) ++ gopher: _*)
      .withColumnRenamed("keep", "gopher_keep")
    val firsts = hashed.groupBy("_content_h")
      .agg(min(col("doc_id")).as("_first_doc"))
    hashed.join(firsts, Seq("_content_h"))
      .select(col("doc_id"), col("lang"), col("quality"), col("lang_pred"),
        (col("doc_id") =!= col("_first_doc")).as("is_exact_dup"),
        col("n_tokens"), col("rule_word_count"), col("rule_mean_word_len"),
        col("rule_repetition"), col("rule_stopwords"), col("gopher_keep"),
        (col("lang_pred") === col("lang")).as("lang_match"))
  }

  /** Evaluate an ordered policy over a tagged frame: each rule is
    * (name, pass-condition); `first_failed` names the FIRST rule (in
    * declaration order) the document fails — 'none' if it passes all —
    * and `keep` is that test. Pure projection; policy changes never
    * touch the taggers.
    */
  def decide(attrs: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "decide needs at least one rule")
    val firstFailed = coalesce(
      rules.map { case (name, pass) => when(!pass, lit(name)) } :+ lit("none"): _*)
    attrs
      .withColumn("first_failed", firstFailed)
      .withColumn("keep", col("first_failed") === "none")
  }
}
