package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.operators.TextRetrieval

/** The composed forms that compiled kernels replaced, and the exact
  * all-pairs embedding near-dup, kept as the equality specs' references.
  * None of them runs in the engine.
  */
object TwinReference {

  /** Bind a subexpression ONCE and reference it through a lambda variable
    * (used by [[detectLanguageHof]]). Spark has no let-binding; without
    * it, Catalyst inlines a copy of the bound expression into every use
    * site, and inside interpreted higher-order functions each copy
    * re-evaluates per reference (the `corpus_datacard` pathology: a whole
    * regexp_replace re-run per character position inside a per-trigram
    * lambda). A single-element `transform` evaluates its input once per
    * row and hands the lambda a bound variable.
    */
  private def let(v: Column)(f: Column => Column): Column =
    element_at(transform(array(v), f), 1)

  /** The composed form `TextAnalysis.detectLanguageCol` replaced
    * (LangIdSpec): trigram positions via `sequence`+`transform`, profile
    * hits via `filter`+`size`, argmax via `array_max` over (score, lang)
    * structs, each stage let-bound. Counting positions whose trigram is
    * in the profile set equals the scalar version's per-gram overlapping
    * indexOf counts because each profile's grams are distinct. It is the
    * shape `langidChainSql` mirrors in DuckDB.
    */
  def detectLanguageHof(text: Column): Column = {
    val raw = coalesce(text, lit(""))
    val scoredLang =
      let(concat(lit(" "), regexp_replace(lower(raw), "\\s+", " "), lit(" "))) { t =>
        let(when(length(t) < 3, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(0), length(t) - 3), i => t.substr(i + 1, lit(3))))) { tris =>
          let(array_max(array(TextAnalysis.langProfiles.toSeq.sortBy(_._1).collect {
            case (lang, grams) if grams.nonEmpty =>
              struct(size(filter(tris, g => g.isin(grams: _*))).as("s"), lit(lang).as("l"))
          }: _*))) { best =>
            when(best.getField("s") === 0, lit("und")).otherwise(best.getField("l"))
          }
        }
      }
    val cjk = length(regexp_replace(raw, "[^\\x{4E00}-\\x{9FFF}\\x{3400}-\\x{4DBF}]", ""))
    when(length(trim(raw)) === 0, lit("und"))
      .when(cjk * 2 >= length(text), lit("zh"))
      .otherwise(scoredLang)
  }

  /** The composed form `TextAnalysis.charShingles` replaced
    * (CharShinglesSpec): the fused expression must match it bit for bit
    * on any input.
    */
  def charShinglesHof(text: Column, n: Int): Column =
    when(length(text) < n, array().cast("array<string>"))
      .otherwise(array_sort(array_distinct(
        transform(
          sequence(lit(0), length(text) - n),
          i => text.substr(i + 1, lit(n))))))

  /** The composed form `Dedup.gramHashes` replaced (TokenGramHashesSpec
    * pins bit-identity on size >= k inputs, the guard every call site
    * applies).
    */
  def gramHashesHof(toks: Column, k: Int): Column =
    transform(
      sequence(lit(0), size(toks) - k),
      i => xxhash64(lower(array_join(slice(toks, i + 1, lit(k)), " "))))

  /** The composed form `Scale.dsirTermsCol` replaced (WordNgramTermsSpec
    * pins bit-identity).
    */
  def dsirTermsColHof(text: Column): Column = {
    val toks = TextRetrieval.tokensCol(text)
    val n1 = greatest(size(toks) - 1, lit(0))
    concat(toks,
      zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
        (a, b) => concat(a, lit(" "), b)))
  }

  /** Embedding-cosine near-dup pairs above a similarity threshold, exact
    * all-pairs form: the brute-force cross-check for
    * `Dedup.embeddingNearDupBucketed`'s recall spec (a
    * BroadcastNestedLoopJoin, which does not survive a corpus that
    * outgrows one executor).
    */
  def embeddingNearDupPairs(vecs: DataFrame, threshold: Double): DataFrame = {
    val a = vecs.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = vecs.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim",
        graft.expressions.VectorExpressions.cosineSim(col("emb_a"), col("emb_b")))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }
}
