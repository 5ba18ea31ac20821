package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The DSIR unigram+bigram term stream of a text column, fused: the
  * hashed-n-gram feature space of Xie et al. 2023 that
  * [[graft.operators.Scale.dsirFeatures]] and the quality classifier
  * consume. Replaces the composed form (kept as
  * `TwinReference.dsirTermsColHof` in test sources for the equality spec)
  * `concat(toks, zip_with(slice(toks,1,n-1), slice(toks,2,n-1), concat))`
  * whose slice/zip_with lambdas evaluate interpreted per token — the
  * bigram stage alone measured ~3× the cost of the codegen'd tokenize
  * it builds on (`dsir_terms` vs `tokens_only` in the `graft.ExprBench`
  * main, now kept only in git history).
  *
  * Bit-identical by construction: tokenization calls the SAME kernels
  * the composed form bottoms out in — [[Lowercase]] (what `lower`
  * executes, ICU case mapping included) and
  * `UTF8String.split(pattern, -1)` (what `split` executes) — then one
  * pass emits the non-empty tokens followed by adjacent pairs joined
  * with a single space. Null input → null; 0- or 1-token input → just
  * the tokens, matching the `greatest(size-1, 0)` slice guard.
  */
case class WordNgramTerms(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngram_terms"

  private val splitPattern = UTF8String.fromString("[^\\p{L}\\p{N}]+")
  private val space = UTF8String.fromString(" ")
  private def collationId: Int = child.dataType.asInstanceOf[StringType].collationId
  private lazy val useICU: Boolean = Lowercase.icu

  protected override def nullSafeEval(input: Any): Any = {
    val parts = Lowercase(input.asInstanceOf[UTF8String], collationId, useICU)
      .split(splitPattern, -1)
    var nTok = 0
    var i = 0
    while (i < parts.length) {
      if (parts(i).numBytes() > 0) { parts(nTok) = parts(i); nTok += 1 }
      i += 1
    }
    val nBi = math.max(nTok - 1, 0)
    val out = new Array[Any](nTok + nBi)
    i = 0
    while (i < nTok) { out(i) = parts(i); i += 1 }
    i = 0
    while (i < nBi) {
      out(nTok + i) = UTF8String.concat(parts(i), space, parts(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgramTerms =
    copy(child = newChild)
}
