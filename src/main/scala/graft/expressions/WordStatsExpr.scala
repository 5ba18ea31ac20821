package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.TextAnalysis

/** The integer word counts every whitespace-token tagger of
  * [[graft.functions.TextAnalysis]] derives its signal from, in one pass
  * per document: `tokenCount`, `stopwordRatio`, `meanTokenLen`,
  * `qualityScore`, `gopherRules` and the `text_repetition` query. It
  * replaces their `filter`/`aggregate` lambdas (interpreted per token)
  * and Gopher's word explode with its two `groupBy`s and join back
  * (the composed forms are the references of `WordStatsSpec`).
  *
  * Fields (all counts; the callers do the double arithmetic):
  *  - `n_tokens`: `size(split(trim(text), '\\s+'))`, 0 for space-only text;
  *  - `token_chars`: the summed code-point length of those tokens;
  *  - `stop_tokens`/`distinct_stops`: tokens of
  *    `split(lower(trim(text)), '\\s+')` in `TextAnalysis.Stopwords`,
  *    with multiplicity / distinct;
  *  - `top_word_count`/`n_words`: the largest count of one non-empty
  *    lowered token, and the number of non-empty lowered tokens.
  * Tokens come from the kernels the composed forms run: `UTF8String.trim`
  * (spaces only, so a leading tab makes an empty first token), the
  * `lower` kernel ([[Lowercase]]) and java.util.regex's split with limit -1, which is what `split`
  * executes. Null text → null struct, so every count is null, as
  * `size(split(null))` is.
  */
case class WordStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = WordStats.Schema
  override def prettyName: String = "word_stats"

  override def checkInputDataTypes(): TypeCheckResult = LangId.stringInput(this, child)

  private def collationId: Int = child.dataType.asInstanceOf[StringType].collationId
  private lazy val useICU: Boolean = Lowercase.icu

  protected override def nullSafeEval(input: Any): Any =
    WordStats.of(input.asInstanceOf[UTF8String], collationId, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.WordStats$$.MODULE$$.of($c, $collationId, $useICU)")

  override protected def withNewChildInternal(newChild: Expression): WordStats =
    copy(child = newChild)
}

object WordStats {

  val Schema: StructType = StructType(
    Seq("n_tokens", "token_chars", "stop_tokens", "distinct_stops", "top_word_count", "n_words")
      .map(StructField(_, IntegerType, nullable = false)))

  private val Spaces = java.util.regex.Pattern.compile("\\s+")
  private val One = Integer.valueOf(1)

  private val stopIndex: java.util.HashMap[String, Integer] = {
    require(TextAnalysis.Stopwords.distinct.size <= 32, "stopword bitmask is an Int")
    val m = new java.util.HashMap[String, Integer]()
    TextAnalysis.Stopwords.distinct.zipWithIndex.foreach { case (w, i) => m.put(w, i) }
    m
  }

  def of(text: UTF8String, collationId: Int, useICU: Boolean): InternalRow = {
    val trimmed = text.trim()
    val toks = Spaces.split(trimmed.toString, -1)
    var chars = 0
    var i = 0
    while (i < toks.length) { chars += toks(i).codePointCount(0, toks(i).length); i += 1 }
    val words = Spaces.split(Lowercase(trimmed, collationId, useICU).toString, -1)
    val counts = new java.util.HashMap[String, Integer]()
    var stops = 0
    var stopMask = 0
    var top = 0
    var nWords = 0
    i = 0
    while (i < words.length) {
      val w = words(i)
      val s = stopIndex.get(w)
      if (s != null) { stops += 1; stopMask |= 1 << s.intValue }
      if (!w.isEmpty) {
        nWords += 1
        val c = counts.merge(w, One, (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
          .intValue
        if (c > top) top = c
      }
      i += 1
    }
    val nTokens = if (trimmed.numBytes() == 0) 0 else toks.length
    new GenericInternalRow(Array[Any](
      nTokens, chars, stops, Integer.bitCount(stopMask), top, nWords))
  }
}
