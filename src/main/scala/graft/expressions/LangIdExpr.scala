package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.TextAnalysis

/** The trigram-profile language ID of
  * [[graft.functions.TextAnalysis.detectLanguageCol]] in one pass over the
  * code points. Replaces the composed form (kept as
  * `TwinReference.detectLanguageHof` in test sources for the equality
  * spec), whose
  * `transform`/`filter` lambdas evaluate interpreted once per trigram
  * per profile with an `isin` over the profile's list.
  *
  * Identical to the composed form by construction:
  *  - null or space-only text (`trim` strips spaces only) → "und";
  *  - "zh" when CJK code points are at least half of `length(text)`;
  *  - the text is lowered by the kernel `lower` runs ([[Lowercase]]), every
  *    `\s` run (java.util.regex: `[ \t\n\x0B\f\r]`) becomes one space and
  *    one space is added at each end — `regexp_replace(lower(text),
  *    '\\s+', ' ')` wrapped in spaces;
  *  - every code-point trigram adds 1 to each profile that lists it (a
  *    profile's grams are distinct, so this is `size(filter(tris,
  *    isin))`); the best score wins, a tie goes to the greatest language
  *    code (`array_max` over `(s, l)` structs), and a best score of 0 is
  *    "und".
  * Generated code calls [[LangId.detect]] once per row.
  */
case class LangId(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_langid"

  override def checkInputDataTypes(): TypeCheckResult = LangId.stringInput(this, child)

  private def collationId: Int = child.dataType.asInstanceOf[StringType].collationId
  private lazy val useICU: Boolean = Lowercase.icu

  override def eval(input: InternalRow): Any =
    LangId.detect(child.eval(input).asInstanceOf[UTF8String], collationId, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |UTF8String ${ev.value} = graft.expressions.LangId$$.MODULE$$.detect(
      |  ${c.isNull} ? null : ${c.value}, $collationId, $useICU);""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LangId =
    copy(child = newChild)
}

object LangId {

  private val Und = UTF8String.fromString("und")
  private val Zh = UTF8String.fromString("zh")

  /** Languages with a trigram profile, ascending: the argmax keeps the
    * later code on a tie. */
  private val langs: Array[String] =
    TextAnalysis.langProfiles.collect { case (l, gs) if gs.nonEmpty => l }.toArray.sorted
  private val langsUtf8 = langs.map(UTF8String.fromString)

  private def key(a: Int, b: Int, c: Int): Long =
    (a.toLong << 42) | (b.toLong << 21) | c.toLong

  /** Every profile trigram as a packed code-point key, ascending, with
    * the bitmask of the profiles that list it. */
  private val (gramKeys, gramMasks): (Array[Long], Array[Int]) = {
    val masks = langs.zipWithIndex.flatMap { case (l, i) =>
      TextAnalysis.langProfiles(l).map { g =>
        val cps = g.codePoints().toArray
        require(cps.length == 3, s"profile gram '$g' of $l is not a trigram")
        key(cps(0), cps(1), cps(2)) -> (1 << i)
      }
    }.groupMapReduce(_._1)(_._2)(_ | _).toArray.sortBy(_._1)
    (masks.map(_._1), masks.map(_._2))
  }

  /** java.util.regex `\s` without UNICODE_CHARACTER_CLASS. */
  private def isRegexSpace(cp: Int): Boolean =
    cp == ' ' || (cp >= '\t' && cp <= '\r')

  private def isCjk(cp: Int): Boolean =
    (cp >= 0x4E00 && cp <= 0x9FFF) || (cp >= 0x3400 && cp <= 0x4DBF)

  def detect(text: UTF8String, collationId: Int, useICU: Boolean): UTF8String = {
    if (text == null || text.trim().numBytes() == 0) return Und
    val raw = text.toString
    var cjk = 0
    var i = 0
    while (i < raw.length) {
      val cp = raw.codePointAt(i)
      if (isCjk(cp)) cjk += 1
      i += Character.charCount(cp)
    }
    if (cjk * 2 >= text.numChars()) return Zh
    val low = Lowercase(text, collationId, useICU).toString
    val t = new Array[Int](low.length + 2)
    var n = 0
    t(n) = ' '; n += 1
    var inSpace = false
    i = 0
    while (i < low.length) {
      val cp = low.codePointAt(i)
      if (!isRegexSpace(cp)) { t(n) = cp; n += 1; inSpace = false }
      else if (!inSpace) { t(n) = ' '; n += 1; inSpace = true }
      i += Character.charCount(cp)
    }
    t(n) = ' '; n += 1
    val scores = new Array[Int](langs.length)
    var p = 0
    while (p + 3 <= n) {
      val at = java.util.Arrays.binarySearch(gramKeys, key(t(p), t(p + 1), t(p + 2)))
      if (at >= 0) {
        var m = gramMasks(at)
        var l = 0
        while (m != 0) { if ((m & 1) != 0) scores(l) += 1; m >>>= 1; l += 1 }
      }
      p += 1
    }
    var best = 0
    var l = 1
    while (l < scores.length) { if (scores(l) >= scores(best)) best = l; l += 1 }
    if (scores(best) == 0) Und else langsUtf8(best)
  }

  /** The analyzer check both text kernels share: a string child. */
  private[expressions] def stringInput(e: Expression, child: Expression): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${e.prettyName} expects a string argument, got ${child.dataType.simpleString}")

  /** Builder for SQL registration: graft_langid(text). A non-string
    * argument is cast to string, the coercion the ScalaUDF this replaces
    * applied. */
  def fromArgs(exprs: Seq[Expression]): LangId = {
    SqlArgs.arity("graft_langid", exprs, 1, 1)
    val e = exprs.head
    LangId(if (e.resolved && !e.dataType.isInstanceOf[StringType]) Cast(e, StringType) else e)
  }
}
