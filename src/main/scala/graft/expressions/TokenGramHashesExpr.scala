package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** xxhash64 of every lowercased, space-joined k-token window of a token
  * array — the per-window kernel of the span-dedup family
  * ([[graft.operators.Dedup.repeatedSpanDedup]]/`gramIndex`/
  * `incrementalSpanDedup`), fused. Replaces the composed form (kept as
  * `TwinReference.gramHashesHof` in test sources for the equality spec)
  * `transform(sequence(0, n-k), i -> xxhash64(lower(array_join(slice(
  * toks, i+1, k), " "))))`, whose lambda evaluates interpreted per
  * window and re-materializes a sliced array + joined string through
  * Column machinery each step.
  *
  * Bit-identical by construction: the window string is
  * `UTF8String.concatWs(" ", tokens)` lowered by [[Lowercase]] — the
  * same kernels `array_join` and `lower` execute — hashed through the same
  * [[XxHash64Function]] with `xxhash64`'s seed 42. One divergence, by
  * design: fewer than k tokens yields an EMPTY array, where the raw
  * HOF form would have `sequence(0, n-k)` silently produce a
  * DECREASING sequence (the footgun every call site guards with
  * `filter(size >= k)`); the fused form makes the guard intrinsic.
  */
case class TokenGramHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, "window length must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_gram_hashes"

  private val space = UTF8String.fromString(" ")
  private def collationId: Int =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StringType].collationId
  private lazy val useICU: Boolean = Lowercase.icu

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < k) new GenericArrayData(Array.empty[Any])
    else {
      val toks = new Array[UTF8String](n)
      var i = 0
      while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }
      val out = new Array[Any](n - k + 1)
      val window = new Array[UTF8String](k)
      i = 0
      while (i <= n - k) {
        var w = 0
        while (w < k) { window(w) = toks(i + w); w += 1 }
        // concatWs skips null inputs — the same array_join semantics as
        // the HOF twin (a null token joins as if absent, no NPE).
        val gram = Lowercase(UTF8String.concatWs(space, window: _*), collationId, useICU)
        out(i) = XxHash64Function.hash(gram, StringType, 42L)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): TokenGramHashes =
    copy(child = newChild)
}
