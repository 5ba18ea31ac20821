package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct, binary-sorted character n-gram shingles of a string — the
  * fused replacement for the composed higher-order-function form
  * (`array_sort(array_distinct(transform(sequence(...), i -> substr)))`,
  * kept in test sources as `TwinReference.charShinglesHof` for the
  * equality spec). HOFs evaluate their lambda interpreted, once per
  * position, and `substr` re-walks the string from byte 0 each call —
  * O(len²) with a lambda frame per window. This expression walks the
  * UTF-8 bytes ONCE to index code-point starts, slices windows at byte
  * offsets, and dedups/sorts in a single TreeSet pass:
  * O(len + k·n + k log k). Shingling is the dominant map-stage CPU of
  * the MinHash/Jaccard/containment dedup family, so this is the same
  * hot-path move as [[CosineSimilarity]] (which bought 54× there).
  *
  * Semantics are IDENTICAL to the HOF form, bit for bit:
  *  - null input → null; fewer than `n` code points → empty array;
  *  - windows advance one CODE POINT at a time (UTF8String counts
  *    chars as code points, exactly `substr`'s unit);
  *  - output is distinct and ascending in UTF8String's binary order —
  *    the same ordering `array_sort` applies to strings.
  * CodegenFallback: the eval is a tight single pass already; the win
  * over the HOF chain is eliminating per-window lambda dispatch and
  * the O(len) re-scan per substr, not codegen fusion.
  */
case class CharShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n > 0, "shingle width must be positive")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_shingles"

  protected override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val bytes = s.getBytes
    // code-point start offsets (one pass; UTF-8 has no surrogates, so
    // each code point is one first-byte + continuation bytes)
    val starts = new Array[Int](s.numChars() + 1)
    var nChars = 0
    var off = 0
    while (off < bytes.length) {
      starts(nChars) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      nChars += 1
    }
    starts(nChars) = bytes.length
    if (nChars < n) new GenericArrayData(Array.empty[Any])
    else {
      val set = new java.util.TreeSet[UTF8String]()
      var i = 0
      while (i <= nChars - n) {
        val from = starts(i)
        set.add(UTF8String.fromBytes(bytes, from, starts(i + n) - from))
        i += 1
      }
      val out = new Array[Any](set.size)
      val it = set.iterator()
      var j = 0
      while (it.hasNext) { out(j) = it.next(); j += 1 }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): CharShingles =
    copy(child = newChild)
}

object CharShingles {
  /** Validated builder for SQL registration: char_shingles(text, width).
    * The width must be a foldable non-null integer — anything else is a
    * clean AnalysisException at plan time, not an executor NPE/CCE
    * (r13 ADVICE).
    */
  def fromArgs(exprs: Seq[Expression]): CharShingles = {
    SqlArgs.arity("char_shingles", exprs, 2, 2)
    CharShingles(exprs.head, SqlArgs.foldableInt("char_shingles", exprs, 1,
      sys.error("unreachable: arity enforces 2 args")))
  }
}
