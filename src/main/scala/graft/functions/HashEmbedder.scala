package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf
import java.util.Locale
import scala.util.hashing.MurmurHash3

/** Deterministic local text embedder (SURVEY.md T-3).
  *
  * The reference embeds via a remote model (chroma_utils.py:24-32,
  * `GoogleGenerativeAIEmbeddings`), a non-deterministic network stage. For a
  * testable engine the embedder is a pluggable pure function; this default
  * implementation is feature-hashing over word uni+bigrams with a sign hash,
  * L2-normalized — i.e. the classic HashingTF + Normalizer construction —
  * producing the same 64-dim `Array[Float]` shape as
  * the testdata `embeddings.parquet` tables.
  *
  * Production swap-in: any `String => Array[Float]` (e.g. a batched remote
  * call inside `mapPartitions`); everything downstream (kNN, LSH, near-dup)
  * only sees the array column.
  */
object HashEmbedder extends Serializable {
  val Dim = 64
  private val Seed = 0x5eed42

  def tokens(text: String): Array[String] =
    text.toLowerCase(Locale.ROOT).split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)

  def embed(text: String, dim: Int = Dim): Array[Float] = {
    val v = new Array[Double](dim)
    def add(feature: String): Unit = {
      val h = MurmurHash3.stringHash(feature, Seed)
      val idx = java.lang.Math.floorMod(h, dim)
      val sign = if ((h & 0x80000000) == 0) 1.0 else -1.0
      v(idx) += sign
    }
    val ts = tokens(text)
    var i = 0
    while (i < ts.length) {
      add(ts(i))
      if (i + 1 < ts.length) add(ts(i) + "_" + ts(i + 1))
      i += 1
    }
    var norm = 0.0
    i = 0
    while (i < dim) { norm += v(i) * v(i); i += 1 }
    // x / sqrt(norm) (not x * (1/sqrt)): one double rounding, bit-identical
    // to any engine computing the quotient directly — keeps embedding-
    // derived outputs oracle-checkable.
    val s = if (norm > 0) math.sqrt(norm) else 0.0
    val out = new Array[Float](dim)
    i = 0
    while (i < dim) { out(i) = if (norm > 0) (v(i) / s).toFloat else 0f; i += 1 }
    out
  }

  /** Column form for DataFrame pipelines. */
  def embedUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => if (s == null) null else embed(s))

  def embedCol(c: Column): Column = embedUdf(c)
}
