package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector similarity as native Spark SQL column expressions (SURVEY.md T-4).
  *
  * The reference's vector store computes query↔chunk distance internally
  * (Chroma default metric; langchain_utils.py:13 `as_retriever`). Here the
  * scorer is an ordinary Catalyst expression tree over `array<float>`
  * columns — higher-order functions `zip_with`/`aggregate` — so it
  * participates in column pruning and filter pushdown and needs no UDF
  * serialization. All arithmetic is promoted to double to keep results
  * stable and oracle-comparable.
  *
  * For the hot bench path there is also a codegen'd scalar expression
  * ([[graft.expressions.CosineSimilarity]]); these column forms are the
  * reference semantics both must match.
  */
object VectorOps {

  private def d(c: Column): Column = c.cast("array<double>")

  /** Sum of elementwise products, in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** L2 norm, in double. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(d(a), lit(0.0), (acc, x) => acc + x * x))

  /** Squared L2 distance. */
  def l2Sq(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** Cosine similarity in [-1, 1]; 0 when either vector has zero norm. */
  def cosineSim(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }
}
