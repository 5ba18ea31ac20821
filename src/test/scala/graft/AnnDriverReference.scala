package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.VectorExpressions
import graft.operators.Ann

/** The driver-collect layout probes that `Ann.ivfJoin` and `Ann.ivfPqJoin`
  * replaced, kept as the specs' independent references: collect the
  * queries, compute each query's probe cells (and ADC tables) on the
  * driver, filter the layout with a static `isin` on the cell column,
  * and broadcast the probe rows into the candidate join.
  */
object AnnDriverReference {

  private def probeRows(queries: DataFrame, centroids: Array[Array[Float]], nProbe: Int) =
    queries.select("query_id", "q_embedding").collect().toSeq.flatMap { r =>
      val q = r.getSeq[Float](1)
      Ann.nearestCells(q, centroids, nProbe).map(c => (r.getLong(0), c, q))
    }

  /** Exact-cosine top-k over a cell-partitioned layout. */
  def ivfTopK(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      k: Int,
      nProbe: Int): DataFrame = {
    import spark.implicits._
    val probes = probeRows(queries, centroids, nProbe).map(p => (p._1, p._2))
    val corpus = spark.read.parquet(path).filter(col("cell").isin(probes.map(_._2).distinct: _*))
    val probed = probes.toDF("query_id", "cell").join(queries, "query_id")
    corpus.join(broadcast(probed), "cell")
      .withColumn("sim", VectorExpressions.cosineSim(col("q_embedding"), col("embedding")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("sim"), asc("vec_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "sim")
  }

  /** ADC top-k over a raw-code IVF-PQ layout, self-matches excluded. */
  def ivfPqTopK(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      k: Int,
      nProbe: Int): DataFrame = {
    import spark.implicits._
    val probes = probeRows(queries, centroids, nProbe)
      .map { case (qid, c, q) => (qid, c, Ann.adcLut(codebooks, q)) }
    val codes = spark.read.parquet(path).filter(col("cell").isin(probes.map(_._2).distinct: _*))
    codes.join(broadcast(probes.toDF("query_id", "cell", "lut")), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc_dist", graft.functions.TextAnalysis.floorScale(
        Ann.adcFromLut(codebooks.length), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("adc_dist"), asc("vec_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "adc_dist")
  }
}
