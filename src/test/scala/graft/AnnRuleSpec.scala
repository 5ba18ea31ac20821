package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.expressions.VectorExpressions
import graft.operators.Ann
import graft.plans.AnnTopKRewrite

/** The brute-force-cosine-top-k → IVF-layout-probe optimizer rule: fires
  * on the naive `ORDER BY cosine_sim(q, embedding) DESC LIMIT k` over a
  * registered corpus path, prunes the scan to the probed cell
  * partitions, equals the un-rewritten plan exactly at full probe, and
  * declines on every unregistered/unsupported shape.
  */
class AnnRuleSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  // clustered corpus: cluster = id % 8, strong geometry so IVF cells are
  // meaningful; tiebreak-free sims via per-id jitter
  private def clusterVec(i: Long): Array[Float] = {
    val c = (i % 8).toInt
    Array.tabulate(16) { j =>
      val sign = if (((c >> (j % 3)) & 1) == 0) 1.0f else -1.0f
      sign * 0.8f + ((i / 8 % 7).toInt - 3) * 0.013f + (j % 5) * 0.001f * (i % 3)
    }
  }

  private def withRule[A](f: => A): A = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ AnnTopKRewrite
    try f finally {
      spark.experimental.extraOptimizations = prev
      AnnTopKRewrite.clear()
    }
  }

  private def setup(): (String, Array[Array[Float]]) = {
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_annrule_corpus").toString
    val layoutDir = java.nio.file.Files.createTempDirectory("graft_annrule_layout").toString
    val corpus = (0L until 96L).map(i => (i, clusterVec(i))).toDF("vec_id", "embedding")
    corpus.write.mode("overwrite").parquet(corpusDir)
    val (centroids, _) = Ann.buildIvf(spark, corpus, nCells = 8, maxIter = 4)
    Ann.writeCellPartitioned(spark.read.parquet(corpusDir), centroids, layoutDir)
    AnnTopKRewrite.register(corpusDir,
      AnnTopKRewrite.RegisteredLayout(layoutDir, centroids, nProbe = 2))
    (corpusDir, centroids)
  }

  private def naiveTopK(corpusDir: String, q: Array[Float], k: Int) =
    spark.read.parquet(corpusDir)
      .select(col("vec_id"),
        VectorExpressions.cosineSim(lit(q), col("embedding")).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)

  test("rule fires: scan becomes a cell-pruned layout probe") {
    withRule {
      val (corpusDir, centroids) = setup()
      val q = clusterVec(3L).map(_ + 0.004f)
      val df = naiveTopK(corpusDir, q, 5)
      val scan = df.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString("\n")
      assert(scan.contains("PartitionFilters") && scan.contains("cell"),
        s"no partition pruning in scan:\n${scan.take(800)}")
      // the probed layout reads ≤ nProbe of the 8 cell directories
      val probed = Ann.nearestCells(q.toSeq, centroids, 2).toSet
      val rows = df.collect()
      assert(rows.length == 5)
      // every returned vector lives in a probed cell
      rows.foreach { r =>
        val cell = Ann.nearestCells(clusterVec(r.getLong(0)).toSeq, centroids, 1).head
        assert(probed.contains(cell),
          s"vec ${r.getLong(0)} from unprobed cell $cell (probed $probed)")
      }
      // and the top hit is the queried cluster's own best member
      assert(rows.head.getLong(0) % 8 == 3L)
    }
  }

  test("full probe equals the un-rewritten plan exactly") {
    withRule {
      val (corpusDir, centroids) = setup()
      // re-register with a FULL probe: candidate set = whole corpus
      val layoutDir = java.nio.file.Files.createTempDirectory("graft_annrule_full").toString
      Ann.writeCellPartitioned(spark.read.parquet(corpusDir), centroids, layoutDir)
      AnnTopKRewrite.register(corpusDir,
        AnnTopKRewrite.RegisteredLayout(layoutDir, centroids, nProbe = 8))
      for (qid <- Seq(0L, 5L, 13L)) {
        val q = clusterVec(qid).map(_ + 0.002f)
        val rewritten = naiveTopK(corpusDir, q, 7).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val plain = {
          val prev2 = spark.experimental.extraOptimizations
          spark.experimental.extraOptimizations =
            prev2.filterNot(_ eq AnnTopKRewrite)
          try naiveTopK(corpusDir, q, 7).collect()
            .map(r => (r.getLong(0), r.getDouble(1))).toSeq
          finally spark.experimental.extraOptimizations = prev2
        }
        assert(rewritten == plain, s"q=$qid:\nrewritten=$rewritten\nplain    =$plain")
      }
    }
  }

  test("rule declines: unregistered path, non-literal query, asc order, other sorts") {
    withRule {
      val (corpusDir, _) = setup()
      val other = java.nio.file.Files.createTempDirectory("graft_annrule_other").toString
      (0L until 16L).map(i => (i, clusterVec(i))).toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(other)
      val q = clusterVec(1L)
      def noPrune(df: org.apache.spark.sql.DataFrame): Unit = {
        val leaves = df.queryExecution.executedPlan.collectLeaves()
          .map(_.toString).mkString
        assert(!leaves.contains("PartitionFilters: [cel") &&
          !leaves.contains("cell IN"), s"rule fired where it must not:\n$leaves")
      }
      // unregistered path
      noPrune(spark.read.parquet(other)
        .select(col("vec_id"), VectorExpressions.cosineSim(lit(q), col("embedding")).as("sim"))
        .orderBy(desc("sim")).limit(3))
      // ascending order (bottom-k is not a probe shape)
      noPrune(spark.read.parquet(corpusDir)
        .select(col("vec_id"), VectorExpressions.cosineSim(lit(q), col("embedding")).as("sim"))
        .orderBy(asc("sim")).limit(3))
      // non-cosine sort
      noPrune(spark.read.parquet(corpusDir)
        .select(col("vec_id")).orderBy(desc("vec_id")).limit(3))
      // column-vs-column cosine (no foldable query side)
      noPrune(spark.read.parquet(corpusDir)
        .select(col("vec_id"),
          VectorExpressions.cosineSim(col("embedding"), col("embedding")).as("sim"))
        .orderBy(desc("sim")).limit(3))
    }
  }

  test("inline sort-key shape (no projection of sim) also fires") {
    withRule {
      val (corpusDir, centroids) = setup()
      val q = clusterVec(5L).map(_ + 0.003f)
      val df = spark.read.parquet(corpusDir)
        .orderBy(VectorExpressions.cosineSim(lit(q), col("embedding")).desc,
          col("vec_id").asc)
        .limit(4)
      val scan = df.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString
      assert(scan.contains("PartitionFilters") && scan.contains("cell"),
        s"inline shape did not fire:\n${scan.take(600)}")
      val rows = df.select("vec_id").as[Long].collect()
      assert(rows.forall(_ % 8 == 5L), s"wrong cluster: ${rows.toSeq}")
    }
  }

  // ---- IVF-PQ tier (r15 verdict #6): the quantized layout as a rewrite
  // target — ADC coarse over the pruned code partitions, exact rerank
  // through the preserved projection/sort via a broadcast semi join.

  private def setupPq(nProbe: Int, overfetch: Int)
      : (String, Array[Array[Float]], Seq[Seq[Seq[Double]]], String) = {
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_annrule_pqc").toString
    val layoutDir = java.nio.file.Files.createTempDirectory("graft_annrule_pql").toString
    val corpus = (0L until 96L).map(i => (i, clusterVec(i))).toDF("vec_id", "embedding")
    corpus.write.mode("overwrite").parquet(corpusDir)
    val (centroids, _) = Ann.buildIvf(spark, corpus, nCells = 8, maxIter = 4)
    val books = Ann.trainPqCodebooks(corpus, m = 4, dsub = 4, kStar = 8, maxIter = 3)
    Ann.writeIvfPqPartitioned(spark.read.parquet(corpusDir), centroids, books, layoutDir)
    AnnTopKRewrite.registerPq(corpusDir,
      AnnTopKRewrite.RegisteredPqLayout(layoutDir, centroids, books, nProbe, overfetch))
    (corpusDir, centroids, books, layoutDir)
  }

  test("PQ tier fires: pruned ADC coarse probe + exact semi-join rerank") {
    withRule {
      val (corpusDir, centroids, books, layoutDir) = setupPq(nProbe = 2, overfetch = 3)
      val q = clusterVec(3L).map(_ + 0.004f)
      val df = naiveTopK(corpusDir, q, 5)
      val leaves = df.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString("\n")
      assert(leaves.contains("PartitionFilters") &&
        leaves.contains(new java.io.File(layoutDir).getName),
        s"no pruned PQ-layout scan in the plan:\n${leaves.take(800)}")
      // expected: the two stages spelled out — floored-ADC coarse cut at
      // k*overfetch over the probed cells, exact cosine top-k among the
      // candidates (the isin-filtered shape does not match the rule's
      // pattern, so it stays un-rewritten)
      val cells = Ann.nearestCells(q.toSeq, centroids, 2).toSeq.map(Integer.valueOf)
      val cand = spark.read.parquet(layoutDir)
        .filter(col("cell").isin(cells: _*))
        .withColumn("adc_dist", graft.functions.TextAnalysis.floorScale(
          Ann.adcDistToQuery(books, q.toSeq), 6))
        .orderBy(asc("adc_dist"), asc("vec_id")).limit(15)
        .select("vec_id").as[Long].collect().toSeq
      val expected = spark.read.parquet(corpusDir)
        .filter(col("vec_id").isin(cand.map(java.lang.Long.valueOf): _*))
        .select(col("vec_id"),
          VectorExpressions.cosineSim(lit(q), col("embedding")).as("sim"))
        .orderBy(desc("sim"), asc("vec_id")).limit(5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == expected, s"got=$got\nexpected=$expected")
      assert(got.nonEmpty)
    }
  }

  test("PQ tier: full probe + corpus-covering over-fetch equals the un-rewritten plan") {
    withRule {
      // nProbe = all 8 cells and k*overfetch = 112 ≥ 96 rows: the
      // candidate set is the whole corpus, the semi join keeps every
      // row, and the preserved sort/limit must reproduce the plain plan
      // EXACTLY (raw doubles included).
      val (corpusDir, _, _, _) = setupPq(nProbe = 8, overfetch = 16)
      for (qid <- Seq(0L, 5L, 13L)) {
        val q = clusterVec(qid).map(_ + 0.002f)
        val rewritten = naiveTopK(corpusDir, q, 7).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val plain = {
          val prev2 = spark.experimental.extraOptimizations
          spark.experimental.extraOptimizations =
            prev2.filterNot(_ eq AnnTopKRewrite)
          try naiveTopK(corpusDir, q, 7).collect()
            .map(r => (r.getLong(0), r.getDouble(1))).toSeq
          finally spark.experimental.extraOptimizations = prev2
        }
        assert(rewritten == plain, s"q=$qid:\nrewritten=$rewritten\nplain    =$plain")
      }
    }
  }

  // ---- residual (IVFADC) tier (r18): codes quantize x − centroid(cell),
  // the rewrite scores with per-probed-cell residual LUTs selected by
  // the cell partition column.

  private def setupRes(nProbe: Int, overfetch: Int)
      : (String, Array[Array[Float]], Seq[Seq[Seq[Double]]], String) = {
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_annrule_resc").toString
    val layoutDir = java.nio.file.Files.createTempDirectory("graft_annrule_resl").toString
    val corpus = (0L until 96L).map(i => (i, clusterVec(i))).toDF("vec_id", "embedding")
    corpus.write.mode("overwrite").parquet(corpusDir)
    val (centroids, _) = Ann.buildIvf(spark, corpus, nCells = 8, maxIter = 4)
    val books = Ann.trainPqCodebooksResidual(
      corpus, centroids, m = 4, dsub = 4, kStar = 8, maxIter = 3)
    Ann.writeIvfPqResidualPartitioned(
      spark.read.parquet(corpusDir), centroids, books, layoutDir)
    AnnTopKRewrite.registerPq(corpusDir,
      AnnTopKRewrite.RegisteredPqLayout(
        layoutDir, centroids, books, nProbe, overfetch, residual = true))
    (corpusDir, centroids, books, layoutDir)
  }

  test("residual tier fires: per-cell residual LUTs match the operator tier's ADC") {
    withRule {
      val (corpusDir, centroids, books, layoutDir) = setupRes(nProbe = 2, overfetch = 3)
      val q = clusterVec(3L).map(_ + 0.004f)
      val df = naiveTopK(corpusDir, q, 5)
      val leaves = df.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString("\n")
      assert(leaves.contains("PartitionFilters") &&
        leaves.contains(new java.io.File(layoutDir).getName),
        s"no pruned residual-layout scan in the plan:\n${leaves.take(800)}")
      assert(df.collect().nonEmpty)
      // the rewrite's coarse stage must score with EXACTLY the operator
      // tier's residual ADC: adcDistToQueryResidual's CASE-selected
      // per-cell LUT chain vs ivfPqResidualTopK's per-probe-row LUT column
      // (query_id = -1 so its self-exclusion filter is vacuous), same
      // (adc_dist, vec_id) order
      val cells = Ann.nearestCells(q.toSeq, centroids, 2).toSeq
      val viaCase = spark.read.parquet(layoutDir)
        .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
        .withColumn("adc_dist", graft.functions.TextAnalysis.floorScale(
          Ann.adcDistToQueryResidual(books, centroids, q.toSeq, cells), 6))
        .orderBy(asc("adc_dist"), asc("vec_id")).limit(15)
        .select("vec_id", "adc_dist").as[(Long, Double)].collect().toSeq
      val viaOperator = Ann.ivfPqResidualTopK(
        spark, layoutDir, Seq((-1L, q.toSeq)).toDF("query_id", "q_embedding"),
        centroids, books, k = 15, nProbe = 2)
        .select("vec_id", "adc_dist").as[(Long, Double)].collect().toSeq
      assert(viaCase == viaOperator,
        s"rule coarse=$viaCase\noperator   =$viaOperator")
    }
  }

  test("residual tier: full probe + corpus-covering over-fetch equals the un-rewritten plan") {
    withRule {
      val (corpusDir, _, _, _) = setupRes(nProbe = 8, overfetch = 16)
      for (qid <- Seq(0L, 5L, 13L)) {
        val q = clusterVec(qid).map(_ + 0.002f)
        val rewritten = naiveTopK(corpusDir, q, 7).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val plain = {
          val prev2 = spark.experimental.extraOptimizations
          spark.experimental.extraOptimizations =
            prev2.filterNot(_ eq AnnTopKRewrite)
          try naiveTopK(corpusDir, q, 7).collect()
            .map(r => (r.getLong(0), r.getDouble(1))).toSeq
          finally spark.experimental.extraOptimizations = prev2
        }
        assert(rewritten == plain, s"q=$qid:\nrewritten=$rewritten\nplain    =$plain")
      }
    }
  }

  test("PQ tier: collapsed-Project post-processing shape fires and matches the bare shape") {
    withRule {
      // The r15 silent-un-fire class, pinned for the PQ tier too: a
      // .select AFTER .limit re-plans with the projection collapsed
      // between LocalLimit and Sort — the rewrite must still fire and
      // its rows must equal the bare shape's with the rounding on top.
      val (corpusDir, _, _, layoutDir) = setupPq(nProbe = 2, overfetch = 3)
      val q = clusterVec(3L).map(_ + 0.004f)
      val wrapped = naiveTopK(corpusDir, q, 5)
        .select(col("vec_id"), (floor(col("sim") * 1e6) / 1e6).as("sim"))
      val leaves = wrapped.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString
      assert(leaves.contains("PartitionFilters") &&
        leaves.contains(new java.io.File(layoutDir).getName),
        s"collapsed-Project PQ shape did not fire:\n${leaves.take(600)}")
      val bare = naiveTopK(corpusDir, q, 5).collect()
        .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 1e6) / 1e6)).toSeq
      val got = wrapped.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == bare, s"wrapped=$got\nbare   =$bare")
    }
  }

  test("exact cell tier wins when both tiers are registered for one path") {
    withRule {
      val (corpusDir, centroids) = setup() // registers the exact layout
      val pqDir = java.nio.file.Files.createTempDirectory("graft_annrule_pqboth").toString
      val books = Ann.trainPqCodebooks(
        spark.read.parquet(corpusDir), m = 4, dsub = 4, kStar = 8, maxIter = 3)
      Ann.writeIvfPqPartitioned(
        spark.read.parquet(corpusDir), centroids, books, pqDir)
      AnnTopKRewrite.registerPq(corpusDir,
        AnnTopKRewrite.RegisteredPqLayout(pqDir, centroids, books, nProbe = 2, overfetch = 3))
      val df = naiveTopK(corpusDir, clusterVec(1L), 5)
      val leaves = df.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString("\n")
      assert(leaves.contains("PartitionFilters"),
        s"no rewrite fired with both tiers registered:\n${leaves.take(600)}")
      assert(!leaves.contains(new java.io.File(pqDir).getName),
        "the PQ layout must not be probed when the exact layout is registered")
    }
  }

  test("post-processed (collapsed Project) shape fires and matches the bare shape") {
    withRule {
      val (corpusDir, _) = setup()
      val q = clusterVec(3L).map(_ + 0.004f)
      // .select AFTER .limit re-plans; CollapseProject lands the
      // projection between LocalLimit and Sort — the r15 silent-un-fire
      // shape. It must now rewrite too, and its rows must equal the
      // bare shape's (same probe) with the rounding applied on top.
      // floor, not round: Spark round() (shortest-decimal HALF_UP) and a
      // driver-side reimplementation can differ at 6-dp boundaries;
      // floor(x*1e6)/1e6 is the same IEEE ops on both sides.
      val wrapped = naiveTopK(corpusDir, q, 5)
        .select(col("vec_id"), (floor(col("sim") * 1e6) / 1e6).as("sim"))
      val scan = wrapped.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString
      assert(scan.contains("PartitionFilters") && scan.contains("cell"),
        s"collapsed-Project shape did not fire:\n${scan.take(600)}")
      val bare = naiveTopK(corpusDir, q, 5).collect()
        .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 1e6) / 1e6)).toSeq
      val got = wrapped.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == bare, s"wrapped=$got\nbare   =$bare")
    }
  }
}
