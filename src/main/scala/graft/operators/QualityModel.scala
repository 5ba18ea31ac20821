package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model-based quality filtering, trained IN-ENGINE: a hashed-n-gram
  * logistic regression distinguishing a curated TARGET corpus from the
  * raw pool — the discriminative member of the data-selection family
  * (CCNet/GPT-3/LLaMA-style "quality classifier" filtering; the
  * generative counterpart is [[Scale.dsirWeights]]' importance ratio).
  * The reference's pipeline has no model training anywhere (its
  * embedder is an external service boundary, chroma_utils.py); this is
  * a beyond-reference scale operator like the rest of the pretraining
  * family.
  *
  * Features are [[Scale.dsirFeatures]] hashed unigram+bigram bucket
  * counts plus a bias slot. Training is
  * full-batch gradient descent with MICRO-QUANTIZED integer
  * aggregation, which buys the property floats cannot give at scale:
  * bit-identical results under any partitioning.
  *
  *  - weights live on a 1e-6 grid (Long micros), and so do the
  *    length-normalized feature frequencies (floor(c·10⁶/T) per doc —
  *    quantized ONCE at feature-build time);
  *  - a document's margin is Σ cn·w — Long frequency-micros × Long
  *    micro-weight products summed in Long (micro² units): EXACT, so
  *    partition and fold order cannot change it. Long headroom: |Σ| ≤
  *    10⁶·max|w_micros| per doc and the gradient sums ≤ 10¹²·nDocs —
  *    safe to ~10⁶ training examples, far above any curated-corpus
  *    training set;
  *  - the sigmoid runs through StrictMath.exp (bit-identical on every
  *    JVM, unlike Math.exp's platform intrinsics), and the residual is
  *    floored back to micros;
  *  - the per-bucket gradient is again Long × Long sums — exact — and
  *    the weight step floors back onto the micro grid.
  *
  * Every aggregation a shuffle touches is therefore order-free integer
  * arithmetic, so the distributed trainer equals the sequential
  * in-driver reference [[trainReference]] BIT FOR BIT — the Verify gate
  * demands exact equality, same discipline as the BPE merge gate.
  *
  * Scale shape: the feature frame is built once (one tokenize pass,
  * one ~row-per-doc shuffle to assemble sorted (bucket, count) arrays)
  * and localCheckpoint'ed; each GD iteration is ONE map+aggregate job —
  * margins/residuals map-side per row (the weight vector rides the plan
  * as a ≤(nBuckets+1)-element literal), gradient a ≤(nBuckets+1)-row
  * map-side-combinable aggregation. Driver state: the weight vector.
  * Quality classifiers train on bounded curated-vs-sample corpora
  * (thousands to millions of docs, not the 100 TB pool) — the pool only
  * ever pays the map-only [[score]] pass.
  */
object QualityModel {

  /** Per-doc feature rows: (doc_id, label, feats sorted by bucket) with
    * counts, bias bucket = nBuckets at count 1. Sorting fixes the
    * array order so even non-exact folds over it would be deterministic.
    */
  private def docFeatures(docs: DataFrame, label: Int, nBuckets: Int,
      portable: Boolean = false): DataFrame =
    Scale.dsirFeatures(docs, nBuckets, portable)
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
      .withColumn("t", sum("c").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      // normalized count in micros: c·10⁶ div T — the frequency
      // vector fastText-style models train on, quantized ONCE so every
      // later aggregation stays exact Long arithmetic. Integer `div`,
      // not floor(double /): the streaming [[qualityCol]] UDF computes
      // exactly c*1000000L/t, and the batch/streaming BIT-EQUALITY
      // contract should rest on shared arithmetic, not on the empirical
      // fact that a double quotient only mis-floors past ~2^33 features
      // per doc. Without the normalization, raw counts let document
      // LENGTH dominate the margin and full-batch GD stalls on the bias
      // (measured: all scores ≈ 0.0x, no class separation at sf0.01).
      .select(col("doc_id"),
        col("bucket").cast("int").as("bucket"),
        expr("c * 1000000 div t").cast("long").as("cn"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(
        col("bucket").as("bucket"), col("cn").as("cn")))).as("feats"))
      // bias feature at 0.1, not 1.0: full-batch GD's stable step is
      // bounded by the largest per-example ‖x‖² (≈ 0.25·‖x‖² Hessian
      // eigenvalue), and a unit bias dominates the ~0.01-magnitude
      // frequency features, capping lr ≈ 8 — far too slow for the
      // feature weights to grow. At 0.1 the ceiling rises ~100× and
      // lr = 100 trains to real separation in tens of iterations.
      .select(col("doc_id"), lit(label).as("label"),
        concat(col("feats"), array(struct(
          lit(nBuckets).as("bucket"), lit(100000L).as("cn")))).as("feats"))

  /** One sigmoid/residual step shared verbatim by the distributed and
    * reference paths: margin Σ cn·w is in micro² units (normalized
    * count micros × weight micros) → real margin = /1e12 → StrictMath
    * sigmoid → residual floored to micros.
    */
  def residualMicros(marginMicroSq: Long, label: Int): Long = {
    val p = 1.0 / (1.0 + StrictMath.exp(-(marginMicroSq / 1e12)))
    math.floor((p - label) * 1e6).toLong
  }

  /** Sequential reference trainer over collected (feats, label) examples
    * — the in-driver oracle for the Verify gate. Same micro-grid
    * arithmetic; summation order is irrelevant by construction (all
    * cross-row sums are exact Long adds).
    */
  def trainReference(
      examples: Seq[(Seq[(Int, Long)], Int)],
      nBuckets: Int,
      iters: Int,
      lr: Double): Seq[Long] = {
    val w = Array.fill(nBuckets + 1)(0L)
    val n = examples.length.max(1)
    for (_ <- 1 to iters) {
      val grad = Array.fill(nBuckets + 1)(0L)
      examples.foreach { case (feats, y) =>
        val margin = feats.iterator.map { case (b, cn) => cn * w(b) }.sum
        val rq = residualMicros(margin, y)
        feats.foreach { case (b, cn) => grad(b) += rq * cn }
      }
      // grad is in micro² units (residual micros × count micros):
      // real-unit step lr·(grad/1e12)/n lands back on the micro grid
      // as floor(lr·grad / (n·1e6))
      var b = 0
      while (b < w.length) {
        w(b) -= math.floor(lr * grad(b) / (n * 1e6)).toLong
        b += 1
      }
    }
    w.toSeq
  }

  /** Distributed trainer: target docs are the positive class, raw-pool
    * docs the negative. Returns the micro-grid weight vector
    * (length nBuckets + 1, bias last).
    */
  def train(
      target: DataFrame,
      raw: DataFrame,
      nBuckets: Int = 1024,
      iters: Int = 60,
      lr: Double = 300.0,
      portable: Boolean = false): Seq[Long] = {
    val spark = target.sparkSession
    import spark.implicits._
    // LoopCheckpoint, not bare localCheckpoint: feats is consumed by
    // every one of the `iters` gradient steps, so in reliable mode it
    // must live as files an executor loss can't take down (the same
    // class of bug FaultToleranceSpec caught in pageRank's nodes frame).
    val feats = LoopCheckpoint(docFeatures(target, 1, nBuckets, portable)
      .unionAll(docFeatures(raw, 0, nBuckets, portable)))
    val n = feats.count().max(1L)
    val resUdf = udf((m: Long, y: Int) => residualMicros(m, y))
    var w = Seq.fill(nBuckets + 1)(0L)
    for (_ <- 1 to iters) {
      // margin: Long normalized-count micros × Long micro-weight,
      // summed in Long — exact, and CODEGEN'd (r19, guide §4): the
      // previous HOF fold was CodegenFallback-interpreted with a
      // 4097-element array literal in the plan; MarginMicros is the
      // same accumulation as a whole-stage-codegen loop over a
      // reference-object weight array, bit-identical by Long
      // order-freedom.
      val margin =
        graft.expressions.VectorExpressions.marginMicros(col("feats"), w)
      val grad = feats
        .withColumn("rq", resUdf(margin, col("label")))
        .select(explode(col("feats")).as("f"), col("rq"))
        .groupBy(col("f.bucket").as("bucket"))
        .agg(sum(col("rq") * col("f.cn")).as("g"))
        .as[(Int, Long)].collect().toMap
      w = w.zipWithIndex.map { case (wb, b) =>
        wb - math.floor(lr * grad.getOrElse(b, 0L) / (n * 1e6)).toLong
      }
    }
    w
  }

  private[graft] val weightCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Long]]()

  /** [[train]] memoized on the two corpora's fingerprints
    * ([[Layout.fingerprints]]): registry query, bench iterations, and
    * the Verify gate share one training run per JVM.
    */
  def trainCached(
      target: DataFrame,
      raw: DataFrame,
      cacheKey: String,
      nBuckets: Int = 1024,
      iters: Int = 60,
      lr: Double = 300.0,
      portable: Boolean = false): Seq[Long] = {
    // BOTH corpus fingerprints in ONE job (r19, guide §2.4): two
    // separate fingerprint jobs were the per-invocation fixed cost of
    // every cache hit.
    val fps = Layout.fingerprints(Seq(target, raw), "doc_id", "text")
      .map(f => s"${f.n}_${f.fp}")
    val key = s"$cacheKey|${fps(0)}|${fps(1)}|$nBuckets|$iters|$lr|$portable"
    val w = weightCache.computeIfAbsent(key,
      _ => train(target, raw, nBuckets, iters, lr, portable))
    if (portable) lastPortableWeights = Some(w)
    w
  }

  /** Most recent portable-hash weight vector trained via [[trainCached]]
    * in this JVM — the literals [[graft.SparkEntry.oracleSql]] embeds so
    * the DuckDB oracle can replay the SCORING path (training itself is
    * bit-exact-gated against [[trainReference]] by the Verify main).
    */
  @volatile var lastPortableWeights: Option[Seq[Long]] = None

  /** Collected examples in the reference trainer's shape — shared by the
    * Verify gate and specs.
    */
  def collectExamples(
      target: DataFrame,
      raw: DataFrame,
      nBuckets: Int,
      portable: Boolean = false): Seq[(Seq[(Int, Long)], Int)] = {
    import org.apache.spark.sql.Row
    docFeatures(target, 1, nBuckets, portable)
      .unionAll(docFeatures(raw, 0, nBuckets, portable))
      .collect().map { r =>
        (r.getSeq[Row](2).map(f => (f.getInt(0), f.getLong(1))), r.getInt(1))
      }.toSeq
  }

  /** Map-only scoring pass — the one the full pool pays: per-doc margin
    * under the trained weights (same exact Long arithmetic), sigmoid →
    * quality ∈ (0,1), floored at 6 dp. No shuffle beyond the per-doc
    * feature assembly.
    */
  def score(docs: DataFrame, weights: Seq[Long], nBuckets: Int = 1024,
      portable: Boolean = false): DataFrame = {
    val sigUdf = udf((m: Long) =>
      math.floor(1.0 / (1.0 + StrictMath.exp(-(m / 1e12))) * 1e6) / 1e6)
    scoreMargin(docs, weights, nBuckets, portable)
      .select(col("doc_id"), sigUdf(col("margin_microsq")).as("quality"))
  }

  /** [[score]]'s exact integer pre-sigmoid margin (micro² units) —
    * monotone in quality, so top-k by margin equals top-k by quality,
    * and being a pure Long it hashes bit-for-bit across engines (the
    * `quality_model_score` oracle row compares THIS, keeping the
    * transcendental sigmoid out of the cross-engine contract).
    */
  def scoreMargin(docs: DataFrame, weights: Seq[Long], nBuckets: Int = 1024,
      portable: Boolean = false): DataFrame =
    docFeatures(docs, 0, nBuckets, portable)
      .withColumn("margin_microsq",
        graft.expressions.VectorExpressions.marginMicros(col("feats"), weights))
      .select(col("doc_id"), col("margin_microsq"))

  /** ROW-LOCAL scoring column for streaming admission: the exact same
    * arithmetic as [[score]] — per-bucket counts, floor(c·10⁶/T)
    * frequency micros, bias 0.1, Long margin, StrictMath sigmoid,
    * 6-dp floor — computed per row from [[Scale.dsirBucketsCol]]'s
    * bucket array (the murmur bucketing stays in the `hash()` builtin;
    * this UDF does only integer counting and the sigmoid), so it needs
    * no aggregation and is legal in a stateless streaming projection.
    * Bit-equal to the batch path for any doc with ≥1 token (spec-pinned);
    * a token-less doc, which the batch path DROPS, here scores its
    * bias-only margin — a streaming gate must emit a verdict per row.
    */
  def qualityCol(text: org.apache.spark.sql.Column, weights: Seq[Long],
      nBuckets: Int = 1024): org.apache.spark.sql.Column = {
    val w = weights.toArray
    val u = udf((buckets: Seq[Long]) => {
      val counts = scala.collection.mutable.Map.empty[Int, Long]
      buckets.foreach(b => counts(b.toInt) = counts.getOrElse(b.toInt, 0L) + 1L)
      val t = buckets.length.toLong
      var margin = 100000L * w(nBuckets) // bias at 0.1
      counts.foreach { case (b, c) => margin += (c * 1000000L / t) * w(b) }
      math.floor(1.0 / (1.0 + StrictMath.exp(-(margin / 1e12))) * 1e6) / 1e6
    })
    u(Scale.dsirBucketsCol(text, nBuckets))
  }
}
