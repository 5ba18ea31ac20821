package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.VectorExpressions
import scala.util.hashing.MurmurHash3

/** Approximate nearest-neighbor search over an embedding column — the
  * scale path for SURVEY.md T-4/J-2 when the corpus no longer fits a
  * brute-force scan per query.
  *
  * Two index families, both fully deterministic (no RNG state — hyperplanes
  * and centroid seeds derive from hashes), both ending in an exact
  * [[graft.expressions.CosineSimilarity]] rerank over the candidate set:
  *
  *  - Random-hyperplane LSH: an `nBits` signature per vector; candidates =
  *    same bucket, multi-probed by flipping up to `probeBits` signature
  *    bits. At scale the corpus is written bucketed by signature so the
  *    candidate join prunes to matching buckets.
  *  - IVF (inverted file): Lloyd's k-means over a sample (deterministic
  *    seeding by min-hash of vec ids), each vector assigned to its nearest
  *    centroid cell; queries probe the `nProbe` nearest cells. PQ codes
  *    (raw, residual, per-cell books, OPQ-rotated) partitioned by cell
  *    score by asymmetric distance.
  *
  * Two tiers: the in-memory operators ([[lshTopK]], [[ivfTopK]],
  * [[pqAdcTopK]]) take an arbitrary corpus frame; every probe of a
  * persisted layout runs one candidate join, [[probeJoin]], and ends in
  * [[rankTopK]] or [[rankAdc]]. Exact brute force ([[Retrieval.knnJoin]])
  * is the oracle both families are recall-tested against.
  */
object Ann {

  // ------------------------------------------------------- LSH signatures
  /** Deterministic pseudo-random hyperplane component in [-1, 1).
    * `private[graft]` so [[graft.AnnOracle]] can embed the same plane
    * matrix as SQL literals (the hyperplanes are pure murmur-derived
    * constants — the oracle replays the signature bit for bit).
    */
  private[graft] def planeComp(bit: Int, i: Int): Float = {
    val h = MurmurHash3.productHash((bit, i), 0xA11CE)
    (h.toDouble / Int.MaxValue).toFloat
  }

  /** The murmur hyperplane matrix for (nBits, dim), row-major (plane b's
    * components at `b*dim until (b+1)*dim`), memoized per shape:
    * [[planeComp]] runs a murmur hash per call, and the first-cut
    * [[signature]] called it PER MULTIPLY — 512 hashes per row at
    * nBits=8/dim=64, ~5×10⁸ hashes for one 10⁶-row layout write, all
    * recomputing the same 512 constants (r16 review follow-up, the
    * [[graft.expressions.IvfCellAssign]] lesson applied to the LSH
    * tier). Values are identical to per-call [[planeComp]], so
    * signatures — and every hash-green murmur oracle row — are
    * unchanged. A few KB per (nBits, dim) shape; closures capture only
    * the array.
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Float]]()
  private[graft] def planes(nBits: Int, dim: Int): Array[Float] =
    planeCache.computeIfAbsent((nBits, dim),
      { case (b, d) => Array.tabulate(b * d)(j => planeComp(j / d, j % d)) })

  /** nBits-bit random-hyperplane signature of a vector. Per-term
    * arithmetic is unchanged from the per-call-planeComp form (Float ×
    * Float product widened into a double accumulator, ascending dim
    * order), so signatures are bit-identical.
    */
  def signature(v: Seq[Float], nBits: Int): Int = {
    val dim = v.length
    val p = planes(nBits, dim)
    val varr = v match {
      case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
      case _ => v.toArray
    }
    var sig = 0
    var b = 0
    while (b < nBits) {
      var dot = 0.0
      var i = 0
      while (i < dim) { dot += varr(i) * p(b * dim + i); i += 1 }
      if (dot >= 0) sig |= (1 << b)
      b += 1
    }
    sig
  }

  /** Murmur signature as the CODEGEN kernel column
    * ([[graft.expressions.LshSignature]] — bit-identical to [[signature]],
    * spec-pinned): the corpus-sized signature sites (layout writers, the
    * bucketed corpus side of every LSH probe, the join tier's query
    * side) stop paying per-row `Seq[Float]` boxing — the
    * [[graft.expressions.IvfCellAssign]] treatment applied to the LSH
    * tier (r17 verdict "What's wrong" #2). Null embeddings stay null.
    */
  private def signatureCol(nBits: Int)(v: Column): Column =
    VectorExpressions.lshSignature(v, nBits)

  /** Signatures within Hamming distance <= probeBits of `sig` (probe set). */
  def probeSignatures(sig: Int, nBits: Int, probeBits: Int): Seq[Int] = {
    if (probeBits <= 0) Seq(sig)
    else Seq(sig) ++ (0 until nBits).flatMap { b =>
      probeSignatures(sig ^ (1 << b), nBits, probeBits - 1)
    }.distinct.filterNot(_ == sig)
  }

  /** Query-adaptive multi-probe order (Lv et al., VLDB 2007,
    * "Multi-Probe LSH"): instead of probing EVERY Hamming-≤r neighbor,
    * probe the `nProbes` buckets a near neighbor is most likely to land
    * in — perturbation sets ordered by the summed |margin| of the
    * flipped hyperplanes (a plane whose dot product was near zero is
    * the plane a true neighbor most plausibly sits across; a
    * high-margin plane almost never flips). Enumerates subsets of the
    * `maxFlipBits` lowest-margin planes and keeps the `nProbes`
    * cheapest; probe 0 is always the home bucket. The probe count IS
    * the scale cost — each probe is a bucket read (a partition
    * directory in the layout form) — so better probes buy either
    * recall at fixed cost or cost at fixed recall.
    */
  def adaptiveProbes(
      v: Seq[Float], nBits: Int, nProbes: Int, maxFlipBits: Int = 10): Array[Int] = {
    val dim = v.length
    val p = planes(nBits, dim)
    val varr = v match {
      case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
      case _ => v.toArray
    }
    val dots = new Array[Double](nBits)
    var b = 0
    while (b < nBits) {
      var d = 0.0
      var i = 0
      while (i < dim) { d += varr(i) * p(b * dim + i); i += 1 }
      dots(b) = d
      b += 1
    }
    var sig = 0
    for (b2 <- 0 until nBits) if (dots(b2) >= 0) sig |= 1 << b2
    val order = (0 until nBits).sortBy(b2 => math.abs(dots(b2)))
      .take(math.min(maxFlipBits, nBits))
    val m = order.length
    val scored = (0 until (1 << m)).map { mask =>
      var score = 0.0
      var flip = 0
      var j = 0
      while (j < m) {
        if ((mask & (1 << j)) != 0) {
          score += math.abs(dots(order(j)))
          flip |= 1 << order(j)
        }
        j += 1
      }
      (score, sig ^ flip)
    }
    scored.sortBy(_._1).take(nProbes).map(_._2).toArray
  }

  /** The shared score/rank/cut/select tail of every cosine top-k probe
    * form: score each (query, candidate) row by the exact codegen cosine
    * of `q_embedding` and `embedding`, rank per query on `sim` (desc,
    * `vec_id` asc tiebreak), cut at `k`. ONE definition — the
    * Verify-gated "row-identical across probe forms" claims then hold
    * by construction, and a ranking-contract change (e.g. the ±0.0
    * class of fix [[nearestCells]] took) has one place to land. Spark
    * plans this as a map-side Partial
    * [[org.apache.spark.sql.execution.window.WindowGroupLimitExec]]
    * before the query_id exchange, so at scale each task forwards at
    * most k rows per query.
    */
  private def rankTopK(cands: DataFrame, k: Int): DataFrame =
    cands
      .withColumn("sim", VectorExpressions.cosineSim(col("q_embedding"), col("embedding")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("sim"), asc("vec_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "sim")

  /** The ADC twin of [[rankTopK]], the tail of every PQ probe form:
    * drop self-matches (`vec_id` = `query_id`), score each candidate by
    * the [[adcFromLut]] lookups of its `m` code columns into the joined
    * `lut`, floored to 6 decimals so the cut is engine-stable, rank per
    * query on (`adc_dist` asc, `vec_id` asc), cut at `k`.
    */
  private def rankAdc(cands: DataFrame, m: Int, k: Int): DataFrame =
    cands
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc_dist", graft.functions.TextAnalysis.floorScale(adcFromLut(m), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("adc_dist"), asc("vec_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "adc_dist")

  /** The default hot-key cap and salt fan-out of the layout probes
    * ([[saltedKeyJoin]]): a key is salted once it holds over 2^20 rows.
    */
  private val HotKeyCap = 1 << 20
  private val MaxSalt = 64

  /** The candidate join of every layout-backed probe — the one place a
    * layout meets a query frame. `probe` turns the query frame into
    * `(query_id, <key>, payload…)` rows: each query's probed keys plus
    * what the tail scores with (the query embedding for
    * [[rankTopK]], an ADC lookup table for [[rankAdc]]). The core
    *  1. pins a nondeterministic query frame ([[pinned]]): the probe
    *     rows are read once for the key set and once in the join;
    *  2. prunes the layout to the probed key set ([[prunedLayout]], with
    *     its adaptive cutoff) when `keySpace` bounds that set — always
    *     for cells, for signatures while 2^nBits ≤ 4096. A probe frame
    *     built on the driver (a local relation) gives its keys without
    *     a job;
    *  3. salts the keys the layout's occupancy `sidecar` names hot
    *     ([[hotKeysOf]], [[saltedKeyJoin]]); without a sidecar (a
    *     versioned root, whose occupancy moves with every batch) the
    *     join is unsalted;
    *  4. equi-joins layout and probe rows on the key. Both sides shuffle
    *     by the key, so queries stay distributed and scored pairs stay
    *     O(queries × probed-key occupancy), never queries × corpus.
    * Pruning and salting are physical choices: the rows are those of
    * the plain equi-join.
    */
  private def probeJoin(
      spark: SparkSession,
      layout: DataFrame,
      sidecar: Option[String],
      queries: DataFrame,
      probe: DataFrame => DataFrame,
      key: String,
      keySpace: Option[Int],
      hotKeyCap: Int,
      maxSalt: Int): DataFrame = {
    val probed = probe(pinned(queries)).filter(col(key).isNotNull)
    val scanned = keySpace.fold(layout)(prunedLayout(layout, probed, key, _))
    saltedKeyJoin(scanned, probed, key, hotKeyCap, maxSalt,
      sidecar.fold(Seq.empty[(Int, Int)])(hotKeysOf(spark, _, key, hotKeyCap, maxSalt)))
  }

  /** [[probeJoin]] over a partitioned float layout (signature or cell
    * directories) with the exact cosine tail: `probes` is each query
    * row's array of probed keys.
    */
  private def cosineProbeJoin(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      key: String,
      probes: Column,
      keySpace: Option[Int],
      hotKeyCap: Int,
      maxSalt: Int): DataFrame =
    rankTopK(probeJoin(spark, spark.read.parquet(path), Some(path), queries,
      _.select(col("query_id"), explode(probes).as(key), col("q_embedding")),
      key, keySpace, hotKeyCap, maxSalt), k)

  /** Hot-key SALTED candidate equi-join — the skew guard of
    * [[probeJoin]], r16 verdict "What's missing" #1. The dedup families cap their
    * Zipf-head buckets by CHANGING semantics (star pairs,
    * the `maxBandSize` hub cap of [[Dedup.minHashLshPairsPortable]]); a top-k join cannot — every
    * (query, candidate-in-probed-bucket) pair must be scored or recall
    * silently drops. So the guard redistributes instead of capping: a
    * key whose corpus occupancy exceeds `hotKeyCap` is split into
    * `nsalt = min(maxSalt, ceil(n / hotKeyCap))` salt sub-buckets —
    * corpus rows take ONE salt (hash of vec_id), probe rows REPLICATE
    * across all nsalt salts — and the join key becomes (key, salt).
    * Every pair still occurs exactly once, so results are
    * row-identical to the unsalted join (spec-pinned), but the hot
    * key's candidate explosion now lands on nsalt shuffle partitions
    * instead of one: per-partition work drops from
    * O(queries-in-key × n) to O(queries-in-key × n / nsalt), which AQE
    * skew splitting cannot do (it splits the shuffle BLOCKS, not the
    * per-key candidate blow-up that happens after the join keys meet).
    *
    * Cost when nothing is hot: one map-side-combinable count per key
    * over the corpus side (a single-column columnar scan of the
    * layout) and a broadcast of the hot set — which is bounded by the
    * key space itself (≤ nCells cells / 2^nBits signatures), so the
    * sizes frame never approaches corpus scale. `hotKeyCap <= 0`
    * disables the guard entirely (the pre-r17 plan).
    */
  private def saltedKeyJoin(
      corpus: DataFrame,
      probed: DataFrame,
      key: String,
      hotKeyCap: Int,
      maxSalt: Int,
      hotSet: => Seq[(Int, Int)],
      saltSrc: Column = col("vec_id")): DataFrame = {
    if (hotKeyCap <= 0) corpus.join(probed, key)
    else {
      // nsalt = 0 would mint null corpus salts (non-ANSI pmod by zero)
      // and silently DROP every hot-bucket candidate — the exact
      // opposite of the row-identity guarantee. Fail loudly instead.
      require(maxSalt >= 1, s"saltedKeyJoin: maxSalt must be >= 1, got $maxSalt")
      val hotRows = hotSet
      // Nothing hot (the common case — the driver-side check is a memoized
      // KB-sized sidecar read, [[hotKeysOf]]): the guard costs NOTHING —
      // the plan IS the plain equi-join, no broadcast, no salt columns.
      if (hotRows.isEmpty) corpus.join(probed, key)
      else {
        val spark = corpus.sparkSession
        import spark.implicits._
        // The hot set rides the plan as a literal local relation (it was
        // resolved driver-side from the build-time sidecar); the salt
        // EXPRESSIONS are unchanged from the aggregation form, so
        // AnnSkewSpec's reconstruction through hotKeys/corpusSalt still
        // certifies this plan.
        val hot = hotRows.toDF(key, "nsalt")
        val corpusS = corpus.join(broadcast(hot), Seq(key), "left")
          .withColumn("salt", corpusSalt(saltSrc))
          .drop("nsalt")
        val probedS = probed.join(broadcast(hot), Seq(key), "left")
          .withColumn("salt",
            explode(sequence(lit(0), coalesce(col("nsalt") - 1, lit(0)))))
          .drop("nsalt")
        corpusS.join(probedS, Seq(key, "salt")).drop("salt")
      }
    }
  }

  /** (key, n) occupancy of a corpus/layout frame — the aggregation the
    * skew guard filters. Persisted as a layout-build sidecar by every
    * layout writer ([[writeKeyStats]]), so the joins read a KB-sized
    * stats frame per invocation instead of re-aggregating the corpus
    * (r17 verdict "What's wrong" #1).
    */
  private[graft] def keyOccupancy(corpus: DataFrame, key: String): DataFrame =
    corpus.groupBy(key).agg(count(lit(1)).as("n"))

  /** [[hotKeys]] over a precomputed (key, n) occupancy frame. */
  private[graft] def hotKeysFromOcc(
      occ: DataFrame, key: String, hotKeyCap: Int, maxSalt: Int): DataFrame =
    occ.filter(col("n") > hotKeyCap)
      .select(col(key),
        least(lit(maxSalt.toLong),
          ceil(col("n").cast("double") / hotKeyCap).cast("long"))
          .cast("int").as("nsalt"))

  /** The hot set of [[saltedKeyJoin]] — one (key, nsalt) row per key
    * whose corpus occupancy exceeds `hotKeyCap`. Exposed (private[graft])
    * so the adversarial spec (AnnSkewSpec) and the ScaleEvidence skew
    * leg reconstruct the guard's ACTUAL assignment instead of
    * re-implementing the expressions — a future change to the formula
    * cannot silently decouple the evidence from the production plan.
    */
  private[graft] def hotKeys(
      corpus: DataFrame, key: String, hotKeyCap: Int, maxSalt: Int): DataFrame =
    hotKeysFromOcc(keyOccupancy(corpus, key), key, hotKeyCap, maxSalt)

  /** Corpus-side salt of [[saltedKeyJoin]], evaluated on a frame that
    * carries the [[hotKeys]] `nsalt` column (null on cold keys).
    * `saltSrc` is the per-row hash source spreading a hot key's rows
    * across its salts — any stable unique-ish column works; the ANN
    * layouts use their `vec_id` (the r17 default, kept by the no-arg
    * overload for the spec/evidence reconstructions).
    */
  private[graft] def corpusSalt(saltSrc: Column): Column =
    when(col("nsalt").isNull, lit(0))
      .otherwise(pmod(xxhash64(saltSrc), col("nsalt")).cast("int"))

  private[graft] def corpusSalt: Column = corpusSalt(col("vec_id"))

  /** Occupancy-sidecar directory of a layout. Underscore-prefixed, so
    * partition discovery of the layout itself never sees it.
    */
  private def statsPath(path: String, key: String): String =
    s"$path/_stats_$key"

  /** Write the (key, n) occupancy sidecar of a just-written layout: ONE
    * column-pruned scan of the layout's key column at BUILD time (read
    * back from the written files, so the sidecar describes exactly what
    * probes will scan), amortized over every subsequent join — the skew
    * guard's per-invocation corpus aggregation moved to where the
    * corpus is already being paid for (r17 verdict "Next round" #1).
    */
  private[graft] def writeKeyStats(
      spark: SparkSession, path: String, key: String): Unit =
    keyOccupancy(spark.read.parquet(path).select(key), key)
      .coalesce(1)
      .write.mode("overwrite").parquet(statsPath(path, key))

  /** Bounded-probe partition pruning of [[probeJoin]]: the distinct
    * probed-key set (bounded by the key space — nCells cells / 2^nBits
    * signatures) becomes a static `isin` on the partition column
    * (genuine `PartitionFilters`), so unprobed layout directories
    * contribute zero I/O. The probe frame is executed twice — once here
    * for the key set, once inside the join — so [[probeJoin]] first runs
    * its query frame through [[pinned]]: the rows both passes see are
    * the SAME materialized rows even for a nondeterministic
    * (rand()/sample()) query frame (r17 ADVICE #1). A probe frame that
    * plans as a local relation (built on the driver) is read directly:
    * collecting it runs no job.
    *
    * ADAPTIVE CUTOFF (r18): when the probed set covers ≥ half of
    * `keySpace` the isin would keep most directories anyway — it prunes
    * almost nothing while forcing the slower scan shape (per-value
    * partition filtering over hundreds of directories). The distinct
    * pass has already run at this point, so choosing the full scan is
    * free — diffuse query frames read the layout exactly like the
    * unpruned plan, clustered ones (two related corpora, a drifted
    * shard — the 100 TB case pruning exists for) keep the cut.
    */
  private def prunedLayout(
      layout: DataFrame, probed: DataFrame, key: String,
      keySpace: Int): DataFrame = {
    val keyCol = probed.select(key)
    val local = keyCol.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    val keys = (if (local) keyCol else keyCol.distinct())
      .collect().map(_.getInt(0)).distinct // bounded: ≤ |key space| values
    if (keys.isEmpty) layout.filter(lit(false))
    else if (2 * keys.length >= keySpace) layout
    else layout.filter(col(key).isin(keys.map(Integer.valueOf): _*))
  }

  /** One-materialization pin for a query frame the join will execute
    * twice (the [[prunedLayout]] key pass + the join itself): a LAZY
    * local checkpoint — the first pass materializes the rows
    * (MEMORY_AND_DISK on the executors, lineage truncated) and the
    * second reads them back, so a nondeterministic frame cannot probe
    * keys the pruning pass never saw, and the probe arithmetic is never
    * recomputed. Applied ONLY when the plan actually carries a
    * re-execution hazard ([[needsPin]]) — a deterministic query frame
    * (the overwhelmingly common case) pays nothing; checkpoint storage
    * is freed by the ContextCleaner when the plan is garbage-collected.
    */
  private def pinned(queries: DataFrame): DataFrame =
    if (needsPin(queries)) queries.localCheckpoint(eager = false) else queries

  /** True when the frame's plan contains a nondeterministic expression
    * or a sampling operator — the dual-execution hazard [[pinned]]
    * guards (rand() columns, sample() frames; conservative: scalar
    * subqueries with nondeterministic interiors are not walked, but
    * those are already nondeterministic at the outer expression when
    * Spark marks them so).
    */
  private def needsPin(queries: DataFrame): Boolean = {
    val plan = queries.queryExecution.analyzed
    plan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Sample => true
      case p => p.expressions.exists(e => e.exists(!_.deterministic))
    }
  }

  // Driver-side hot-set memo: the sidecar's HOT rows (occupancy > cap)
  // per (layout path, key, cap, stats-marker mtime) — the mtime keys
  // out a rewritten layout, so a stale hot set is impossible while warm
  // re-invocations (the per-query lifecycle of a standing index) pay
  // one FS metadata call instead of a Spark job. Values are bounded by
  // keyspace/cap — a handful of rows.
  private val hotStatsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int, Long), Array[(Int, Long)]]()

  /** The hot (key, nsalt) rows of a layout's occupancy sidecar,
    * resolved DRIVER-SIDE (bounded by construction: keys with more than
    * `hotKeyCap` corpus rows — at most keyspace/cap of them). Backfills
    * the sidecar once for pre-sidecar layouts; memoized on the sidecar
    * marker's mtime thereafter, so repeated joins over a standing
    * layout run zero stats jobs. The nsalt arithmetic is the same
    * `min(maxSalt, ceil(n / cap))` as [[hotKeysFromOcc]].
    */
  private[graft] def hotKeysOf(
      spark: SparkSession, path: String, key: String,
      hotKeyCap: Int, maxSalt: Int): Seq[(Int, Int)] = {
    val sp = statsPath(path, key)
    val mtime = Layout.onceAt(spark, sp)(_ => writeKeyStats(spark, path, key))
    val hot = hotStatsCache.computeIfAbsent((sp, key, hotKeyCap, mtime),
      _ => spark.read.parquet(sp).filter(col("n") > hotKeyCap)
        .select(col(key), col("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1))))
    hot.toSeq.map { case (k, n) =>
      (k, math.min(maxSalt.toLong, math.ceil(n.toDouble / hotKeyCap).toLong).toInt)
    }
  }

  /** The murmur Hamming-ball probe UDF of [[lshTopK]] (bounded probe
    * batches — the boxing is irrelevant there and the empty-on-null
    * contract is convenient).
    */
  private def hammingProbesUdf(nBits: Int, probeBits: Int) =
    udf((v: Seq[Float]) =>
      if (v == null) Array.empty[Int]
      else probeSignatures(signature(v, nBits), nBits, probeBits).toArray)

  /** The Hamming-≤probeBits probe ball as NATIVE column arithmetic over
    * a kernel signature — the [[lshJoin]] probe side, where the query
    * frame is corpus-sized by contract: the ball's XOR masks are a pure
    * function of (nBits, probeBits) — `probeSignatures(0, …)`, the
    * zero-signature ball — so they ride the plan as one literal int
    * array and each per-row probe is a single integer XOR on top of the
    * codegen'd [[graft.expressions.LshSignature]]. Set-identical to
    * `probeSignatures(sig, …)` (the ball is an XOR-shift of the zero
    * ball; spec-pinned), and the bucket join is order-insensitive.
    * A null embedding yields null probe elements — callers filter
    * `isNotNull` where the UDF form returned an empty array.
    */
  private def probeBallCol(sig: Column, nBits: Int, probeBits: Int): Column = {
    val masks = probeSignatures(0, nBits, probeBits).toArray
    transform(typedLit(masks), m => sig.bitwiseXOR(m))
  }

  /** [[lshTopK]] with the query-adaptive probe order: same bucket join
    * and exact rerank, but each query probes its `nProbes` best buckets
    * instead of the full Hamming ball (37 buckets at nBits=8,
    * probeBits=2) — the Verify gate holds this to a HIGHER recall floor
    * than the Hamming tier at under half the probes.
    */
  def lshTopKAdaptive(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nBits: Int = 8,
      nProbes: Int = 16): DataFrame = {
    val probesU = adaptiveProbesUdf(nBits, nProbes)
    val bucketed = corpus.withColumn("sig", signatureCol(nBits)(col("embedding")))
    val probed = queries.withColumn("sig", explode(probesU(col("q_embedding"))))
    rankTopK(bucketed.join(broadcast(probed), "sig"), k)
  }

  /** LSH-bucketed top-k: join queries to corpus on (probed) signature
    * buckets, exact-rerank candidates. `queries(query_id, q_embedding)`,
    * `corpus(vec_id, embedding)`. The in-memory tier: an arbitrary
    * corpus frame, signed per call, with the probed query frame
    * broadcast; [[lshJoin]] probes a persisted layout instead.
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nBits: Int = 8,
      probeBits: Int = 1): DataFrame = {
    val bucketed = corpus.withColumn("sig", signatureCol(nBits)(col("embedding")))
    val probed = queries
      .withColumn("sig", explode(hammingProbesUdf(nBits, probeBits)(col("q_embedding"))))
    rankTopK(bucketed.join(broadcast(probed), "sig"), k)
  }

  /** The query-adaptive probe UDF shared by [[lshTopKAdaptive]] and
    * [[lshJoinAdaptive]] ([[adaptiveProbes]] per row — margin math over
    * 2^min(maxFlipBits, nBits) masks, inherently imperative; unlike the
    * fixed Hamming ball the probe SET differs per query, so it cannot
    * ride the plan as literal masks).
    */
  private def adaptiveProbesUdf(nBits: Int, nProbes: Int) =
    udf((v: Seq[Float]) =>
      if (v == null) Array.empty[Int]
      else adaptiveProbes(v, nBits, nProbes))

  /** LSH top-k over a [[writeSignaturePartitioned]] /
    * [[signaturePartitionedLayout]] layout, for every row of a query
    * frame of any size: probe signatures explode per query row (the
    * Hamming-≤probeBits ball of [[probeSignatures]], as native XOR
    * masks over the codegen signature) and candidates come from the
    * [[probeJoin]] equi-join on the signature key. The same operator
    * serves a 5-query probe batch (the probed set then prunes the scan
    * to its directories — `PartitionFilters`) and the corpus-vs-corpus
    * shape (near-dup between two corpora at LSH speed, nightly batch
    * retrieval). Signature directories are pruned while 2^nBits ≤ 4096:
    * past that the probed set is no longer driver-bounded, and probing
    * most directories would prune little anyway. Row-identical to
    * [[lshTopK]] at the same parameters (spec-pinned and Verify-gated by
    * exact equality).
    */
  def lshJoin(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nBits: Int = 8,
      probeBits: Int = 1,
      hotSigCap: Int = HotKeyCap,
      maxSalt: Int = MaxSalt): DataFrame =
    cosineProbeJoin(spark, path, queries, k, "sig",
      probeBallCol(signatureCol(nBits)(col("q_embedding")), nBits, probeBits),
      sigKeySpace(nBits), hotSigCap, maxSalt)

  /** [[lshJoin]] with the QUERY-ADAPTIVE probe order ([[adaptiveProbes]]
    * — r17 verdict "What's missing" #1 lifted into the join tier): each
    * query row probes its `nProbes` best buckets by hyperplane-margin
    * flip distance instead of the full Hamming ball. The probe budget
    * is EXPLICIT (nProbes per query, vs the ball's
    * 1 + nBits + nBits·(nBits−1)/2 at probeBits=2 = 37 at nBits=8), and
    * on the layout the probe count IS the directory read count, so
    * margin-ordered probes buy better recall at an equal pair budget
    * (Verify measures and gates this against the fixed ball).
    * Row-identical to [[lshTopKAdaptive]] at the same parameters
    * (spec-pinned), and hash-checked end-to-end via the AnnOracle
    * murmur multiprobe replay.
    */
  def lshJoinAdaptive(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nBits: Int = 8,
      nProbes: Int = 16,
      hotSigCap: Int = HotKeyCap,
      maxSalt: Int = MaxSalt): DataFrame =
    cosineProbeJoin(spark, path, queries, k, "sig",
      adaptiveProbesUdf(nBits, nProbes)(col("q_embedding")),
      sigKeySpace(nBits), hotSigCap, maxSalt)

  /** The signature key space [[probeJoin]] prunes within: 2^nBits while
    * that is at most 4096 values (a bounded driver collect), else none.
    */
  private def sigKeySpace(nBits: Int): Option[Int] =
    if (nBits <= 12) Some(1 << nBits) else None

  /** Write the corpus PARTITIONED BY its LSH signature bucket — the
    * physical layout that turns [[lshTopK]]'s candidate pruning into a
    * file-level skip at 100 TB: each signature value becomes a parquet
    * partition directory, so a probe for a handful of signatures reads
    * only those directories and the rest of the corpus contributes zero
    * I/O. One-time layout cost, amortized over every subsequent query.
    */
  def writeSignaturePartitioned(
      corpus: DataFrame, path: String, nBits: Int = 8): Unit = {
    corpus
      .withColumn("sig", signatureCol(nBits)(col("embedding")))
      // Co-locate each partition value's rows before partitionBy: a
      // direct map-side partitionBy write opens one file per (task ×
      // value) — at cluster scale, thousands of tasks × hundreds of
      // values is the classic small-files explosion, and every probe
      // then pays per-file open overhead. One cheap shuffle on the
      // partition column caps the layout at ~one file per value.
      // (Applies to every layout writer below.)
      .repartition(col("sig"))
      .write.mode("overwrite").partitionBy("sig").parquet(path)
    writeKeyStats(corpus.sparkSession, path, "sig")
  }

  /** Build-once ([[Layout.memoLayout]]) [[writeSignaturePartitioned]]
    * layout — the index-build half of partitioned ANN: a 100 TB layout
    * write is a batch job, not a per-query cost. The `sigm` prefix keeps
    * these murmur-signature layouts apart from the retired
    * squared-Lehmer `sig` layouts an older build may have left under the
    * same base directory: the path carries no signature family, so
    * reusing `sig` would probe a stale layout. Returns the layout path
    * for [[lshJoin]] / [[lshJoinAdaptive]].
    */
  def signaturePartitionedLayout(
      spark: SparkSession,
      corpus: DataFrame,
      baseDir: String,
      nBits: Int = 8): String =
    Layout.memoLayout(spark, corpus, baseDir, s"sigm$nBits", vecCols)(
      writeSignaturePartitioned(corpus, _, nBits))

  /** The columns a vector corpus is fingerprinted over. */
  private val vecCols = Seq("vec_id", "embedding")

  private def corpusFp(corpus: DataFrame): Layout.Fingerprint =
    Layout.fingerprint(corpus, vecCols: _*)

  /** Hash of the index structures an artifact was built under: the
    * centroids, then `books` in order. Names `_ix<hex>` layouts and the
    * `res`/`lopq` memo-key segments, so retrained cells or books never
    * reuse codes encoded under the old ones.
    */
  private def indexFp(
      centroids: Array[Array[Float]], books: Iterator[Double] = Iterator.empty): Int =
    MurmurHash3.orderedHash(centroids.iterator.flatten.map(_.toDouble) ++ books)

  // ----------------------------------------------------------------- IVF
  /** Deterministic Lloyd's k-means over a HASH-SAMPLE of the corpus
    * (small driver-side centroid set; assignment is distributed). Lloyd
    * only needs enough points per cell to place centroids — re-scanning
    * 100 TB per iteration buys nothing — so the iterations run over a
    * deterministic murmur-hash sample (`pmod(hash(vec_id), d) < n`, no
    * RNG state, stable across runs and partitionings) and only the FINAL
    * cell assignment does one full-corpus pass. Seeds = vectors of the
    * `nCells` smallest sampled vec_ids. Falls back to the full corpus
    * when the sample holds fewer than `16 * nCells` points — below ~16
    * points per cell the sampled centroids get noisy enough to cost
    * probe recall (measured: 1.0 → 0.8 on the 500-vector sf0.01 corpus
    * with a 125-point sample), and a corpus that small never needed
    * sampling anyway. Total cost: maxIter sample passes + 1 full pass,
    * vs (maxIter + 1) full passes before.
    * Returns (centroids, corpus + cell column).
    */
  def buildIvf(
      spark: SparkSession,
      corpus: DataFrame,
      nCells: Int,
      maxIter: Int = 5,
      sampleNum: Int = 1,
      sampleDenom: Int = 4): (Array[Array[Float]], DataFrame) = {
    val sampled = corpus.filter(
      pmod(hash(col("vec_id")), lit(sampleDenom)) < lit(sampleNum))
    // Cache only the (much smaller) Lloyd working set for the build;
    // unpersisted before returning so no executor storage stays pinned.
    val cached = (if (sampleNum >= sampleDenom) sampled
                  else if (sampled.count() >= 16L * nCells) sampled
                  else corpus).cache()
    val seeds = cached.orderBy("vec_id").limit(nCells)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    var centroids = seeds
    val dim = centroids.head.length

    var iter = 0
    while (iter < maxIter) {
      val assigned = assignCells(cached, centroids)
      val means = assigned.groupBy("cell")
        .agg(array((0 until dim).map(i =>
          avg(col("embedding").getItem(i))): _*).as("centroid"))
        .collect()
        .map(r => r.getAs[Int]("cell") -> r.getSeq[Double](1).map(_.toFloat).toArray)
        .toMap
      centroids = centroids.indices.map(c => means.getOrElse(c, centroids(c))).toArray
      iter += 1
    }
    cached.unpersist()
    (centroids, assignCells(corpus, centroids))
  }

  /** Attach each corpus vector's nearest-centroid cell id — ONE
    * codegen'd expression per row ([[VectorExpressions.ivfCellAssign]]).
    * The closure-UDF form this replaced deserialized every embedding to
    * a boxed `Seq[Float]`; at the 10⁶-vector layout build that boxing
    * was 326.5 s of the 437.7 s total (r15 `ann_build` evidence leg).
    * Assignments are bit-identical (same IEEE op order, same strict-`>`
    * first-maximizer and zero-denominator rules — spec-pinned against
    * the closure in VectorExpressionsSpec, and every hash-green IVF
    * oracle row replays them).
    */
  def assignCells(corpus: DataFrame, centroids: Array[Array[Float]]): DataFrame =
    corpus.withColumn("cell",
      VectorExpressions.ivfCellAssign(col("embedding"), centroids))

  // Centroid memo: an IVF index is built once and probed many times, so
  // repeated invocations over the same corpus must not re-run Lloyd.
  // Only the centroid ARRAYS are cached (pure driver-side floats, a few
  // KB, no SparkSession/DataFrame references — nothing to leak); the cell
  // assignment is re-derived lazily from whatever session asks.
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Float]]]()

  /** [[buildIvf]] with the Lloyd result memoized under `cacheKey` plus
    * the corpus fingerprint ([[Layout.fingerprint]]); the one
    * fingerprint job per call is still maxIter× cheaper than re-running
    * Lloyd.
    */
  def buildIvfCached(
      spark: SparkSession,
      corpus: DataFrame,
      cacheKey: String,
      nCells: Int,
      maxIter: Int = 5): (Array[Array[Float]], DataFrame) = {
    val key = s"$cacheKey|${corpusFp(corpus).key}|$nCells|$maxIter"
    val centroids = centroidCache.computeIfAbsent(key,
      _ => buildIvf(spark, corpus, nCells, maxIter)._1)
    graft.AnnOracle.captureCentroids(key, centroids)
    (centroids, assignCells(corpus, centroids))
  }

  /** The `nProbe` nearest centroid cells of one vector (by cosine,
    * centroid index as the deterministic tiebreak) — the probe of
    * [[ivfTopK]] and of [[ivfPqLocalTopK]]'s driver-built tables; the
    * other layout probes run the bit-identical codegen kernel
    * ([[VectorExpressions.ivfCellProbes]]).
    */
  def nearestCells(
      v: Seq[Float], centroids: Array[Array[Float]], nProbe: Int): Array[Int] = {
    val dim = centroids.head.length
    centroids.indices.map { c =>
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < dim) {
        val x = v(i).toDouble; val y = centroids(c)(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      (if (den == 0) 0.0 else dot / den, c)
      // `sim + 0.0` maps -0.0 to +0.0 BEFORE negating: Scala's total
      // Double ordering ranks -0.0 < +0.0, so a raw `-sim` would order a
      // +0.0 sim (negated to -0.0) ahead of a -0.0 sim regardless of the
      // cell tiebreak, while the oracle's ORDER BY sim DESC, c treats
      // ±0.0 as equal (r15 ADVICE). With the normalization both zeros
      // negate to -0.0 and the cell index decides, matching the SQL.
    }.sortBy(p => (-(p._1 + 0.0), p._2)).take(nProbe).map(_._2).toArray
  }

  /** Write the corpus PARTITIONED BY its IVF cell — the physical layout
    * the [[ivfTopK]] scaladoc promises at scale: each cell becomes a
    * parquet partition directory, so a probe for `nProbe` cells reads
    * only those directories. The LSH twin is
    * [[writeSignaturePartitioned]]; same one-time build, amortized over
    * every query.
    */
  def writeCellPartitioned(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      path: String): Unit = {
    assignCells(corpus, centroids)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    writeKeyStats(corpus.sparkSession, path, "cell")
  }

  /** Build-once ([[Layout.memoLayout]]) [[writeCellPartitioned]]
    * layout — the probe target of [[ivfJoin]] and of the ANN top-k
    * optimizer rule ([[graft.plans.AnnTopKRewrite]]): corpus rows plus
    * the `cell` partition column, so a rewritten brute-force top-k
    * recomputes the exact same cosine over only the probed cells'
    * directories.
    */
  def cellLayout(
      spark: SparkSession,
      corpus: DataFrame,
      baseDir: String,
      centroids: Array[Array[Float]]): String =
    Layout.memoLayout(spark, corpus, baseDir, s"cells${centroids.length}", vecCols,
      Some(indexFp(centroids)))(writeCellPartitioned(corpus, centroids, _))

  /** IVF top-k: each query probes its `nProbe` nearest cells, exact-reranks
    * within them. The in-memory tier: an arbitrary cell-assigned corpus
    * frame with the probed query frame broadcast; at scale the corpus
    * is partitioned by cell ([[writeCellPartitioned]]) and [[ivfJoin]]
    * reads only the probed cells' directories.
    */
  def ivfTopK(
      queries: DataFrame,
      assignedCorpus: DataFrame,
      centroids: Array[Array[Float]],
      k: Int,
      nProbe: Int = 3): DataFrame = {
    val probeUdf = udf { (v: Seq[Float]) => nearestCells(v, centroids, nProbe) }
    val probed = queries.withColumn("cell", explode(probeUdf(col("q_embedding"))))
    rankTopK(assignedCorpus.join(broadcast(probed), "cell"), k)
  }

  /** Exact-cosine IVF top-k over a [[writeCellPartitioned]] /
    * [[cellLayout]] layout, for every row of a query frame of any size
    * (reference analog chroma_utils.py:237-263, applied corpus-wide
    * when the query side is itself a corpus). Probe cells explode per
    * query row from the CODEGEN top-nProbe kernel
    * ([[VectorExpressions.ivfCellProbes]], bit-identical to
    * [[nearestCells]]), candidates come from the [[probeJoin]] equi-join
    * on the cell key (the probed cells prune the scan), and the exact
    * codegen cosine reranks within the probe.
    *
    * Row-identical to [[ivfTopK]] at the same centroids and parameters
    * (spec-pinned and Verify-gated by exact equality); like it, it does
    * not exclude self-matches.
    */
  def ivfJoin(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      k: Int,
      nProbe: Int = 3,
      hotCellCap: Int = HotKeyCap,
      maxSalt: Int = MaxSalt): DataFrame =
    cosineProbeJoin(spark, path, queries, k, "cell",
      VectorExpressions.ivfCellProbes(col("q_embedding"), centroids, nProbe),
      Some(centroids.length), hotCellCap, maxSalt)

  /** The `ann_ivf_join_adaptive` operating point — ONE source of truth
    * shared by the SparkEntry registration, the AnnOracle mirror's
    * probe CTE, and the Verify budget/recall gate (the
    * [[graft.plans.AnnRulePoints]] discipline for the join tier). The
    * ratio is exactly representable in binary so the literal is the
    * same double in Scala, generated Java, and the DuckDB mirror.
    */
  val IvfJoinAdaptiveProbeMax = 5
  val IvfJoinAdaptiveRatio = 1.5

  /** [[ivfJoin]] with a QUERY-ADAPTIVE probe budget (dynamic nProbe —
    * the IVF analog of [[lshJoinAdaptive]]'s margin-ordered probe set):
    * each query row probes its best-first cells only while the cell's
    * cosine distance stays within `ratio ×` the best cell's, capped at
    * `nProbeMax` ([[VectorExpressions.ivfCellProbesAdaptive]] — the cut
    * runs inside the codegen kernel, so the adaptive form costs exactly
    * the fixed kernel's arithmetic). A query deep inside one cell pays
    * a single probe; a boundary query spends the full cap where recall
    * is actually at risk — at equal AVERAGE probe budget the adaptive
    * join dominates the fixed-nProbe form (measured and gated in
    * Verify). The probe rule is rank-monotone, so the DuckDB mirror
    * replays it as a rank + distance-ratio predicate over the same
    * captured-centroid arithmetic (hash-checked end to end).
    */
  def ivfJoinAdaptive(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      k: Int,
      nProbeMax: Int = IvfJoinAdaptiveProbeMax,
      ratio: Double = IvfJoinAdaptiveRatio,
      hotCellCap: Int = HotKeyCap,
      maxSalt: Int = MaxSalt): DataFrame =
    cosineProbeJoin(spark, path, queries, k, "cell",
      VectorExpressions.ivfCellProbesAdaptive(col("q_embedding"), centroids, nProbeMax, ratio),
      Some(centroids.length), hotCellCap, maxSalt)

  /** Per-vector symmetric int8 quantization: scale by 127/max|x| and
    * floor. 4× less storage/bandwidth than float32 — at 100 TB the
    * quantized corpus is what streams through the similarity scan, with
    * float re-rank only on the survivors. Pure column arithmetic
    * (`floor`, not a round mode that differs between engines), so the
    * whole quantize → integer-dot → top-k path is oracle-checkable.
    * Emits (vec_id, qv int8-range longs, qnorm2).
    */
  def quantizeInt8(vecs: DataFrame): DataFrame =
    vecs
      .withColumn("maxabs", array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .filter(col("maxabs") > 0) // zero vectors have no direction to keep
      .withColumn("qv", transform(col("embedding"),
        x => floor(x.cast("double") * 127 / col("maxabs")).cast("long")))
      .withColumn("qnorm2", aggregate(col("qv"), lit(0L), (acc, x) => acc + x * x))
      .select("vec_id", "qv", "qnorm2")

  /** Top-k by quantized cosine: exact integer dot products over the int8
    * codes, normalized by the integer norms. Queries are the quantized
    * vectors with `vec_id` < the probe bound (self-matches excluded);
    * ranking uses the 6-decimal floored similarity + vec_id so the cut is
    * engine-stable.
    */
  /** The documented follow-on to [[quantizedTopK]]: int8 coarse scan →
    * over-fetch `k * overfetch` candidates per query → exact float-cosine
    * rerank of just those → final top-k. This is the production shape at
    * 100 TB: the 4×-smaller code table is the only thing that streams;
    * the float vectors are touched for `nQueries × k × overfetch` rows
    * via id equi-joins. Both stages are deterministic (floored scores +
    * vec_id tiebreaks), so the whole two-stage path is oracle-checkable —
    * unlike LSH/IVF there is no approximation blind spot: the only error
    * source is a true neighbor falling outside the coarse over-fetch,
    * which the exactness spec pins.
    */
  def quantizedTopKReranked(
      quantized: DataFrame,
      vecs: DataFrame,
      nQueries: Int,
      k: Int,
      overfetch: Int = 4): DataFrame = {
    val coarse = quantizedTopK(quantized, nQueries, k * overfetch)
      .select("query_id", "vec_id")
    coarse
      .join(vecs.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")), "query_id")
      .join(vecs.select(col("vec_id"), col("embedding").as("c_emb")), "vec_id")
      .withColumn("sim", graft.functions.TextAnalysis.floorScale(
        VectorExpressions.cosineSim(col("q_emb"), col("c_emb")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("sim"), asc("vec_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "sim")
  }

  /** Structural single evaluation for a column used twice — the same
    * idiom as `TextAnalysis.let`: a one-element `transform` evaluates
    * its input exactly once per row and hands the lambda a bound
    * variable, so single evaluation does not depend on the optimizer's
    * common-subexpression pass (oversized Projects fall out of codegen
    * and lose CSE — the r7 `corpus_datacard` lesson).
    */
  private def letCol(v: Column)(f: Column => Column): Column =
    element_at(transform(array(v), f), 1)

  /** Per-subspace squared-distance array of `vec`'s subspace-`s` slice
    * to every centroid of `cents`, as ONE compact higher-order
    * expression: the codebook rides the plan as a `typedLit` array and
    * `transform`/`zip_with`/`aggregate` do the k*×dsub arithmetic.
    * Unrolling the same math as literal per-centroid expressions (the
    * first-cut shape) costs ~k*×dsub Catalyst nodes PER SUBSPACE —
    * ~10k-node trees at m=8/k*=16 whose analysis+optimization dominated
    * the query at ~5 s per run, planning, not compute. The HOF form is
    * O(1) nodes per subspace; the fold order (left fold seeded at 0.0,
    * per-subspace sums first) is bit-identical to the unrolled form, so
    * the hash-exact oracle mirror of `ann_pq_adc_topk` is unaffected.
    */
  private def subspaceDists(
      cents: Seq[Seq[Double]], vec: Column, s: Int, dsub: Int): Column = {
    val sub = slice(vec, s * dsub + 1, dsub)
    transform(typedLit(cents.map(_.toSeq)), cent =>
      aggregate(
        zip_with(sub, cent, (x, c) => { val d = x.cast("double") - c; d * d }),
        lit(0.0d), (acc, v) => acc + v))
  }

  /** The `m` PQ code columns (`code_s` = argmin-distance centroid, ties
    * to the lowest code) for a frame with an `embedding` column — shared
    * by [[pqEncode]] and every layout writer. Each code is ONE codegen'd
    * expression ([[graft.expressions.VectorExpressions.pqSubspaceCode]])
    * — the HOF argmin tree it replaces was CodegenFallback and paid
    * k*×dsub interpreted, boxed ops per row per subspace, the dominant
    * cost of a corpus-scale layout build. Codes are bit-identical (same
    * IEEE op order, same lowest-code tie rule — the hash-exact oracle
    * mirror of `ann_pq_adc_topk` exercises encode end-to-end).
    */
  private def pqCodeCols(codebooks: Seq[Seq[Seq[Double]]]): Seq[Column] = {
    val dsub = codebooks.head.head.length
    codebooks.zipWithIndex.map { case (cents, s) =>
      VectorExpressions.pqSubspaceCode(
        col("embedding"), cents.flatten, dsub, s * dsub)
        .as(s"code_$s")
    }
  }

  /** Product-quantization encode: `codebooks(s)(c)` is centroid `c` of
    * subspace `s`, every centroid `dsub`-dimensional; the first
    * `m * dsub` dimensions of `embedding` are encoded as `m` small codes
    * (`code_s` = argmin-distance centroid, ties to the lowest code).
    * Entirely native column arithmetic — subtract/square/sum per
    * centroid, `array_position(…, array_min(…))` for the argmin — so
    * encoding is codegen'd, deterministic, and exactly reproducible in
    * ANSI SQL (the argmin tie rule is `ORDER BY dist, code`).
    *
    * At 100 TB this is the memory math that matters: a 64-dim float
    * vector is 256 bytes; its PQ form is `m` bytes (m=8..16 with
    * k*=256 centroids/subspace) — a 16–32× compression of the table the
    * similarity scan streams, beyond int8's fixed 4×. Codebooks are
    * trained per subspace on a corpus sample (the same hash-sampled
    * Lloyd machinery as [[buildIvf]], run `m` times on `dsub`-dim
    * slices) and ride the plan as literals/broadcast exactly like IVF
    * centroids — the fixed literal codebooks here keep the operator
    * oracle-checkable end to end.
    */
  def pqEncode(vecs: DataFrame, codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    vecs.select(col("vec_id") +: pqCodeCols(codebooks): _*)

  /** Train PQ codebooks: per-subspace Lloyd k-means under SQUARED
    * EUCLIDEAN distance — the metric [[pqAdcTopK]] scores with (IVF's
    * cosine cells would optimize the wrong objective). The training set
    * is the same `pmod(hash(vec_id))` sample rule as [[buildIvf]]
    * (falling back to the full corpus when the sample is thinner than 16
    * points per centroid), seeds are the lowest-vec_id subvectors, and
    * assignment ties take the lowest centroid. Each subspace trains
    * independently on its `dsub`-dim slice — m small Lloyd problems
    * instead of one `m*dsub`-dim one, which is the whole reason PQ
    * codebooks stay trainable on a sample while full-dim k-means at the
    * same code budget (k*^m effective cells) would be hopeless.
    *
    * The m per-subspace problems share every Lloyd iteration as ONE
    * Spark job: the sample is exploded once into (subspace, subvector)
    * rows and each iteration aggregates means per `(s, cell)` in a
    * single pass — maxIter + 2 jobs total (count + seeds + iterations)
    * instead of m independent loops (~m × maxIter jobs), the same math
    * on the same rows. Driver state is `m × k* × dsub` doubles — a few
    * KB riding the closure exactly like IVF centroids.
    *
    * Determinism: seeds, sampling and assignment ties are all
    * hash/order-defined, so training is exactly reproducible for a
    * FIXED session configuration (spec-pinned). The centroid update is
    * `avg` over shuffled partial aggregates, so last-bit float values
    * can differ across cluster layouts (partition counts / cpu counts) —
    * reproducibility is per-config, not cross-config; cross-config
    * consumers should persist the trained books rather than retrain.
    */
  def trainPqCodebooks(
      corpus: DataFrame,
      m: Int,
      dsub: Int,
      kStar: Int,
      maxIter: Int = 5,
      sampleNum: Int = 1,
      sampleDenom: Int = 4): Seq[Seq[Seq[Double]]] = {
    val sampled = corpus.filter(
      pmod(hash(col("vec_id")), lit(sampleDenom)) < lit(sampleNum))
    val base = (if (sampleNum >= sampleDenom) sampled
                else if (sampled.count() >= 16L * kStar) sampled
                else corpus)
      .select(col("vec_id"), col("embedding"))
    // One row per (vector, subspace): the per-iteration working set,
    // cached once — same total floats as the sample itself.
    val exploded = base.select(col("vec_id"),
      explode(array((0 until m).map(s =>
        struct(lit(s).as("s"),
          slice(col("embedding"), s * dsub + 1, dsub).as("sv"))): _*)).as("e"))
      .select(col("vec_id"), col("e.s").as("s"), col("e.sv").as("sv"))
      .cache()
    // Seeds for ALL subspaces from one pass: the kStar lowest-vec_id
    // sample rows, sliced per subspace driver-side — identical to
    // seeding each subspace from the same rows' dsub-dim slices.
    val seedRows = base.orderBy("vec_id").limit(kStar)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    // A corpus smaller than kStar yields fewer seeds — train what exists
    // (the old per-subspace loop's behavior: cents.length = min(kStar, n)).
    val kEff = seedRows.length
    var cents: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      seedRows.map(v => v.slice(s * dsub, s * dsub + dsub))
    }
    var iter = 0
    while (iter < maxIter) {
      val cs = cents // immutable copy for the closure
      val assign = udf { (s: Int, v: Seq[Float]) =>
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < cs(s).length) {
          var d = 0.0; var i = 0
          while (i < dsub) { val x = v(i) - cs(s)(c)(i); d += x * x; i += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        best
      }
      val means = exploded.withColumn("cell", assign(col("s"), col("sv")))
        .groupBy("s", "cell")
        .agg(array((0 until dsub).map(i => avg(col("sv").getItem(i))): _*).as("c"))
        .collect()
        .map(r => (r.getAs[Int]("s"), r.getAs[Int]("cell")) -> r.getSeq[Double](2).toArray)
        .toMap
      cents = Array.tabulate(m)(s => Array.tabulate(kEff)(c =>
        means.getOrElse((s, c), cents(s)(c))))
      iter += 1
    }
    exploded.unpersist()
    cents.map(_.map(_.toSeq).toSeq).toSeq
  }

  // PQ codebook memo (build-once: see Layout.fingerprint).
  private val pqBookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Seq[Double]]]]()

  /** [[trainPqCodebooks]] memoized under `cacheKey` plus the corpus
    * fingerprint ([[Layout.fingerprint]]).
    */
  def trainPqCodebooksCached(
      corpus: DataFrame,
      cacheKey: String,
      m: Int,
      dsub: Int,
      kStar: Int,
      maxIter: Int = 5): Seq[Seq[Seq[Double]]] = {
    val key = s"$cacheKey|${corpusFp(corpus).key}|$m|$dsub|$kStar|$maxIter"
    val books = pqBookCache.computeIfAbsent(key,
      _ => trainPqCodebooks(corpus, m, dsub, kStar, maxIter))
    graft.AnnOracle.globalBooks.put(key, books)
    books
  }

  // ------------------------------------------ OPQ: learned rotation tier
  //
  // Optimized Product Quantization (Ge et al., CVPR 2013): learn an
  // ORTHOGONAL rotation R applied before the subspace split, minimizing
  // Σ‖R·x − q(R·x)‖² by alternating (a) PQ codebook training on the
  // rotated sample with (b) the orthogonal-Procrustes rotation update
  // R = V·Uᵀ of Σ xᵢx̂ᵢᵀ = U·Σ·Vᵀ. Rotation redistributes variance and
  // decorrelates the m subspaces, which is the standard lift on the
  // ADC recall/cost frontier at overfetch=1 (the r10 verdict's next #3):
  // plain PQ pays for whatever axis alignment the raw embedding basis
  // happens to have; OPQ buys the best basis an orthogonal map can reach.
  //
  // Scale shape: training runs on the SAME bounded deterministic hash
  // sample as [[trainPqCodebooks]], wholly driver-local (a d×d Procrustes
  // per iteration — 64×64 doubles here; production d ≤ a few thousand
  // keeps this microseconds), exactly the precedent of driver-held IVF
  // centroids. The corpus-scale work — rotate + encode — stays one
  // map-only pass ([[rotated]] then [[pqEncode]]); queries rotate
  // driver-side. Euclidean (and cosine) geometry is rotation-invariant,
  // so recall vs the ORIGINAL-space exact top-k is directly comparable
  // with the un-rotated tiers.

  /** Gauss-Jordan inverse with partial pivoting (driver-local d×d).
    * None when numerically singular.
    */
  private def matInvert(a0: Array[Array[Double]]): Option[Array[Array[Double]]] = {
    val n = a0.length
    val a = a0.map(_.clone)
    val inv = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var c = 0
    while (c < n) {
      var piv = c
      var i = c + 1
      while (i < n) { if (math.abs(a(i)(c)) > math.abs(a(piv)(c))) piv = i; i += 1 }
      if (math.abs(a(piv)(c)) < 1e-12) return None
      val t = a(c); a(c) = a(piv); a(piv) = t
      val t2 = inv(c); inv(c) = inv(piv); inv(piv) = t2
      val p = a(c)(c)
      var j = 0
      while (j < n) { a(c)(j) /= p; inv(c)(j) /= p; j += 1 }
      i = 0
      while (i < n) {
        if (i != c) {
          val f = a(i)(c)
          if (f != 0.0) {
            var j2 = 0
            while (j2 < n) {
              a(i)(j2) -= f * a(c)(j2); inv(i)(j2) -= f * inv(c)(j2); j2 += 1
            }
          }
        }
        i += 1
      }
      c += 1
    }
    Some(inv)
  }

  /** Orthogonal POLAR factor of a square matrix via Higham's Newton
    * iteration `Q ← (Q + Q⁻ᵀ)/2` — converges quadratically to the U·Vᵀ
    * of the SVD for nonsingular input, which is exactly the
    * orthogonal-Procrustes maximizer trace(Q·H) needs. Deterministic
    * (fixed iteration cap + tolerance, pure driver arithmetic); None
    * when an iterate goes singular.
    */
  private def polarFactor(m0: Array[Array[Double]]): Option[Array[Array[Double]]] = {
    val n = m0.length
    var q = m0.map(_.clone)
    var it = 0
    var done = false
    while (it < 60 && !done) {
      val invT = matInvert(q) match {
        case None => return None
        case Some(x) => Array.tabulate(n, n)((i, j) => x(j)(i))
      }
      var delta = 0.0
      val next = Array.tabulate(n, n) { (i, j) =>
        val v = (q(i)(j) + invT(i)(j)) / 2
        delta = math.max(delta, math.abs(v - q(i)(j)))
        v
      }
      q = next
      if (delta < 1e-13) done = true
      it += 1
    }
    Some(q)
  }

  /** Driver-local per-subspace Lloyd over rotated sample rows — the
    * in-memory twin of [[trainPqCodebooks]]'s rule (seeds = first kEff
    * rows, ties → lowest centroid, empty cells keep their previous
    * centroid), run inside the OPQ alternation where a Spark job per
    * iteration would be pure overhead (the sample is ≤ a few thousand
    * rows by construction).
    */
  private def localPqTrain(
      ys: Array[Array[Double]], m: Int, dsub: Int, kStar: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    val kEff = math.min(kStar, ys.length)
    val books = Array.tabulate(m)(s =>
      Array.tabulate(kEff)(c => ys(c).slice(s * dsub, s * dsub + dsub)))
    var it = 0
    while (it < iters) {
      var s = 0
      while (s < m) {
        val sums = Array.fill(kEff, dsub)(0.0)
        val counts = Array.fill(kEff)(0L)
        ys.foreach { y =>
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < kEff) {
            var d = 0.0; var j = 0
            while (j < dsub) { val x = y(s * dsub + j) - books(s)(c)(j); d += x * x; j += 1 }
            if (d < bd) { bd = d; best = c }
            c += 1
          }
          counts(best) += 1
          var j = 0
          while (j < dsub) { sums(best)(j) += y(s * dsub + j); j += 1 }
        }
        var c = 0
        while (c < kEff) {
          if (counts(c) > 0)
            books(s)(c) = Array.tabulate(dsub)(j => sums(c)(j) / counts(c))
          c += 1
        }
        s += 1
      }
      it += 1
    }
    books
  }

  /** PQ reconstruction of one rotated row under `books` (nearest
    * centroid per subspace, ties → lowest — the encode rule).
    */
  private def localPqReconstruct(
      y: Array[Double], books: Array[Array[Array[Double]]],
      m: Int, dsub: Int): Array[Double] = {
    val out = new Array[Double](m * dsub)
    var s = 0
    while (s < m) {
      var best = 0; var bd = Double.MaxValue
      var c = 0
      while (c < books(s).length) {
        var d = 0.0; var j = 0
        while (j < dsub) { val x = y(s * dsub + j) - books(s)(c)(j); d += x * x; j += 1 }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      var j = 0
      while (j < dsub) { out(s * dsub + j) = books(s)(best)(j); j += 1 }
      s += 1
    }
    out
  }

  /** Eigendecomposition of a symmetric matrix by cyclic Jacobi sweeps —
    * deterministic driver-local d×d. Returns (eigenvalues, eigenvector
    * COLUMNS): `vecs(k)(j)` is component k of eigenvector j.
    */
  private def symEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone)
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var done = false
    while (sweep < 60 && !done) {
      var off = 0.0
      var p = 0
      while (p < n) {
        var q = p + 1
        while (q < n) { off = math.max(off, math.abs(a(p)(q))); q += 1 }
        p += 1
      }
      if (off < 1e-12) done = true
      else {
        p = 0
        while (p < n) {
          var q = p + 1
          while (q < n) {
            if (math.abs(a(p)(q)) > 1e-15) {
              val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
              val t = math.signum(theta) match {
                case 0.0 => 1.0 / (math.abs(theta) + math.sqrt(theta * theta + 1))
                case sg => sg / (math.abs(theta) + math.sqrt(theta * theta + 1))
              }
              val c = 1 / math.sqrt(t * t + 1)
              val s = t * c
              var k = 0
              while (k < n) { // A ← Jᵀ A J, row pair then column pair
                val akp = a(k)(p); val akq = a(k)(q)
                a(k)(p) = c * akp - s * akq
                a(k)(q) = s * akp + c * akq
                k += 1
              }
              k = 0
              while (k < n) {
                val apk = a(p)(k); val aqk = a(q)(k)
                a(p)(k) = c * apk - s * aqk
                a(q)(k) = s * apk + c * aqk
                val vkp = v(k)(p); val vkq = v(k)(q)
                v(k)(p) = c * vkp - s * vkq
                v(k)(q) = s * vkp + c * vkq
                k += 1
              }
            }
            q += 1
          }
          p += 1
        }
        sweep += 1
      }
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Train the OPQ rotation + codebooks. Initialization is the OPQ
    * paper's PARAMETRIC solution — eigendecompose the sample's second
    * moment and allocate eigenvectors to subspaces balancing the
    * log-eigenvalue mass (so no subspace hoards more signal than its k*
    * centroids can cover; an identity init stalls in exactly that local
    * minimum when correlated high-variance dims share a subspace) —
    * followed by the non-parametric alternation: codebook training on
    * the rotated sample, then the Procrustes polar update. The shipped
    * books are trained once more under the FINAL rotation (so books and
    * rotation are mutually consistent). Returns (R as float rows,
    * codebooks) — feed the corpus through [[rotated]] and the books into
    * the existing PQ/IVF-PQ machinery unchanged.
    */
  def trainOpq(
      corpus: DataFrame,
      m: Int,
      dsub: Int,
      kStar: Int,
      opqIters: Int = 8,
      lloydIters: Int = 8,
      sampleCap: Int = 2048): (Array[Array[Float]], Seq[Seq[Seq[Double]]]) = {
    val d = m * dsub
    val sampled = corpus.filter(pmod(hash(col("vec_id")), lit(4)) < lit(1))
    val src = if (sampled.count() >= 16L * kStar) sampled else corpus
    val xs = src.orderBy("vec_id").limit(sampleCap)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).iterator.map(_.toDouble).toArray)
    require(xs.nonEmpty && xs.head.length == d,
      s"trainOpq: embedding dim ${xs.headOption.map(_.length)} != m*dsub=$d")
    def matVec(r: Array[Array[Double]], x: Array[Double]): Array[Double] = {
      val out = new Array[Double](d)
      var i = 0
      while (i < d) {
        val row = r(i); var acc = 0.0; var j = 0
        while (j < d) { acc += row(j) * x(j); j += 1 }
        out(i) = acc; i += 1
      }
      out
    }
    // -------- parametric init: eigen-allocation rotation --------
    // second moment of the sample (uncentered — PQ quantizes x, not
    // x − μ), eigenvectors allocated to subspaces by descending
    // eigenvalue into the subspace with the smallest log-mass so far
    // (the paper's balanced product rule, greedy form)
    val mom = Array.fill(d, d)(0.0)
    xs.foreach { x =>
      var a = 0
      while (a < d) {
        val xa = x(a)
        if (xa != 0.0) { val row = mom(a); var b = 0
          while (b < d) { row(b) += xa * x(b); b += 1 } }
        a += 1
      }
    }
    var a0 = 0
    while (a0 < d) { var b0 = 0; while (b0 < d) { mom(a0)(b0) /= xs.length; b0 += 1 }; a0 += 1 }
    val (eigVals, eigVecs) = symEigen(mom)
    val order = eigVals.zipWithIndex.sortBy { case (ev, i) => (-ev, i) }.map(_._2)
    val subMass = Array.fill(m)(0.0)
    val subSlots = Array.fill(m)(0)
    val assignTo = Array.fill(d)(0)
    order.foreach { ei =>
      var best = -1
      var s = 0
      while (s < m) {
        if (subSlots(s) < dsub && (best < 0 || subMass(s) < subMass(best))) best = s
        s += 1
      }
      assignTo(ei) = best * dsub + subSlots(best)
      subSlots(best) += 1
      subMass(best) += math.log(math.max(eigVals(ei), 1e-12))
    }
    // R's row assignTo(ei) = eigenvector ei (rows orthonormal → R orthogonal)
    var r = Array.fill(d, d)(0.0)
    order.foreach { ei =>
      val row = assignTo(ei)
      var k = 0
      while (k < d) { r(row)(k) = eigVecs(k)(ei); k += 1 }
    }
    // -------- non-parametric refinement: Lloyd ⇄ Procrustes --------
    var it = 0
    while (it < opqIters) {
      val ys = xs.map(matVec(r, _))
      val books = localPqTrain(ys, m, dsub, kStar, lloydIters)
      val xhat = ys.map(localPqReconstruct(_, books, m, dsub))
      // G(a)(b) = Σᵢ x̂ᵢ(a)·xᵢ(b) = (Σ x x̂ᵀ)ᵀ; R = polar(G) maximizes
      // trace(R·Σ x x̂ᵀ), the Procrustes objective
      val g = Array.fill(d, d)(0.0)
      var i = 0
      while (i < xs.length) {
        val x = xs(i); val xh = xhat(i)
        var a = 0
        while (a < d) {
          val xa = xh(a)
          if (xa != 0.0) {
            val row = g(a); var b = 0
            while (b < d) { row(b) += xa * x(b); b += 1 }
          }
          a += 1
        }
        i += 1
      }
      r = polarFactor(g).getOrElse(r)
      it += 1
    }
    val finalBooks = localPqTrain(xs.map(matVec(r, _)), m, dsub, kStar, lloydIters)
    (r.map(_.map(_.toFloat)),
      finalBooks.map(_.map(_.toSeq).toSeq).toSeq)
  }

  private val opqCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Array[Float]], Seq[Seq[Seq[Double]]])]()

  /** [[trainOpq]] memoized under `cacheKey` plus the corpus
    * fingerprint ([[Layout.fingerprint]]).
    */
  def trainOpqCached(
      corpus: DataFrame,
      cacheKey: String,
      m: Int,
      dsub: Int,
      kStar: Int,
      opqIters: Int = 8,
      lloydIters: Int = 8): (Array[Array[Float]], Seq[Seq[Seq[Double]]]) = {
    val key = s"opq|$cacheKey|${corpusFp(corpus).key}|$m|$dsub|$kStar|$opqIters|$lloydIters"
    val pair = opqCache.computeIfAbsent(key,
      _ => trainOpq(corpus, m, dsub, kStar, opqIters, lloydIters))
    graft.AnnOracle.opqRotation.put(key, pair._1)
    graft.AnnOracle.opqBooks.put(key, pair._2)
    pair
  }

  /** The corpus with its embedding column rotated (y = R·x): one
    * map-only UDF pass, the d×d matrix riding the closure — at 100 TB
    * the rotation folds into the encode scan, never a shuffle. Double
    * accumulation per output dim, rounded once to float.
    */
  def rotated(vecs: DataFrame, rotation: Array[Array[Float]]): DataFrame = {
    val rotUdf = udf { (v: Seq[Float]) =>
      val d = rotation.length
      val out = new Array[Float](d)
      var i = 0
      while (i < d) {
        val row = rotation(i); var acc = 0.0; var j = 0
        while (j < d) { acc += row(j).toDouble * v(j); j += 1 }
        out(i) = acc.toFloat; i += 1
      }
      out.toSeq
    }
    vecs.withColumn("embedding", rotUdf(col("embedding")))
  }

  /** Driver-side ADC lookup table for one query vector:
    * `lut(s)(c) = ‖q_sub(s) − codebooks(s)(c)‖²` — m × k* doubles, the
    * classic ADC table. The IEEE op sequence is EXACTLY the column
    * form's ([[subspaceDists]]: per-dim float→double cast, subtract,
    * square, left-fold sum seeded at 0.0), so swapping the per-row
    * column arithmetic for a table lookup is bit-identical — the
    * hash-exact oracle mirror of `ann_pq_adc_topk` is unaffected.
    *
    * Why driver-side: the column form is a higher-order-function tree
    * (transform/zip_with/aggregate), and HOFs are CodegenFallback —
    * every scored row paid ~m × k* × dsub interpreted, boxed ops. The
    * LUT costs the same arithmetic ONCE per query on the driver
    * (microseconds), and the scan's per-row work collapses to m
    * codegen'd literal-array lookups. Queries are a bounded probe batch
    * by contract (the same contract under which [[ivfPqLocalTopK]]
    * builds its per-cell tables on the driver).
    */
  private[graft] def adcLut(
      codebooks: Seq[Seq[Seq[Double]]], q: Seq[Float]): Seq[Seq[Double]] = {
    val dsub = codebooks.head.head.length
    codebooks.zipWithIndex.map { case (cents, s) =>
      cents.map { c =>
        var acc = 0.0; var j = 0
        while (j < dsub) {
          val d = q(s * dsub + j).toDouble - c(j); acc += d * d; j += 1
        }
        acc
      }
    }
  }

  /** The ADC distance Σ_s `lut(s)(code_s)` over a joined `lut` column
    * (array<array<double>>): m two-level `element_at` lookups, all
    * codegen'd — shared by every batch ADC consumer so they score with
    * bit-identical arithmetic (subspace sums added left to right, the
    * same association as the LUT-free column form).
    */
  private[graft] def adcFromLut(m: Int): Column =
    (0 until m).map(s =>
      element_at(element_at(col("lut"), s + 1), col(s"code_$s") + 1))
      .reduce(_ + _)

  /** ADC distance of a PQ layout's `code_s` columns to ONE query vector,
    * as a single codegen'd column: the per-subspace LUT rides the plan
    * as literal arrays and the score is m `element_at` lookups added
    * left to right — bit-identical to [[adcFromLut]] over a joined lut
    * column (same [[adcLut]] doubles, same add order; the join form's
    * extra outer `element_at` only navigates nesting). Used by the
    * optimizer rule's IVF-PQ probe ([[graft.plans.AnnTopKRewrite]]),
    * where the query vector is a plan literal rather than a column.
    */
  def adcDistToQuery(codebooks: Seq[Seq[Seq[Double]]], q: Seq[Float]): Column = {
    val lut = adcLut(codebooks, q)
    codebooks.indices.map(s =>
      element_at(typedLit(lut(s)), col(s"code_$s") + 1)).reduce(_ + _)
  }

  /** [[adcDistToQuery]] for a RESIDUAL-encoded layout (the optimizer
    * rule's IVFADC tier): per probed cell the lookup table is built from
    * the query residual `q − centroid(cell)` — the same driver-side
    * float subtraction as [[ivfPqResidualTopK]]'s probe (and the encode
    * side's [[residualCol]]) — and the per-row distance selects its
    * probed cell's LUT chain by the `cell` partition column: a
    * codegen'd CASE over ≤nProbe literal-array lookup chains, so the
    * scan still streams only the m-byte codes + the partition value.
    */
  def adcDistToQueryResidual(
      codebooks: Seq[Seq[Seq[Double]]],
      centroids: Array[Array[Float]],
      q: Seq[Float],
      cells: Seq[Int]): Column = {
    require(cells.nonEmpty, "adcDistToQueryResidual: empty probe set")
    val branches = cells.map { c =>
      val res = Array.tabulate(q.length)(i => q(i) - centroids(c)(i)).toSeq
      val lut = adcLut(codebooks, res)
      (c, codebooks.indices.map(s =>
        element_at(typedLit(lut(s)), col(s"code_$s") + 1)).reduce(_ + _))
    }
    branches.tail.foldLeft(
      when(col("cell") === branches.head._1, branches.head._2)) {
      case (acc, (c, e)) => acc.when(col("cell") === c, e)
    }
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    * full-precision; each corpus vector contributes
    * Σ_s ‖q_sub(s) − centroid(code_s)‖² — by construction EXACTLY the
    * squared distance from the query to the vector's PQ reconstruction,
    * so the operator has no approximation beyond quantization itself
    * (spec-pinned against a brute-force scan of the reconstructions).
    * The per-query distance table (m × k* doubles, [[adcLut]]) is
    * computed driver-side and broadcast — the scan streams ONLY the
    * m-byte codes, never the float corpus; ranking uses the floored
    * distance + vec_id so the cut is engine-stable.
    */
  def pqAdcTopK(
      vecs: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]],
      nQueries: Int,
      k: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    val codes = pqEncode(vecs, codebooks)
    val luts = vecs.filter(col("vec_id") < nQueries)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), adcLut(codebooks, r.getSeq[Float](1)))).toSeq
      .toDF("query_id", "lut")
    rankAdc(codes.crossJoin(broadcast(luts)), codebooks.length, k)
  }

  // ------------------------------------------------------------- IVF-PQ
  /** Write the corpus as an IVF-PQ index: each vector's `m` PQ codes,
    * PARTITIONED BY its IVF cell. This is the canonical 100 TB ANN
    * layout — the composition of the two layouts this file already has:
    * the cell partitioning ([[writeCellPartitioned]]) makes a probe read
    * only `nProbe`/`nCells` of the corpus (file-level skip), and the PQ
    * codes make what IS read `m` bytes per vector instead of a float
    * array (16–32× at production m/k*). A 100 TB float corpus becomes a
    * few hundred GB of codes, of which one query touches a few GB.
    * Write-once: the float corpus is scanned a single time (assign +
    * encode are one map-only pass); every subsequent query pays probe
    * cost only. The reference's vector store (a Chroma collection probed
    * per query, chroma_utils.py:237-263) is this layout's single-node
    * ancestor.
    */
  def writeIvfPqPartitioned(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      path: String): Unit = {
    assignCells(corpus, centroids)
      .select(col("vec_id") +: pqCodeCols(codebooks) :+ col("cell"): _*)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    writeKeyStats(corpus.sparkSession, path, "cell")
  }

  /** Build-once ([[Layout.memoLayout]]) [[writeIvfPqPartitioned]]
    * layout, keyed by the corpus AND the index (centroids + codebooks,
    * [[indexFp]]): retrained centroids or codebooks get a fresh path.
    * Returns the layout path for [[ivfPqJoin]].
    */
  def ivfPqLayout(
      spark: SparkSession,
      corpus: DataFrame,
      baseDir: String,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]]): String =
    Layout.memoLayout(spark, corpus, baseDir,
      s"ivfpq_c${centroids.length}_m${codebooks.length}", vecCols,
      Some(indexFp(centroids, codebooks.iterator.flatten.flatten)))(
      writeIvfPqPartitioned(corpus, centroids, codebooks, _))

  /** IVF-PQ top-k over a [[writeIvfPqPartitioned]] / [[ivfPqLayout]]
    * layout — ANN as a JOIN: top-k ADC neighbors for every row of a
    * query frame of any size, from a 3-query probe batch to the
    * corpus-vs-corpus shapes (embedding near-dup sweeps, nightly batch
    * retrieval). Probe cells explode per query row from the CODEGEN
    * top-nProbe kernel, the per-query ADC lookup table is built ONCE per
    * query row as an array column (the HOF arithmetic of
    * [[subspaceDists]] runs on query rows only — bit-identical to
    * [[adcLut]]; scoring is the codegen'd [[adcFromLut]] lookups), and
    * candidates come from the [[probeJoin]] equi-join on the cell key:
    * the probed cells prune the scan, which streams only the m-byte
    * codes of those directories. With `nProbe = nCells` the result is
    * IDENTICAL to the flat [[pqAdcTopK]] over the same codebooks
    * (spec-pinned and Verify-gated) — cell pruning is a physical
    * optimization; the ADC arithmetic, floored-distance ranking and
    * vec_id tiebreak are [[rankAdc]].
    */
  def ivfPqJoin(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      k: Int,
      nProbe: Int = 3,
      hotCellCap: Int = HotKeyCap,
      maxSalt: Int = MaxSalt): DataFrame =
    rankAdc(probeJoin(spark, spark.read.parquet(path), Some(path), queries,
      lutProbe(codebooks, VectorExpressions.ivfCellProbes(col("q_embedding"), centroids, nProbe)),
      "cell", Some(centroids.length), hotCellCap, maxSalt), codebooks.length, k)

  /** [[ivfPqJoin]] with the QUERY-ADAPTIVE probe budget — the PQ tier
    * of [[ivfJoinAdaptive]] (one shared operating point,
    * [[IvfJoinAdaptiveProbeMax]]/[[IvfJoinAdaptiveRatio]], one shared
    * kernel cut): each query row LUT-scans only the cells inside its
    * distance-ratio ball, so at 100 TB — where the PQ join is the tier
    * that actually streams, codes being m bytes/vector — the probe
    * budget concentrates on boundary queries instead of paying a flat
    * nProbe everywhere. Same mirror discipline (the rank-monotone cut
    * replays in SQL), hash-checked end to end.
    */
  def ivfPqJoinAdaptive(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      k: Int,
      nProbeMax: Int = IvfJoinAdaptiveProbeMax,
      ratio: Double = IvfJoinAdaptiveRatio,
      hotCellCap: Int = HotKeyCap,
      maxSalt: Int = MaxSalt): DataFrame =
    rankAdc(probeJoin(spark, spark.read.parquet(path), Some(path), queries,
      lutProbe(codebooks,
        VectorExpressions.ivfCellProbesAdaptive(col("q_embedding"), centroids, nProbeMax, ratio)),
      "cell", Some(centroids.length), hotCellCap, maxSalt), codebooks.length, k)

  /** The per-query ADC lookup table of `v` as an array column — the
    * column form of [[adcLut]], same doubles.
    */
  private def lutCol(codebooks: Seq[Seq[Seq[Double]]], v: Column): Column = {
    val dsub = codebooks.head.head.length
    array(codebooks.zipWithIndex.map { case (cents, s) =>
      subspaceDists(cents, v, s, dsub)
    }: _*)
  }

  /** The `(query_id, cell, lut)` probe rows of a raw-code PQ layout:
    * the lookup table is built before the cells explode, so a query's
    * probed cells share one table.
    */
  private def lutProbe(codebooks: Seq[Seq[Seq[Double]]], cells: Column)(
      queries: DataFrame): DataFrame =
    queries
      .withColumn("lut", lutCol(codebooks, col("q_embedding")))
      .withColumn("cell", explode(cells))
      .select("query_id", "cell", "lut")

  /** Two-stage IVF-PQ: ADC over-fetches `k * overfetch` candidates per
    * query from the probed cells, then an exact float EUCLIDEAN rerank
    * (ADC's own metric) of just those candidates picks the final top-k.
    * This is the production refinement step: ADC ordering errors inside
    * the probed set are fully corrected — the only residual error source
    * is a true neighbor outside the probe or the over-fetch, so recall
    * is bounded above only by probe coverage. The float corpus is
    * touched for `nQueries × k × overfetch` rows via a broadcast id
    * equi-join (the candidate list is tiny; the corpus never reshuffles),
    * exactly the [[quantizedTopKReranked]] shape lifted onto the
    * partitioned PQ layout. With full probe and over-fetch ≥ corpus the
    * result equals the exact euclidean top-k (spec-pinned) — like the
    * int8 rerank, the two-stage path has no approximation blind spot.
    */
  def ivfPqTopKReranked(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      k: Int,
      nProbe: Int = 3,
      overfetch: Int = 4): DataFrame =
    exactEuclideanRerank(
      ivfPqJoin(spark, path, queries, centroids, codebooks,
        k * overfetch, nProbe).select("query_id", "vec_id"),
      queries, corpus, k)

  /** [[ivfPqTopKReranked]] over the RESIDUAL layout — the complete
    * IVFADC-with-refinement pipeline (coarse cells → residual codes →
    * per-cell ADC → exact rerank): residual codes order candidates
    * better at the same byte budget, the rerank then removes what
    * quantization error remains inside the probe.
    */
  def ivfPqResidualTopKReranked(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      k: Int,
      nProbe: Int = 3,
      overfetch: Int = 4): DataFrame =
    exactEuclideanRerank(
      ivfPqResidualTopK(spark, path, queries, centroids, codebooks,
        k * overfetch, nProbe).select("query_id", "vec_id"),
      queries, corpus, k)

  /** The shared refinement stage: exact float EUCLIDEAN top-k over a
    * coarse `(query_id, vec_id)` candidate list. The float corpus is
    * touched only for the candidate rows via a broadcast id equi-join
    * (candidates are `queries × k × overfetch` rows; the corpus never
    * reshuffles); floored d2 + vec_id tiebreak keep the cut
    * engine-stable. Every two-stage ANN path ([[ivfPqTopKReranked]],
    * [[ivfPqResidualTopKReranked]]) shares this stage.
    */
  def exactEuclideanRerank(
      coarse: DataFrame,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int): DataFrame = {
    val d2 = aggregate(
      zip_with(col("q_emb"), col("c_emb"),
        (x, y) => { val d = x.cast("double") - y.cast("double"); d * d }),
      lit(0.0d), (acc, v) => acc + v)
    corpus.select(col("vec_id"), col("embedding").as("c_emb"))
      .join(broadcast(coarse
        .join(queries.select(col("query_id"), col("q_embedding").as("q_emb")),
          "query_id")), "vec_id")
      .withColumn("d2", graft.functions.TextAnalysis.floorScale(d2, 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("d2"), asc("vec_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "d2")
  }

  // --------------------------------------------------- residual IVF-PQ
  /** `centroids(cell)` as a column over the tiny literal centroid array
    * (1-based `element_at` over a `typedLit` — the IVF centroid set is
    * KBs and rides the plan, never a join).
    */
  private def centroidAt(centroids: Array[Array[Float]], cell: Column): Column =
    element_at(typedLit(centroids.map(_.toSeq)), cell + 1)

  /** The residual `emb − centroids(cell)`, elementwise float arithmetic —
    * deterministic and identical on the encode and query sides.
    */
  private def residualCol(
      centroids: Array[Array[Float]], cell: Column, emb: Column): Column =
    zip_with(emb, centroidAt(centroids, cell), (x, c) => x - c)

  /** Each vector's IVF cell plus its RESIDUAL to the cell centroid in
    * place of the raw embedding — the frame residual PQ trains and
    * encodes on. Residuals concentrate around 0 once the coarse cells
    * capture corpus structure, so the same `m × k*` code budget spends
    * its centroids on a much smaller-variance distribution than raw
    * vectors — the reason IVFADC (Jégou et al., TPAMI 2011) encodes
    * residuals, and the round-9 step from the plain IVF-PQ composition.
    */
  def residualFrame(
      corpus: DataFrame, centroids: Array[Array[Float]]): DataFrame =
    assignCells(corpus, centroids)
      .withColumn("embedding",
        residualCol(centroids, col("cell"), col("embedding")))

  /** [[trainPqCodebooks]] over the RESIDUAL distribution — the books ADC
    * scores residual codes with must be trained on residuals, not raw
    * vectors (the distributions differ by exactly the structure the
    * coarse quantizer removed).
    */
  def trainPqCodebooksResidual(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      m: Int,
      dsub: Int,
      kStar: Int,
      maxIter: Int = 5): Seq[Seq[Seq[Double]]] =
    trainPqCodebooks(
      residualFrame(corpus, centroids).select("vec_id", "embedding"),
      m, dsub, kStar, maxIter)

  /** [[trainPqCodebooksResidual]] memoized like [[trainPqCodebooksCached]],
    * with the coarse centroids folded into the key — retrained IVF cells
    * change every residual, so books trained under old centroids must
    * never be served for new ones.
    */
  def trainPqCodebooksResidualCached(
      corpus: DataFrame,
      cacheKey: String,
      centroids: Array[Array[Float]],
      m: Int,
      dsub: Int,
      kStar: Int,
      maxIter: Int = 5): Seq[Seq[Seq[Double]]] = {
    val key = s"$cacheKey|res${indexFp(centroids)}|${corpusFp(corpus).key}" +
      s"|$m|$dsub|$kStar|$maxIter"
    val books = pqBookCache.computeIfAbsent(key,
      _ => trainPqCodebooksResidual(corpus, centroids, m, dsub, kStar, maxIter))
    graft.AnnOracle.residualBooks.put(key, books)
    books
  }

  /** [[writeIvfPqPartitioned]] with RESIDUAL encoding: codes quantize
    * `x − centroid(cell)` instead of `x`. Same one-pass write (assign +
    * residual + encode are one map-only scan), same layout shape.
    */
  def writeIvfPqResidualPartitioned(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      path: String): Unit = {
    residualFrame(corpus, centroids)
      .select(col("vec_id") +: pqCodeCols(codebooks) :+ col("cell"): _*)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    writeKeyStats(corpus.sparkSession, path, "cell")
  }

  /** Build-once [[writeIvfPqResidualPartitioned]] layout, keyed as
    * [[ivfPqLayout]] (distinct path prefix — a residual layout and a
    * raw-code layout of the same corpus+index never collide).
    */
  def ivfPqResidualLayout(
      spark: SparkSession,
      corpus: DataFrame,
      baseDir: String,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]]): String =
    Layout.memoLayout(spark, corpus, baseDir,
      s"ivfpqr_c${centroids.length}_m${codebooks.length}", vecCols,
      Some(indexFp(centroids, codebooks.iterator.flatten.flatten)))(
      writeIvfPqResidualPartitioned(corpus, centroids, codebooks, _))

  /** Residual-encoded IVF-PQ top-k (IVFADC proper): the ADC lookup
    * tables are built from the QUERY RESIDUAL `q − centroid(cell)` — per
    * (query, probed cell), not per query — and the scored distance is
    * exactly `‖q − (centroid(cell) + reconstruction(codes))‖²`, the
    * distance from the query to the candidate's full reconstruction
    * (spec-pinned against a brute-force scan of reconstructions). The
    * residual is the same float subtraction [[residualCol]] applies on
    * the encode side, let-bound once per probe row, and its table is
    * [[lutCol]]'s; everything else (cell probes, [[probeJoin]], floored
    * ranking) is the [[ivfPqJoin]] shape. Table cost is nProbe× the
    * raw-code path's — the standard IVFADC trade, paid once per probe
    * row, never per scanned row.
    */
  def ivfPqResidualTopK(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      k: Int,
      nProbe: Int = 3): DataFrame = {
    val residualProbe = (q: DataFrame) => q
      .withColumn("cell", explode(
        VectorExpressions.ivfCellProbes(col("q_embedding"), centroids, nProbe)))
      .withColumn("lut", letCol(
        residualCol(centroids, col("cell"), col("q_embedding")))(lutCol(codebooks, _)))
      .select("query_id", "cell", "lut")
    rankAdc(probeJoin(spark, spark.read.parquet(path), Some(path), queries, residualProbe,
      "cell", Some(centroids.length), HotKeyCap, MaxSalt), codebooks.length, k)
  }

  // ------------------------------------------- per-cell (local) codebooks
  /** LOPQ-style per-cell residual codebooks (Kalantidis & Avrithis,
    * CVPR 2014, "Locally Optimized Product Quantization"): every IVF
    * cell trains its OWN m×k* residual books, so the code budget adapts
    * to each cell's local residual distribution instead of one global
    * compromise across all cells — the standard recall lift at low
    * overfetch after OPQ.
    *
    * Training is distributed BY CELL: a bounded lowest-vec_id sample
    * per cell (`maxPerCell`, via one per-cell rank window — at 100 TB
    * put a hash pre-sample in front so no cell's sample exceeds the
    * cap by orders of magnitude) feeds `mapGroups`, where each group
    * runs the in-memory Lloyd twin ([[localPqTrain]], the OPQ
    * alternation's trainer) on its own cell — cells train in PARALLEL
    * across executors and per-task state is one cell's sample. Sample
    * rows are sorted by vec_id inside the group, so training is
    * deterministic regardless of partitioning. Driver state is
    * `nCells × m × k* × dsub` doubles (a few MB at production shapes).
    */
  def trainLocalPqCodebooks(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      m: Int,
      dsub: Int,
      kStar: Int,
      maxIter: Int = 5,
      maxPerCell: Int = 2000): Map[Int, Seq[Seq[Seq[Double]]]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val w = Window.partitionBy("cell").orderBy("vec_id")
    val sampled = residualFrame(corpus, centroids)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxPerCell)
      .select(col("cell"), col("vec_id"), col("embedding"))
      .as[(Int, Long, Seq[Float])]
    sampled.groupByKey(_._1).mapGroups { (cell, it) =>
      val ys = it.toArray.sortBy(_._2).map(_._3.map(_.toDouble).toArray)
      (cell,
        localPqTrain(ys, m, dsub, kStar, maxIter).map(_.map(_.toSeq).toSeq).toSeq)
    }.collect().toMap
  }

  private val localBookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Int, Seq[Seq[Seq[Double]]]]]()

  /** [[trainLocalPqCodebooks]] memoized under the corpus fingerprint +
    * centroid hash, as [[trainPqCodebooksResidualCached]].
    */
  def trainLocalPqCodebooksCached(
      corpus: DataFrame,
      cacheKey: String,
      centroids: Array[Array[Float]],
      m: Int,
      dsub: Int,
      kStar: Int,
      maxIter: Int = 5,
      maxPerCell: Int = 2000): Map[Int, Seq[Seq[Seq[Double]]]] = {
    val key = s"$cacheKey|lopq${indexFp(centroids)}|${corpusFp(corpus).key}" +
      s"|$m|$dsub|$kStar|$maxIter|$maxPerCell"
    val books = localBookCache.computeIfAbsent(key,
      _ => trainLocalPqCodebooks(corpus, centroids, m, dsub, kStar, maxIter, maxPerCell))
    graft.AnnOracle.localBooks.put(key, books)
    books
  }

  /** [[writeIvfPqResidualPartitioned]] with PER-CELL books: each row's
    * residual encodes under its own cell's codebooks. The encoder is a
    * broadcast-map UDF (the books differ per cell, so the codegen'd
    * literal-codebook expression can't apply) — a one-pass write-side
    * cost; the probe side still streams only the m-byte codes. Same
    * argmin/lowest-code tie rule as every other encoder.
    */
  def writeIvfPqLocalPartitioned(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      localBooks: Map[Int, Seq[Seq[Seq[Double]]]],
      path: String): Unit = {
    val spark = corpus.sparkSession
    val m = localBooks.values.head.length
    // Broadcast the books PRE-FLATTENED to primitive arrays (per cell,
    // per subspace: k*·dsub doubles row-major) and unbox the embedding
    // ONCE per row: the first-cut UDF indexed nested Seqs per flop
    // (books(s)(c)(j), emb(i)) — ~m·k*·dsub boxed reads per row, the
    // dominant constant of the 10⁶ layout build after the assign kernel
    // fix (r15 verdict #4). Same doubles in the same order (float
    // widened exactly, subtract, square, left-fold add; strict < keeps
    // the lowest code), so codes are bit-identical — LopqSpec pins the
    // encoder against brute force.
    val flat: Map[Int, Array[Array[Double]]] = localBooks.map {
      case (cell, books) =>
        cell -> books.map(cents => cents.flatten.toArray).toArray
    }
    val kStars: Map[Int, Array[Int]] = localBooks.map { case (cell, books) =>
      cell -> books.map(_.length).toArray
    }
    val bc = spark.sparkContext.broadcast((flat, kStars))
    val encU = udf { (cell: Int, emb: Seq[Float]) =>
      val (books, ks) = (bc.value._1(cell), bc.value._2(cell))
      val e = emb.toArray
      Array.tabulate(books.length) { s =>
        val cents = books(s)
        val kS = ks(s)
        val ds = cents.length / kS
        var best = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < kS) {
          var d = 0.0
          var j = 0
          while (j < ds) {
            val x = e(s * ds + j) - cents(c * ds + j); d += x * x; j += 1
          }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        best
      }
    }
    residualFrame(corpus, centroids)
      .withColumn("codes", encU(col("cell"), col("embedding")))
      .select(col("vec_id") +:
        (0 until m).map(s => col("codes").getItem(s).as(s"code_$s")) :+
        col("cell"): _*)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    writeKeyStats(spark, path, "cell")
  }

  /** Build-once [[writeIvfPqLocalPartitioned]] layout (distinct
    * `ivfpqlo_` prefix; the index hash covers the centroids and every
    * cell's books in cell order).
    */
  def ivfPqLocalLayout(
      spark: SparkSession,
      corpus: DataFrame,
      baseDir: String,
      centroids: Array[Array[Float]],
      localBooks: Map[Int, Seq[Seq[Seq[Double]]]]): String =
    Layout.memoLayout(spark, corpus, baseDir, s"ivfpqlo_c${centroids.length}", vecCols,
      Some(indexFp(centroids, localBooks.toSeq.sortBy(_._1).iterator.flatMap(
        kv => Iterator(kv._1.toDouble) ++ kv._2.iterator.flatten.flatten))))(
      writeIvfPqLocalPartitioned(corpus, centroids, localBooks, _))

  /** [[ivfPqResidualTopK]] under per-cell books: the (query, probed
    * cell) LUT is built from the query residual with THAT CELL's
    * codebooks. The books differ per cell, so the tables are built on
    * the driver ([[adcLut]]) from the collected queries — a bounded
    * probe batch by contract — and enter [[probeJoin]] as a local
    * frame; the candidate join and the floored ADC ranking are the
    * residual path's. Probed cells that hold no corpus rows have no
    * books and no candidates; they are skipped.
    */
  def ivfPqLocalTopK(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      localBooks: Map[Int, Seq[Seq[Seq[Double]]]],
      k: Int,
      nProbe: Int = 3): DataFrame = {
    import spark.implicits._
    val m = localBooks.values.head.length
    val qRows = queries.select("query_id", "q_embedding").collect()
    val probes: Seq[(Long, Int, Seq[Seq[Double]])] = qRows.toSeq.flatMap { r =>
      val q = r.getSeq[Float](1)
      nearestCells(q, centroids, nProbe)
        .filter(localBooks.contains)
        .map { c =>
          val res = Array.tabulate(q.length)(i => q(i) - centroids(c)(i))
          (r.getLong(0), c, adcLut(localBooks(c), res))
        }
    }
    rankAdc(probeJoin(spark, spark.read.parquet(path), Some(path),
      probes.toDF("query_id", "cell", "lut"), identity,
      "cell", Some(centroids.length), HotKeyCap, MaxSalt), m, k)
  }

  /** LOPQ with refinement: per-cell codes order candidates, the shared
    * exact-euclidean stage removes remaining quantization error inside
    * the probe — the full locally-optimized IVFADC+refine pipeline.
    */
  def ivfPqLocalTopKReranked(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      localBooks: Map[Int, Seq[Seq[Seq[Double]]]],
      k: Int,
      nProbe: Int = 3,
      overfetch: Int = 4): DataFrame =
    exactEuclideanRerank(
      ivfPqLocalTopK(spark, path, queries, centroids, localBooks,
        k * overfetch, nProbe).select("query_id", "vec_id"),
      queries, corpus, k)

  // ------------------------------------------- incremental IVF-PQ index
  /** Append one ingest batch to a VERSIONED IVF-PQ root as its own
    * `batch=<id>` partition tree (`root/batch=<id>/cell=<c>/…`): assign +
    * encode is the same one-pass scan as [[writeIvfPqPartitioned]], but
    * the write touches ONLY the new batch's directory — the standing
    * corpus is never rewritten, the daily-crawl lifecycle the dedup tier
    * already has ([[Dedup.lineIndex]] et al.) extended to the vector
    * index. Idempotent and crash-safe ([[Layout.onceAt]]): re-delivered
    * batches cannot double-insert, and a crashed write without the
    * marker is simply overwritten on retry. Readers discover `batch`/`cell` as
    * partition columns; cell pruning works ACROSS batches (the probe's
    * static `isin` on `cell` prunes every batch's unprobed cells).
    * Centroids/codebooks are NOT retrained per batch — the standard
    * IVF discipline: the coarse quantizer drifts slowly, so batches
    * encode under the standing index until a compaction rebuilds it.
    */
  def ivfPqAppendBatch(
      spark: SparkSession,
      rootPath: String,
      batch: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      batchId: String): Unit =
    Layout.onceAt(spark, s"$rootPath/batch=$batchId")(
      assignCells(batch, centroids)
        .select(col("vec_id") +: pqCodeCols(codebooks) :+ col("cell"): _*)
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(_))

  /** Tombstone-delete from a versioned IVF-PQ root: victim ids land in
    * `root/_tombstones/delfp=<fingerprint>/` (underscore-prefixed, so
    * partition discovery of the code tree never sees them) and readers
    * anti-join them out — the delete-vector pattern of LSM/lakehouse
    * formats: no data file is rewritten at delete time; [[ivfPqCompact]]
    * folds tombstones in physically. Keyed by the victims' fingerprint
    * and gated like the batch append: re-deleting the same victim set is
    * a no-op, and a crashed write is overwritten on retry.
    */
  def ivfPqDeleteByKey(
      spark: SparkSession, rootPath: String, victims: DataFrame): Unit = {
    val fp = Layout.fingerprint(victims, "vec_id")
    Layout.onceAt(spark,
      s"$rootPath/_tombstones/delfp=${fp.n}x${java.lang.Long.toHexString(fp.fp)}")(
      victims.select("vec_id").write.mode("overwrite").parquet(_))
  }

  /** The LIVE code rows of a versioned root: every batch's codes
    * (partition discovery over `batch=`/`cell=`), minus tombstoned ids
    * (left-anti — Spark broadcasts the tombstone side while it is small;
    * compaction keeps it small). A cell filter on the result is pushed
    * below the anti-join, so cell pruning stays a `PartitionFilters`
    * predicate.
    */
  def ivfPqLiveCodes(spark: SparkSession, rootPath: String): DataFrame = {
    val codes = spark.read.option("basePath", rootPath).parquet(rootPath)
    val tombPath = new org.apache.hadoop.fs.Path(s"$rootPath/_tombstones")
    val fs = tombPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(tombPath))
      codes.join(
        spark.read.parquet(s"$rootPath/_tombstones").select("vec_id"),
        Seq("vec_id"), "left_anti")
    else codes
  }

  /** [[ivfPqJoin]] over a VERSIONED root ([[ivfPqAppendBatch]] /
    * [[ivfPqDeleteByKey]]): identical probes, scoring and ranking over
    * the live rows ([[ivfPqLiveCodes]]) — so a base-layout query and a
    * query over (base write + batch appends − tombstones) of the same
    * corpus are row-for-row equal (spec-pinned). The probed cells prune
    * partitions across all batches (the filter sits below the tombstone
    * anti-join). No occupancy sidecar: the root's occupancy moves with
    * every batch, so the join is unsalted.
    */
  def ivfPqTopKVersioned(
      spark: SparkSession,
      rootPath: String,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      k: Int,
      nProbe: Int = 3): DataFrame =
    rankAdc(probeJoin(spark, ivfPqLiveCodes(spark, rootPath), None, queries,
      lutProbe(codebooks, VectorExpressions.ivfCellProbes(col("q_embedding"), centroids, nProbe)),
      "cell", Some(centroids.length), HotKeyCap, MaxSalt), codebooks.length, k)

  /** The canonical VERSIONED-root path for a (corpus, index) pair —
    * keyed as [[ivfPqLayout]] (prefix `ivfpqv_`), but computed WITHOUT
    * writing: the root is populated by [[ivfPqAppendBatch]] calls, each
    * marker-gated, so repeated pipeline runs over an unchanged
    * corpus+index converge on the same directory tree with every write
    * skipped.
    */
  def ivfPqVersionedRoot(
      corpus: DataFrame,
      baseDir: String,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]]): String =
    Layout.layoutPath(corpus, baseDir,
      s"ivfpqv_c${centroids.length}_m${codebooks.length}", vecCols,
      Some(indexFp(centroids, codebooks.iterator.flatten.flatten)))

  /** Compact a versioned root into a fresh single-batch root: live rows
    * (all batches minus tombstones) rewritten as `batch=base`, cell
    * partitioning preserved. Writes to a NEW root — the caller swaps
    * paths after the `_SUCCESS`-completed write (same publish-then-swap
    * discipline as [[graft.operators.Store.overwriteWith]]), so readers
    * of the old root are never exposed to a half-compacted tree.
    */
  def ivfPqCompact(
      spark: SparkSession, rootPath: String, compactedRoot: String): Unit =
    ivfPqLiveCodes(spark, rootPath)
      .withColumn("batch", lit("base"))
      .write.mode("overwrite").partitionBy("batch", "cell")
      .parquet(compactedRoot)

  /** Per-cell entry lists over an IVF-PQ code table (the frame a
    * [[writeIvfPqPartitioned]] layout reads back as): one row per cell,
    * `entries` = array of (vec_id, code_0..code_{m-1}) structs. This is
    * the STATIC side of the streaming vector-admission gate
    * ([[graft.streaming.Streams.pqAdmissionGate]]) — pre-aggregated once
    * per index snapshot, equi-joined per micro-batch on the probed cell
    * ids, the same standing-index lifecycle as [[Dedup.admissionIndex]].
    * Each cell's entries ride in ONE row (m+8 bytes per vector), so
    * `nCells` must keep cells row-sized — the knob IVF sizing already
    * turns (cells ∝ √n keeps both probe cost and row width bounded).
    */
  def pqAdmissionIndex(codes: DataFrame, m: Int): DataFrame =
    codes.groupBy("cell").agg(
      collect_list(struct(
        col("vec_id") +: (0 until m).map(s => col(s"code_$s")): _*)).as("entries"))

  /** Best ADC match (lowest distance, vec_id tiebreak) of `qEmb` against
    * an array of PQ-code entry structs — the scoring kernel of the
    * STREAMING vector admission gate ([[graft.streaming.Streams
    * .pqAdmissionGate]]). Per row: the `m` per-subspace lookup tables
    * are built ONCE from `qEmb` (let-bound, [[letCol]] — not rebuilt per
    * entry), then a `transform` + `array_min` scans the entries. Returns
    * a struct `(d, v)` — null when `entries` is null/empty — ordered so
    * struct comparison ranks by distance first, matching [[pqAdcTopK]]'s
    * `(adc_dist, vec_id)` ordering; distances are floored to 6 decimals
    * by the same rule.
    */
  /** Result struct of [[adcBestMatch]] — named fields so callers keep
    * addressing `best.d` / `best.v`.
    */
  final case class AdcBest(d: Double, v: Long)

  def adcBestMatch(
      entries: Column,
      qEmb: Column,
      codebooks: Seq[Seq[Seq[Double]]]): Column = {
    // A UDF kernel, not a HOF expression tree: transform/array_min/
    // element_at chains are CodegenFallback, so the r10 column form paid
    // interpreted, boxed evaluation per ENTRY per SUBSPACE — measured as
    // the dominant per-micro-batch cost of the composed streaming gate
    // (2500-entry cells × 3 probes × 8 subspaces per arriving row). The
    // UDF runs the same arithmetic as JIT-compiled loops: the per-row
    // LUT is [[adcLut]] itself (the bit-exact twin of the column form's
    // [[subspaceDists]] — per-dim float→double cast, subtract, square,
    // left-fold from 0.0), entry distances sum the m lookups left to
    // right, and the 6-dp floor replays floorScale's floor(d·10⁶)/10⁶
    // (Spark FLOOR→LONG then double divide). Ranking is (d, v)
    // lexicographic min, identical to the old array_min struct order;
    // null/empty entry lists yield null.
    val m = codebooks.length
    val best = udf { (es: Seq[org.apache.spark.sql.Row], q: Seq[Float]) =>
      if (es == null || es.isEmpty || q == null) None
      else {
        val lut = adcLut(codebooks, q).map(_.toArray).toArray
        var bd = Double.NaN
        var bv = 0L
        es.foreach { e =>
          var d = 0.0
          var s = 0
          while (s < m) { d += lut(s)(e.getInt(1 + s)); s += 1 }
          val fd = math.floor(d * 1e6).toLong / 1e6
          val v = e.getLong(0)
          if (bd.isNaN || fd < bd || (fd == bd && v < bv)) { bd = fd; bv = v }
        }
        Some(AdcBest(bd, bv))
      }
    }
    best(entries, qEmb)
  }

  def quantizedTopK(quantized: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = quantized.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("qnorm2").as("q_n2"))
    val dot = aggregate(
      zip_with(col("q_qv"), col("qv"), (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    quantized.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("approx_sim", graft.functions.TextAnalysis.floorScale(
        dot.cast("double") / (sqrt(col("q_n2").cast("double")) * sqrt(col("qnorm2").cast("double"))), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("approx_sim"), asc("vec_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "approx_sim")
  }
}
