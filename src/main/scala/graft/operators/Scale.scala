package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew- and scale-handling building blocks. None of these change operator
  * semantics — they reshape the physical plan for hot keys and very large
  * cardinalities, the situations AQE's runtime skew handling can't always
  * cover (e.g. a single session id holding 1% of a 100 TB log table).
  */
object Scale {

  /** Parallelism FLOOR for CPU-bound per-row stages (tokenize, regex,
    * shingle, hash): a small compressed parquet file arrives as ONE scan
    * split (parquet cannot split below a row group), serializing all
    * expression work on one core no matter how many the machine has —
    * the r7 `corpus_datacard` pathology generalized. When the input's
    * lineage yields fewer partitions than the session's default
    * parallelism, round-robin it out; when it already has that many
    * splits — any real corpus at cluster scale — this inserts NOTHING
    * (no shuffle, no plan change). Callers place it ABOVE the
    * scan-adjacent filters/pruning so pushdown is unaffected, directly
    * below the CPU-heavy projection/explode it feeds.
    *
    * The split count is read from the PLANNED (never executed) physical
    * plan — not from `df.rdd`, which under AQE eagerly materializes
    * upstream shuffle stages just to count partitions (the r8-flagged
    * double planning). An AQE-wrapped plan (`AdaptiveSparkPlanExec`)
    * means the frame contains an exchange — it already fans out to
    * `spark.sql.shuffle.partitions` downstream, so the floor skips it
    * without planning anything further; that also makes a SECOND floor
    * above an already-floored frame (bm25's termFrequencies path)
    * structurally free. Unwrapped plans are exchange-free end to end:
    * file scans report their real split count (driver-side split
    * arithmetic over the already-listed files — no job), driver-local
    * test frames count as one split, and any other leaf (cached
    * relation, RDD scan) is assumed already parallel and left untouched.
    * Accessing `executedPlan` here only PLANS — AQE executes stages
    * lazily on the first action, which this method never takes.
    */
  def parallelismFloor(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batches parallelize at the source
    val par = df.sparkSession.sparkContext.defaultParallelism
    df.queryExecution.executedPlan match {
      case _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => df
      case p if p.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) =>
        df // AQE off but an exchange is present: same fan-out argument
      case p =>
        val splits = p.collectLeaves().map {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.inputRDD.getNumPartitions
          case _: org.apache.spark.sql.execution.LocalTableScanExec => 1
          case _ => par // unknown leaf: assume parallel enough, don't touch
        }.sum
        if (splits < par) df.repartition(par) else df
    }
  }

  /** Deterministic sequence packing for pretraining batches: documents
    * are packed in doc_id order into bins of ~`budgetTokens` whitespace
    * tokens (a bin may overflow by less than one document — contiguous
    * fixed-budget packing). Packing runs independently within each of
    * `shards` hash shards, so the running-sum window parallelizes: the
    * two-level shard→bin scheme is how packing stays shard-parallel at
    * 100 TB instead of serializing behind one global ordered window.
    * Emits per-bin stats: (shard, bin_id, n_docs, total_tokens,
    * first_doc, last_doc).
    */
  def packSequences(
      docs: DataFrame,
      budgetTokens: Long,
      shards: Int = 8): DataFrame =
    packSequencesBy(docs,
      graft.functions.TextAnalysis.tokenCount(col("text")).cast("long"),
      budgetTokens, shards)

  /** [[packSequences]] with a caller-supplied token-count column — the
    * form the BPE pipeline uses to pack by REAL tokenizer counts
    * ([[Bpe.encodeCorpus]]'s `n_tokens`) instead of the whitespace
    * proxy. Same shard-parallel running-sum plan.
    */
  def packSequencesBy(
      docs: DataFrame,
      nTokens: Column,
      budgetTokens: Long,
      shards: Int = 8): DataFrame =
    packedDocs(docs, nTokens, budgetTokens, shards)
      .groupBy("shard", "bin_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))

  /** Per-document packing manifest — the artifact a training data loader
    * actually consumes: for every document, which (shard, bin) it landed
    * in and the token offset where it starts inside the bin
    * (`offset = cum_before mod budget`; the bin's last document may run
    * past the budget — contiguous packing overflows by less than one
    * document, and the loader truncates or wraps per its own policy).
    * Same shard-parallel running-sum plan as [[packSequences]]; this is
    * that frame before the per-bin rollup.
    */
  def packManifest(
      docs: DataFrame,
      budgetTokens: Long,
      shards: Int = 8): DataFrame =
    packManifestBy(docs,
      graft.functions.TextAnalysis.tokenCount(col("text")).cast("long"),
      budgetTokens, shards)

  /** [[packManifest]] with a caller-supplied token-count column (see
    * [[packSequencesBy]]). */
  def packManifestBy(
      docs: DataFrame,
      nTokens: Column,
      budgetTokens: Long,
      shards: Int = 8): DataFrame =
    packedDocs(docs, nTokens, budgetTokens, shards)
      .withColumn("offset", pmod(col("cum_before"), lit(budgetTokens)))
      .select("shard", "bin_id", "doc_id", "n_tokens", "offset")

  /** Materialize the PACKED TOKEN CORPUS — the artifact a training job
    * actually mounts: every document's token-id array placed at its
    * (shard, bin, offset) slot from [[packManifestBy]], written
    * `partitionBy(shard)` with rows sorted by (bin_id, offset) inside
    * each shard so a data loader reads its shard strictly sequentially
    * and assembles fixed-budget bins by concatenation alone — no
    * shuffling, no index lookups at load time. The `repartition(shard)`
    * makes each shard ONE file (the co-located layout rule every other
    * writer here follows); inter-shard order is irrelevant to loaders,
    * so no global sort ever happens.
    *
    * `encoded` is consumed by two branches (manifest + payload join) —
    * callers feeding an expensive encode should `localCheckpoint` it
    * first, the same two-branch note as [[dsirWeights]].
    *
    * @param encoded (doc_id, token_ids, n_tokens) from
    *                [[Bpe.encodeCorpus]]
    */
  def writePackedTokens(
      encoded: DataFrame,
      budgetTokens: Long,
      shards: Int,
      path: String): Unit =
    packManifestBy(encoded, col("n_tokens"), budgetTokens, shards)
      .join(encoded.select("doc_id", "token_ids"), "doc_id")
      .repartition(col("shard"))
      .sortWithinPartitions("bin_id", "offset")
      .write.partitionBy("shard").mode("overwrite").parquet(path)

  /** Shared packing frame: token counts, shard assignment, exclusive
    * running token sum within the shard (doc_id order), bin id.
    */
  private def packedDocs(
      docs: DataFrame, nTokens: Column, budgetTokens: Long, shards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(
      col("doc_id"),
      pmod(col("doc_id"), lit(shards.toLong)).as("shard"),
      nTokens.as("n_tokens"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("bin_id", floor(col("cum_before") / budgetTokens).cast("long"))
  }

  /** Two-phase (salted) aggregation: spread a skewed group key over
    * `saltBuckets` partial groups, aggregate, then merge. Identical result
    * to a direct groupBy-count, but the first shuffle distributes a hot
    * key across `saltBuckets` reducers instead of one.
    */
  def saltedCount(df: DataFrame, key: String, saltBuckets: Int = 16): DataFrame =
    df.withColumn("_salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_partial"))
      .groupBy(col(key))
      .agg(sum("_partial").as("n"))

  /** Salted broadcast-free join for one skewed build side: replicate each
    * `small` row `saltBuckets` times and salt the large side's key, so the
    * hot key's rows land on `saltBuckets` different reducers. Result equals
    * `large.join(small, key)`.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String, saltBuckets: Int = 16): DataFrame = {
    val saltedLarge = large.withColumn("_salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val replicatedSmall = small
      .withColumn("_salt", explode(sequence(lit(0), lit(saltBuckets - 1))))
      .withColumn("_salt", col("_salt").cast("long"))
    saltedLarge.join(replicatedSmall, Seq(key, "_salt")).drop("_salt")
  }

  /** Temperature-flattened source mixing (multilingual pretraining
    * recipe): per-stratum quota = floor(coeff·sqrt(n)), selection = the
    * quota smallest values of a deterministic per-row hash (rerun-stable).
    *
    * Two-phase for scale: a naive per-stratum `row_number` window funnels
    * the largest language through ONE reducer at 100 TB. Phase 1 keeps
    * only rows whose hash lies below `margin`× the quota-th order
    * statistic's expected position (a per-row filter riding the scan — no
    * shuffle, survivor set ~margin·quota = O(√n) rows per stratum);
    * phase 2 ranks exactly over that small survivor set. The output is
    * BIT-IDENTICAL to the naive single-phase form whenever all true
    * top-quota rows survive phase 1 — rank-among-survivors equals global
    * rank because every row hashing below a survivor also survives.
    * P(a true top-quota row is cut) is Chernoff-small (mean survivor count
    * is margin×quota); small strata where quota·margin ≥ n degrade to an
    * uncut rank, never to a wrong answer.
    *
    * The quota aggregation re-executes `docs`' lineage (DataFrames do not
    * share common subplans across actions-in-one-plan) — when `docs` is
    * itself an expensive derivation (e.g. the dedup stages of a corpus
    * pipeline), persist or checkpoint it upstream so the corpus is read
    * once, not twice.
    */
  /** Knuth multiplicative hash (id · 2654435761) mod 2^32, computed with
    * mod-2^32 discipline so no intermediate exceeds 2^49: the naive
    * `id * 2654435761L` product overflows Long for ids above ~3.4e9 —
    * silently wrapping in default Spark, THROWING under ANSI mode, and
    * erroring in DuckDB — which would break the bit-reproducible
    * cross-engine guarantee exactly at the 100 TB id ranges it exists
    * for. Split id (mod 2^32) into 16-bit halves and reduce after each
    * product: (hi·2^16 + lo)·C ≡ ((hi·C mod 2^32)·2^16 + lo·C) (mod 2^32).
    * Identical values to the naive form wherever that form doesn't
    * overflow, and correct everywhere.
    */
  def knuthHash32(id: Column): Column = {
    val m = lit(4294967296L)
    val id32 = pmod(id.cast("long"), m)
    val hi = floor(id32 / 65536L).cast("long")
    val lo = id32 - hi * 65536L
    pmod(pmod(hi * 2654435761L, m) * 65536L + lo * 2654435761L, m)
  }

  /** Deterministic corpus shuffle + shard assignment for training-data
    * ordering: every pretraining pipeline must present documents in a
    * reproducible pseudo-random order, split across `shards` output
    * files, with the SAME order on every rerun (else resumed jobs see
    * different data). The shuffle key is [[knuthHash32]] of
    * `id + seed` — engine- and partitioning-independent, so the order is
    * bit-reproducible and a different `seed` gives a different epoch's
    * permutation. `shard = hash mod shards` balances shards in
    * expectation.
    *
    * Plan shape at 100 TB: adds two map-only columns — NO shuffle and NO
    * global sort here. Consumers write
    * `partitionBy("shard") + sortWithinPartitions("shuffle_hash")`: each
    * training worker then reads its shard sequentially in shuffle order,
    * and a global sort (one total-order range exchange of the whole
    * corpus) is never needed because inter-shard order is irrelevant to
    * data loaders. Ties (hash collisions) are broken by id downstream.
    */
  def deterministicShuffle(
      docs: DataFrame,
      idCol: String = "doc_id",
      seed: Long = 0L,
      shards: Int = 64): DataFrame = {
    require(shards > 0, "shards must be positive")
    // Reduce the id mod 2^32 BEFORE adding the seed: congruent mod 2^32,
    // so value-identical wherever the plain sum doesn't overflow — but
    // ids near Long.MaxValue with a nonzero seed no longer wrap (silent
    // in default mode, a runtime error under ANSI).
    docs
      .withColumn("shuffle_hash",
        knuthHash32(pmod(col(idCol), lit(4294967296L)) + lit(seed)))
      .withColumn("shard", pmod(col("shuffle_hash"), lit(shards.toLong)))
  }

  /** Leakage-safe split: assign train/val/test at the DUPLICATE-CLUSTER
    * granularity, not the document — near-dup twins straddling a split
    * leak test content into training and inflate held-out metrics (the
    * failure mode Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better", measures). Documents in no pair form
    * singleton clusters (their own doc_id); every document of a cluster
    * then follows one deterministic hash of the CLUSTER id through the
    * cumulative split weights — by construction no cluster can straddle.
    *
    * Scale shape: clusters come from the iterative components pass over
    * the pairs frame ([[Dedup.duplicateClusters]] — min-label
    * propagation, one short-key equi-join + min-aggregate per round,
    * rounds bounded by component diameter and capped at its `maxIter`
    * of 20); the assignment itself is a broadcast-free
    * left join plus a pure integer projection ([[knuthHash32]], the
    * shard_deterministic discipline), so re-splitting under new weights
    * re-runs only the projection.
    */
  def leakageSafeSplit(
      docs: DataFrame,
      dupPairs: DataFrame,
      splits: Seq[(String, Double)],
      seed: Long = 42L): DataFrame = {
    require(splits.size >= 2 && splits.forall(_._2 > 0),
      "leakageSafeSplit needs >= 2 positive-weight splits")
    val m = 4294967296L
    val total = splits.map(_._2).sum
    val bounds = splits.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.floor(c / total * m).toLong)
    val clusters = Dedup.duplicateClusters(dupPairs)
      .select(col("doc_id"), col("cluster_id"))
    val h = knuthHash32(pmod(col("cluster_id"), lit(m)) + lit(seed))
    val split = splits.init.zip(bounds.init).reverse
      .foldLeft(lit(splits.last._1): Column) { case (acc, ((name, _), b)) =>
        when(h < lit(b), name).otherwise(acc)
      }
    docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split", split)
  }

  def temperatureMixSample(
      docs: DataFrame,
      strataCol: String = "lang",
      coeff: Double = 8.0,
      margin: Double = 8.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quotas = docs.groupBy(strataCol)
      .agg(
        floor(lit(coeff) * sqrt(count(lit(1)))).cast("int").as("quota"),
        count(lit(1)).as("n_stratum"))
    val h = knuthHash32(col("doc_id"))
    val cutoff = least(
      lit(4294967296L),
      ceil(lit(4294967296.0) * lit(margin) * col("quota") / col("n_stratum")).cast("long"))
    val survivors = docs
      .join(broadcast(quotas), strataCol) // one row per stratum: broadcast
      .withColumn("mix_hash", h)
      .filter(col("mix_hash") < cutoff)
    val w = Window.partitionBy(strataCol).orderBy(col("mix_hash").asc, col("doc_id").asc)
    survivors
      .withColumn("mix_rank", row_number().over(w))
      .filter(col("mix_rank") <= col("quota"))
  }

  /** Deterministic weighted sampling without replacement (Efraimidis &
    * Spirakis A-Res, with a fixed integer hash of the id standing in for
    * randomness): each row gets key = ln(u)/w where u ∈ (0,1) is its
    * hashed id and w its weight; the k largest keys are exactly a
    * w-weighted sample without replacement. The standard corpus
    * subsampling shape when rows carry a quality score — higher-quality
    * documents are proportionally likelier to survive, yet the selection
    * is bit-reproducible under recomputation, repartitioning, or another
    * engine (no RNG state).
    *
    * Scale shape: the key is computed map-side in one pass, and the top-k
    * is `TakeOrderedAndProject` (per-partition heaps merged on the
    * driver) — no full sort, no shuffle of the corpus. Rows with
    * non-positive weight are excluded (A-Res semantics: zero weight =
    * never sampled). Keys are floored at 6 decimals with id tiebreaks so
    * the cut is engine-stable.
    */
  def weightedSample(df: DataFrame, idCol: String, weight: Column, k: Int): DataFrame = {
    val u = (knuthHash32(col(idCol)) + 1).cast("double") / lit(4294967297.0)
    df.withColumn("weight", weight)
      .filter(col("weight") > 0)
      .withColumn("skey",
        graft.functions.TextAnalysis.floorScale(log(u) / col("weight"), 6))
      .orderBy(col("skey").desc, col(idCol).asc)
      .limit(k)
  }

  /** HyperLogLog distinct for 100 TB cardinalities (A-2's scale form):
    * one pass, fixed memory, mergeable across partitions.
    */
  def approxDistinct(df: DataFrame, col_ : Column, rsd: Double = 0.01): DataFrame =
    df.agg(approx_count_distinct(col_, rsd).as("approx_distinct"))

  /** Range-partitioned write layout for a log table: partition by day so
    * time predicates become partition pruning, sort within partitions by
    * the session key so per-session scans are sequential. (The 100 TB
    * layout the reference's B-tree indexes map to — SURVEY.md §4.)
    */
  def writeTimePartitioned(df: DataFrame, tsCol: String, sessionCol: String, path: String): Unit =
    df.withColumn("_day", to_date(col(tsCol)))
      .repartition(col("_day"))
      .sortWithinPartitions(col(sessionCol), col(tsCol))
      .write.partitionBy("_day").mode("overwrite").parquet(path)

  /** Bucketed layout for co-located joins: both sides of a recurring join
    * written `bucketBy` the join key land the same keys in the same
    * bucket files, so the join plans with ZERO shuffle exchanges — at
    * 100 TB this turns every fact-to-fact join on the declared key from
    * a full-corpus shuffle into a per-bucket merge. The layout decision
    * is made once at write time (AQE cannot add it back at read time;
    * see SCALE.md).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Source-level quality gate (CCNet/RefinedWeb-style domain filtering):
    * documents are judged by their SOURCE's aggregate behavior, not just
    * their own text — a spammy or boilerplate-heavy domain drags all its
    * documents down. Per source this computes doc count, mean
    * [[graft.functions.TextAnalysis.qualityScore]] and the exact-duplicate
    * rate, then flags every document of a failing source
    * (`keep_source = false`); documents are flagged, not dropped, so the
    * retention decision stays a separate policy step.
    *
    * Cross-engine exactness: the mean is computed in INTEGER micro-units.
    * qualityScore is floor-scaled to 6 dp, so `round(q*1e6)` recovers an
    * exact integer (round, not cast: the double `k/1e6 * 1e6` can land one
    * ulp under k and a cast would truncate; the value is never near the
    * .5 boundary where engines' round() semantics diverge). Summing longs
    * is exact, and `floor(sum/n)` and `floor((n-d)*1e6/n)` are safe
    * because an IEEE quotient of values this size is within 1e-10 of the
    * true rational, which is never that close to an integer for n < 1e9.
    *
    * Plan shape at 100 TB: one map-side-combinable aggregation shuffled
    * by source (the dup-rate count-distinct expands it to two exchanges),
    * then the per-source verdict table — thousands of rows at most — is
    * broadcast back onto the corpus. The corpus itself never reshuffles.
    */
  def sourceQualityGate(
      docs: DataFrame,
      minDocs: Long = 3L,
      minMeanQuality: Double = 0.35,
      maxDupRate: Double = 0.5): DataFrame = {
    val qThresh = math.round(minMeanQuality * 1e6)
    val dThresh = math.round(maxDupRate * 1e6)
    val scored = docs.select(
      col("source"),
      round(graft.functions.TextAnalysis.qualityScore(col("text")) * 1e6)
        .cast("long").as("q_micros"),
      sha2(col("text"), 256).as("h"))
    val stats = scored.groupBy("source").agg(
      count(lit(1)).as("src_docs"),
      floor(sum("q_micros") / count(lit(1))).cast("long").as("src_mean_q_micros"),
      floor((count(lit(1)) - countDistinct(col("h"))) * lit(1000000.0) / count(lit(1)))
        .cast("long").as("src_dup_micros"))
    val verdict = stats.withColumn("keep_source",
      col("src_docs") >= minDocs &&
        col("src_mean_q_micros") >= qThresh &&
        col("src_dup_micros") <= dThresh)
    docs.join(broadcast(verdict), "source")
  }

  // -------------------------------------------------- DSIR data selection

  /** Unigram + bigram feature stream of a text column — the hashed
    * n-gram feature space of DSIR (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): tokens from the shared
    * [[TextRetrieval.tokensCol]] rule plus space-joined adjacent pairs.
    */
  private[graft] def dsirTermsCol(text: Column): Column = {
    import org.apache.spark.sql.graftshim.GraftSqlShim
    GraftSqlShim.column(
      graft.expressions.WordNgramTerms(GraftSqlShim.expression(text)))
  }

  /** Term → feature bucket in [0, nBuckets). The scale default is the
    * codegen'd murmur builtin; `portable = true` swaps in the rolling
    * mod-p hash ([[graft.functions.TextAnalysis.hashMod]]) whose exact
    * arithmetic the DuckDB oracle replicates per character — the same
    * dual the MinHash/SimHash family uses (murmur for production,
    * portable for the correctness gate).
    */
  private def dsirBucket(term: Column, nBuckets: Int, portable: Boolean): Column =
    if (portable)
      pmod(graft.functions.TextAnalysis.hashModUdf(term), lit(nBuckets.toLong))
    else pmod(hash(term).cast("long"), lit(nBuckets.toLong))

  /** (doc_id, bucket) feature occurrences; the parallelism floor keeps
    * the CPU-bound tokenize+hash off a single scan split. Public: the
    * same hashed feature space feeds [[QualityModel]]'s discriminative
    * classifier.
    */
  def dsirFeatures(docs: DataFrame, nBuckets: Int, portable: Boolean): DataFrame =
    parallelismFloor(docs)
      .select(col("doc_id"), explode(dsirTermsCol(col("text"))).as("term"))
      .select(col("doc_id"), dsirBucket(col("term"), nBuckets, portable).as("bucket"))

  /** Row-local bucket stream of a text column (murmur path): the same
    * features as [[dsirFeatures]] but as an ARRAY per row, no explode —
    * usable on STREAMING frames where a per-doc aggregation is not
    * (bucketing stays in the authoritative `hash()` builtin; consumers
    * do only count arithmetic on the values).
    */
  def dsirBucketsCol(text: Column, nBuckets: Int): Column =
    transform(dsirTermsCol(text), t => pmod(hash(t).cast("long"), lit(nBuckets.toLong)))

  /** DSIR importance weights (Xie et al. 2023): score every document of
    * a RAW pool by how much its hashed-n-gram distribution looks like a
    * TARGET corpus rather than the raw pool itself. Both corpora are
    * reduced to bag-of-hashed-n-grams models over `nBuckets` buckets
    * with add-`alpha` smoothing; a document's log importance weight is
    *   log w(d) = Σ_b c_d[b] · (log p_target[b] − log p_raw[b]),
    * the exact estimator of the paper with the feature space hashed to a
    * fixed, engine-independent width. Output: (doc_id, logw), logw
    * floored at 6 dp so downstream ranking is engine-stable.
    *
    * Plan shape at 100 TB: tokenize+hash is map-side; the two bucket
    * models are `nBuckets`-row aggregations (map-side combinable — the
    * shuffle carries ≤ nBuckets rows per task, never the token stream);
    * the per-bucket log-ratio table λ is a ≤ nBuckets-row frame BROADCAST
    * onto the raw feature stream, and the per-doc sum groups by doc_id —
    * a doc's features are partition-local to its row, so map-side
    * partial aggregation collapses the shuffle to ~one row per document.
    * The raw feature stream is materialized once ([[LoopCheckpoint]])
    * and feeds both the model build and the scoring join; iterative
    * selection pipelines should likewise materialize [[dsirFeatures]]
    * once per sweep rather than re-deriving it.
    *
    * The target model rides a full-outer join against the raw model so
    * buckets seen in only one corpus still get their smoothed mass —
    * dropping them would bias λ toward 0 exactly on the rare features
    * that carry the most selection signal.
    */
  def dsirWeights(
      raw: DataFrame,
      target: DataFrame,
      nBuckets: Int = 1024,
      alpha: Double = 1.0,
      portable: Boolean = false): DataFrame = {
    // The raw feature stream feeds TWO structurally different branches
    // (the bucket-model aggregation and the λ-scored per-doc sum), so
    // ReuseExchange cannot merge them and the tokenize+hash pass — the
    // CPU-dominant stage, a per-term UDF on the portable path — ran
    // twice over the raw pool. Materialize it once (r18, guide §2.4):
    // the checkpointed frame is narrow (doc_id, bucket) longs, exactly
    // the "materialize dsirFeatures once instead of re-deriving it per
    // sweep" discipline the scaladoc above prescribes for pipelines.
    // The target stream has a single consumer and stays inline.
    val rawF = LoopCheckpoint.transient(
      dsirFeatures(raw, nBuckets, portable), eager = false)
    val tgtF = dsirFeatures(target, nBuckets, portable)
    val rawCnt = rawF.groupBy("bucket").agg(count(lit(1)).as("cr"))
    val tgtCnt = tgtF.groupBy("bucket").agg(count(lit(1)).as("ct"))
    val aB = alpha * nBuckets
    // Corpus totals as GLOBAL WINDOW sums over the joined bucket model,
    // not a separate totals-aggregation crossJoin (r19, guide §2.4):
    // the crossJoin form consumed rawCnt/tgtCnt TWICE each, so the
    // target feature stream (tokenize+hash, per-term UDF on the
    // portable path) ran twice per invocation. The window is bounded by
    // the FIXED feature width (≤ nBuckets rows after the join), never
    // corpus cardinality, so the single-partition pass is scale-free;
    // the sums are exact Longs, so λ is bit-identical to the crossJoin
    // form.
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val lam = rawCnt.join(tgtCnt, Seq("bucket"), "full_outer")
      .withColumn("r_total", sum("cr").over(wAll).cast("double"))
      .withColumn("t_total", sum("ct").over(wAll).cast("double"))
      .select(col("bucket"),
        (log((coalesce(col("ct"), lit(0L)) + lit(alpha)) / (col("t_total") + lit(aB))) -
          log((coalesce(col("cr"), lit(0L)) + lit(alpha)) / (col("r_total") + lit(aB))))
          .as("lam"))
    rawF.join(broadcast(lam), "bucket")
      .groupBy("doc_id")
      .agg(graft.functions.TextAnalysis.floorScale(sum("lam"), 6).as("logw"))
  }

  /** DSIR selection: resample `k` documents from the raw pool with
    * probability ∝ exp(log w) via deterministic Gumbel top-k — the
    * paper's resampling step with [[knuthHash32]] of `doc_id + seed`
    * standing in for randomness (same convention as [[weightedSample]]'s
    * A-Res keys: no RNG state, bit-reproducible across reruns,
    * repartitioning, and engines; a different seed draws a different
    * sample from the same weight distribution). Key = logw + g where
    * g = −ln(−ln u) is the document's Gumbel draw; the k largest keys
    * are exactly a softmax(logw) sample without replacement. Keys are
    * floored at 6 dp with doc_id tiebreaks, and the top-k plans as
    * `TakeOrderedAndProject` — per-partition heaps, no full sort.
    */
  def dsirSelect(
      raw: DataFrame,
      target: DataFrame,
      k: Int,
      nBuckets: Int = 1024,
      alpha: Double = 1.0,
      seed: Long = 0L,
      portable: Boolean = false): DataFrame = {
    val u = (knuthHash32(col("doc_id") + lit(seed)) + 1).cast("double") /
      lit(4294967297.0)
    dsirWeights(raw, target, nBuckets, alpha, portable)
      .withColumn("skey",
        graft.functions.TextAnalysis.floorScale(col("logw") - log(-log(u)), 6))
      .orderBy(col("skey").desc, col("doc_id").asc)
      .limit(k)
  }
}
