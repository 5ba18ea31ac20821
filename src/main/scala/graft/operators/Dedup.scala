package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextAnalysis, VectorOps}

/** Deduplication suite for training-data pipelines: exact, MinHash-LSH,
  * SimHash, exact n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Design for 100 TB: every variant avoids the naive O(n²) all-pairs
  * comparison — candidates are generated by equality joins on content
  * hashes, LSH band hashes, or SimHash bands, so the only shuffles are
  * hash-partitioned equi-joins on short keys, and the quadratic blow-up is
  * confined to within-bucket candidate sets.
  */
object Dedup {

  /** Fused per-window gram hashing of the span-dedup family — see
    * [[graft.expressions.TokenGramHashes]]. */
  private[graft] def gramHashes(toks: Column, k: Int): Column = {
    import org.apache.spark.sql.graftshim.GraftSqlShim
    GraftSqlShim.column(
      graft.expressions.TokenGramHashes(GraftSqlShim.expression(toks), k))
  }

  /** C4-style cross-document LINE dedup: a line that occurs in several
    * documents survives only at its first occurrence corpus-wide (min
    * (doc_id, line_idx)); every later copy is stripped. This is the rule
    * that removes boilerplate — headers, cookie banners, license blocks —
    * from a web corpus without touching the documents' unique content
    * (the reference corpus-prep literature's "deduplicate at the
    * three-sentence/line span level").
    *
    * Plan shape at 100 TB: explode to (line, doc_id, idx) keyed by
    * xxhash64(line) — 8 bytes through every wire, never the line —
    * pre-aggregate each key's global minimum occurrence with a
    * map-side-combinable `min(struct(doc_id, idx))`, join the minima
    * back, and one groupBy(doc_id) to reassemble in original order. No
    * window, no pairwise comparison. The Zipfian boilerplate key (one
    * cookie-banner line in 10⁹ documents) that would land a row_number
    * window in a single task is harmless here: the partial aggregate
    * collapses the hot key to one row PER MAP TASK before the shuffle,
    * and the join-back is an equi-join AQE can skew-split (a window
    * partition cannot be split; a join partition can). NULL text is
    * treated as empty text, so fully-NULL docs still surface.
    * Emits (doc_id, n_lines, n_kept, cleaned_text); documents whose
    * every line was boilerplate come back with empty cleaned_text, not
    * dropped (retention is a separate policy decision).
    */
  def crossDocLineDedup(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val lines = docs.select(
      col("doc_id"),
      posexplode(split(coalesce(col(textCol), lit("")), "\n"))
        .as(Seq("line_idx", "line")))
      .withColumn("line_h", xxhash64(col("line")))
    // Global first occurrence per line: partial min(struct) combines
    // map-side, so the shuffled volume is one row per (task, distinct
    // line-hash) regardless of how hot any line is.
    val firsts = lines.groupBy("line_h")
      .agg(min(struct(col("doc_id"), col("line_idx"))).as("first"))
    lines.join(firsts, "line_h")
      .withColumn("keep",
        col("first.doc_id") === col("doc_id") &&
          col("first.line_idx") === col("line_idx"))
      .groupBy("doc_id").agg(
        count(lit(1)).cast("long").as("n_lines"),
        count(when(col("keep"), 1)).cast("long").as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("line_idx"), col("line"))))),
            s => s.getField("line")),
          "\n").as("cleaned_text"))
  }

  /** Standing line index for [[incrementalLineDedup]]: the distinct lines
    * of a corpus. Materialize it once (parquet, bucketed by line hash at
    * scale) and union each admitted batch's distinct lines back in — the
    * same reusable-index lifecycle as [[admissionIndex]], at line
    * granularity.
    */
  def lineIndex(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(coalesce(col(textCol), lit("")), "\n")).as("line"))
      .distinct()

  /** Incremental (daily-crawl) form of [[crossDocLineDedup]]: a new batch
    * is cleaned against a STANDING corpus line index instead of
    * re-deduping the whole corpus. A batch line survives iff it is absent
    * from the index AND it is the first occurrence within the batch —
    * exactly what running the batch through the full corpus-wide rule
    * would keep, without touching corpus documents again.
    *
    * Plan shape at 100 TB: the batch's lines left-join the index on
    * xxhash64 of the line (an 8-byte equi-join key against a
    * materialized table), plus the same map-side-combinable
    * min(struct(doc_id, idx)) pre-aggregate + join-back as the
    * batch-mode operator — no window over the content key anywhere, so
    * a boilerplate line hot in the batch skew-splits under AQE instead
    * of serializing one task. The corpus is represented only by its
    * index; nothing corpus-sized shuffles per batch. After admission,
    * the caller unions the batch's distinct lines into the index
    * ([[lineIndex]] of the batch) — stripped copies included, since
    * "seen once" is what the corpus-wide rule tracks.
    */
  def incrementalLineDedup(
      batch: DataFrame, corpusIndex: DataFrame,
      textCol: String = "text"): DataFrame = {
    val lines = batch.select(
      col("doc_id"),
      posexplode(split(coalesce(col(textCol), lit("")), "\n"))
        .as(Seq("line_idx", "line")))
      .withColumn("line_h", xxhash64(col("line")))
    val idx = corpusIndex
      .select(xxhash64(col("line")).as("line_h")).distinct()
      .withColumn("in_corpus", lit(1))
    val firsts = lines.groupBy("line_h")
      .agg(min(struct(col("doc_id"), col("line_idx"))).as("first"))
    lines.join(idx, Seq("line_h"), "left")
      .join(firsts, "line_h")
      .withColumn("keep",
        col("in_corpus").isNull &&
          col("first.doc_id") === col("doc_id") &&
          col("first.line_idx") === col("line_idx"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        count(when(col("keep"), 1)).cast("long").as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("line_idx"), col("line"))))),
            s => s.getField("line")),
          "\n").as("cleaned_text"))
  }

  /** Span-level repeated-substring dedup ("deduplicating training data"
    * style, at word granularity): any k-token window that occurred
    * earlier in the corpus — in another document OR earlier in the same
    * one — is a duplicated span; every token covered by at least one
    * duplicated window is stripped, and only first occurrences survive.
    * This is the rule that removes verbatim passages (quoted articles,
    * templated paragraphs, intra-document repetition loops) that LINE
    * dedup misses because the copies share no line boundary.
    *
    * Matching is case-insensitive on whitespace tokens; the emitted
    * cleaned_text keeps the surviving tokens' original case and order.
    * Boundary behavior is the standard one for window-based span dedup:
    * tokens of a copied passage whose every covering window also spans
    * unique neighboring text survive, so removals taper at span edges
    * rather than deleting context.
    *
    * Plan shape at 100 TB: explode to one row per k-token window
    * carrying only (doc_id, start, xxhash64(gram)) — never the document
    * and never the k-word string, so the wire cost per window is 8
    * bytes instead of ~k× the corpus text. First occurrences come from
    * a map-side-combinable min(struct(doc_id, start)) per gram hash +
    * join-back, NOT a rank window: a boilerplate gram with 10⁹ copies
    * collapses to one row per map task in the partial aggregate, and
    * the join-back partition is AQE-skew-splittable where a window
    * partition is not. Duplicated windows explode into covered token
    * positions, and one groupBy(doc_id) reassembles. No pairwise
    * comparison anywhere. NULL text is treated as empty text.
    * Emits (doc_id, n_toks, n_kept, cleaned_text); a document that is
    * entirely a later copy comes back with empty cleaned_text, not
    * dropped.
    */
  def repeatedSpanDedup(
      docs: DataFrame, k: Int = 5, textCol: String = "text"): DataFrame = {
    require(k >= 2, "window length k must be at least 2 tokens")
    val toks = docs.select(
      col("doc_id"),
      split(trim(coalesce(col(textCol), lit(""))), "\\s+").as("toks"))
    // one row per k-token window: (doc_id, start, hashed lowercased gram)
    val wins = toks
      .filter(size(col("toks")) >= k)
      .select(
        col("doc_id"),
        posexplode(gramHashes(col("toks"), k))
          .as(Seq("start", "gram_h")))
    val firsts = wins.groupBy("gram_h")
      .agg(min(struct(col("doc_id"), col("start"))).as("first"))
    val covered = wins.join(firsts, "gram_h")
      .filter(!(col("first.doc_id") === col("doc_id") &&
        col("first.start") === col("start")))
      .select(
        col("doc_id"),
        explode(sequence(col("start"), col("start") + (k - 1))).as("tok_idx"))
      .distinct()
    val tokRows = toks.select(
      col("doc_id"), posexplode(col("toks")).as(Seq("tok_idx", "tok")))
    tokRows
      .join(covered.withColumn("cov", lit(1)), Seq("doc_id", "tok_idx"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_toks"),
        count(when(col("cov").isNull, 1)).cast("long").as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("cov").isNull,
              struct(col("tok_idx"), col("tok"))))),
            s => s.getField("tok")),
          " ").as("cleaned_text"))
  }

  /** Standing k-gram index for [[incrementalSpanDedup]]: one `gram_h` =
    * xxhash64 of each distinct lowercased k-token window of a corpus —
    * 8 bytes per entry, never the k-word string, so a 100 TB corpus
    * index is ~corpus-token-count × 8 bytes rather than k× the corpus
    * text. Same materialize-once, union-batches-in lifecycle as
    * [[lineIndex]].
    */
  def gramIndex(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame =
    docs
      .select(split(trim(coalesce(col(textCol), lit(""))), "\\s+").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(explode(gramHashes(col("toks"), k)).as("gram_h"))
      .distinct()

  /** Incremental (daily-crawl) form of [[repeatedSpanDedup]]: the new
    * batch's k-token windows are checked against a STANDING corpus gram
    * index plus the within-batch first-occurrence rank, so a batch
    * window is duplicated iff its gram is in the index OR occurred
    * earlier in the batch — exactly what the corpus-wide rule would
    * decide, without re-windowing corpus documents. Covered positions
    * and per-doc reassembly are identical to the batch operator.
    *
    * Plan shape at 100 TB: batch windows equi-join the materialized
    * hash index on the 8-byte `gram_h` key, plus the same map-side
    * min(struct(doc_id, start)) pre-aggregate + join-back as the batch
    * operator — no window over the content key; nothing corpus-sized
    * moves per batch. After admission the caller unions [[gramIndex]]
    * of the batch into the index.
    */
  def incrementalSpanDedup(
      batch: DataFrame, corpusIndex: DataFrame, k: Int = 5,
      textCol: String = "text"): DataFrame = {
    require(k >= 2, "window length k must be at least 2 tokens")
    val toks = batch.select(
      col("doc_id"),
      split(trim(coalesce(col(textCol), lit(""))), "\\s+").as("toks"))
    val wins = toks
      .filter(size(col("toks")) >= k)
      .select(
        col("doc_id"),
        posexplode(gramHashes(col("toks"), k))
          .as(Seq("start", "gram_h")))
    val idx = corpusIndex
      .select(col("gram_h")).distinct()
      .withColumn("in_corpus", lit(1))
    val firsts = wins.groupBy("gram_h")
      .agg(min(struct(col("doc_id"), col("start"))).as("first"))
    val covered = wins
      .join(idx, Seq("gram_h"), "left")
      .join(firsts, "gram_h")
      .filter(col("in_corpus").isNotNull ||
        !(col("first.doc_id") === col("doc_id") &&
          col("first.start") === col("start")))
      .select(
        col("doc_id"),
        explode(sequence(col("start"), col("start") + (k - 1))).as("tok_idx"))
      .distinct()
    val tokRows = toks.select(
      col("doc_id"), posexplode(col("toks")).as(Seq("tok_idx", "tok")))
    tokRows
      .join(covered.withColumn("cov", lit(1)), Seq("doc_id", "tok_idx"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_toks"),
        count(when(col("cov").isNull, 1)).cast("long").as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("cov").isNull,
              struct(col("tok_idx"), col("tok"))))),
            s => s.getField("tok")),
          " ").as("cleaned_text"))
  }

  /** Exact dedup: canonical row per content hash = min doc_id (deterministic,
    * unlike dropDuplicates). One shuffle on the hash.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .withColumn("file_hash", sha2(col("text"), 256))
      .groupBy("file_hash")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("copies"))

  /** Exact char-n-gram Jaccard near-dup pairs with similarity >= threshold.
    * Candidate generation via shingle inverted index (explode + equi-join),
    * not cross-join: |A ∩ B| from the join, union by inclusion-exclusion.
    *
    * `maxDf` caps shingle document frequency: a shingle present in more
    * than `maxDf` docs is dropped from the index BEFORE the self-join
    * (standard stop-shingle practice). Without the cap one ubiquitous
    * shingle — "the" in 3-grams — makes its inverted-index bucket the
    * whole corpus and the within-bucket pair count quadratic; with it the
    * join fan-out per shingle is bounded by maxDf² regardless of corpus
    * size. Jaccard is computed over the capped shingle universe
    * (denominator sizes count surviving shingles too), so the result is
    * the exact Jaccard of the filtered feature space, not a biased
    * estimate of the unfiltered one. The hot-shingle set is tiny by
    * construction (few shingles can exceed a df cap), so the exclusion is
    * a broadcast anti-join.
    */
  /** df-capped distinct-shingle stream shared by the set-overlap dedup
    * family ([[ngramJaccardPairs]], [[containmentPairs]]).
    *
    * Parallelism floor (no-op at scale): shingling is the CPU-bound
    * stage and must not ride a single scan split of a small file. The
    * cap is a map-side-combinable count + BROADCAST anti-join of the
    * hot set (shingles with df > maxDf — tiny by construction, since
    * few shingles can exceed a df cap). The earlier form was a count
    * window partitioned by the shingle, which serializes a
    * stop-shingle's whole posting list into one task — the exact
    * Zipfian-key hazard the line/span dedup rewrite removed; the
    * partial aggregate collapses hot shingles map-side instead.
    */
  private def dfCappedShingles(docs: DataFrame, n: Int, maxDf: Int): DataFrame = {
    // Materialize the raw shingle stream ONCE (r18, guide §2.4): its
    // consumers — the hot-set aggregation here plus [[shingleOverlap]]'s
    // sizes/a/b branches — are structurally different subplans, so
    // ReuseExchange cannot merge them and each branch re-ran the
    // CPU-dominant charShingles explode over the corpus (three full
    // shingling passes in the before plan of dedup_ngram_jaccard; five
    // registry queries ride this path). The checkpointed frame is the
    // narrow (doc_id, shingle) index — the same "materialize the dedup
    // index once per corpus snapshot" shape bandedSignaturesPortable
    // documents for 100 TB; the broadcast anti-join that re-derives the
    // capped stream from it is map-side and re-runs cheaply per branch.
    val sh0 = LoopCheckpoint.transient(Scale.parallelismFloor(docs).select(
      col("doc_id"),
      explode(TextAnalysis.charShingles(col("text"), n)).as("shingle")),
      eager = false)
    if (maxDf == Int.MaxValue) sh0
    else {
      val hot = sh0.groupBy("shingle")
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf)
        .select("shingle")
      sh0.join(broadcast(hot), Seq("shingle"), "left_anti")
    }
  }

  /** Per-pair intersection counts + per-doc distinct-shingle sizes over
    * the df-capped index: (doc_a < doc_b, inter, size_a, size_b). */
  private def shingleOverlap(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val a = sh.as("a"); val b = sh.as("b")
    a.join(b, col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "size_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "size_b"), "doc_b")
  }

  def ngramJaccardPairs(
      docs: DataFrame,
      n: Int,
      threshold: Double,
      maxDf: Int = Int.MaxValue): DataFrame =
    shingleOverlap(dfCappedShingles(docs, n, maxDf))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** Shingle-CONTAINMENT pairs (Broder's containment coefficient) — the
    * inclusion case symmetric Jaccard structurally misses: a short
    * document embedded verbatim in a long one (quotation, boilerplate
    * wrapper, page-chrome repost) shares nearly ALL of its own shingles
    * while the union stays dominated by the long doc, so
    * jaccard ≈ |A|/|B| ≈ 0 while containment(A in B) = |A∩B|/|A| ≈ 1.
    * Emits one row per candidate pair with BOTH directions' coefficients,
    * kept when either clears `threshold`.
    *
    * Same scale shape as [[ngramJaccardPairs]] — df-capped
    * inverted-index equi-join (never a theta join), map-side-combinable
    * intersection counts. Note the df cap PRESERVES the subset
    * relation: capping removes shingles globally, so a true-containment
    * pair still scores 1.0 over the surviving set (it can only vanish
    * entirely, never degrade into a partial score).
    */
  def containmentPairs(
      docs: DataFrame,
      n: Int,
      threshold: Double,
      maxDf: Int = Int.MaxValue): DataFrame =
    shingleOverlap(dfCappedShingles(docs, n, maxDf))
      .withColumn("cont_a_in_b", col("inter").cast("double") / col("size_a").cast("double"))
      .withColumn("cont_b_in_a", col("inter").cast("double") / col("size_b").cast("double"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .select("doc_a", "doc_b", "cont_a_in_b", "cont_b_in_a")

  /** MinHash+LSH near-dup candidate pairs: shingle → signature → band
    * hashes → [[bandCandidates]] → distinct pairs, verified by
    * estimated Jaccard (signature agreement, [[agreed]]) >= threshold.
    */
  def minHashLshPairs(
      docs: DataFrame,
      shingleWords: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    val sigUdf = udf { (text: String) =>
      TextAnalysis.minHashSignature(TextAnalysis.wordShingles(text, shingleWords), numHashes)
    }
    val bandUdf = udf { (sig: Seq[Long]) =>
      TextAnalysis.bandHashes(sig.toArray, bands).map { case (b, h) => s"${b}_$h" }
    }
    // Signature hashing is the CPU stage — parallelism floor, no-op at scale.
    val signed = Scale.parallelismFloor(docs)
      .select(col("doc_id"), sigUdf(col("text")).as("sig"))
    val banded = signed.select(col("doc_id"), col("sig"), explode(bandUdf(col("sig"))).as("band"))
    agreed(bandCandidates(banded, "sig"), threshold)
  }

  /** (doc_id, sig, band) rows with the portable mod-p MinHash signature
    * and one row per LSH band key — the shared index shape for the
    * portable near-dup operators. At 100 TB this frame IS the dedup
    * index: materialize it once per corpus snapshot (partitioned by
    * band) and every later batch joins against it without re-shingling
    * the corpus.
    */
  private[graft] def bandedSignaturesPortable(
      docs: DataFrame,
      shingleWords: Int,
      numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sigUdf = udf { (text: String) =>
      TextAnalysis.minHashSignaturePortable(
        TextAnalysis.wordShingles(text, shingleWords), numHashes)
    }
    Scale.parallelismFloor(docs)
      .select(col("doc_id"), sigUdf(col("text")).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(array((0 until bands).map(b =>
          concat_ws("_", (lit(b) +: (0 until rows).map(r =>
            element_at(col("sig"), b * rows + r + 1))): _*)): _*)).as("band"))
  }

  /** Fraction of signature positions on which two MinHash signatures
    * agree (`agree / numHashes`) — the MinHash estimate of Jaccard
    * similarity, replayed by `DedupOracle.agreementSql`. A Scala
    * function on purpose: a `ScalaUDF` compiles into its stage's
    * generated code, where a `zip_with`/`filter` composition would be an
    * interpreted `CodegenFallback` on curate's plan.
    */
  private val sigAgreement = udf { (x: Seq[Long], y: Seq[Long]) =>
    var agree = 0
    var i = 0
    while (i < x.length) { if (x(i) == y(i)) agree += 1; i += 1 }
    agree.toDouble / x.length
  }

  /** The agreement tail of the MinHash pair operators, the engine twin
    * of `DedupOracle.agreedSql`: the (doc_a, doc_b, sig_a, sig_b)
    * candidates whose [[sigAgreement]] clears `threshold`, as
    * (doc_a, doc_b, est_jaccard).
    */
  private def agreed(cands: DataFrame, threshold: Double): DataFrame =
    cands
      .withColumn("est_jaccard", sigAgreement(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")

  /** (band, blocker) admission index over a standing corpus: one row per
    * LSH band key, carrying the smallest corpus doc id holding it. This
    * is the static side of the STREAMING admission gate
    * ([[graft.streaming.Streams.admissionGate]]): pre-aggregating to one
    * row per band makes every per-band lookup match at most once, so the
    * stream side needs no explode, no aggregation and no state. Band
    * collision without the signature-agreement recheck is the
    * conservative (recall-biased) LSH-candidate criterion — it can only
    * over-block relative to [[incrementalAdmit]], never under-block.
    */
  def admissionIndex(
      existing: DataFrame,
      shingleWords: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame =
    bandedSignaturesPortable(existing, shingleWords, numHashes, bands)
      .groupBy("band").agg(min(col("doc_id")).as("blocker"))

  /** [[minHashLshPairs]] with the portable mod-p signature
    * ([[TextAnalysis.minHashSignaturePortable]]): identical join/banding
    * shape (explode band keys → [[bandCandidates]] → [[agreed]]), but
    * every hash is exactly reproducible in ANSI SQL, so the whole
    * operator — candidate generation included — is oracle-checkable.
    * 16 hashes × 4 bands keeps the oracle SQL tractable. `maxBandSize`
    * is the hub cap of [[bandCandidates]] (default: none).
    *
    * Not a drop-in for [[minHashLshPairs]]: delegated to this operator at
    * curate's parameters (3-word shingles, 64 hashes, 16 bands), the
    * `perfbench` curate workload failed every operation (seed 101: 9/9,
    * each pass finding every planted group plus 3 spurious clusters;
    * seed 102: 7/7, 2 spurious) against 0 failed with the murmur
    * signature. The affine family over-estimates Jaccard at those
    * parameters, so the murmur double-hashing variant stays curate's
    * signature.
    */
  def minHashLshPairsPortable(
      docs: DataFrame,
      shingleWords: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBandSize: Int = Int.MaxValue): DataFrame =
    agreed(bandCandidates(
      bandedSignaturesPortable(docs, shingleWords, numHashes, bands), "sig", maxBandSize),
      threshold)

  /** The band-candidate join of the near-dup family, the engine twin of
    * `DedupOracle.candidatesSql`: over (doc_id, `payload`, band) rows,
    * the distinct pairs doc_a < doc_b that share a band, as
    * (doc_a, doc_b, `payload`_a, `payload`_b). At the default
    * `maxBandSize` (`Int.MaxValue`, no cap) it is the plain band
    * self-join: no checkpoint, no bucket-size aggregate, no broadcast.
    *
    * `maxBandSize` is the HUB CAP, the Zipf-head guard the plain
    * self-join lacks. A web corpus guarantees some boilerplate page
    * duplicated 10⁵–10⁷ times, and all of its copies share every band
    * key, so the within-bucket self-join is quadratic in the bucket
    * (10⁵ copies → 5×10⁹ candidate pairs from ONE bucket), and every
    * later stage pays per pair: a verifying caller
    * ([[minHashVerifiedPairs]]) pays a string `levenshtein` (O(len²))
    * on each. Buckets over the cap switch from all-pairs to STAR
    * emission: every member pairs with the bucket's min-doc-id hub only
    * — linear in the bucket, and exactly what the downstream clustering
    * ([[duplicateClusters]]) needs, since a star keeps the bucket
    * connected. Cold buckets pair exactly as without a cap.
    *
    * Scale shape under a cap: bucket sizes are ONE map-side-combinable
    * aggregate (never a window over the bucket); the hot set is one row
    * per hot (band, bucket) — bounded by the number of distinct hot
    * TEXTS × bands, the Zipf head, tiny next to the corpus — so both the
    * anti-join (cold side) and the hub attach (hot side) broadcast, and
    * the hot bucket's rows never shuffle on their shared key at all:
    * the hub pairs are emitted map-side.
    *
    * Semantics trade (documented, deliberate): within a hot bucket,
    * member↔member pairs are represented only through the hub, so the
    * caller's check (signature agreement, Hamming distance, edit
    * similarity) applies to star pairs only, and a leaf↔leaf pair is
    * claimed only by CLUSTER CLOSURE over the checked hub edges (filter
    * the verdict, then [[duplicateClusters]]/[[duplicateClustersStar]]:
    * leaf−hub + hub−leaf edges connect the leaves transitively). For
    * true duplicate mass — the case that makes buckets hot — every
    * member passes against the hub and the closure equals the uncapped
    * verdict. A hot bucket of merely-similar-to-hub texts can
    * transitively claim leaf pairs that fail the check directly
    * (closure is one edit-radius wider than pairwise), and the
    * pigeonhole EXACTNESS of banded SimHash holds for cold buckets only.
    * Callers needing pairwise-exact verdicts inside hot buckets should
    * run [[exact]] dedup first, so exact-copy mass never reaches the
    * near-dup stage.
    */
  private def bandCandidates(
      banded: DataFrame, payload: String, maxBandSize: Int = Int.MaxValue): DataFrame = {
    def pairs(rows: DataFrame): DataFrame = {
      val a = rows.as("a"); val b = rows.as("b")
      a.join(b, col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
        .select(
          col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col(s"a.$payload").as(s"${payload}_a"), col(s"b.$payload").as(s"${payload}_b"))
    }
    val cands =
      if (maxBandSize == Int.MaxValue) pairs(banded)
      else {
        // Materialize the banded frame ONCE: four distinct sub-plans
        // consume it (sizes, hub attach, cold self-join both sides, hot
        // star), and the broadcast joins block exchange reuse —
        // unmaterialized, the shingle+signature UDF stage (the CPU stage)
        // would re-execute per consumer. Transient: a per-query frame
        // must not write reliable-mode files nothing deletes.
        val once = LoopCheckpoint.transient(banded)
        val hot = once.groupBy("band")
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("hub"))
          .filter(col("n") > maxBandSize).select("band", "hub")
        val hubRow = once.join(broadcast(hot), Seq("band"))
          .filter(col("doc_id") === col("hub"))
          .select(col("band"), col("hub"), col(payload).as("hub_payload"))
        val hotPairs = once.join(broadcast(hubRow), Seq("band"))
          .filter(col("doc_id") =!= col("hub"))
          .select(col("hub").as("doc_a"), col("doc_id").as("doc_b"),
            col("hub_payload").as(s"${payload}_a"), col(payload).as(s"${payload}_b"))
        pairs(once.join(broadcast(hot.select("band")), Seq("band"), "left_anti"))
          .unionByName(hotPairs)
      }
    cands.dropDuplicates("doc_a", "doc_b")
  }

  /** LSH candidates VERIFIED by normalized edit similarity — the
    * standard two-stage near-dup pipeline (cheap probabilistic candidate
    * generation, exact verification over the candidate set only):
    * [[minHashLshPairsPortable]] at a LOOSE signature-agreement floor
    * over-generates candidates, then each candidate pair pays ONE
    * `levenshtein` on its two texts (codegen'd builtin) and records
    * `edit_sim = 1 − lev / max(len)` with `verified = edit_sim ≥
    * minEditSim`. Emits every candidate WITH its verdict (rejected
    * candidates are the operator's point — MinHash estimates Jaccard on
    * shingle SETS, which confuses shared boilerplate with near-identity;
    * the edit check is order- and multiplicity-aware), so callers filter
    * on `verified` per policy.
    *
    * Scale shape: verification cost is proportional to the CANDIDATE
    * set — banding bounds it — never all-pairs; the text attach is two
    * id equi-joins. At 100 TB the candidate frame is the small side by
    * construction, exactly the property that makes two-stage dedup the
    * production standard. `maxBandSize` is the hub cap of
    * [[bandCandidates]] (default: none); under it only star pairs are
    * edit-verified, linear in a hot bucket, and leaf↔leaf verdicts come
    * from cluster closure as documented there.
    */
  def minHashVerifiedPairs(
      docs: DataFrame,
      minAgreement: Double = 0.25,
      minEditSim: Double = 0.8,
      shingleWords: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBandSize: Int = Int.MaxValue): DataFrame =
    verifyPairsByEdit(
      minHashLshPairsPortable(
        docs, shingleWords, numHashes, bands, minAgreement, maxBandSize),
      docs, minEditSim)

  /** Shared verification tail of the two-stage pipelines: attach both
    * texts by id equi-join and score normalized edit similarity
    * (`1 − levenshtein / max(len)`, floor-scaled to 6dp so the float
    * hashes bit-match the DuckDB oracle), with `verified = edit_sim ≥
    * minEditSim`. Cost ∝ the candidate set — the caller's candidate
    * generator bounds it.
    */
  private def verifyPairsByEdit(
      cands: DataFrame, docs: DataFrame, minEditSim: Double): DataFrame = {
    val texts = docs.select(col("doc_id"), col("text"))
    val maxLen = greatest(length(col("text_a")), length(col("text_b"))).cast("double")
    cands
      .join(texts.select(col("doc_id").as("doc_a"), col("text").as("text_a")), "doc_a")
      .join(texts.select(col("doc_id").as("doc_b"), col("text").as("text_b")), "doc_b")
      .withColumn("edit_sim", graft.functions.TextAnalysis.floorScale(
        when(maxLen === 0.0, 1.0) // two empty texts are identical, not 0/0
          .otherwise(lit(1.0) -
            levenshtein(col("text_a"), col("text_b")).cast("double") / maxLen), 6))
      .withColumn("verified", col("edit_sim") >= minEditSim)
      .select("doc_a", "doc_b", "est_jaccard", "edit_sim", "verified")
  }

  /** Incremental corpus admission: near-dup-gate a new batch against an
    * already-deduplicated corpus WITHOUT re-processing the corpus — the
    * daily-crawl production shape (each day's documents admit only what
    * is novel vs both the corpus and the batch itself).
    *
    * Verdict per incoming doc: `admitted` = no MinHash-estimated
    * Jaccard >= `threshold` match against (a) any existing doc or
    * (b) any LOWER-id incoming doc; `blocked_by` = the smallest such
    * matching doc id, or -1 when admitted. Blocking by any lower-id
    * batch sibling (regardless of that sibling's own fate) is the same
    * min-id-canonical rule as [[exact]] and the cluster operators —
    * deterministic and order-free, where "blocked only by admitted
    * siblings" would impose a sequential scan semantics that cannot
    * parallelize.
    *
    * Scale shape: both sides reduce to (doc_id, sig, band) rows
    * ([[bandedSignaturesPortable]] — for a standing corpus, materialize
    * that frame once as the dedup index); candidates come from band
    * equi-joins only (batch-vs-corpus and batch-vs-batch), so the
    * corpus is touched by one hash-partitioned join keyed on band, and
    * AQE broadcasts the (typically small) batch side. No quadratic
    * work, no driver-sized state.
    */
  def incrementalAdmit(
      existing: DataFrame,
      incoming: DataFrame,
      shingleWords: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val corpus = bandedSignaturesPortable(existing, shingleWords, numHashes, bands)
      .select(col("doc_id").as("blocker"), col("sig").as("sig_b"), col("band"))
    val batch = bandedSignaturesPortable(incoming, shingleWords, numHashes, bands)
    val vsCorpus = batch.as("n")
      .join(corpus.as("o"), col("n.band") === col("o.band"))
      .select(col("n.doc_id").as("doc_id"), col("blocker"),
        col("n.sig").as("sig_a"), col("sig_b"))
    val vsBatch = batch.as("a")
      .join(batch.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("b.doc_id").as("doc_id"), col("a.doc_id").as("blocker"),
        col("b.sig").as("sig_a"), col("a.sig").as("sig_b"))
    val blockers = vsCorpus.unionByName(vsBatch)
      .dropDuplicates("doc_id", "blocker")
      .filter(sigAgreement(col("sig_a"), col("sig_b")) >= threshold)
      .groupBy("doc_id")
      .agg(min(col("blocker")).as("blocked_by"))
    incoming.select(col("doc_id"))
      .join(blockers, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("blocked_by").isNull.as("admitted"),
        coalesce(col("blocked_by"), lit(-1L)).as("blocked_by"))
  }

  /** Outcome counters of one [[bloomGateWithStats]] run. Invariants:
    * `bloomNegatives + candidates == batchRows` and
    * `confirmedDups + falsePositives == candidates`.
    */
  case class BloomGateStats(
      historyRows: Long,
      batchRows: Long,
      bloomNegatives: Long,
      candidates: Long,
      confirmedDups: Long,
      falsePositives: Long,
      filterBits: Long,
      expectedFpp: Double) {
    /** Measured false-positive rate over the batch's NOVEL keys — the
      * empirical check of the filter's sizing claim. -1 when the batch
      * had no novel rows (rate undefined). */
    def measuredFpp: Double = {
      val novel = batchRows - confirmedDups
      if (novel <= 0) -1.0 else falsePositives.toDouble / novel
    }
  }

  /** EXACT incremental dedup of a batch against a standing corpus via a
    * broadcast Bloom summary (Bloom, CACM 1970; the paragraph-dedup
    * mechanism of pipelines like AllenAI's Dolma): rows whose key never
    * appeared in `history` pass through, duplicates are dropped, and the
    * Bloom filter's false positives are VERIFIED AWAY with an exact join
    * over the (tiny) candidate set — so unlike a raw Bloom gate the
    * result is exact, equal to `batch ANTI JOIN history` on `keyCols`
    * (null keys never match, the standard NOT-EXISTS semantics).
    *
    * Why this beats the plain anti-join at 100 TB: a shuffle anti-join
    * repartitions BOTH sides on the key — rewriting the full history
    * over the wire for every daily batch. Here history is summarized
    * once into ~1.2 bytes/key (10⁹ keys ≈ 1.4 GB at fpp=0.01, an
    * executor-broadcast, amortizable across batches like
    * [[admissionIndex]]), the batch splits map-side into definite-new
    * rows (no join at all — with daily novelty rates >90% that is most
    * of the batch) and bloom-positive candidates (true dups + ~fpp of
    * the new rows). Candidates are then verified exactly: if they fit a
    * broadcast, history is probed with a map-side semi join (history is
    * scanned, never shuffled) and the surviving hit keys anti-join back
    * — zero history shuffle end to end; oversized candidate sets fall
    * back to a shuffle anti-join that still moves only the candidate
    * fraction of the batch.
    *
    * The Bloom summary is built distributed (`stat.bloomFilter`, one
    * aggregation pass over history's xxhash64 keys — the verify join
    * compares the real columns, so 64-bit hash collisions cannot drop a
    * genuinely-new row).
    */
  def bloomGate(
      history: DataFrame,
      batch: DataFrame,
      keyCols: Seq[String],
      fpp: Double = 0.01,
      expectedHistoryKeys: Option[Long] = None,
      maxBroadcastKeys: Long = 2000000L): DataFrame =
    bloomGateImpl(history, batch, keyCols, fpp, expectedHistoryKeys,
      maxBroadcastKeys)._1

  /** [[bloomGate]] plus materialized outcome counters (costs one extra
    * counting pass over the materialized candidate sliver; the batch and
    * candidate counts ride the gate's own counting aggregation, and
    * history is still never shuffled). */
  def bloomGateWithStats(
      history: DataFrame,
      batch: DataFrame,
      keyCols: Seq[String],
      fpp: Double = 0.01,
      expectedHistoryKeys: Option[Long] = None,
      maxBroadcastKeys: Long = 2000000L): (DataFrame, BloomGateStats) = {
    val (out, nHist, nBatchThunk, nCand, candSurvivors, filterBits, expectedFpp) =
      bloomGateImpl(history, batch, keyCols, fpp, expectedHistoryKeys,
        maxBroadcastKeys)
    val nFp = candSurvivors()
    val nBatch = nBatchThunk()
    (out, BloomGateStats(
      historyRows = nHist,
      batchRows = nBatch,
      bloomNegatives = nBatch - nCand,
      candidates = nCand,
      confirmedDups = nCand - nFp,
      falsePositives = nFp,
      filterBits = filterBits,
      expectedFpp = expectedFpp))
  }

  /** Distributed Bloom build at the REQUESTED sizing: `stat.bloomFilter`
    * routes through BloomFilterAggregate, whose bit count is silently
    * clamped by `spark.sql.optimizer.runtime.bloomFilter.maxNumBits`
    * (2²⁶ by default) — at 10M keys/fpp=0.01 that caps the filter at
    * 64 Mbits and the MEASURED fp rate degrades to ~11%. Building via
    * `BloomFilter.create` + `treeAggregate` honors the optimal sizing
    * at any n. Each task folds its partition into its own copy of the
    * zero filter and the tree merge ORs them — at 10⁹-key history
    * (~1.2 GB filter) build with few large partitions so the per-task
    * zero copies and merge traffic stay bounded.
    */
  private[graft] def buildBloom(
      hashes: DataFrame, n: Long, fpp: Double): org.apache.spark.util.sketch.BloomFilter =
    hashes.rdd.map(_.getLong(0)).treeAggregate(
      org.apache.spark.util.sketch.BloomFilter.create(math.max(n, 1L), fpp))(
      (bf, v) => { bf.putLong(v); bf },
      (a, b) => { a.mergeInPlace(b); a })

  private def bloomGateImpl(
      history: DataFrame,
      batch: DataFrame,
      keyCols: Seq[String],
      fpp: Double,
      expectedHistoryKeys: Option[Long],
      maxBroadcastKeys: Long)
      : (DataFrame, Long, () => Long, Long, () => Long, Long, Double) = {
    require(keyCols.nonEmpty, "bloomGate needs at least one key column")
    // expectedHistoryKeys is a SIZING hint, never a correctness hinge:
    // a stale Some(0) on a non-empty history must not skip dedup, so
    // the empty-history shortcut is only taken on an actual count.
    require(expectedHistoryKeys.forall(_ > 0),
      "bloomGate: expectedHistoryKeys must be positive when provided " +
        "(omit it to have history counted)")
    val spark = batch.sparkSession
    def keyH = xxhash64(keyCols.map(col): _*)
    val nHist = expectedHistoryKeys.getOrElse(history.count())
    // Batch count is LAZY (a thunk like candSurvivors): plain bloomGate
    // discards it, and first-batch-against-empty-history is the common
    // startup case — it must not pay a full batch scan for a number only
    // bloomGateWithStats reads.
    if (nHist == 0) return (batch, 0L, () => batch.count(), 0L, () => 0L, 0L, 0.0)
    val bloom = buildBloom(history.select(keyH.as("_gate_h")), nHist, fpp)
    require(bloom.expectedFpp() <= math.max(2 * fpp, 0.02),
      f"bloomGate: built filter reports expectedFpp=${bloom.expectedFpp()}%.4f " +
        f"against requested $fpp%.4f — sizing regressed")
    val bcBloom = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((h: Long) => bcBloom.value.mightContainLong(h))
    val withH = batch.withColumn("_gate_h", keyH)
    val negatives = withH.filter(!mightContain(col("_gate_h"))).drop("_gate_h")
    // The candidate sliver (true dups + ~fpp of the novel rows) is
    // consumed by the verify join, the stats count AND the output union
    // — materialize it once (r18, guide §2.4) so only the negatives
    // branch rescans the batch, instead of one batch scan + bloom probe
    // per consumer. One aggregation yields BOTH the batch size and the
    // candidate count (the batch row count previously cost its own
    // full scan in bloomGateWithStats).
    val candidates = LoopCheckpoint.transient(
      withH.filter(mightContain(col("_gate_h"))).drop("_gate_h"),
      eager = false)
    val batchCounts = withH.agg(
      count(lit(1)).as("n"),
      count(when(mightContain(col("_gate_h")), 1)).as("nc")).head()
    val nBatch = batchCounts.getLong(0)
    val nCand = batchCounts.getLong(1)
    val survivors =
      if (nCand == 0) candidates
      else if (nCand <= maxBroadcastKeys) {
        // No-shuffle verify: probe history by the broadcast candidate
        // keys (map-side semi join over the history scan), then
        // anti-join the broadcast hit set back onto the candidates.
        val candKeys = candidates.select(keyCols.map(col): _*).distinct()
        val hits = history.join(broadcast(candKeys), keyCols, "left_semi")
          .select(keyCols.map(col): _*).distinct()
        candidates.join(broadcast(hits), keyCols, "left_anti")
      } else
        // Candidate set too big to broadcast — shuffle anti-join, but
        // only over the candidate fraction of the batch.
        candidates.join(history.select(keyCols.map(col): _*), keyCols, "left_anti")
    (negatives.unionByName(survivors), nHist, () => nBatch, nCand,
      () => survivors.count(), bloom.bitSize(), bloom.expectedFpp())
  }

  /** Exact SimHash near-dup pairs over the portable 31-bit fingerprint
    * ([[TextAnalysis.simHashMod]]): all pairs with Hamming distance <=
    * `maxHamming`, by native `bit_count(xor)` over a self-join. This exact
    * form is the oracle; [[simHashPairs]] is the banded candidate-pruned
    * form for scale (where the quadratic self-join is replaced by band
    * equi-joins).
    */
  def simHashPairsExact(docs: DataFrame, maxHamming: Int = 8): DataFrame = {
    val hashed = docs.select(col("doc_id"), TextAnalysis.simHashModUdf(col("text")).as("simhash"))
    val a = hashed.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = hashed.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("hamming", TextAnalysis.hamming(col("sim_a"), col("sim_b")))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** SimHash near-dup pairs over the 64-bit murmur fingerprint
    * ([[TextAnalysis.simHash]]) within a Hamming-distance budget:
    * candidates via equality on one of `maxHamming + 1` contiguous bands
    * (pigeonhole: a pair within the budget agrees on at least one),
    * verified by exact bit_count. At the default budget of 3 that is four
    * 16-bit bands.
    */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    simHashBandPairs(
      docs.select(col("doc_id"), TextAnalysis.simHashUdf(col("text")).as("simhash")),
      64, maxHamming)

  /** Banded SimHash near-dup pairs over the PORTABLE 31-bit fingerprint
    * ([[TextAnalysis.simHashMod]]) — the scale-registered form of
    * [[simHashPairsExact]]. The 31 bits are cut into `maxHamming + 1`
    * contiguous bands; by pigeonhole, any pair within Hamming distance
    * `maxHamming` differs in at most `maxHamming` bands and therefore
    * agrees on at least one, so the band equi-join generates EVERY
    * qualifying pair: the result is provably identical to the exact
    * all-pairs form (which stays as the oracle and the spec cross-check),
    * while the plan is hash-partitioned equi-joins on short band keys —
    * no O(n²) theta self-join. `maxBandSize` is the hub cap of
    * [[bandCandidates]] (default: none); the Hamming check applies to
    * star pairs too, so true duplicate mass (Hamming 0 to the hub)
    * always survives.
    */
  def simHashPairsBanded(
      docs: DataFrame,
      maxHamming: Int = 2,
      maxBandSize: Int = Int.MaxValue): DataFrame =
    simHashBandPairs(
      docs.select(col("doc_id"), TextAnalysis.simHashModUdf(col("text")).as("simhash")),
      31, maxHamming, maxBandSize)

  /** Contiguous cut of a `bits`-wide fingerprint into `nBands` bands, as
    * (offset, mask) per band; widths differ by at most one. A 64-bit band
    * masks with `-1L >>> 0`: `(1L << 64) - 1` is 0 on the JVM. The
    * [[graft.DedupOracle]] mirror cuts its bands from the same list.
    */
  private[graft] def bandCut(bits: Int, nBands: Int): Seq[(Int, Long)] = {
    val offsets = (0 to nBands).map(b => b * bits / nBands)
    (0 until nBands).map { b =>
      val width = offsets(b + 1) - offsets(b)
      (offsets(b), if (width == 0) 0L else -1L >>> (64 - width))
    }
  }

  /** (doc_id, simhash, band) rows: one `b:value` key per band of the
    * `maxHamming + 1`-band [[bandCut]] of a `bits`-wide fingerprint.
    */
  private def simHashBands(hashed: DataFrame, bits: Int, maxHamming: Int): DataFrame =
    hashed.select(
      col("doc_id"), col("simhash"),
      explode(array(bandCut(bits, maxHamming + 1).zipWithIndex.map {
        case ((offset, mask), b) =>
          concat(lit(s"$b:"), shiftright(col("simhash"), offset)
            .bitwiseAND(lit(mask)).cast("string"))
      }: _*)).as("band"))

  /** [[bandCandidates]] over the [[simHashBands]] of (doc_id, simhash)
    * rows, verified by exact Hamming distance — shared by the murmur and
    * portable fingerprints.
    */
  private def simHashBandPairs(
      hashed: DataFrame, bits: Int, maxHamming: Int,
      maxBandSize: Int = Int.MaxValue): DataFrame =
    bandCandidates(simHashBands(hashed, bits, maxHamming), "simhash", maxBandSize)
      .withColumn("hamming", TextAnalysis.hamming(col("simhash_a"), col("simhash_b")))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")

  /** Benchmark-contamination check: documents sharing any `n`-word shingle
    * with a benchmark/eval set (the standard 13-gram decontamination rule
    * for pretraining corpora). Inverted-index equi-join on the shingle —
    * never a cross join — returning each contaminated (corpus doc,
    * benchmark doc) pair with its overlap count.
    */
  def contaminationCheck(
      corpus: DataFrame,
      benchmark: DataFrame,
      n: Int,
      maxDf: Int = Int.MaxValue): DataFrame = {
    def shingled(df: DataFrame, idAs: String) = df.select(
      col("doc_id").as(idAs),
      explode(TextAnalysis.charShingles(col("text"), n)).as("shingle"))
    // char shingles here; word shingles via wordShingles-UDF would be the
    // production 13-gram form — the join shape is identical. Corpus side
    // gets the parallelism floor (no-op at scale); the benchmark side is
    // query-sized and isn't worth a shuffle.
    val c0 = shingled(Scale.parallelismFloor(corpus), "doc_id")
    // Same df cap as [[ngramJaccardPairs]], computed on the corpus side
    // (a shingle common to >maxDf corpus docs carries no contamination
    // signal and would fan the equi-join out quadratically; filtering the
    // corpus index alone suffices — the inner join drops the bench side).
    // Map-side-combinable count + broadcast anti-join of the tiny hot
    // set, not a shingle-partitioned window (see [[ngramJaccardPairs]]).
    val c =
      if (maxDf == Int.MaxValue) c0
      else {
        val hot = c0.groupBy("shingle")
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf)
          .select("shingle")
        c0.join(broadcast(hot), Seq("shingle"), "left_anti")
      }
    c.join(shingled(benchmark, "bench_id"), "shingle")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** Group near-dup pairs into duplicate clusters: connected components by
    * iterative min-label propagation, labeling every member with the
    * smallest doc_id in its component (the canonical survivor a retention
    * policy would keep).
    *
    * Each iteration is one equi-join + min-aggregation, with
    * `localCheckpoint` truncating the growing lineage; iterations are
    * bounded by component diameter (near-dup components are clique-like,
    * so a handful). At 1000-executor scale the same loop holds — both
    * sides hash-partition on the node id. For adversarial chain graphs
    * the upgrade is the large-star/small-star form,
    * [[duplicateClustersStar]], which converges in O(log n) rounds.
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // ONE pass over the (expensive) pair-generation lineage: the
    // symmetric union's two legs read the checkpointed pair list, not
    // the upstream plan twice (r19, guide §2.4).
    val pr0 = LoopCheckpoint(pairs.select(col("doc_a"), col("doc_b")))
    val edges = LoopCheckpoint(
      pr0.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pr0.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    // The loop itself stays under ADAPTIVE planning — measured r19:
    // wrapping these convergence loops in LoopCheckpoint.staticLoop
    // (AQE off + width-pinned co-partitioning, the pageRank discipline)
    // read 2.8-3.1 s vs 1.9-2.1 s adaptive on sample_split_leakage_safe
    // — the rounds' tiny join DAGs want AQE's runtime SMJ→broadcast
    // conversion more than they want exchange elision, and the loop
    // converges in a handful of rounds so there is no 15-iteration
    // stage-job storm to amortize. (pageRank is the opposite case:
    // fixed 15 rounds, co-partitionable keys, a broadcast scalar per
    // round — staticLoop measured 4.3 → 3.0 s there.)
    val iter = new LoopCheckpoint.IterScope
    var labels = iter(edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges.join(labels, edges("dst") === labels("node"))
        .groupBy(col("src").as("nbr_node")).agg(min("label").as("nbr_label"))
      // LAZY iterate: the convergence probe below is the action that
      // materializes it, so each round is ONE job instead of an eager
      // checkpoint job plus the probe (the star loop's shape).
      // Convergence flag computed in the same pass as the update:
      // carrying old_label through the join replaces a whole extra
      // join-per-iteration with a filter scan over the result.
      val updated = iter(labels
        .join(neighborMin, labels("node") === neighborMin("nbr_node"), "left")
        .select(col("node"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label")),
        eager = false)
      converged = updated.filter(col("label") =!= col("old_label")).isEmpty
      labels = updated.select("node", "label")
      // The probe materialized `updated`; reliable mode can now drop
      // the superseded round's checkpoint files.
      iter.materialized()
      i += 1
    }
    require(converged, s"label propagation did not converge in $maxIter iterations")
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the scale upgrade of [[duplicateClusters]] for
    * adversarial graphs: min-label propagation needs O(diameter)
    * join+agg rounds (a 10⁶-node chain = 10⁶ rounds), while the star
    * algorithm converges in O(log n) rounds on any shape because each
    * round re-roots whole subtrees at their minimum, not just adjacent
    * nodes. Every round is two groupBy-min + join passes over the edge
    * list — the same shuffle-on-node-id pattern that hash-partitions
    * cleanly at 1000 executors — with `localCheckpoint` truncating the
    * iterative lineage. Output contract matches [[duplicateClusters]]
    * exactly: (doc_id, cluster_id = component-min), so the two are
    * interchangeable and share the recursive-CTE oracle.
    */
  def duplicateClustersStar(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // large-star: every node u links its STRICTLY LARGER neighbors to
    // m(u) = min(Γ(u) ∪ {u}).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
    }
    // small-star: orient every edge toward its smaller endpoint; each
    // node u links its smaller-or-equal neighbors AND ITSELF to m(u).
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      val m = or.groupBy("u").agg(min(col("v")).as("m"))
      or.join(m, "u")
        .select(col("v").as("n"), col("m"))
        .union(m.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v")).distinct()
    }
    val iter = new LoopCheckpoint.IterScope
    var edges = iter(pairs
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    // Adaptive planning, not staticLoop — same r19 measurement as
    // duplicateClusters: the alternating-key star rounds cannot be
    // co-partitioned across iterations, so AQE's runtime broadcast
    // conversion is the better regime (1.7-1.9 s vs 3.4-3.5 s pinned).
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // LAZY checkpoint: the convergence probe below is the action that
      // materializes it, so each round is ONE job (the r3 shape ran an
      // eager-checkpoint job plus count+exceptAll — three). Fixpoint test:
      // both sides are distinct() outputs, so set equality == no row left
      // unmatched by a full outer join.
      val next = iter(smallStar(largeStar(edges)), eager = false)
      converged = next.withColumn("_l", lit(1))
        .join(edges.withColumn("_r", lit(1)), Seq("u", "v"), "full_outer")
        .filter(col("_l").isNull || col("_r").isNull)
        .isEmpty
      edges = next
      // The probe above materialized `next`; reliable mode can now drop
      // the superseded round's checkpoint files.
      iter.materialized()
      i += 1
    }
    require(converged, s"star rounds did not converge in $maxIter iterations")
    // At the fixpoint every edge is (node, component-min); roots appear
    // only on the right, so they label themselves via the second leg.
    edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .distinct()
  }

  /** PORTABLE random-hyperplane LSH signature: bit b of the signature is
    * the sign of ⟨v, h_b⟩ where hyperplane component h_b[i] derives from a
    * SQUARED Lehmer hash of index `b * 1024 + i` (stride 1024 > any
    * embedding dim here), mapped to [-1, 1). The squaring is load-bearing:
    * a plain affine hash of consecutive indices is an arithmetic
    * progression mod p, so the hyperplanes are mutually correlated and
    * measured pair recall collapses (37/59 vs the independent-bit theory
    * of ~58/59 on the sf0.01 corpus); h² mod p breaks the lattice and
    * restores the 1−(1−p^rows)^bands recall curve. Every step — hash,
    * square, the ×2/p−1 map, the float→double widening, the left-to-right
    * dot-product accumulation — is replicated operation-for-operation in
    * the oracle SQL (`list_reduce` folds left exactly like the
    * while-loop), so candidate generation itself is hash-checkable, the
    * same trick as [[minHashLshPairsPortable]]. Used by the near-dup
    * operators ([[embeddingNearDupBucketed]], the `graft_lsh_signature`
    * SQL function); ANN search uses [[Ann.signature]] (murmur
    * hyperplanes), which the oracle replays from its literal planes.
    */
  def portableSignature(v: Seq[Float], nBits: Int): Int = {
    var sig = 0
    var b = 0
    while (b < nBits) {
      var dot = 0.0
      var i = 0
      while (i < v.length) {
        val h = (48271L * (b * 1024 + i) + 16807L) % 2147483647L
        val g = (h * h) % 2147483647L
        dot += v(i).toDouble * (g * 2.0 / 2147483647.0 - 1.0)
        i += 1
      }
      if (dot >= 0) sig |= (1 << b)
      b += 1
    }
    sig
  }

  /** Embedding-cosine near-dup with LSH-bucketed candidate generation —
    * the scale form of the exact all-pairs cosine join (kept in test
    * sources as the recall spec's cross-check). Candidates = pairs
    * agreeing on at least one of `bands` signature bands (rows =
    * nBits/bands bits each); survivors get the exact codegen-cosine
    * recheck against `threshold`. The only shuffle is the equi-join on
    * short band keys — no cross join anywhere in the plan — and the
    * within-bucket pair count is bounded by bucket occupancy, not corpus
    * size. Band geometry tunes recall to the threshold: per-pair collision
    * probability is 1−(1−p^rows)^bands with p = 1 − θ/π, so fewer/wider
    * bands prune harder and suit high (near-dup) thresholds, while more/
    * narrower bands hold recall up at looser thresholds.
    *
    * Reference semantics (pairwise cosine over stored embeddings):
    * chroma_utils.py:237-263.
    */
  def embeddingNearDupBucketed(
      vecs0: DataFrame,
      threshold: Double,
      nBits: Int = 16,
      bands: Int = 8,
      scopeCol: Option[String] = None): DataFrame = {
    require(nBits % bands == 0, "bands must divide nBits")
    // A null vector has no direction: it can't be near-dup to anything,
    // so drop it before it reaches the signature/cosine kernels.
    val vecs = vecs0.filter(col("embedding").isNotNull)
    val rows = nBits / bands
    val mask = (1 << rows) - 1
    // One UDF call per row emitting the signature AND every band key.
    // Marked nondeterministic NOT because it is — it's a pure hash — but
    // to forbid CollapseProject from substituting the UDF into every
    // downstream use: with a deterministic UDF the optimizer inlined the
    // signature into the post-join first-shared-band filter, re-running
    // the 28×64-flop hash 8× per JOINED row (measured +2s at sf0.1)
    // instead of once per input row.
    val su = udf { (v: Seq[Float]) =>
      val sig = if (v == null) 0 else portableSignature(v, nBits)
      (sig, Array.tabulate(bands)(k => s"${k}_${(sig >> (k * rows)) & mask}"))
    }.asNondeterministic()
    // The band join runs over (id, sig, band) only — no embedding arrays.
    // Pair uniqueness comes from the FIRST-SHARED-BAND rule instead of a
    // dropDuplicates: a pair sharing m bands appears m times in the join,
    // and the native filter below keeps exactly the copy produced by the
    // lowest shared band index, using only the two signatures already in
    // the row. That turns the whole dedup into map-side arithmetic —
    // measured at sf0.1 this took the query from 18.8s (embeddings
    // dragged through a pair-dedup shuffle) to 3.2s (bare-id dedup
    // shuffle) to ~1s (no dedup shuffle at all). The vectors re-attach
    // afterwards with two equi-joins on id (auto-broadcast when the
    // vector table is small, shuffle-hash at scale).
    // Optional SCOPE column (e.g. a semantic-dedup cell id): prepended to
    // the band key so candidate pairs must agree on scope AND band — the
    // within-cell composition [[semanticDedup]] uses for mega-cells. The
    // join stays a plain string equi-join; scope never widens the row
    // beyond one extra key column.
    val keyCols: Seq[Column] = col("vec_id") +: scopeCol.map(col).toSeq
    val banded0 = vecs
      .select(keyCols :+ su(col("embedding")).as("s"): _*)
      .select(keyCols ++ Seq(col("s._1").as("sig"),
        posexplode(col("s._2")).as(Seq("band_idx", "band"))): _*)
    val banded = scopeCol.fold(banded0)(sc =>
      banded0.withColumn("band", concat_ws("|", col(sc), col("band"))))
    // Round-robin the probe side across the shuffle-partition count. The
    // vector table is one small parquet file here, so without this the
    // broadcast band join — and the entire 10M-row candidate pipeline
    // behind it — runs as ONE task (measured 8.9s single-threaded).
    // Round-robin beats hash-by-band (5.0s): per-probe-row work equals
    // that row's bucket size, so hot bands skew a band-hash layout, while
    // a uniform spread levels it (~1s). Correctness is unaffected — the
    // build side is broadcast, so any probe placement sees all matches.
    // At cluster scale, where the banded table outgrows a broadcast, this
    // becomes a shuffle band join and AQE skew-split takes this job.
    val shufflePartitions =
      vecs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val a = banded.repartition(shufflePartitions).as("a"); val b = banded.as("b")
    def bandVal(sig: Column, k: Int): Column =
      shiftright(sig, k * rows).bitwiseAND(lit(mask))
    val firstShared = array_position(
      array((0 until bands).map(k =>
        bandVal(col("a.sig"), k) === bandVal(col("b.sig"), k)): _*), true) - 1
    val cands = a
      .join(b, col("a.band") === col("b.band") && col("a.vec_id") < col("b.vec_id"))
      .filter(firstShared === col("a.band_idx"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    cands
      .join(vecs.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), "id_a")
      .join(vecs.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), "id_b")
      .withColumn("cos_sim",
        graft.expressions.VectorExpressions.cosineSim(col("emb_a"), col("emb_b")))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, from the public
    * description): cluster the embedding space, then drop every vector
    * that has a cosine-≥`threshold` neighbor with a SMALLER id inside
    * its cluster. Returns one row per input vector:
    * `(vec_id, cell, kept)`.
    *
    * This complements [[embeddingNearDupBucketed]], not duplicates it:
    * LSH banding prunes well only at NEAR-DUP thresholds (≥0.9, where a
    * few wide bands discard ~97% of random pairs); semantic dedup runs
    * at looser thresholds (0.7–0.9) where banding keeps most pairs and
    * prunes nothing. Clustering bounds the candidate space structurally
    * instead: pairs are only formed WITHIN a cell, so the pair count is
    * Σ|cell|², governed by `nCells`, not by band recall. The greedy
    * smaller-id rule (not transitive closure — [[duplicateClusters]]
    * covers that) keeps exactly one representative per tight semantic
    * group and is engine-order-independent: membership of each pair is
    * decided by one deterministic cosine, never by traversal order.
    *
    * Centroids: the `lloydIter = 0` default seeds cells with the
    * embeddings of the `nCells` smallest vec_ids — fully deterministic
    * and replicated verbatim by the DuckDB oracle (`dedup_semantic`).
    * `lloydIter > 0` refines those seeds with [[Ann.buildIvf]]'s
    * hash-sampled Lloyd iterations (spec-checked: same planted twins
    * drop either way); assignment stays a map-only pass either way —
    * the centroid array rides the UDF closure like Ann's, never a join.
    *
    * Design for 100 TB: one full-corpus map pass for assignment, one
    * shuffle on the (uniform, bounded-cardinality) cell key for the
    * self-join, pairwise work bounded per cell. Size `nCells` ≈
    * n/5000 so cells hold ~5k vectors (25M cosines/cell, embarrassingly
    * parallel across cells). Cells that still exceed `maxCellRows` —
    * skewed corpora cluster unevenly no matter how nCells is sized — do
    * NOT go through the all-pairs self-join: they are routed through
    * [[embeddingNearDupBucketed]] with the cell id prepended to the band
    * key (`scopeCol`), so a mega-cell's candidate count is bounded by
    * band-bucket occupancy instead of |cell|². The banded leg trades
    * exactness for that bound (recall <1 at loose thresholds), which is
    * why it engages only above the budget — below it the all-pairs leg
    * stays bit-exact against the oracle.
    */
  def semanticDedup(
      vecs0: DataFrame,
      nCells: Int,
      threshold: Double,
      lloydIter: Int = 0,
      maxCellRows: Long = Long.MaxValue,
      megaNBits: Int = 16,
      megaBands: Int = 8): DataFrame = {
    // Null embeddings have no direction (same contract as the bucketed
    // near-dup): excluded from cells and from the output.
    val vecs = vecs0.filter(col("embedding").isNotNull)
    val assigned =
      if (lloydIter > 0)
        Ann.buildIvf(vecs.sparkSession, vecs, nCells, maxIter = lloydIter)._2
      else {
        val seeds = vecs.orderBy("vec_id").limit(nCells)
          .select("embedding").collect()
          .map(_.getSeq[Float](0).toArray)
        Ann.assignCells(vecs, seeds)
      }
    // Split on observed cell occupancy: the size table is nCells rows —
    // always broadcastable — so the split adds no shuffle of the vectors
    // beyond the cell-key joins both legs need anyway.
    val sizes = assigned.groupBy("cell").agg(count(lit(1)).as("cell_n"))
    val withN = assigned.join(broadcast(sizes), Seq("cell"))
    val smallCells = withN.filter(col("cell_n") <= maxCellRows)
    val megaCells  = withN.filter(col("cell_n") > maxCellRows)
    val a = smallCells.select(
      col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("cell"))
    val b = smallCells.select(
      col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("cell"))
    val droppedSmall = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(graft.expressions.VectorExpressions
        .cosineSim(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("id_b").as("vec_id"))
    // Mega-cells: banded candidates scoped to the cell — |cell|² never
    // materializes; the exact cosine recheck inside the bucketed path
    // keeps the same >= threshold semantics on surviving candidates.
    val droppedMega = embeddingNearDupBucketed(
      megaCells.select(col("vec_id"), col("embedding"), col("cell").cast("string").as("cell")),
      threshold, nBits = megaNBits, bands = megaBands, scopeCol = Some("cell"))
      .select(col("id_b").as("vec_id"))
    val dropped = droppedSmall.unionByName(droppedMega).distinct()
      .withColumn("kept", lit(false))
    assigned.select(col("vec_id"), col("cell"))
      .join(dropped, Seq("vec_id"), "left")
      .withColumn("kept", coalesce(col("kept"), lit(true)))
  }
}
