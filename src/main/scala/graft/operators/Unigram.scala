package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Distributed UNIGRAM-LM tokenizer training (SentencePiece-style;
  * Kudo 2018, "Subword Regularization", and Kudo & Richardson 2018,
  * "SentencePiece") — the second tokenizer family next to [[Bpe]]; the
  * reference app tokenizes implicitly through its embedding model
  * (chroma_utils.py:25-28), and a pretraining pipeline at 100 TB needs
  * the trainer itself as a batch operator.
  *
  * Algorithm (faithful to the paper, with every data-dependent choice
  * made DETERMINISTIC so the distributed trainer can be equality-gated
  * against a sequential in-driver reference):
  *
  *  1. SEED: candidate pieces = all code-point substrings of corpus
  *     words up to `maxPieceLen`, weighted by occurrence count; the
  *     seed vocabulary keeps every single code point (coverage) plus
  *     the top multi-symbol candidates by (count desc, piece asc).
  *     Initial piece log-probs ∝ counts.
  *  2. EM: E-step computes per-piece EXPECTED COUNTS over all
  *     segmentations of each distinct word via forward–backward on the
  *     segmentation lattice; M-step renormalizes. Expected counts are
  *     quantized per (word, piece) to integer MICRO-units, so the
  *     cross-word aggregation is an exact integer sum — order-independent,
  *     hence identical between the distributed `groupBy.sum` and the
  *     sequential fold (the repo's floor-micros discipline; cf.
  *     `corpus_datacard`). Zero-count multi-symbol pieces drop; single
  *     code points are floored at 1 micro (coverage is never pruned).
  *  3. PRUNE: each piece's loss = Σ_w n_w · (viterbi(w) − viterbi(w
  *     without the piece)), micro-quantized and integer-summed like the
  *     E-step; single code points are always kept; multi-symbol pieces
  *     rank by (loss desc, piece asc) and the vocabulary shrinks by
  *     `shrink` per round (never below `targetVocab`) with `emIters`
  *     EM steps between rounds, until the target size is reached.
  *
  * Scale shape (the 100 TB contract): every EM/prune pass runs over the
  * DISTINCT-WORD count table — Zipf-bounded, orders of magnitude smaller
  * than the corpus — with the model (≤ seedSize pieces, KBs–MBs) riding
  * the task closure, partial aggregation map-side, and only vocab-sized
  * frames ever collected to the driver. Corpus-scale encode
  * ([[encodeCorpus]]) is one map-only pass with a per-executor Viterbi
  * memo, exactly like [[Bpe.encodeCorpus]]. Micro-quantization bounds:
  * a per-word expected count is ≤ n_w · len(w); at fixture scales the
  * Long micro sums sit far from overflow — at extreme corpus sizes pass
  * a pre-aggregated word table (counts cap the sum at the distinct-word
  * total, not the corpus total).
  */
object Unigram {

  /** Trained model: pieces with log-probabilities, in canonical order
    * (piece string asc). `scoreMicros` = floor(logp * 1e6 + 0.5) — the
    * equality-gate projection (the doubles are themselves deterministic,
    * but the micro rendering is what crosses process boundaries).
    */
  final case class Model(pieces: IndexedSeq[(String, Double)]) {
    @transient lazy val logp: Map[String, Double] = pieces.toMap
    /** Symbol count of the longest piece — the lattice edge bound. */
    @transient lazy val maxLen: Int =
      if (pieces.isEmpty) 1 else pieces.iterator.map(p => symbols(p._1).length).max
    def scoreMicros: IndexedSeq[(String, Long)] =
      pieces.map { case (p, lp) => (p, math.floor(lp * 1e6 + 0.5).toLong) }
  }

  /** One symbol per Unicode code point — [[Bpe.codePointSymbols]]'s rule. */
  def symbols(w: String): IndexedSeq[String] = Bpe.codePointSymbols(w)

  private val MICRO = 1e6

  // ------------------------------------------------------- per-word math
  // These per-word functions are SHARED between the distributed trainer
  // and the sequential reference: within a word the double arithmetic is
  // identical code on identical inputs, and everything that crosses
  // words is an integer micro sum — that is what makes the exact
  // equality gate possible despite floating-point EM.

  private def logSumExp(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else { val m = math.max(a, b); m + math.log(math.exp(a - m) + math.exp(b - m)) }

  /** E-step for one word: (per-piece expected count in micro-units,
    * word log-likelihood in micro-units), both scaled by the word count
    * n. Forward–backward over the segmentation lattice; edges are
    * substrings of ≤ maxLen symbols present in the model.
    */
  def wordExpectations(
      word: String,
      n: Long,
      logp: Map[String, Double],
      maxLen: Int): (Seq[(String, Long)], Long) = {
    val syms = symbols(word)
    val l = syms.length
    val pieceAt = Array.tabulate(l) { i =>
      // pieces starting at i: (end j, piece, logp), j in i+1..min(l, i+maxLen)
      (i + 1 to math.min(l, i + maxLen)).flatMap { j =>
        val p = syms.slice(i, j).mkString
        logp.get(p).map(lp => (j, p, lp))
      }
    }
    val alpha = Array.fill(l + 1)(Double.NegativeInfinity)
    alpha(0) = 0.0
    var i = 0
    while (i < l) {
      if (alpha(i) != Double.NegativeInfinity)
        pieceAt(i).foreach { case (j, _, lp) =>
          alpha(j) = logSumExp(alpha(j), alpha(i) + lp) }
      i += 1
    }
    val beta = Array.fill(l + 1)(Double.NegativeInfinity)
    beta(l) = 0.0
    i = l - 1
    while (i >= 0) {
      pieceAt(i).foreach { case (j, _, lp) =>
        if (beta(j) != Double.NegativeInfinity)
          beta(i) = logSumExp(beta(i), lp + beta(j)) }
      i -= 1
    }
    val z = alpha(l)
    if (z == Double.NegativeInfinity) (Nil, 0L) // unsegmentable (no coverage)
    else {
      val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      i = 0
      while (i < l) {
        if (alpha(i) != Double.NegativeInfinity)
          pieceAt(i).foreach { case (j, p, lp) =>
            if (beta(j) != Double.NegativeInfinity) {
              val post = math.exp(alpha(i) + lp + beta(j) - z)
              acc(p) = acc.getOrElse(p, 0.0) + post
            }
          }
        i += 1
      }
      val micros = acc.iterator
        .map { case (p, c) => (p, math.floor(n * c * MICRO + 0.5).toLong) }
        .filter(_._2 > 0L).toSeq
      (micros, math.floor(n * z * MICRO + 0.5).toLong)
    }
  }

  /** Viterbi segmentation of one word: the max-probability piece
    * sequence. Deterministic tie-break: strict `>` while scanning start
    * positions ascending keeps the FIRST maximizer (shortest-start
    * edge), identically in both trainers. Returns Nil if unsegmentable.
    */
  def viterbi(word: String, logp: Map[String, Double], maxLen: Int): Seq[String] = {
    val syms = symbols(word)
    val l = syms.length
    val best = Array.fill(l + 1)(Double.NegativeInfinity)
    val back = Array.fill(l + 1)(-1)
    val piece = Array.fill(l + 1)(null: String)
    best(0) = 0.0
    var i = 0
    while (i < l) {
      if (best(i) != Double.NegativeInfinity) {
        var j = i + 1
        val jMax = math.min(l, i + maxLen)
        while (j <= jMax) {
          val p = syms.slice(i, j).mkString
          logp.get(p).foreach { lp =>
            if (best(i) + lp > best(j)) { best(j) = best(i) + lp; back(j) = i; piece(j) = p }
          }
          j += 1
        }
      }
      i += 1
    }
    if (best(l) == Double.NegativeInfinity) Nil
    else {
      var at = l
      val out = scala.collection.mutable.ListBuffer.empty[String]
      while (at > 0) { out.prepend(piece(at)); at = back(at) }
      out.toList
    }
  }

  /** Viterbi score only (Double.NegativeInfinity if unsegmentable),
    * optionally with one piece EXCLUDED — the prune-loss primitive. */
  private def viterbiScore(
      syms: IndexedSeq[String],
      logp: Map[String, Double],
      maxLen: Int,
      excluded: String): Double = {
    val l = syms.length
    val best = Array.fill(l + 1)(Double.NegativeInfinity)
    best(0) = 0.0
    var i = 0
    while (i < l) {
      if (best(i) != Double.NegativeInfinity) {
        var j = i + 1
        val jMax = math.min(l, i + maxLen)
        while (j <= jMax) {
          val p = syms.slice(i, j).mkString
          if (p != excluded) logp.get(p).foreach { lp =>
            if (best(i) + lp > best(j)) best(j) = best(i) + lp }
          j += 1
        }
      }
      i += 1
    }
    best(l)
  }

  /** Prune losses for one word: for every piece on the word's Viterbi
    * path, n · (viterbi-with − viterbi-without) in micro-units. Single
    * code points never emit (they are never pruned).
    */
  def wordPruneLosses(
      word: String,
      n: Long,
      logp: Map[String, Double],
      maxLen: Int): Seq[(String, Long)] = {
    val syms = symbols(word)
    val path = viterbi(word, logp, maxLen)
    if (path.isEmpty) Nil
    else {
      val withScore = path.iterator.map(logp).sum
      path.distinct.filter(p => symbols(p).length > 1).flatMap { p =>
        val without = viterbiScore(syms, logp, maxLen, p)
        val loss =
          if (without == Double.NegativeInfinity) Double.MaxValue / MICRO
          else withScore - without
        val micros = math.floor(n * loss * MICRO + 0.5).toLong
        if (micros > 0L) Some((p, micros)) else None
      }
    }
  }

  // ------------------------------------------------------- model steps

  /** M-step from the exact integer expected-count table: logp =
    * log(count / total). Single code points floor at 1 micro (coverage);
    * zero-count multi pieces drop. Canonical piece order (asc).
    */
  def mStep(microCounts: Map[String, Long], alphabetPieces: Set[String]): Model = {
    val floored = alphabetPieces.iterator.map(a => (a, math.max(microCounts.getOrElse(a, 0L), 1L))) ++
      microCounts.iterator.filter { case (p, c) => !alphabetPieces.contains(p) && c > 0L }
    val kept = floored.toSeq.sortBy(_._1)
    val total = kept.iterator.map(_._2.toDouble).sum
    val logTotal = math.log(total)
    Model(kept.map { case (p, c) => (p, math.log(c.toDouble) - logTotal) }.toIndexedSeq)
  }

  /** Prune to `keep` pieces: all single code points stay; multi-symbol
    * pieces rank by (loss desc, piece asc). Returns the kept piece set
    * (scores are refreshed by the next EM step).
    */
  def pruneSelect(
      model: Model,
      losses: Map[String, Long],
      keep: Int): Model = {
    val (singles, multis) = model.pieces.partition(p => symbols(p._1).length == 1)
    val keepMulti = math.max(0, keep - singles.length)
    val ranked = multis
      .map { case (p, lp) => (p, lp, losses.getOrElse(p, 0L)) }
      .sortBy { case (p, _, loss) => (-loss, p) }
      .take(keepMulti)
      .map { case (p, lp, _) => (p, lp) }
    Model((singles ++ ranked).sortBy(_._1))
  }

  // --------------------------------------------------- distributed train

  /** Seed candidate table: (piece, count) over all ≤ maxPieceLen
    * code-point substrings of corpus words — ONE bounded shuffle over
    * the distinct-word table (≤ len·maxPieceLen rows per distinct word).
    */
  def seedCandidates(wordCounts: DataFrame, maxPieceLen: Int): DataFrame = {
    val spark = wordCounts.sparkSession
    import spark.implicits._
    wordCounts.as[(String, Long)]
      .flatMap { case (w, n) =>
        val syms = symbols(w)
        for {
          i <- syms.indices
          j <- (i + 1) to math.min(syms.length, i + maxPieceLen)
        } yield (syms.slice(i, j).mkString, n)
      }
      .toDF("piece", "n")
      .groupBy("piece").agg(sum("n").as("n"))
  }

  /** Seed model from the candidate table: every single code point plus
    * the top multi-symbol candidates by (count desc, piece asc), scores
    * ∝ counts. The candidate table is the only corpus-derived frame the
    * seed touches; only (seedSize)-many rows are collected.
    */
  def seedModel(wordCounts: DataFrame, seedSize: Int, maxPieceLen: Int): Model = {
    val cand = LoopCheckpoint(seedCandidates(wordCounts, maxPieceLen))
    val isSingle = udf((p: String) => symbols(p).length == 1)
    val singleRows = cand.filter(isSingle(col("piece")))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val keepMulti = math.max(0, seedSize - singleRows.length)
    val multiRows = cand.filter(!isSingle(col("piece")))
      .orderBy(col("n").desc, col("piece").asc)
      .limit(keepMulti)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val all = (singleRows ++ multiRows).sortBy(_._1)
    val total = all.iterator.map(_._2.toDouble).sum
    val logTotal = math.log(total)
    Model(all.map { case (p, c) => (p, math.log(c.toDouble) - logTotal) }.toIndexedSeq)
  }

  /** One distributed E-step over the (word, n) table: exact integer
    * micro expected counts + corpus log-likelihood. The model rides the
    * closure; the aggregation is a vocab-keyed integer sum with map-side
    * partials; the collect is vocab-sized.
    */
  def eStep(wordCounts: DataFrame, model: Model, maxPieceLen: Int): (Map[String, Long], Long) = {
    val spark = wordCounts.sparkSession
    import spark.implicits._
    val lp = model.logp
    val rows = wordCounts.as[(String, Long)]
      .flatMap { case (w, n) =>
        val (micros, ll) = wordExpectations(w, n, lp, maxPieceLen)
        micros.iterator.map { case (p, c) => (p, c, 0L) } ++ Iterator(("", 0L, ll))
      }
      .toDF("piece", "micros", "ll")
      .groupBy("piece").agg(sum("micros").as("micros"), sum("ll").as("ll"))
      .collect()
    val counts = rows.iterator.filter(_.getString(0).nonEmpty)
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val loglik = rows.iterator.map(_.getLong(2)).sum
    (counts, loglik)
  }

  /** One distributed prune-loss pass: integer micro losses per piece. */
  def pruneLosses(wordCounts: DataFrame, model: Model, maxPieceLen: Int): Map[String, Long] = {
    val spark = wordCounts.sparkSession
    import spark.implicits._
    val lp = model.logp
    wordCounts.as[(String, Long)]
      .flatMap { case (w, n) => wordPruneLosses(w, n, lp, maxPieceLen) }
      .toDF("piece", "micros")
      .groupBy("piece").agg(sum("micros").as("micros"))
      .collect().iterator.map(r => (r.getString(0), r.getLong(1))).toMap
  }

  /** Full distributed training: seed → (EM × emIters → prune by shrink)
    * until ≤ targetVocab → final EM × emIters. Returns the model plus
    * the per-EM-step corpus log-likelihood trace in micro-units (the
    * monotonicity evidence). The word table is checkpointed once and
    * reused by every pass.
    */
  def train(
      docs: DataFrame,
      targetVocab: Int,
      seedSize: Int,
      maxPieceLen: Int = 4,
      emIters: Int = 2,
      shrink: Double = 0.75): (Model, Seq[Long]) = {
    val wc = LoopCheckpoint(Bpe.wordCounts(docs))
    trainOverWordCounts(wc, targetVocab, seedSize, maxPieceLen, emIters, shrink)
  }

  private def trainOverWordCounts(
      wc: DataFrame,
      targetVocab: Int,
      seedSize: Int,
      maxPieceLen: Int,
      emIters: Int,
      shrink: Double): (Model, Seq[Long]) = {
    var model = seedModel(wc, seedSize, maxPieceLen)
    val alphabetPieces = model.pieces.iterator.map(_._1)
      .filter(p => symbols(p).length == 1).toSet
    val llTrace = scala.collection.mutable.ListBuffer.empty[Long]
    def emRounds(): Unit = (1 to emIters).foreach { _ =>
      val (counts, ll) = eStep(wc, model, maxPieceLen)
      llTrace += ll
      model = mStep(counts, alphabetPieces)
    }
    emRounds()
    while (model.pieces.length > targetVocab) {
      val keep = math.max(targetVocab,
        math.floor(model.pieces.length * shrink).toInt)
      val losses = pruneLosses(wc, model, maxPieceLen)
      model = pruneSelect(model, losses, keep)
      emRounds()
    }
    (model, llTrace.toSeq)
  }

  // --------------------------------------------------- sequential reference

  /** Sequential in-driver reference over a collected word-count table —
    * the equality-gate twin of [[train]]: same per-word functions, same
    * integer micro aggregation (a fold instead of a shuffle), same
    * deterministic selections. The ONLY difference is where the sums
    * run, and integer sums are order-independent — so the gate demands
    * EXACT piece-for-piece, micro-for-micro equality.
    */
  def trainReference(
      wordCounts: Seq[(String, Long)],
      targetVocab: Int,
      seedSize: Int,
      maxPieceLen: Int = 4,
      emIters: Int = 2,
      shrink: Double = 0.75): (Model, Seq[Long]) = {
    // seed
    val candCounts = scala.collection.mutable.Map.empty[String, Long]
    wordCounts.foreach { case (w, n) =>
      val syms = symbols(w)
      for {
        i <- syms.indices
        j <- (i + 1) to math.min(syms.length, i + maxPieceLen)
      } candCounts.updateWith(syms.slice(i, j).mkString)(c => Some(c.getOrElse(0L) + n))
    }
    val (singles, multis) = candCounts.toSeq.partition(p => symbols(p._1).length == 1)
    val keepMulti = math.max(0, seedSize - singles.length)
    val multiKept = multis.sortBy { case (p, c) => (-c, p) }.take(keepMulti)
    val all = (singles ++ multiKept).sortBy(_._1)
    val total0 = all.iterator.map(_._2.toDouble).sum
    val logTotal0 = math.log(total0)
    var model = Model(all.map { case (p, c) => (p, math.log(c.toDouble) - logTotal0) }.toIndexedSeq)
    val alphabetPieces = singles.iterator.map(_._1).toSet
    val llTrace = scala.collection.mutable.ListBuffer.empty[Long]
    def emRounds(): Unit = (1 to emIters).foreach { _ =>
      val acc = scala.collection.mutable.Map.empty[String, Long]
      var ll = 0L
      wordCounts.foreach { case (w, n) =>
        val (micros, wll) = wordExpectations(w, n, model.logp, maxPieceLen)
        micros.foreach { case (p, c) => acc.updateWith(p)(x => Some(x.getOrElse(0L) + c)) }
        ll += wll
      }
      llTrace += ll
      model = mStep(acc.toMap, alphabetPieces)
    }
    emRounds()
    while (model.pieces.length > targetVocab) {
      val keep = math.max(targetVocab,
        math.floor(model.pieces.length * shrink).toInt)
      val acc = scala.collection.mutable.Map.empty[String, Long]
      wordCounts.foreach { case (w, n) =>
        wordPruneLosses(w, n, model.logp, maxPieceLen)
          .foreach { case (p, c) => acc.updateWith(p)(x => Some(x.getOrElse(0L) + c)) }
      }
      model = pruneSelect(model, acc.toMap, keep)
      emRounds()
    }
    (model, llTrace.toSeq)
  }

  // --------------------------------------------------------- encode

  /** Deterministic token-id vocabulary: pieces sorted by (MICRO score
    * desc, piece asc) take ids 0..V-1 — the highest-probability piece is
    * id 0, the shipped-vocab convention of sorting by score. The sort
    * key is the INTEGER micro rendering (the same projection the
    * equality gate pins), so the id assignment — like the encode DP
    * below — is reproducible by any engine from the shipped piece table
    * alone, with no dependence on libm rounding.
    */
  def vocabIds(model: Model): Map[String, Int] =
    model.scoreMicros.sortBy { case (p, m) => (-m, p) }
      .iterator.zipWithIndex.map { case ((p, _), i) => (p, i) }.toMap

  /** Viterbi segmentation under the INTEGER micro scores — the SHIPPED
    * model's encode semantics ([[Model.scoreMicros]] is the piece table
    * that crosses process boundaries, so the DP that consumers replay
    * runs on it directly). Pure Long arithmetic: the distributed encode,
    * the Verify sequential replay, and the generated DuckDB oracle
    * ([[graft.UnigramOracle]]) agree bit for bit by construction —
    * double-logp Viterbi would hang cross-engine equality on libm ULPs.
    * Tie-break matches [[viterbi]]: strict `>` scanning start positions
    * ascending keeps the FIRST maximizer (the longest-piece edge).
    * Returns Nil if unsegmentable.
    */
  def viterbiMicros(word: String, micros: Map[String, Long], maxLen: Int): Seq[String] = {
    val syms = symbols(word)
    val l = syms.length
    val NEG = Long.MinValue
    val best = Array.fill(l + 1)(NEG)
    val back = Array.fill(l + 1)(-1)
    val piece = Array.fill(l + 1)(null: String)
    best(0) = 0L
    var i = 0
    while (i < l) {
      if (best(i) != NEG) {
        var j = i + 1
        val jMax = math.min(l, i + maxLen)
        while (j <= jMax) {
          val p = syms.slice(i, j).mkString
          micros.get(p).foreach { m =>
            val s = best(i) + m
            if (best(j) == NEG || s > best(j)) { best(j) = s; back(j) = i; piece(j) = p }
          }
          j += 1
        }
      }
      i += 1
    }
    if (best(l) == NEG) Nil
    else {
      var at = l
      val out = scala.collection.mutable.ListBuffer.empty[String]
      while (at > 0) { out.prepend(piece(at)); at = back(at) }
      out.toList
    }
  }

  /** Per-executor memo of word → Viterbi token ids ([[Bpe]]'s
    * EncodeMemo discipline: Zipf fills the cache with the head of the
    * distribution; past the cap, tail words encode uncached). */
  private class ViterbiMemo(
      val micros: Map[String, Long],
      val maxLen: Int,
      val ids: Map[String, Int]) extends Serializable {
    @transient private lazy val cache =
      new java.util.concurrent.ConcurrentHashMap[String, Array[Int]]()
    private val cap = 1 << 17
    def encode(w: String): Array[Int] = {
      val hit = cache.get(w)
      if (hit != null) hit
      else {
        val enc = viterbiMicros(w, micros, maxLen) match {
          case Nil => Array(-1) // unsegmentable → one UNK
          case ps  => ps.iterator.map(p => ids.getOrElse(p, -1)).toArray
        }
        if (cache.size < cap) cache.put(w, enc)
        enc
      }
    }
  }

  /** Row-local Viterbi encode of a text column to token ids — map-only
    * and streaming-legal, the [[Bpe.encodeTokensCol]] twin. The model
    * rides the closure (≤ targetVocab pieces — KBs at production 32K).
    */
  def encodeTokensCol(
      text: org.apache.spark.sql.Column,
      model: Model): org.apache.spark.sql.Column = {
    val memo = new ViterbiMemo(model.scoreMicros.toMap, model.maxLen, vocabIds(model))
    val u = udf((toks: Seq[String]) => toks.flatMap(w => memo.encode(w)))
    u(TextRetrieval.tokensCol(text))
  }

  /** Corpus-scale Viterbi encode: (doc_id, token_ids, n_tokens). */
  def encodeCorpus(docs: DataFrame, model: Model): DataFrame =
    Scale.parallelismFloor(docs)
      .select(col("doc_id"), encodeTokensCol(col("text"), model).as("token_ids"))
      .withColumn("n_tokens", size(col("token_ids")).cast("long"))

  // --------------------------------------------------------- memoization

  private[graft] val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Model, Seq[Long])]()

  /** [[train]] memoized on the corpus fingerprint
    * ([[Layout.fingerprint]]) + parameters: registry queries, bench
    * iterations and the Verify gate share one training run per JVM.
    */
  def trainCached(
      docs: DataFrame,
      cacheKey: String,
      targetVocab: Int,
      seedSize: Int,
      maxPieceLen: Int = 4,
      emIters: Int = 2,
      shrink: Double = 0.75): (Model, Seq[Long]) = {
    val key = s"$cacheKey|${Bpe.docsFp(docs).key}|" +
      s"$targetVocab|$seedSize|$maxPieceLen|$emIters|$shrink"
    val out = modelCache.computeIfAbsent(key,
      _ => train(docs, targetVocab, seedSize, maxPieceLen, emIters, shrink))
    lastModel = Some(out._1)
    out
  }

  /** Most recent model trained via [[trainCached]] in this JVM — the
    * piece-table literals [[graft.SparkEntry.oracleSql]] embeds so the
    * DuckDB oracle can replay the micro-score Viterbi encode
    * ([[graft.UnigramOracle]]). Training itself is piece-for-piece
    * equality-gated against [[trainReference]] by the Verify main, so
    * oracle + gate together cover the whole operator (the
    * [[QualityModel.lastPortableWeights]] discipline).
    */
  @volatile var lastModel: Option[Model] = None
}
