package graft

import graft.operators.Ann

/** Generated DuckDB mirrors of the ANN family — the [[BpeOracle]] /
  * [[UnigramOracle]] discipline applied to approximate vector search,
  * turning the last rows-only block hash-green.
  *
  * Split of responsibilities (the quality-model pattern):
  *
  *  - TRAINING (Lloyd k-means for IVF cells and PQ codebooks, the OPQ
  *    Procrustes alternation) is data-dependent floating-point iteration
  *    whose centroid means fold in shuffle arrival order — no SQL engine
  *    replays that. It stays covered by the Verify main's hard gates
  *    (recall floors vs exact brute force, exact equality vs rebuilds)
  *    and AnnSpec's determinism/monotonicity pins.
  *  - The TRAINED STRUCTURES (centroids, codebooks, rotation) are
  *    embedded as literals, captured from the registry queries' own
  *    memoized training runs in this JVM (the fingerprint-keyed caches
  *    in [[graft.operators.Ann]] — [[capture]] hooks in the registry
  *    lambdas stash exactly what the queries probed with).
  *  - The PROBE SIDE is replayed move for move: signature bits, probe
  *    selection, cell assignment, PQ encode, ADC scoring, rerank and
  *    rank cut. Every accumulation is a double left fold in ascending
  *    index order on both engines (the [[graft.expressions]] kernels'
  *    documented IEEE op order), so raw doubles agree BIT FOR BIT and
  *    the 6-decimal round/floor on top can never straddle a boundary.
  *
  * The murmur LSH hyperplanes need no capture at all: `planeComp` is a
  * pure hash of (bit, dim), so the plane matrix is embedded directly and
  * the whole LSH tier (Hamming-ball probes, query-adaptive multiprobe,
  * their partitioned and join forms — spec-pinned identical, and the
  * recall rows) replays statically.
  *
  * Reference anchor: the ANN tier is the scale path for the reference's
  * vector-store probe (chroma_utils.py:237-263 — a Chroma collection
  * queried per request); these mirrors make the approximate probes as
  * hash-checked as the exact retrieval queries they accelerate.
  */
private[graft] object AnnOracle {

  // ------------------------------------------------------------ captures
  /** Structures the registry queries trained/probed with this JVM run —
    * stashed by the memoized trainers themselves UNDER the full memo key
    * they trained under (cold cache ⇒ entry omitted ⇒ the row degrades
    * to the rows-only check, like [[UnigramOracle]]). Each kind keeps a
    * MAP of every capture by full key, and [[sqlEntries]] embeds one
    * only when exactly ONE captured key carries the registry queries'
    * parameter suffix: a sibling training with different params leaves
    * the right capture selectable, while a SAME-param training on a
    * DIFFERENT corpus in the same JVM (a spec, or a second dataset
    * pass — the key's corpus fingerprint differs) makes the suffix
    * ambiguous and SUPPRESSES the mirror (rows-only fallback) instead
    * of risking the wrong structure — fail-safe in both directions
    * (r15 ADVICE: the old last-write-wins Option could embed the other
    * corpus's centroids and red a correct query). The `|opq` cacheKey
    * suffix is the registry's marker for the rotated-corpus IVF build
    * (`ann_ivfpq_opq_topk`).
    */
  final class Capture[T] {
    private val byKey = new java.util.concurrent.ConcurrentHashMap[String, T]()
    def put(key: String, v: T): Unit = { byKey.put(key, v); () }
    /** The unique capture whose full memo key ends with `suffix`; None
      * when absent or VALUE-ambiguous. Two distinct full keys sharing the
      * suffix are only ambiguous when their captured structures actually
      * DIFFER (r16 ADVICE: the same corpus trained under two spellings of
      * the same cacheKey/dir used to silently degrade its mirrors to
      * rows-only) — value-identical hits are one structure under two
      * names and stay embeddable. Arrays need deep comparison, hence
      * [[canon]]. Genuine suppression is logged so the rows-only fallback
      * is visible in the run output instead of silent.
      */
    def unique(suffix: String): Option[T] = {
      import scala.jdk.CollectionConverters._
      val hits = byKey.asScala.filter(_._1.endsWith(suffix)).values.toSeq
      if (hits.isEmpty) None
      else if (hits.map(canon).distinct.size == 1) Some(hits.head)
      else {
        System.err.println(
          s"AnnOracle: ${hits.size} distinct captures share suffix '$suffix'" +
            " with differing values - mirror suppressed (rows-only check)")
        None
      }
    }
    /** Structural canonical form: arrays (no structural ==) to Seqs,
      * recursively, so deep-equal captures compare equal.
      */
    private def canon(v: Any): Any = v match {
      case a: Array[_]  => a.toSeq.map(canon)
      case s: Seq[_]    => s.map(canon)
      case m: Map[_, _] => m.map { case (k, x) => (k, canon(x)) }
      case x            => x
    }
    // test hooks: snapshot/restore the whole store around a scenario
    def snapshot(): Map[String, T] = {
      import scala.jdk.CollectionConverters._
      byKey.asScala.toMap
    }
    def restore(m: Map[String, T]): Unit = {
      byKey.clear(); m.foreach { case (k, v) => byKey.put(k, v) }
    }
  }

  val mainCentroids = new Capture[Array[Array[Float]]]
  val globalBooks = new Capture[Seq[Seq[Seq[Double]]]]
  val residualBooks = new Capture[Seq[Seq[Seq[Double]]]]
  val localBooks = new Capture[Map[Int, Seq[Seq[Seq[Double]]]]]
  val opqRotation = new Capture[Array[Array[Float]]]
  val opqBooks = new Capture[Seq[Seq[Seq[Double]]]]
  val opqCentroids = new Capture[Array[Array[Float]]]

  private[graft] def captureCentroids(
      memoKey: String, c: Array[Array[Float]]): Unit =
    if (memoKey.contains("|opq|")) opqCentroids.put(memoKey, c)
    else mainCentroids.put(memoKey, c)

  /** The registry ANN queries' parameter tails of the memo keys (see the
    * key formats in [[graft.operators.Ann]]): a capture only feeds a
    * mirror when it trained under exactly these.
    */
  private val IVF_SUFFIX = "|8|3"              // nCells=8, maxIter=3
  private val BOOKS_SUFFIX = "|8|8|16|5"       // m, dsub, kStar, maxIter
  private val LOPQ_SUFFIX = "|8|8|16|5|2000"   // + maxPerCell
  private val OPQ_SUFFIX = "|8|8|16|8|8"       // m, dsub, kStar, opqIters, lloydIters

  private val DIM = 64
  private val N_BITS = 8

  // ------------------------------------------------------- SQL fragments
  /** Shortest-roundtrip double literal (Double.toString round-trips; the
    * embedded value parses back to the identical IEEE double).
    */
  private def d(x: Double): String = {
    val s = x.toString
    if (s == "-0.0") "0.0" else s
  }

  private def dlist(xs: Seq[Double]): String =
    xs.map(d).mkString("[", ", ", "]")

  /** Double left fold Σ f(v) for v in 0 until n, seeded at 0.0 — the SQL
    * twin of every `while (i < n) { acc += …; i += 1 }` accumulator.
    * `f` references the 0-based index by the lambda var name `v`
    * (parameterized so nested folds don't capture each other's index).
    */
  private def fold(n: Int, f: String, v: String = "i"): String =
    s"list_reduce(list_prepend(0.0, list_transform(range($n), $v -> $f)), (acc, x) -> acc + x)"

  /** Cosine of two array<float> columns, the t4_knn_cosine mirror of
    * [[graft.expressions.CosineSimilarity]]: three independent double
    * left folds (dot, ‖a‖², ‖b‖²) in ascending dim order.
    */
  private def cosine(a: String, b: String): String =
    s"""(${fold(DIM, s"CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)")}
       |      / (sqrt(${fold(DIM, s"CAST($a[i+1] AS DOUBLE) * CAST($a[i+1] AS DOUBLE)")})
       |       * sqrt(${fold(DIM, s"CAST($b[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)")})))""".stripMargin

  /** The murmur hyperplane matrix as literal rows (b, pv DOUBLE[DIM]) —
    * [[Ann.planeComp]] widened to double (exact).
    */
  private def planesValues: String =
    (0 until N_BITS).map { b =>
      s"($b, ${dlist((0 until DIM).map(i => Ann.planeComp(b, i).toDouble))})"
    }.mkString(",\n    ")

  /** Per-vector murmur signature CTEs over a source relation `rel`
    * (vec_id, embedding): `dots` (vec_id, b, dot) then `sigs`
    * (vec_id, embedding, sig). The dot is the [[Ann.signature]] loop —
    * one double left fold per plane. The per-dim product there is
    * `Float * Float` (single precision, widened AFTER rounding), so the
    * mirror casts the exact double product back to REAL first: both
    * operands are floats, their exact product fits a double, and
    * round-to-REAL of that is the IEEE float product bit for bit.
    */
  private def sigCtes: String =
    s"""planes(b, pv) AS (VALUES
       |    $planesValues),
       |dots AS MATERIALIZED (
       |  SELECT e.vec_id, p.b,
       |    ${fold(DIM, "CAST(CAST(e.embedding[i+1] AS DOUBLE) * p.pv[i+1] AS REAL)")} AS dot
       |  FROM embeddings e, planes p),
       |sigs AS MATERIALIZED (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << CAST(b AS INT)
       |             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
       |  FROM dots GROUP BY vec_id)""".stripMargin

  /** Shared tail: candidates (query_id, vec_id pairs with both
    * embeddings joined in) → raw cosine → rank on the RAW double
    * (desc, vec_id asc) → cut at k → floor at 6 dp, ordered like the
    * registry's `.orderBy("query_id", "rank")`. Floor, not round:
    * Spark's round() goes through the shortest-decimal string while
    * DuckDB rounds the binary double — the divergence class
    * `TextAnalysis.floorScale` exists to avoid (and the registry
    * queries floorScale to match).
    */
  private def cosineRankTail(candCte: String, k: Int): String =
    s"""cand AS (
       |  $candCte),
       |scored AS (
       |  SELECT c.query_id, c.vec_id,
       |    ${cosine("c.qe", "c.embedding")} AS sim
       |  FROM cand c),
       |ranked AS (
       |  SELECT query_id, vec_id, sim,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, floor(sim * 1000000) / 1000000 AS sim
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** `ann_lsh_topk` / `ann_lsh_join` / `ann_lsh_probe1` /
    * `ann_lsh_partitioned` mirrors: murmur signatures, the
    * Hamming-≤probeBits probe ball as a `bit_count(xor(...)) <= probeBits`
    * bucket join (the probe SET of [[Ann.probeSignatures]] is exactly
    * that ball), exact cosine rerank. The join and partitioned forms
    * replay identically: broadcast-vs-layout probing is a physical
    * choice, the probe ball and scoring are shared code on the Spark side.
    */
  def lshTopKSql(nq: Int = 5, k: Int = 2, probeBits: Int = 2): String =
    s"""WITH
       |$sigCtes,
       |q AS (
       |  SELECT s.vec_id AS query_id, e.embedding AS qe, s.sig
       |  FROM sigs s JOIN embeddings e USING (vec_id) WHERE s.vec_id < $nq),
       |${cosineRankTail(
        s"""SELECT q.query_id, q.qe, s.vec_id, e.embedding
          |  FROM q JOIN sigs s ON bit_count(xor(q.sig, s.sig)) <= $probeBits
          |  JOIN embeddings e ON e.vec_id = s.vec_id""".stripMargin, k)}""".stripMargin

  /** `ann_lsh_multiprobe` (and its spec-pinned-identical partitioned
    * twin, and — at nq=50/k=5 — the `ann_lsh_join_adaptive` JOIN form,
    * which shares the probe set and scoring as shared Spark code): the
    * query-adaptive probe order of [[Ann.adaptiveProbes]] replayed —
    * bits sorted by |dot| ascending (stable ⇒ bit-index tiebreak), all
    * 2^8 flip masks scored by the ordered left-fold sum of flipped
    * |dots| (+0.0 for unset slots — exact identity), `nProbes` cheapest
    * kept by (score, mask) exactly like the stable `sortBy`, then the
    * same bucket join + cosine rerank at `k`.
    */
  def lshMultiprobeSql(nq: Int = 5, k: Int = 2, nProbes: Int = 16): String =
    s"""WITH
       |$sigCtes,
       |qsig AS (
       |  SELECT s.vec_id AS query_id, e.embedding AS qe, s.sig
       |  FROM sigs s JOIN embeddings e USING (vec_id) WHERE s.vec_id < $nq),
       |ord AS (
       |  SELECT vec_id AS query_id, b, abs(dot) AS ad,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY abs(dot), b) - 1 AS j
       |  FROM dots WHERE vec_id < $nq),
       |ords AS MATERIALIZED (
       |  SELECT query_id, list(ad ORDER BY j) AS ads, list(b ORDER BY j) AS bs
       |  FROM ord GROUP BY query_id),
       |probes AS MATERIALIZED (
       |  SELECT query_id, psig FROM (
       |    SELECT query_id, psig,
       |      row_number() OVER (PARTITION BY query_id ORDER BY score, mask) AS pr
       |    FROM (
       |      SELECT o.query_id, m.mask,
       |        list_reduce(list_prepend(0.0, list_transform(range($N_BITS),
       |          j -> CASE WHEN (m.mask >> j) & 1 = 1 THEN o.ads[j+1] ELSE 0.0 END)),
       |          (acc, v) -> acc + v) AS score,
       |        xor(q.sig, CAST(list_sum(list_transform(range($N_BITS),
       |          j -> CASE WHEN (m.mask >> j) & 1 = 1
       |               THEN CAST(1 AS BIGINT) << CAST(o.bs[j+1] AS INT)
       |               ELSE CAST(0 AS BIGINT) END)) AS BIGINT)) AS psig
       |      FROM ords o
       |      JOIN qsig q USING (query_id)
       |      CROSS JOIN (SELECT unnest(range(${1 << N_BITS})) AS mask) m))
       |  WHERE pr <= $nProbes),
       |${cosineRankTail(
        """SELECT p.query_id, q.qe, s.vec_id, e.embedding
          |  FROM probes p
          |  JOIN qsig q USING (query_id)
          |  JOIN sigs s ON s.sig = p.psig
          |  JOIN embeddings e ON e.vec_id = s.vec_id""".stripMargin, k)}""".stripMargin

  /** `ann_recall` / `ann_recall_murmur` mirror: recall@10 of the murmur
    * Hamming-ball tier ([[Ann.lshTopK]] at `probeBits`, raw-sim rank)
    * against the exact brute-force top-10, per query plus the macro mean
    * (query_id = -1). The +1e-9 pre-floor on the macro mean absorbs
    * ulp-order differences in the 5-row average (the RetrievalEval
    * convention).
    */
  def lshRecallSql(probeBits: Int): String =
    s"""WITH
       |$sigCtes,
       |q AS (
       |  SELECT s.vec_id AS query_id, e.embedding AS qe, s.sig
       |  FROM sigs s JOIN embeddings e USING (vec_id) WHERE s.vec_id < 5),
       |cand AS (
       |  SELECT q.query_id, s.vec_id,
       |    ${cosine("q.qe", "e.embedding")} AS sim
       |  FROM q JOIN sigs s ON bit_count(xor(q.sig, s.sig)) <= $probeBits
       |  JOIN embeddings e ON e.vec_id = s.vec_id),
       |ar AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
       |    FROM cand) t WHERE rank <= 10),
       |scored AS (
       |  SELECT q.query_id, e.vec_id,
       |    ${cosine("q.qe", "e.embedding")} AS sim
       |  FROM q CROSS JOIN embeddings e),
       |bq AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
       |    FROM scored) t WHERE rank <= 10),
       |inter AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_hit
       |  FROM ar JOIN bq USING (query_id, vec_id) GROUP BY 1),
       |per AS (
       |  SELECT q.query_id, coalesce(i.n_hit, 0) AS n_hit,
       |    floor(coalesce(i.n_hit, 0) / 10.0 * 1000000) / 1000000 AS recall_at_k
       |  FROM q LEFT JOIN inter i ON q.query_id = i.query_id)
       |SELECT query_id, n_hit, recall_at_k FROM per
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT) AS query_id, CAST(sum(n_hit) AS BIGINT) AS n_hit,
       |  floor((avg(recall_at_k) + 1e-9) * 1000000) / 1000000 AS recall_at_k
       |FROM per
       |ORDER BY query_id""".stripMargin

  // --------------------------------------------------- trained-tier CTEs
  private val DSUB = 8

  /** Literal rows (c, cv DOUBLE[DIM]) of an IVF centroid set (floats
    * widened exactly).
    */
  private def centsValues(cents: Array[Array[Float]]): String =
    cents.zipWithIndex.map { case (cv, c) =>
      s"($c, ${dlist(cv.toSeq.map(_.toDouble))})"
    }.mkString(",\n    ")

  /** Literal rows (s, code, bv DOUBLE[DSUB]) of a global PQ codebook set. */
  private def booksValues(books: Seq[Seq[Seq[Double]]]): String =
    books.zipWithIndex.flatMap { case (cents, s) =>
      cents.zipWithIndex.map { case (bv, code) => s"($s, $code, ${dlist(bv)})" }
    }.mkString(",\n    ")

  /** Cosine-to-centroid sims + cell argmax over a (vec_id, embedding)
    * relation `src` — the [[Ann.assignCells]] replay: dot/na/nb are three
    * double left folds, zero denominator → 0.0, strict `>` keeps the
    * FIRST (lowest-c) maximizer ⇒ ORDER BY sim DESC, c.
    */
  private def cellCtes(src: String): String =
    s"""csim AS MATERIALIZED (
       |  SELECT vec_id, c,
       |    CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0.0
       |         ELSE dot / (sqrt(na) * sqrt(nb)) END AS sim
       |  FROM (
       |    SELECT e.vec_id, t.c,
       |      ${fold(DIM, "CAST(e.embedding[i+1] AS DOUBLE) * t.cv[i+1]")} AS dot,
       |      ${fold(DIM, "CAST(e.embedding[i+1] AS DOUBLE) * CAST(e.embedding[i+1] AS DOUBLE)")} AS na,
       |      ${fold(DIM, "t.cv[i+1] * t.cv[i+1]")} AS nb
       |    FROM $src e, cents t)),
       |asg AS MATERIALIZED (
       |  SELECT vec_id, c AS cell FROM (
       |    SELECT vec_id, c,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c) AS rn
       |    FROM csim) WHERE rn = 1)""".stripMargin

  /** The `nProbe` nearest cells of each query vector (vec_id < nq) —
    * the [[Ann.nearestCells]] replay over the same `csim` rows.
    */
  private def probeCte(nq: Int, nProbe: Int): String =
    s"""probes AS MATERIALIZED (
       |  SELECT vec_id AS query_id, c AS cell FROM (
       |    SELECT vec_id, c,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c) AS rn
       |    FROM csim WHERE vec_id < $nq) WHERE rn <= $nProbe)""".stripMargin

  /** The per-dim PQ squared-distance term of [[Ann.pqEncode]] /
    * [[Ann.adcLut]]: per-dim float→double cast, subtract, square (the
    * surrounding [[fold]] is the left-fold sum).
    */
  private val pqSq =
    s"(CAST(e.embedding[b.s * $DSUB + i + 1] AS DOUBLE) - b.bv[i+1])"

  /** Per-(vector, subspace, code) squared distance + argmin codes over a
    * (vec_id, embedding) relation — the [[Ann.pqEncode]] /
    * [[Ann.adcLut]] shared arithmetic (one CTE serves encode AND query
    * LUTs); ties to the lowest code. `booksJoin` renders the codebook
    * relation (global literal books by default; LOPQ joins on the cell).
    */
  private def codeCtes(src: String, booksJoin: String = ", books b"): String =
    s"""cdist AS MATERIALIZED (
       |  SELECT e.vec_id, b.s, b.code,
       |    ${fold(DSUB, s"$pqSq * $pqSq")} AS dist
       |  FROM $src e $booksJoin),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
       |    FROM cdist) WHERE rn = 1)""".stripMargin

  /** ADC distances (query_id, vec_id, adc_dist): corpus codes joined to
    * the query-side distance rows on (s, code), folded in ascending
    * subspace order (exactly [[Ann.adcFromLut]]'s left-to-right sum),
    * floored at 6 dp. `extraJoins`/`extraPred` restrict candidates (cell
    * probes, tombstones); self-matches are excluded like every ADC path.
    */
  private def adcCte(
      nq: Int, extraJoins: String = "", extraPred: String = ""): String =
    s"""adc AS (
       |  SELECT qd.vec_id AS query_id, c.vec_id AS vec_id,
       |    floor(list_reduce(list_prepend(0.0, list(qd.dist ORDER BY qd.s)),
       |      (a, b) -> a + b) * 1000000) / 1000000 AS adc_dist
       |  FROM codes c
       |  $extraJoins
       |  JOIN cdist qd ON qd.s = c.s AND qd.code = c.code
       |    AND qd.vec_id < $nq AND qd.vec_id <> c.vec_id$extraPred
       |  GROUP BY qd.vec_id, c.vec_id)""".stripMargin

  /** Probed-ADC candidate restriction: candidate's cell ∈ the query's
    * probe set.
    */
  private val probedJoins =
    """JOIN asg a ON a.vec_id = c.vec_id
      |  JOIN probes p ON p.cell = a.cell""".stripMargin
  private val probedPred = " AND p.query_id = qd.vec_id"

  /** Rank + cut + output for ADC queries (ORDER BY floored dist, vec_id —
    * the engine-stable cut every ADC path uses).
    */
  private def adcTail(k: Int): String =
    s"""SELECT query_id, rank, vec_id, adc_dist FROM (
       |  SELECT query_id, vec_id, adc_dist,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY adc_dist, vec_id) AS INT) AS rank
       |  FROM adc) WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Exact euclidean rerank tail ([[Ann.exactEuclideanRerank]] replay):
    * coarse = ADC top-(k·overfetch), then floored float-euclidean d2 over
    * the ORIGINAL embeddings with (d2, vec_id) ranking.
    */
  private def rerankTail(k: Int, overfetch: Int): String = {
    val diff = "(CAST(q.embedding[i+1] AS DOUBLE) - CAST(e.embedding[i+1] AS DOUBLE))"
    s"""coarse AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (
       |        PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rn
       |    FROM adc) WHERE rn <= ${k * overfetch}),
       |rr AS (
       |  SELECT co.query_id, co.vec_id,
       |    floor(${fold(DIM, s"$diff * $diff")} * 1000000) / 1000000 AS d2
       |  FROM coarse co
       |  JOIN embeddings q ON q.vec_id = co.query_id
       |  JOIN embeddings e ON e.vec_id = co.vec_id)
       |SELECT query_id, rank, vec_id, d2 FROM (
       |  SELECT query_id, vec_id, d2,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY d2, vec_id) AS INT) AS rank
       |  FROM rr) WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** `ann_ivf_topk` / `ann_ivf_join` mirrors: trained centroids as
    * literals, cell argmax, `nProbe`-cell probes for the first `nq`
    * vectors, exact cosine rerank at `k` (self included — the IVF probe
    * does not exclude the query row). The join form replays identically:
    * distributed-vs-driver-side probing is a physical layout choice, the
    * probe set and scoring are shared code on the Spark side.
    */
  private def ivfTopKSql(
      cents: Array[Array[Float]], nq: Int, k: Int, nProbe: Int): String =
    s"""WITH cents(c, cv) AS (VALUES
       |    ${centsValues(cents)}),
       |${cellCtes("embeddings")},
       |${probeCte(nq, nProbe)},
       |${cosineRankTail(
        """SELECT p.query_id, qe.embedding AS qe, a.vec_id, e.embedding
          |  FROM probes p
          |  JOIN embeddings qe ON qe.vec_id = p.query_id
          |  JOIN asg a ON a.cell = p.cell
          |  JOIN embeddings e ON e.vec_id = a.vec_id""".stripMargin, k)}""".stripMargin

  /** The QUERY-ADAPTIVE probe set of [[Ann.ivfJoinAdaptive]] — the
    * kernel's best-first emission with the distance-ratio cut replayed
    * as rank + predicate (the cut is monotone along the probe order, so
    * "break at the first miss" ≡ "keep every rank passing the
    * predicate"): rank by (sim DESC, c), keep rn = 1 unconditionally
    * (the kernel never cuts the first probe), then rn ≤ nProbeMax while
    * `1 − sim ≤ ratio · (1 − s₁)` over the SAME csim doubles — both
    * engines compute the identical IEEE comparison, so boundary cells
    * cannot flip.
    */
  private def probeCteAdaptive(nq: Int, nProbeMax: Int, ratio: Double): String =
    s"""probes AS MATERIALIZED (
       |  SELECT vec_id AS query_id, c AS cell FROM (
       |    SELECT vec_id, c, sim,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c) AS rn,
       |      max(sim) OVER (PARTITION BY vec_id) AS s1
       |    FROM csim WHERE vec_id < $nq)
       |  WHERE rn <= $nProbeMax
       |    AND (rn = 1 OR (1.0 - sim) <= $ratio * (1.0 - s1)))""".stripMargin

  /** `ann_ivf_join_adaptive` mirror: [[ivfTopKSql]] with the adaptive
    * probe CTE; constants from [[Ann.IvfJoinAdaptiveProbeMax]] /
    * [[Ann.IvfJoinAdaptiveRatio]] — shared with the SparkEntry
    * registration and the Verify gate.
    */
  private def ivfTopKAdaptiveSql(
      cents: Array[Array[Float]], nq: Int, k: Int): String =
    s"""WITH cents(c, cv) AS (VALUES
       |    ${centsValues(cents)}),
       |${cellCtes("embeddings")},
       |${probeCteAdaptive(nq, Ann.IvfJoinAdaptiveProbeMax, Ann.IvfJoinAdaptiveRatio)},
       |${cosineRankTail(
        """SELECT p.query_id, qe.embedding AS qe, a.vec_id, e.embedding
          |  FROM probes p
          |  JOIN embeddings qe ON qe.vec_id = p.query_id
          |  JOIN asg a ON a.cell = p.cell
          |  JOIN embeddings e ON e.vec_id = a.vec_id""".stripMargin, k)}""".stripMargin

  /** `ann_rule_topk` mirror: the optimizer-rule rewrite probes vec 0's 5
    * nearest cells of the SAME registered layout (exact cosine, no PQ),
    * top-K ordered on the RAW double then floored for output.
    */
  private def ruleTopKSql(cents: Array[Array[Float]]): String =
    s"""WITH cents(c, cv) AS (VALUES
       |    ${centsValues(cents)}),
       |${cellCtes("embeddings")},
       |${probeCte(1, 5)},
       |scored AS (
       |  SELECT a.vec_id,
       |    ${cosine("qe.embedding", "e.embedding")} AS sim
       |  FROM probes p
       |  JOIN embeddings qe ON qe.vec_id = p.query_id
       |  JOIN asg a ON a.cell = p.cell
       |  JOIN embeddings e ON e.vec_id = a.vec_id),
       |sel AS (
       |  SELECT vec_id, sim,
       |    row_number() OVER (ORDER BY sim DESC, vec_id) AS rn
       |  FROM scored)
       |SELECT vec_id, floor(sim * 1000000) / 1000000 AS sim
       |FROM sel WHERE rn <= ${graft.plans.AnnRulePoints.K} ORDER BY rn""".stripMargin

  /** `ann_rule_ivfpq` mirror: the optimizer rule's QUANTIZED tier —
    * ADC coarse over vec 0's 7 probed cells of the IVF-PQ layout (no
    * self-exclusion: the naive top-k the rule rewrites keeps the query
    * row), floored-dist + vec_id cut at k·overfetch = 704, then the
    * preserved projection's exact cosine reranks the candidates
    * (raw-double ORDER, floored output) — exactly the semi-join plan
    * the rewrite builds. nProbe / the k·overfetch cut / the final k
    * derive from [[graft.plans.AnnRulePoints]] — the same constants
    * the SparkEntry registration and the Verify gate read, so the
    * three can no longer drift apart (r17 ADVICE #4).
    */
  private def rulePqTopKSql(
      cents: Array[Array[Float]], books: Seq[Seq[Seq[Double]]]): String = {
    import graft.plans.AnnRulePoints.{K, PqNProbe, PqOverfetch}
    s"""WITH cents(c, cv) AS (VALUES
       |    ${centsValues(cents)}),
       |books(s, code, bv) AS (VALUES
       |    ${booksValues(books)}),
       |${cellCtes("embeddings")},
       |${probeCte(1, PqNProbe)},
       |${codeCtes("embeddings")},
       |adc AS (
       |  SELECT c.vec_id,
       |    floor(list_reduce(list_prepend(0.0, list(qd.dist ORDER BY qd.s)),
       |      (a2, b2) -> a2 + b2) * 1000000) / 1000000 AS adc_dist
       |  FROM codes c
       |  JOIN asg a ON a.vec_id = c.vec_id
       |  JOIN probes p ON p.cell = a.cell
       |  JOIN cdist qd ON qd.s = c.s AND qd.code = c.code AND qd.vec_id = 0
       |  GROUP BY c.vec_id),
       |coarse AS (
       |  SELECT vec_id FROM (
       |    SELECT vec_id, row_number() OVER (ORDER BY adc_dist, vec_id) AS rn
       |    FROM adc) WHERE rn <= ${K * PqOverfetch}),
       |scored AS (
       |  SELECT e.vec_id,
       |    ${cosine("qe.embedding", "e.embedding")} AS sim
       |  FROM coarse co
       |  JOIN embeddings e ON e.vec_id = co.vec_id
       |  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qe),
       |sel AS (
       |  SELECT vec_id, sim,
       |    row_number() OVER (ORDER BY sim DESC, vec_id) AS rn
       |  FROM scored)
       |SELECT vec_id, floor(sim * 1000000) / 1000000 AS sim
       |FROM sel WHERE rn <= $K ORDER BY rn""".stripMargin
  }

  /** `ann_rule_ivfpq_residual` mirror: the rule's RESIDUAL (IVFADC)
    * tier — corpus codes from the residual frame (the shared
    * [[codeCtes]] over `rres`), query LUT rows per probed cell from
    * vec 0's residual (the shared `qlut` arithmetic), NO self-exclusion
    * (the naive top-k the rule rewrites keeps the query row), coarse
    * cut at K·overfetch on the floored residual-ADC distance, then the
    * preserved projection's exact cosine rerank. Constants from
    * [[graft.plans.AnnRulePoints]] like the plain-PQ mirror.
    */
  private def rulePqResidualTopKSql(
      cents: Array[Array[Float]], books: Seq[Seq[Seq[Double]]]): String = {
    import graft.plans.AnnRulePoints.{K, PqResNProbe, PqResOverfetch}
    s"""WITH cents(c, cv) AS (VALUES
       |    ${centsValues(cents)}),
       |books(s, code, bv) AS (VALUES
       |    ${booksValues(books)}),
       |${cellCtes("embeddings")},
       |${probeCte(1, PqResNProbe)},
       |$residualCtes,
       |${codeCtes("rres")},
       |qlut AS MATERIALIZED (
       |  SELECT e.query_id, e.cell, b.s, b.code,
       |    ${fold(DSUB, s"$pqSq * $pqSq")} AS dist
       |  FROM qres e, books b),
       |adc AS (
       |  SELECT c.vec_id,
       |    floor(list_reduce(list_prepend(0.0, list(l.dist ORDER BY l.s)),
       |      (a2, b2) -> a2 + b2) * 1000000) / 1000000 AS adc_dist
       |  FROM codes c
       |  JOIN asg a ON a.vec_id = c.vec_id
       |  JOIN qlut l ON l.cell = a.cell AND l.s = c.s AND l.code = c.code
       |  GROUP BY c.vec_id),
       |coarse AS (
       |  SELECT vec_id FROM (
       |    SELECT vec_id, row_number() OVER (ORDER BY adc_dist, vec_id) AS rn
       |    FROM adc) WHERE rn <= ${K * PqResOverfetch}),
       |scored AS (
       |  SELECT e.vec_id,
       |    ${cosine("qe.embedding", "e.embedding")} AS sim
       |  FROM coarse co
       |  JOIN embeddings e ON e.vec_id = co.vec_id
       |  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qe),
       |sel AS (
       |  SELECT vec_id, sim,
       |    row_number() OVER (ORDER BY sim DESC, vec_id) AS rn
       |  FROM scored)
       |SELECT vec_id, floor(sim * 1000000) / 1000000 AS sim
       |FROM sel WHERE rn <= $K ORDER BY rn""".stripMargin
  }

  /** `ann_pq_trained_topk` mirror: nProbe = nCells means the layout scan
    * reads every cell — spec-pinned identical to the FLAT trained-book
    * ADC scan, which is what replays here (trained books as literals).
    */
  private def pqTrainedSql(books: Seq[Seq[Seq[Double]]]): String =
    s"""WITH books(s, code, bv) AS (VALUES
       |    ${booksValues(books)}),
       |${codeCtes("embeddings")},
       |${adcCte(3)}
       |${adcTail(10)}""".stripMargin

  /** `ann_ivfpq_topk` / `ann_ivfpq_join` / `ann_ivfpq_incremental`
    * mirrors: trained centroids + books, probed-cell ADC. The
    * incremental variant's versioned root equals (corpus − tombstones)
    * under the same index — `exclude` carries the tombstoned ids.
    */
  private def ivfPqSql(
      cents: Array[Array[Float]],
      books: Seq[Seq[Seq[Double]]],
      nq: Int,
      k: Int,
      nProbe: Int,
      exclude: Seq[Long] = Nil,
      adaptive: Boolean = false): String = {
    val excl =
      if (exclude.isEmpty) ""
      else s" AND c.vec_id NOT IN (${exclude.mkString(", ")})"
    val probes =
      if (adaptive)
        probeCteAdaptive(nq, Ann.IvfJoinAdaptiveProbeMax, Ann.IvfJoinAdaptiveRatio)
      else probeCte(nq, nProbe)
    s"""WITH cents(c, cv) AS (VALUES
       |    ${centsValues(cents)}),
       |books(s, code, bv) AS (VALUES
       |    ${booksValues(books)}),
       |${cellCtes("embeddings")},
       |$probes,
       |${codeCtes("embeddings")},
       |${adcCte(nq, probedJoins, probedPred + excl)}
       |${adcTail(k)}""".stripMargin
  }

  /** `ann_ivfpq_rerank` mirror: probed ADC over-fetch → exact euclidean
    * rerank of the candidates.
    */
  private def ivfPqRerankSql(
      cents: Array[Array[Float]], books: Seq[Seq[Seq[Double]]]): String =
    s"""WITH cents(c, cv) AS (VALUES
       |    ${centsValues(cents)}),
       |books(s, code, bv) AS (VALUES
       |    ${booksValues(books)}),
       |${cellCtes("embeddings")},
       |${probeCte(3, 3)},
       |${codeCtes("embeddings")},
       |${adcCte(3, probedJoins, probedPred)},
       |${rerankTail(10, 4)}""".stripMargin

  /** Residual frames: each vector's FLOAT residual to its cell centroid
    * ([[Ann.residualCol]] subtracts floats; the exact difference of two
    * floats fits a double, so double-subtract-then-cast-REAL equals JVM
    * float subtraction bit for bit). Query residuals are per (query,
    * probed cell).
    */
  private def residualCtes: String =
    s"""rres AS MATERIALIZED (
       |  SELECT a.vec_id, a.cell,
       |    list_transform(range($DIM),
       |      j -> CAST(CAST(e.embedding[j+1] AS DOUBLE) - t.cv[j+1] AS REAL)) AS embedding
       |  FROM asg a
       |  JOIN embeddings e USING (vec_id)
       |  JOIN cents t ON t.c = a.cell),
       |qres AS MATERIALIZED (
       |  SELECT p.query_id, p.cell,
       |    list_transform(range($DIM),
       |      j -> CAST(CAST(e.embedding[j+1] AS DOUBLE) - t.cv[j+1] AS REAL)) AS embedding
       |  FROM probes p
       |  JOIN embeddings e ON e.vec_id = p.query_id
       |  JOIN cents t ON t.c = p.cell)""".stripMargin

  /** Residual/local ADC: corpus codes from residuals (the shared
    * [[codeCtes]] over `rres`), query LUT rows per (query, probed cell)
    * from the query residual, joined on the candidate's cell —
    * [[Ann.ivfPqResidualTopK]] / [[Ann.ivfPqLocalTopK]]. `booksJoin`
    * renders the codebook relation: the global residual books ignore the
    * cell; LOPQ books join on it.
    */
  private def residualAdcCtes(booksJoin: String): String =
    s"""${codeCtes("rres", booksJoin)},
       |qlut AS MATERIALIZED (
       |  SELECT e.query_id, e.cell, b.s, b.code,
       |    ${fold(DSUB, s"$pqSq * $pqSq")} AS dist
       |  FROM qres e $booksJoin),
       |adc AS (
       |  SELECT l.query_id, c.vec_id,
       |    floor(list_reduce(list_prepend(0.0, list(l.dist ORDER BY l.s)),
       |      (a2, b2) -> a2 + b2) * 1000000) / 1000000 AS adc_dist
       |  FROM codes c
       |  JOIN asg a ON a.vec_id = c.vec_id
       |  JOIN qlut l ON l.cell = a.cell AND l.s = c.s AND l.code = c.code
       |    AND l.query_id <> c.vec_id
       |  GROUP BY l.query_id, c.vec_id)""".stripMargin

  private def residualSql(
      cents: Array[Array[Float]],
      books: Seq[Seq[Seq[Double]]],
      rerank: Boolean): String = {
    val core =
      s"""WITH cents(c, cv) AS (VALUES
         |    ${centsValues(cents)}),
         |books(s, code, bv) AS (VALUES
         |    ${booksValues(books)}),
         |${cellCtes("embeddings")},
         |${probeCte(3, 3)},
         |$residualCtes,
         |${residualAdcCtes(", books b")}""".stripMargin
    if (rerank) s"$core,\n${rerankTail(10, 4)}" else s"$core\n${adcTail(10)}"
  }

  /** LOPQ literal rows (cell, s, code, bv) in cell order. */
  private def localBooksValues(lb: Map[Int, Seq[Seq[Seq[Double]]]]): String =
    lb.toSeq.sortBy(_._1).flatMap { case (cell, books) =>
      books.zipWithIndex.flatMap { case (cents, s) =>
        cents.zipWithIndex.map { case (bv, code) =>
          s"($cell, $s, $code, ${dlist(bv)})"
        }
      }
    }.mkString(",\n    ")

  private def localSql(
      cents: Array[Array[Float]],
      lb: Map[Int, Seq[Seq[Seq[Double]]]],
      rerank: Boolean): String = {
    val core =
      s"""WITH cents(c, cv) AS (VALUES
         |    ${centsValues(cents)}),
         |lbooks(cell, s, code, bv) AS (VALUES
         |    ${localBooksValues(lb)}),
         |${cellCtes("embeddings")},
         |${probeCte(3, 3)},
         |$residualCtes,
         |${residualAdcCtes("JOIN lbooks b ON b.cell = e.cell")}""".stripMargin
    if (rerank) s"$core,\n${rerankTail(10, 4)}" else s"$core\n${adcTail(10)}"
  }

  /** The OPQ-rotated corpus as a relation (vec_id, embedding REAL[DIM]):
    * y_i = Σ_j R(i)(j)·x(j), double left fold per output dim, cast back
    * to float exactly like [[Ann.rotated]]'s `acc.toFloat`.
    */
  private def roteCtes(rot: Array[Array[Float]]): String = {
    val rotValues = rot.zipWithIndex.map { case (rv, i) =>
      s"($i, ${dlist(rv.toSeq.map(_.toDouble))})"
    }.mkString(",\n    ")
    s"""rot(i, rv) AS (VALUES
       |    $rotValues),
       |rotd AS (
       |  SELECT e.vec_id, r.i AS oi,
       |    CAST(${fold(DIM, "r.rv[j+1] * CAST(e.embedding[j+1] AS DOUBLE)", "j")} AS REAL) AS x
       |  FROM embeddings e, rot r),
       |rote AS MATERIALIZED (
       |  SELECT vec_id, list(x ORDER BY oi) AS embedding FROM rotd GROUP BY vec_id)""".stripMargin
  }

  /** `ann_opq_adc_topk` mirror: rotate, then the flat trained-book ADC. */
  private def opqFlatSql(
      rot: Array[Array[Float]], books: Seq[Seq[Seq[Double]]]): String =
    s"""WITH ${roteCtes(rot)},
       |books(s, code, bv) AS (VALUES
       |    ${booksValues(books)}),
       |${codeCtes("rote")},
       |${adcCte(3)}
       |${adcTail(10)}""".stripMargin

  /** `ann_ivfpq_opq_topk` mirror: rotate, IVF cells trained on the
    * rotated corpus, probed-cell ADC with the OPQ books.
    */
  private def opqIvfSql(
      rot: Array[Array[Float]],
      books: Seq[Seq[Seq[Double]]],
      cents: Array[Array[Float]]): String =
    s"""WITH ${roteCtes(rot)},
       |cents(c, cv) AS (VALUES
       |    ${centsValues(cents)}),
       |books(s, code, bv) AS (VALUES
       |    ${booksValues(books)}),
       |${cellCtes("rote")},
       |${probeCte(3, 3)},
       |${codeCtes("rote")},
       |${adcCte(3, probedJoins, probedPred)}
       |${adcTail(10)}""".stripMargin

  // ------------------------------------------------------------ assembly
  /** The entries available under the current captures. The LSH tier is
    * static; trained tiers appear once their registry queries have run
    * (cold cache ⇒ omitted ⇒ rows-only fallback).
    */
  def sqlEntries: Map[String, String] = {
    val cMain = mainCentroids.unique(IVF_SUFFIX)
    val bGlobal = globalBooks.unique(BOOKS_SUFFIX)
    val ivf = cMain.toSeq.flatMap { c =>
      Seq(
        "ann_ivf_topk" -> ivfTopKSql(c, nq = 5, k = 2, nProbe = 3),
        "ann_ivf_join" -> ivfTopKSql(c, nq = 50, k = 5, nProbe = 3),
        // The salted twin replays as the SAME probe: hot-bucket salting
        // redistributes the join, it never changes a row (spec-pinned),
        // so the mirror is shared verbatim — the hash check proves it.
        "ann_ivf_join_salted" -> ivfTopKSql(c, nq = 50, k = 5, nProbe = 3),
        "ann_ivf_join_adaptive" -> ivfTopKAdaptiveSql(c, nq = 50, k = 5),
        "ann_rule_topk" -> ruleTopKSql(c))
    }
    val pq = (for { c <- cMain; b <- bGlobal } yield Seq(
      "ann_rule_ivfpq" -> rulePqTopKSql(c, b),
      "ann_pq_trained_topk" -> pqTrainedSql(b),
      "ann_ivfpq_topk" -> ivfPqSql(c, b, nq = 3, k = 10, nProbe = 3),
      "ann_ivfpq_join" -> ivfPqSql(c, b, nq = 50, k = 5, nProbe = 3),
      // The PQ tier's adaptive twin shares the exact-IVF tier's probe
      // CTE (one operating point, Ann.IvfJoinAdaptive*) — only the
      // scoring differs (probed ADC vs exact cosine).
      "ann_ivfpq_join_adaptive" ->
        ivfPqSql(c, b, nq = 50, k = 5, nProbe = 0, adaptive = true),
      "ann_ivfpq_incremental" ->
        ivfPqSql(c, b, nq = 3, k = 10, nProbe = 3, exclude = Seq(7L, 11L)),
      "ann_ivfpq_rerank" -> ivfPqRerankSql(c, b))).getOrElse(Nil)
    val res = (for { c <- cMain; b <- residualBooks.unique(BOOKS_SUFFIX) }
      yield Seq(
        "ann_ivfpq_residual_topk" -> residualSql(c, b, rerank = false),
        "ann_ivfpq_residual_rerank" -> residualSql(c, b, rerank = true),
        "ann_rule_ivfpq_residual" -> rulePqResidualTopKSql(c, b)))
      .getOrElse(Nil)
    val loc = (for { c <- cMain; lb <- localBooks.unique(LOPQ_SUFFIX) }
      yield Seq(
        "ann_ivfpq_local_topk" -> localSql(c, lb, rerank = false),
        "ann_ivfpq_local_rerank" -> localSql(c, lb, rerank = true)))
      .getOrElse(Nil)
    val rOpq = opqRotation.unique(OPQ_SUFFIX)
    val bOpq = opqBooks.unique(OPQ_SUFFIX)
    val opqFlat = (for { r <- rOpq; b <- bOpq } yield Seq(
      "ann_opq_adc_topk" -> opqFlatSql(r, b))).getOrElse(Nil)
    val opqIvf = (for { r <- rOpq; b <- bOpq;
        c <- opqCentroids.unique(IVF_SUFFIX) }
      yield Seq("ann_ivfpq_opq_topk" -> opqIvfSql(r, b, c))).getOrElse(Nil)
    Map(
      "ann_lsh_topk" -> lshTopKSql(),
      "ann_lsh_join" -> lshTopKSql(nq = 50, k = 5),
      "ann_lsh_probe1" -> lshTopKSql(probeBits = 1),
      // Spec-pinned identical to the in-memory probe (AnnSpec) — the
      // layout is a physical optimization.
      "ann_lsh_partitioned" -> lshTopKSql(probeBits = 1),
      "ann_lsh_multiprobe" -> lshMultiprobeSql(),
      // Spec-pinned identical to the in-memory adaptive form
      // (MultiProbeSpec) — the layout is a physical optimization.
      "ann_lsh_partitioned_adaptive" -> lshMultiprobeSql(),
      // The JOIN form of the adaptive probe (r18): distributed query
      // frame, same probe set and rank tail — the mirror is the same
      // multiprobe replay at the join's (nq, k).
      "ann_lsh_join_adaptive" -> lshMultiprobeSql(nq = 50, k = 5),
      "ann_recall" -> lshRecallSql(probeBits = 1),
      "ann_recall_murmur" -> lshRecallSql(probeBits = 2)) ++
      ivf ++ pq ++ res ++ loc ++ opqFlat ++ opqIvf
  }
}
