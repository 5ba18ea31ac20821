package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Generated DuckDB mirrors of the portable near-dup family — the
  * [[AnnOracle]] / [[BpeOracle]] discipline applied to MinHash, SimHash,
  * hub-capped and edit-verified pairs, incremental admission and the
  * embedding near-dup operators.
  *
  * Each SQL fragment below is named after the Scala function it replays
  * and reproduces it operation for operation in 64-bit integer
  * arithmetic (every portable hash reduces mod 2^31-1), so both engines
  * agree bit for bit, candidate generation included:
  *
  *  - [[hashModSql]] ↔ `TextAnalysis.hashMod`;
  *  - [[tokensSql]] / [[shinglesSql]] ↔ `HashEmbedder.tokens` /
  *    `TextAnalysis.wordShingles`;
  *  - [[minHashSql]] ↔ `Dedup.bandedSignaturesPortable`;
  *  - [[agreementSql]] ↔ `Dedup.sigAgreement`;
  *  - [[simHashSql]] / [[simHashBandsSql]] ↔ `TextAnalysis.simHashMod`
  *    and the banded operators' `Dedup.bandCut`;
  *  - [[candidatesSql]] ↔ `Dedup.bandCandidates`, with or without its
  *    hub cap, and [[agreedSql]] ↔ `Dedup.agreed`;
  *  - [[editVerifySql]] ↔ `Dedup.verifyPairsByEdit`;
  *  - [[embeddingNearDupSql]] ↔ `Dedup.embeddingNearDupBucketed` over
  *    `Dedup.portableSignature`, with [[cosineSql]] as its recheck.
  *
  * The fixture shapes and operating points (hub cap, agreement and edit
  * floors, planted-copy offsets, the incremental split) are defined once
  * here and read by both the registry queries and their mirrors.
  */
private[graft] object DedupOracle {

  // ----------------------------------------- shared fixture + parameters
  val SliceEnd = 200L          // doc_id < 200: the slice the small mirrors read
  val SaltedEnd = 40L          // near-copies and rotations of doc_id < 40
  val NearCopyOffset = 30000L
  val NearCopySuffix = " graft salt"
  val RotationOffset = 40000L
  val RotationChars = 100
  val HotCopies = 30           // copies of doc 0: over HubCap, so its buckets go hot
  val HotCopyOffset = 50000L
  val HubCap = 10
  val PairFloor = 0.5          // signature-agreement floor of the plain pairs
  val LooseFloor = 0.25        // ... and of the two-stage candidates
  val EditFloor = 0.9
  val CorpusEnd = 150L         // dedup_incremental: corpus < 150 <= batch < 300
  val BatchEnd = 300L
  val SimHashMaxHamming = 2

  /** Spark side of the base slice. */
  def slice(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("doc_id") < SliceEnd).select("doc_id", "text")

  /** `base` plus its two candidate classes: suffix near-copies (tiny
    * edit → verified) and [[RotationChars]]-char rotations (shingle set
    * barely changes, so MinHash pairs them, but the edit check rejects).
    */
  def salted(base: DataFrame): DataFrame = {
    val src = base.filter(col("doc_id") < SaltedEnd)
    base
      .unionByName(src.select((col("doc_id") + NearCopyOffset).as("doc_id"),
        concat(col("text"), lit(NearCopySuffix)).as("text")))
      .unionByName(src.select((col("doc_id") + RotationOffset).as("doc_id"),
        concat(substring(col("text"), RotationChars + 1, 1000000), lit(" "),
          substring(col("text"), 1, RotationChars)).as("text")))
  }

  /** `base` plus [[HotCopies]] copies of doc 0's text. explode(sequence),
    * not crossJoin(range): keeps the fixture join-free
    * (RegistryPlanAuditSpec forbids the BroadcastNestedLoopJoin a 1-row
    * cross product plans as).
    */
  def withHotCopies(base: DataFrame): DataFrame =
    base.unionByName(base.filter(col("doc_id") === 0)
      .select(explode(sequence(lit(0L), lit(HotCopies - 1L))).as("i"), col("text"))
      .select((col("i") + lit(HotCopyOffset)).as("doc_id"), col("text")))

  /** SQL side of the fixtures: the slice, optionally salted and/or with
    * the hot copies, in the Spark union order. */
  private def sliceSql(salted: Boolean = false, hot: Boolean = false): String = {
    val parts = Seq(s"SELECT doc_id, text FROM documents WHERE doc_id < $SliceEnd") ++
      (if (salted) Seq(
        s"SELECT doc_id + $NearCopyOffset, text || '$NearCopySuffix' FROM documents WHERE doc_id < $SaltedEnd",
        s"SELECT doc_id + $RotationOffset, substr(text, ${RotationChars + 1}) || ' ' || " +
          s"substr(text, 1, $RotationChars) FROM documents WHERE doc_id < $SaltedEnd")
      else Nil) ++
      (if (hot) Seq(
        s"SELECT $HotCopyOffset + i AS doc_id, (SELECT text FROM documents WHERE doc_id = 0) AS text " +
          s"FROM range($HotCopies) t0(i)")
      else Nil)
    parts.mkString("\n  UNION ALL\n  ")
  }

  // ------------------------------------------------------- SQL fragments
  /** The MINSTD Lehmer multipliers both portable hash families derive
    * their constants from (MinHash permutations, hyperplane components). */
  private val Minstd = 48271
  private val Minstd0 = 16807

  /** ↔ `TextAnalysis.hashMod`: rolling base-31 hash, seed 7, mod 2^31-1. */
  def hashModSql(expr: String): String =
    s"""list_reduce(
       |  list_prepend(CAST(7 AS BIGINT),
       |    list_transform(range(length($expr)), i -> CAST(unicode($expr[CAST(i+1 AS INT)]) AS BIGINT))),
       |  (a, b) -> (31 * a + b) % 2147483647)""".stripMargin

  /** ↔ `HashEmbedder.tokens`: lowercase, split on non-letter/digit runs. */
  def tokensSql(text: String): String =
    raw"list_filter(regexp_split_to_array(lower($text), '[^\p{L}\p{N}]+'), x -> x <> '')"

  /** ↔ `TextAnalysis.wordShingles(_, w)` over a `toks` list. */
  private def shinglesSql(w: Int): String = {
    val gram = (1 to w).map(j => s"toks[CAST(i+$j AS INT)]").mkString(" || ' ' || ")
    s"""CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
       |         WHEN len(toks) < $w THEN [array_to_string(toks, ' ')]
       |         ELSE list_transform(range(len(toks) - ${w - 1}), i -> $gram) END""".stripMargin
  }

  /** ↔ `Dedup.bandedSignaturesPortable`: CTEs t, sh, hs, sg ending in
    * `bd` (doc_id, sig, b, band) over relation `input` (doc_id, text).
    * Permutation k is `TextAnalysis.minHashSignaturePortable`'s affine
    * map; an empty shingle set keeps the 2^31-1 sentinel.
    */
  private def minHashSql(input: String, shingleWords: Int = 3, numHashes: Int = 16,
      bands: Int = 4): String = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    s"""t AS (
       |  SELECT doc_id, ${tokensSql("text")} AS toks FROM $input),
       |sh AS (
       |  SELECT doc_id,
       |    ${shinglesSql(shingleWords)} AS shingles
       |  FROM t),
       |hs AS (
       |  SELECT doc_id, list_transform(shingles, s -> ${hashModSql("s")}) AS hashes
       |  FROM sh),
       |sg AS (
       |  SELECT doc_id,
       |    list_transform(range($numHashes), k -> coalesce(
       |      list_min(list_transform(hashes,
       |        h -> (($Minstd * (k + 1)) % 2147483647 * h + ($Minstd0 * (k + 1) + 11) % 2147483647) % 2147483647)),
       |      2147483647)) AS sig
       |  FROM hs),
       |bd AS (
       |  SELECT doc_id, sig, b, sig[CAST($rows*b+1 AS INT):CAST($rows*b+$rows AS INT)] AS band
       |  FROM sg, unnest(range($bands)) AS u(b))""".stripMargin
  }

  /** ↔ `Dedup.sigAgreement`: fraction of agreeing signature slots. */
  private def agreementSql(a: String, b: String, numHashes: Int = 16): String =
    s"CAST(len(list_filter(range($numHashes), i -> $a[CAST(i+1 AS INT)] = $b[CAST(i+1 AS INT)])) AS DOUBLE) / $numHashes.0"

  /** ↔ `TextAnalysis.simHashMod`: CTEs t, f, hs ending in `sm`
    * (doc_id, simhash) over relation `input` — 31 bits, each set iff more
    * uni+bigram feature hashes have it set than clear.
    */
  private def simHashSql(input: String): String =
    s"""t AS (
       |  SELECT doc_id, ${tokensSql("text")} AS toks FROM $input),
       |f AS (
       |  SELECT doc_id, list_concat(toks,
       |    CASE WHEN len(toks) > 1 THEN list_transform(range(len(toks) - 1),
       |      i -> toks[CAST(i+1 AS INT)] || '_' || toks[CAST(i+2 AS INT)]) ELSE CAST([] AS VARCHAR[]) END) AS feats
       |  FROM t),
       |hs AS (
       |  SELECT doc_id, list_transform(feats, s -> ${hashModSql("s")}) AS hashes
       |  FROM f),
       |sm AS (
       |  SELECT doc_id,
       |    coalesce(list_sum(list_transform(range(31), b ->
       |      CASE WHEN coalesce(list_sum(list_transform(hashes,
       |             h -> ((h >> CAST(b AS INT)) & 1) * 2 - 1)), 0) > 0
       |           THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END)), 0) AS simhash
       |  FROM hs)""".stripMargin

  /** The `maxHamming + 1`-band cut of the 31-bit SimHash (`Dedup.bandCut`,
    * as the banded operators use it): CTE `bd` (doc_id, simhash, b, band).
    */
  def simHashBandsSql(maxHamming: Int): String = {
    val cut = Dedup.bandCut(31, maxHamming + 1)
    val cases = cut.zipWithIndex.map { case ((offset, mask), b) =>
      s"WHEN $b THEN (simhash >> $offset) & $mask"
    }.mkString("\n           ")
    s"""bd AS (
       |  SELECT doc_id, simhash, b,
       |    CASE b $cases END AS band
       |  FROM sm, unnest(range(${cut.size})) AS u(b))""".stripMargin
  }

  /** ↔ `TextAnalysis.hamming`. */
  private def hammingSql(a: String, b: String): String = s"bit_count(xor($a, $b))"

  /** Candidate pairs `cand` (doc_a, doc_b, `p`_a, `p`_b) over the banded
    * CTE `bd` (doc_id, `p`, b, band) ↔ `Dedup.bandCandidates`: every
    * pair sharing a band, or under `hubCap` (its `maxBandSize`) bucket
    * sizes, the over-cap hot set, the min-id hub with its payload, cold
    * all-pairs and star emission for hot buckets.
    */
  private def candidatesSql(p: String, hubCap: Option[Int] = None): String = hubCap match {
    case None =>
      s"""cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.$p AS ${p}_a, b.$p AS ${p}_b
         |  FROM bd a JOIN bd b ON a.b = b.b AND a.band = b.band AND a.doc_id < b.doc_id)""".stripMargin
    case Some(cap) =>
      s"""bsz AS (
         |  SELECT b, band, count(*) AS n, min(doc_id) AS hub FROM bd GROUP BY b, band),
         |hot AS (SELECT b, band, hub FROM bsz WHERE n > $cap),
         |hubp AS (
         |  SELECT h.b, h.band, h.hub, d.$p AS hub_$p
         |  FROM hot h JOIN bd d ON d.b = h.b AND d.band = h.band AND d.doc_id = h.hub),
         |cold AS (
         |  SELECT d.doc_id, d.$p, d.b, d.band FROM bd d
         |  ANTI JOIN hot h ON d.b = h.b AND d.band = h.band),
         |cand AS (
         |  SELECT DISTINCT doc_a, doc_b, ${p}_a, ${p}_b FROM (
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.$p AS ${p}_a, b.$p AS ${p}_b
         |    FROM cold a JOIN cold b ON a.b = b.b AND a.band = b.band AND a.doc_id < b.doc_id
         |    UNION ALL
         |    SELECT h.hub AS doc_a, d.doc_id AS doc_b, h.hub_$p AS ${p}_a, d.$p AS ${p}_b
         |    FROM bd d JOIN hubp h ON d.b = h.b AND d.band = h.band
         |    WHERE d.doc_id <> h.hub))""".stripMargin
  }

  /** CTE `agreed` (doc_a, doc_b, est_jaccard): MinHash candidates whose
    * signature agreement clears `floor`. */
  private def agreedSql(floor: Double): String =
    s"""agreed AS (
       |  SELECT * FROM (
       |    SELECT doc_a, doc_b, ${agreementSql("sig_a", "sig_b")} AS est_jaccard FROM cand)
       |  WHERE est_jaccard >= $floor)""".stripMargin

  /** ↔ `Dedup.verifyPairsByEdit`: attach both texts from `input`, score
    * `1 − levenshtein / max(len)` floored to 6 dp (`floorScale`), and
    * emit every candidate with its verdict. */
  private def editVerifySql(minEditSim: Double): String =
    s"""scored AS (
       |  SELECT g.doc_a, g.doc_b, g.est_jaccard,
       |    floor((CASE WHEN greatest(length(ta.text), length(tb.text)) = 0 THEN 1.0
       |           ELSE 1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE) /
       |                CAST(greatest(length(ta.text), length(tb.text)) AS DOUBLE) END) * 1000000.0) / 1000000.0 AS edit_sim
       |  FROM agreed g
       |  JOIN input ta ON ta.doc_id = g.doc_a
       |  JOIN input tb ON tb.doc_id = g.doc_b)
       |SELECT doc_a, doc_b, round(est_jaccard, 6) AS est_jaccard, edit_sim,
       |  (edit_sim >= $minEditSim) AS verified
       |FROM scored ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------- embedding near-dup family
  /** Twin offset of [[withTwins]]: every vector gets a ±0.01-jittered
    * copy (cos ≈ 0.9998), so a near-dup threshold has ground truth. */
  val TwinOffset = 1000000L

  /** Spark side: `emb` (vec_id, embedding) plus its jittered twins, ±0.01
    * alternating per component (double add, then float cast). */
  def withTwins(emb: DataFrame): DataFrame =
    emb.unionByName(emb.select(
      (col("vec_id") + TwinOffset).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x.cast("double") + when(pmod(i, lit(2)) === 0, lit(0.01)).otherwise(lit(-0.01)))
          .cast("float")).as("embedding")))

  /** SQL side of [[withTwins]] over the 64-dim embeddings table. */
  val twinsSql: String =
    s"""SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $TwinOffset AS vec_id,
       |    list_transform(range(64), i ->
       |      CAST(CAST(embedding[CAST(i+1 AS INT)] AS DOUBLE) +
       |        CASE WHEN i % 2 = 0 THEN 0.01 ELSE -0.01 END AS REAL)) AS embedding
       |  FROM embeddings""".stripMargin

  private def foldSql(xs: String) = s"list_reduce(list_prepend(0.0, $xs), (x, y) -> x + y)"

  /** Dot product of two float arrays of `dim` components: a double left
    * fold, the Scala loop order. */
  def dotSql(a: String, b: String, dim: Int): String =
    foldSql(s"list_transform(range($dim), i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE))")

  /** L2 norm of a float array: sqrt of the double left fold of its squares. */
  def normSql(e: String): String =
    s"sqrt(${foldSql(s"list_transform($e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")})"

  /** Cosine of two float arrays of `dim` components: [[dotSql]] over the
    * product of both [[normSql]]s. */
  def cosineSql(a: String, b: String, dim: Int): String =
    s"(${dotSql(a, b, dim)}\n      / (${normSql(a)}\n       * ${normSql(b)}))"

  /** ↔ `Dedup.embeddingNearDupBucketed` over relation `src` (vec_id,
    * embedding of `dim` floats): `Dedup.portableSignature` (squared-Lehmer
    * plane components in [-1, 1), one double left fold per plane, sign bit
    * per plane), `bands` band keys, the band equi-join, then the exact
    * cosine recheck against `threshold`.
    */
  def embeddingNearDupSql(src: String, dim: Int, nBits: Int, bands: Int,
      threshold: Double): String = {
    val rows = nBits / bands
    val h = s"(($Minstd*(b*1024+i)+$Minstd0) % 2147483647)"
    s"""s AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_sum(list_transform(range($nBits), b ->
       |      CASE WHEN list_reduce(list_prepend(0.0, list_transform(range($dim), i ->
       |          CAST(embedding[CAST(i+1 AS INT)] AS DOUBLE) *
       |          ((($h * $h) % 2147483647) * 2.0 / 2147483647 - 1))),
       |        (x, y) -> x + y) >= 0
       |      THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig
       |  FROM $src),
       |bd AS (
       |  SELECT vec_id, embedding, unnest(list_transform(range($bands), k ->
       |    CAST(k AS VARCHAR) || '_' || CAST((sig >> CAST($rows*k AS INT)) & ${(1 << rows) - 1} AS VARCHAR))) AS band
       |  FROM s),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       |    a.embedding AS emb_a, b.embedding AS emb_b
       |  FROM bd a JOIN bd b ON a.band = b.band AND a.vec_id < b.vec_id),
       |p AS (
       |  SELECT id_a, id_b, ${cosineSql("emb_a", "emb_b", dim)} AS cos_sim
       |  FROM cand)
       |SELECT id_a, id_b, round(cos_sim, 6) AS cos_sim FROM p
       |WHERE cos_sim >= $threshold ORDER BY id_a, id_b""".stripMargin
  }

  // ------------------------------------------------------------- entries
  /** MinHash pairs over `input`: candidates (optionally hub-capped), the
    * agreement floor, then either the plain (doc_a, doc_b, est_jaccard)
    * tail or the edit-verify tail. */
  private def minHashPairsSql(input: String, floor: Double,
      hubCap: Option[Int] = None, editFloor: Option[Double] = None): String = {
    val tail = editFloor match {
      case Some(e) => ",\n" + editVerifySql(e)
      case None =>
        "\nSELECT doc_a, doc_b, round(est_jaccard, 6) AS est_jaccard FROM agreed ORDER BY doc_a, doc_b"
    }
    s"""WITH input AS (
       |  $input),
       |${minHashSql("input")},
       |${candidatesSql("sig", hubCap)},
       |${agreedSql(floor)}$tail""".stripMargin
  }

  /** ↔ `Dedup.incrementalAdmit`: a batch doc is blocked by its smallest
    * >= [[PairFloor]]-agreement match among corpus docs and lower-id
    * batch siblings. */
  private def incrementalSql: String =
    s"""WITH input AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < $BatchEnd),
       |${minHashSql("input")},
       |corp AS (SELECT * FROM bd WHERE doc_id < $CorpusEnd),
       |batch AS (SELECT * FROM bd WHERE doc_id >= $CorpusEnd),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS doc_id, o.doc_id AS blocker, n.sig AS sig_a, o.sig AS sig_b
       |  FROM batch n JOIN corp o ON n.b = o.b AND n.band = o.band
       |  UNION
       |  SELECT DISTINCT b2.doc_id AS doc_id, a.doc_id AS blocker, b2.sig AS sig_a, a.sig AS sig_b
       |  FROM batch a JOIN batch b2 ON a.b = b2.b AND a.band = b2.band AND a.doc_id < b2.doc_id),
       |blk AS (
       |  SELECT doc_id, min(blocker) AS blocked_by FROM cand
       |  WHERE ${agreementSql("sig_a", "sig_b")} >= $PairFloor
       |  GROUP BY doc_id)
       |SELECT d.doc_id, blk.blocked_by IS NULL AS admitted,
       |  CAST(coalesce(blk.blocked_by, -1) AS BIGINT) AS blocked_by
       |FROM (SELECT doc_id FROM documents WHERE doc_id >= $CorpusEnd AND doc_id < $BatchEnd) d
       |LEFT JOIN blk USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Exact all-pairs SimHash within [[SimHashMaxHamming]]: the banded
    * operator equals it by pigeonhole, so the mirror is the exact form. */
  private val simHashExactSql: String =
    s"""WITH input AS (
       |  ${sliceSql()}),
       |${simHashSql("input")}
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(${hammingSql("a.simhash", "b.simhash")} AS INT) AS hamming
       |FROM sm a JOIN sm b ON a.doc_id < b.doc_id
       |WHERE ${hammingSql("a.simhash", "b.simhash")} <= $SimHashMaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin

  /** ↔ `Dedup.simHashPairsBanded` under `maxBandSize = HubCap` on the
    * hot-copy fixture. */
  private def simHashHubCapSql: String =
    s"""WITH input AS (
       |  ${sliceSql(hot = true)}),
       |${simHashSql("input")},
       |${simHashBandsSql(SimHashMaxHamming)},
       |${candidatesSql("simhash", Some(HubCap))}
       |SELECT doc_a, doc_b, CAST(${hammingSql("simhash_a", "simhash_b")} AS INT) AS hamming
       |FROM cand
       |WHERE ${hammingSql("simhash_a", "simhash_b")} <= $SimHashMaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The nine near-dup mirrors, merged into `SparkEntry.oracleSql`. */
  def sqlEntries: Map[String, String] =
    Map(
      "dedup_minhash_lsh" -> minHashPairsSql(sliceSql(), PairFloor),
      "dedup_minhash_full" -> minHashPairsSql("SELECT doc_id, text FROM documents", PairFloor),
      "dedup_minhash_hubcap" ->
        minHashPairsSql(sliceSql(hot = true), PairFloor, hubCap = Some(HubCap)),
      "dedup_minhash_verified" ->
        minHashPairsSql(sliceSql(salted = true), LooseFloor, editFloor = Some(EditFloor)),
      "dedup_minhash_verified_hubcap" ->
        minHashPairsSql(sliceSql(salted = true, hot = true), LooseFloor,
          hubCap = Some(HubCap), editFloor = Some(EditFloor)),
      "dedup_incremental" -> incrementalSql,
      "dedup_simhash" -> simHashExactSql,
      // The optimizer-rule path computes the identical exact result.
      "dedup_simhash_auto" -> simHashExactSql,
      "dedup_simhash_hubcap" -> simHashHubCapSql)
}
