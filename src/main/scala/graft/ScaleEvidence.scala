package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Million-document dedup evidence — closes the r4 verdict's honest
  * caveat: "empirical evidence at even 10⁶ docs doesn't exist in this
  * sandbox." The oracle gate proves the dedup operators CORRECT at
  * 5,000 docs; this main proves the banded plans actually RUN at 10⁶
  * docs on this machine — the property that separates an equi-join
  * candidate generator (O(n + candidates)) from the O(n²) theta join it
  * replaces, which would need ~5·10¹¹ comparisons here and never finish.
  *
  * Corpus: the sf0.1 documents table expanded `variants`× (default 200 →
  * 1,000,000 docs). Variant 0 is the original; variant 1 is an EXACT
  * copy (one planted duplicate pair per base doc — 5,000 exact pairs the
  * operators must find); variants ≥ 2 are token-suffixed so their
  * shingle sets are disjoint from every other doc (no quadratic
  * pair blow-up — planted signal, controlled noise). Written to parquet
  * first so every operator reads from disk like production.
  *
  * Checks (exit nonzero on any failure):
  *  - exact dedup keeps exactly nBase fewer docs (the planted copies);
  *  - MinHash-LSH candidate pairs include every planted (v0, v1) pair
  *    (identical docs have identical signatures → collide on all bands);
  *  - banded SimHash finds every planted pair the same way;
  *  - line dedup keeps each distinct line exactly once despite one
  *    boilerplate line planted in ALL 10⁶ docs (the Zipfian hot key);
  *  - span dedup strips a 10⁶-copy planted verbatim passage everywhere
  *    but its first occurrence, and fully strips every exact-copy doc;
  *  - the standing line/gram index lifecycle (build at 10⁶, admit a 10⁴
  *    batch incrementally) matches the corpus-wide batch rule
  *    row-for-row;
  *  - semantic dedup at 10⁶ 16-dim vectors drops EVERY planted jittered
  *    twin that lands in its original's cell (within-cell pairing is
  *    exhaustive; cross-boundary jitters are counted, not hidden);
  *  - IVF-PQ at 10⁶ vectors: the composed layout (PQ codes partitioned
  *    by IVF cell) probes 8 of 128 cell directories per query over a
  *    near-dup-family corpus (graded planted neighbors, decoy bulk —
  *    the cluster structure real embedding corpora have and IVF
  *    presumes); full-probe must equal the flat ADC scan, the 5-query
  *    batch's partition filter must stay ≤ 40 dirs and under half the
  *    layout, partial-probe recall vs flat is floored at 0.6;
  *  - IVF-PQ rerank at 10⁶: the exact-euclidean refinement's recall vs
  *    the true euclidean top-k (the planted graded neighbors) is never
  *    below the plain ADC path's and is floored at 0.5;
  *  - incremental IVF-PQ at 10⁶: a ~5k batch appends in ≪ the base
  *    write time, tombstoned ids never resurface, and a planted exact
  *    twin of query 0 (id −1) returns at rank 1 from the appended batch;
  *  - MEGA-CELL semantic dedup: the same 10⁶ vectors through 64 coarse
  *    cells with maxCellRows=5000 — every cell over budget, every pair
  *    through the cell-scoped banded join — drops EVERY same-cell twin
  *    that shares a signature band with its original (the banded leg's
  *    guaranteed-candidate set), and END-TO-END planted-twin recall
  *    (cell-miss + band-miss losses included) is floored at 0.8.
  *
  *  - data selection at 10⁶ docs: DSIR Gumbel top-1000 must select ONLY
  *    the verbatim-base (v<2) population (off-target docs carry
  *    hundreds of absent-from-target tokens — a log-weight gap Gumbel
  *    noise cannot bridge); the quality classifier trains
  *    curated-vs-sample and the 10⁶-doc pool is scored by the map-only
  *    row-local pass (timed for throughput), class means separated
  *    ≥ 0.3; BPE trains 8 merges on the ~200×-vocab corpus with the
  *    selected pair counts non-increasing (the recount invariant).
  *
  * Records wall seconds + docs/sec per operator to SCALE_EVIDENCE.json.
  */
object ScaleEvidence {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val variants = sys.env.getOrElse("SPARK_GRAFT_SCALE_VARIANTS", "200").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_EVIDENCE.json")
    val spark: SparkSession = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Tables.normalizeTs relies on every entry point pinning UTC so
      // the TIMESTAMP_NTZ→Timestamp cast is the identity on any host.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Evidence scratch directories, deleted on JVM exit (r17 ADVICE #3:
    // the layout temp dirs used to outlive the run — ~10 GB of parquet
    // per evidence pass left in /tmp). Deletion is deferred to exit, not
    // per-leg, because later legs re-read earlier legs' layouts.
    val scratchDirs = scala.collection.mutable.ListBuffer.empty[java.io.File]
    def tempDir(prefix: String): String = {
      val d = Files.createTempDirectory(prefix)
      scratchDirs += d.toFile
      d.toString
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.foreach { root =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        try rm(root) catch { case _: Throwable => () }
      }))

    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    val nBase = base.count()
    val corpusPath = tempDir("graft_scale_corpus")
    // doc_id' = v * nBase + doc_id keeps ids dense and the planted pair
    // (doc_id, nBase + doc_id) predictable. Token-suffixing via one
    // higher-order transform — no UDF, stays in codegen.
    base
      .crossJoin(spark.range(variants.toLong).toDF("v"))
      .select(
        (col("v") * nBase + col("doc_id")).as("doc_id"),
        when(col("v") < 2, col("text")) // v0 original, v1 exact copy
          .otherwise(array_join(transform(
            split(col("text"), " "),
            w => concat(w, lit("x"), col("v"))), " "))
          .as("text"))
      .repartition(cpus.toInt * 2)
      .write.mode("overwrite").parquet(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    val nDocs = corpus.count()

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    var failures = List.empty[String]

    // -------- exact dedup: hash groupBy, one shuffle on the hash key.
    // The base corpus itself contains a few exact-duplicate texts, and
    // token-suffixing preserves text equality, so the expected distinct
    // count is (variants - 1) × distinct(base): v0 and v1 collapse into
    // one slice, every suffixed variant contributes one more.
    val distinctBase = base.select("text").distinct().count()
    val (kept, tExact) = timed {
      operators.Dedup.exact(corpus).count() // one row per distinct hash
    }
    if (kept != (variants - 1) * distinctBase)
      failures ::= s"exact: kept $kept, expected ${(variants - 1) * distinctBase}"

    // -------- MinHash-LSH banded candidate join at the full corpus:
    // band keys are 4-of-16 mod-p values, so the key space is huge and
    // bucket sizes stay O(true duplicates) at any corpus size.
    val (mhPairs, tMinhash) = timed {
      operators.Dedup.minHashLshPairsPortable(corpus)
        .filter(col("doc_b") === col("doc_a") + lit(nBase) && col("doc_a") < nBase)
        .count()
    }
    if (mhPairs != nBase)
      failures ::= s"minhash: found $mhPairs planted pairs, expected $nBase"

    // -------- dedup_skew: the Zipf-head hot key a web corpus guarantees
    // (r13 verdict #5). 10% of the corpus (every doc_id ≡ 7 mod 10)
    // becomes ONE boilerplate text, so every band bucket of that text
    // holds 10⁵ docs — uncapped, the banded self-join would emit
    // (10⁵)²/2 ≈ 5×10⁹ candidate pairs from a single bucket, which is
    // unrunnable and exactly why the hub cap exists. Recorded evidence:
    //  - wall time vs the uniform fixture's minhash leg above;
    //  - the hot mass comes back as a LINEAR star to its min-id hub
    //    (hub_pairs == nHot−1), and the untouched planted pairs survive;
    //  - shuffle balance: the pairwise join's cold input, hash-
    //    partitioned on the band key by Spark's own partitioner, stays
    //    near-uniform (max partition share gated), while the UNCAPPED
    //    banded frame's profile shows the hot bucket's ~10% share —
    //    the before/after of the guard.
    val hotWords = ("the table scan joins fast value part row key hash " +
      "merge batch window spark order data column agg small line customer " +
      "query big group sort stream filter slow vector dup a").trim
    val skewed = corpus.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(10L)) === 7L, lit(hotWords))
        .otherwise(col("text")).as("text"))
    val nHot = nDocs / 10
    val skewCap = 64
    val ((hubPairs, plantedCold), tSkew) = timed {
      // Materialize before the two independent counts — without it the
      // whole hub-capped pipeline executes once per action and `sec`
      // would record ~2x the real cost next to uniform_sec.
      val pairs = operators.Dedup.minHashLshPairsPortable(
        skewed, maxBandSize = skewCap).localCheckpoint()
      val hub = pairs.filter(col("doc_a") === 7L).count()
      val planted = pairs.filter(col("doc_b") === col("doc_a") + lit(nBase) &&
        col("doc_a") < nBase && pmod(col("doc_a"), lit(10L)) =!= 7L).count()
      (hub, planted)
    }
    if (hubPairs != nHot - 1)
      failures ::= s"dedup_skew: hub star linked $hubPairs hot docs, expected ${nHot - 1}"
    if (plantedCold != nBase - nBase / 10)
      failures ::= s"dedup_skew: $plantedCold cold planted pairs, expected ${nBase - nBase / 10}"
    val skewBanded = operators.Dedup.bandedSignaturesPortable(skewed, 3, 16, 4)
      .select("doc_id", "band").localCheckpoint()
    val skewHotBands = skewBanded.groupBy("band")
      .agg(count(lit(1)).as("n")).filter(col("n") > skewCap)
    val nHotBands = skewHotBands.count()
    def bandShareProfile(df: DataFrame): Double = {
      val parts = df.repartition(32, col("band"))
        .groupBy(spark_partition_id().as("pid"))
        .agg(count(lit(1)).as("n"))
        .agg(max("n").cast("double").as("mx"), sum("n").cast("double").as("tot"))
        .head()
      parts.getDouble(0) / parts.getDouble(1)
    }
    val coldShare = bandShareProfile(
      skewBanded.join(broadcast(skewHotBands.select("band")), Seq("band"), "left_anti"))
    val uncappedShare = bandShareProfile(skewBanded)
    if (coldShare > 0.10)
      failures ::= f"dedup_skew: cold-side max partition share $coldShare%.3f above 0.10"

    // -------- 64-bit murmur SimHash (the scale default: 4 × 16-bit
    // bands → 65,536 buckets per band, occupancy n/2^16) at the FULL
    // corpus — planted exact copies are Hamming-0 twins.
    val (sh64Pairs, tSimhash64) = timed {
      operators.Dedup.simHashPairs(corpus, maxHamming = 3)
        .filter(col("doc_b") === col("doc_a") + lit(nBase) && col("doc_a") < nBase)
        .count()
    }
    if (sh64Pairs != nBase)
      failures ::= s"simhash64: found $sh64Pairs planted pairs, expected $nBase"

    // -------- banded PORTABLE SimHash: the oracle-replicable fingerprint
    // is 31-bit, so maxHamming=2 pigeonhole bands are ~10 bits wide — at
    // 10⁶ docs the per-band bucket occupancy (n/2^10) makes the candidate
    // set intrinsically quadratic-ish regardless of engine; that is a
    // fingerprint-width limit, not a plan defect — the 64-bit leg above
    // is the production path at this scale. Evidence runs at a 10×
    // smaller slice where 31 bits still discriminates.
    val shVariants = math.min(variants, 20)
    val shCorpus = corpus.filter(col("doc_id") < lit(shVariants) * nBase)
    val nShDocs = shVariants * nBase
    val (shPairs, tSimhash) = timed {
      operators.Dedup.simHashPairsBanded(shCorpus, maxHamming = 2)
        .filter(col("doc_b") === col("doc_a") + lit(nBase) && col("doc_a") < nBase)
        .count()
    }
    if (shPairs != nBase)
      failures ::= s"simhash: found $shPairs planted pairs, expected $nBase"

    // -------- cross-doc line dedup at 10⁶ docs: every document gets the
    // SAME boilerplate header line (one ultra-hot line with 10⁶ copies —
    // the adversarial Zipfian key; under the shipped plan it collapses to
    // one row per map task in the partial min(struct) aggregate instead
    // of serializing a window partition) plus its own text as a second
    // line. Invariant checked: the total of kept lines equals the number
    // of DISTINCT lines in the corpus — each distinct line survives
    // exactly once, corpus-wide. The full per-doc output is materialized
    // to parquet so the index-lifecycle leg below can compare against it.
    val lineDocs = corpus.select(col("doc_id"),
      concat(lit("SHARED BOILERPLATE HEADER\n"), col("text")).as("text"))
    val lineFullPath = tempDir("graft_scale_linefull")
    val (_, tLines) = timed {
      operators.Dedup.crossDocLineDedup(lineDocs)
        .write.mode("overwrite").parquet(lineFullPath)
    }
    val lineFull = spark.read.parquet(lineFullPath)
    val lineKept = lineFull.agg(sum("n_kept")).collect().head.getLong(0)
    val distinctLines = lineDocs
      .select(explode(split(col("text"), "\n")).as("l")).distinct().count()
    if (lineKept != distinctLines)
      failures ::= s"line_dedup: kept $lineKept, expected $distinctLines"

    // -------- span dedup at 10⁶ docs: every document is prefixed with
    // the SAME 12-token verbatim passage (every interior k-gram of it is
    // a 10⁶-copy hot key) followed by the doc's text (truncated to keep
    // the window count ~10⁸-row-bounded on this machine; the plan shape
    // is what's under test, not the text length). Planted signal, both
    // checked exactly:
    //  - the passage survives in exactly ONE document corpus-wide (the
    //    global-min doc keeps it; every other doc's passage-interior
    //    windows are dominated, so all 12 tokens strip);
    //  - every variant-1 exact copy is FULLY stripped (its every window
    //    occurs at the same offset in its lower-id twin), n_kept == 0
    //    for all nBase of them.
    val passage = "verbatim planted passage tokens alpha bravo charlie delta echo foxtrot golf hotel"
    val spanDocs = corpus.select(col("doc_id"),
      concat(lit(passage + " "), substring(col("text"), 1, 200)).as("text"))
    val spanFullPath = tempDir("graft_scale_spanfull")
    val (_, tSpans) = timed {
      operators.Dedup.repeatedSpanDedup(spanDocs, k = 5)
        .write.mode("overwrite").parquet(spanFullPath)
    }
    val spanFull = spark.read.parquet(spanFullPath)
    val passageSurvivors = spanFull
      .filter(col("cleaned_text").contains(passage)).count()
    if (passageSurvivors != 1)
      failures ::= s"span_dedup: passage survives in $passageSurvivors docs, expected 1"
    val copiesStripped = spanFull
      .filter(col("doc_id") >= nBase && col("doc_id") < 2 * nBase &&
        col("n_kept") === 0).count()
    if (copiesStripped != nBase)
      failures ::= s"span_dedup: $copiesStripped exact copies fully stripped, expected $nBase"

    // -------- standing-index lifecycle at 10⁶: the production
    // daily-crawl cycle — materialize the line/gram index over the
    // standing corpus (all but the last batchN doc ids), admit the
    // 10⁴-doc batch through the incremental operator, and assert the
    // result row-for-row equal to what the corpus-wide batch rule says
    // about those same docs (spec-proven equivalent at fixture scale;
    // this proves the index build + equi-join admission RUN at 10⁶ and
    // stay exact). Index entries are what the operators ship: raw
    // distinct lines, 8-byte gram hashes.
    val batchN = 10000L
    val cut = nDocs - batchN
    val standingLines = lineDocs.filter(col("doc_id") < cut)
    val batchLines = lineDocs.filter(col("doc_id") >= cut)
    val lineIdxPath = tempDir("graft_scale_lineidx")
    val (_, tLineIdx) = timed {
      operators.Dedup.lineIndex(standingLines)
        .write.mode("overwrite").parquet(lineIdxPath)
    }
    val (lineMismatch, tLineAdmit) = timed {
      val inc = operators.Dedup.incrementalLineDedup(
        batchLines, spark.read.parquet(lineIdxPath))
      val full = lineFull.filter(col("doc_id") >= cut)
        .select("doc_id", "n_lines", "n_kept", "cleaned_text")
      inc.exceptAll(full).count() + full.exceptAll(inc).count()
    }
    if (lineMismatch != 0)
      failures ::= s"line_lifecycle: $lineMismatch rows differ from the batch-mode rule"

    val standingSpans = spanDocs.filter(col("doc_id") < cut)
    val batchSpans = spanDocs.filter(col("doc_id") >= cut)
    val gramIdxPath = tempDir("graft_scale_gramidx")
    val (_, tGramIdx) = timed {
      operators.Dedup.gramIndex(standingSpans, k = 5)
        .write.mode("overwrite").parquet(gramIdxPath)
    }
    val (spanMismatch, tSpanAdmit) = timed {
      val inc = operators.Dedup.incrementalSpanDedup(
        batchSpans, spark.read.parquet(gramIdxPath), k = 5)
      val full = spanFull.filter(col("doc_id") >= cut)
        .select("doc_id", "n_toks", "n_kept", "cleaned_text")
      inc.exceptAll(full).count() + full.exceptAll(inc).count()
    }
    if (spanMismatch != 0)
      failures ::= s"span_lifecycle: $spanMismatch rows differ from the batch-mode rule"

    // -------- partitioned ANN at 10⁶ vectors: the embeddings table
    // expanded into NEAR-DUP FAMILIES plus scattered decoys, written
    // PARTITIONED BY 8-bit signature (256 dirs), then probed. The probe
    // reads only the probed signature directories (~nProbes/256 of the
    // corpus); brute force scans everything — both must put each query's
    // own vector at rank 1 (self-similarity 1.0).
    //
    // Fixture shape (r8's uniform ±0.4/dim perturbation made every
    // "variant" FARTHER from its base — L2 ≈ 1.96 — than random
    // strangers are from each other (~1.41), i.e. a corpus with no
    // cluster structure at all, which no ANN index can prune; real
    // embedding corpora cluster, which is the entire premise of IVF):
    //  - v = 0: the original (exact self, distance 0 to its query);
    //  - v = 1..9: graded near-dups at L2 ≈ 0.051·s, s = ((v·5) mod 9)+1
    //    ∈ 1..9 — a PERMUTATION of v, so true-distance rank is
    //    decorrelated from vec_id and the deterministic (dist, vec_id)
    //    tiebreak cannot fake recall: the exact top-k is the s-smallest
    //    variants, not the id-smallest;
    //  - v ≥ 10: far decoys (the old ±0.4/dim pattern, L2 ≈ 1.96) —
    //    bulk mass scattered across the sphere, nothing near any query.
    // Base vectors are unit-norm with min pairwise distance ≈ 1.06, so
    // families (radius ≤ 0.4) are well-separated clusters: the exact
    // euclidean top-5 of query q is its s ∈ {1..5} variants, a
    // well-posed key the probe/ADC/rerank legs are graded against.
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val nVec = emb.count()
    // Per-dim pattern has rms ≈ 4.9 over 64 dims → L2 ≈ 39.2·δ; δ =
    // 0.0013·s puts the family at L2 ≈ 0.051·s ∈ [0.05, 0.46].
    val nearScale = (pmod(col("v") * 5, lit(9)) + 1).cast("float") * lit(0.0013f)
    def expandedVectors(nVariants: Int): DataFrame = emb
      .crossJoin(spark.range(nVariants.toLong).toDF("v"))
      .select(
        (col("v") * nVec + col("vec_id")).as("vec_id"),
        when(col("v") === 0, col("embedding"))
          .when(col("v") < 10, transform(col("embedding"), (x, i) =>
            (x + (pmod(col("v") * 31 + i, lit(17)) - lit(8)).cast("float") * nearScale)
              .cast("float")))
          .otherwise(transform(col("embedding"), (x, i) =>
            (x + (pmod(col("v") * 31 + i, lit(17)) - lit(8)).cast("float") * lit(0.05f))
              .cast("float")))
          .as("embedding"))
    val bigVecs = expandedVectors(variants)
    val layoutPath = tempDir("graft_scale_ann")
    val (_, tLayout) = timed {
      operators.Ann.writeSignaturePartitioned(bigVecs, layoutPath, nBits = 8)
    }
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    // I/O proportionality, measured: the probe set's distinct signatures
    // = the partition directories the scan touches; everything else
    // contributes zero I/O. (At this corpus size — ~100 MB — wall-clock
    // sits on fixed job overhead for probe and brute alike; the
    // directory fraction is what scales to 100 TB, where brute reads
    // 256/256.)
    val dirsProbed = queries.select("q_embedding").collect()
      .flatMap(r => operators.Ann.probeSignatures(
        operators.Ann.signature(r.getSeq[Float](0), 8), 8, 1))
      .distinct.length
    val (annTop, tProbe) = timed {
      operators.Ann.lshJoin(spark, layoutPath, queries, k = 5,
        nBits = 8, probeBits = 1)
        .filter(col("rank") === 1).select("query_id", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    if (!annTop.forall { case (q, v) => q == v })
      failures ::= s"ann: rank-1 self-retrieval failed: ${annTop.toSeq}"
    val (bruteTop, tBrute) = timed {
      operators.Retrieval.knnJoin(queries, spark.read.parquet(layoutPath), k = 5)
        .filter(col("rank") === 1).select("query_id", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    if (!bruteTop.forall { case (q, v) => q == v })
      failures ::= s"brute: rank-1 self-retrieval failed: ${bruteTop.toSeq}"

    // -------- IVF-PQ at 10⁶ vectors: the COMPOSED layout — PQ codes
    // partitioned by IVF cell — built once over the expanded corpus
    // (reading back the LSH layout's materialized vectors), then probed
    // at nProbe=8 of 128 cells. Evidence recorded:
    //  - dirs_probed ≪ dirs_total (the scan touches only probed cell
    //    directories — hard-failed if pruning reads over a quarter);
    //  - FULL-probe result == flat ADC scan (cell pruning is physical,
    //    not semantic, proven at 10⁶ — the small-scale spec's property
    //    re-checked where it matters);
    //  - partial-probe recall vs the flat ADC top-k (the documented
    //    nProbe trade, floored so it can't silently evaporate).
    val bigV = spark.read.parquet(layoutPath).select("vec_id", "embedding")
    val ivfpqDir = tempDir("graft_scale_ivfpq")
    val ((ivfCents, pqBooks), tIvfpqBuild) = timed {
      val (cents, _) = operators.Ann.buildIvf(spark, bigV, nCells = 128, maxIter = 2)
      val books = operators.Ann.trainPqCodebooks(bigV, m = 8, dsub = 8, kStar = 16, maxIter = 2)
      operators.Ann.writeIvfPqPartitioned(bigV, cents, books, ivfpqDir)
      (cents, books)
    }
    val ivfpqDirsProbed = queries.select("q_embedding").collect()
      .flatMap(r => operators.Ann.nearestCells(r.getSeq[Float](0), ivfCents, 8))
      .distinct.length
    val (ivfpqTop, tIvfpqProbe) = timed {
      operators.Ann.ivfPqJoin(spark, ivfpqDir, queries, ivfCents, pqBooks, k = 5, nProbe = 8)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val (flatAdcTop, tFlatAdc) = timed {
      operators.Ann.pqAdcTopK(bigV, pqBooks, nQueries = 5, k = 5)
        .select("query_id", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    }
    val (ivfpqFullTop, tIvfpqFull) = timed {
      operators.Ann.ivfPqJoin(spark, ivfpqDir, queries, ivfCents, pqBooks, k = 5, nProbe = 128)
        .select("query_id", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    }
    if (ivfpqFullTop.toSet != flatAdcTop.toSet)
      failures ::= s"ivfpq: full probe != flat ADC (${ivfpqFullTop.length} vs ${flatAdcTop.length} rows)"
    // Pruning calibration: each query touches exactly nProbe=8 cell
    // dirs; the BATCH scan's partition filter is the union over the
    // query batch, structurally ≤ nQueries·nProbe = 40 (r8's assert
    // demanded the 5-query union fit in 32 — a bound no correct 8-probe
    // batch of 5 disjoint queries can meet; the per-query fraction,
    // 8/128, is the number that scales).
    if (ivfpqDirsProbed > 5 * 8)
      failures ::= s"ivfpq: $ivfpqDirsProbed dirs for 5 queries × 8 probes — probe leak"
    if (ivfpqDirsProbed * 2 >= 128)
      failures ::= s"ivfpq: probed $ivfpqDirsProbed/128 dirs — batch pruning not engaged"
    val flatPairs = flatAdcTop.map(r => (r._1, r._3)).toSet
    val ivfpqRecall = ivfpqTop.count(flatPairs.contains).toDouble / flatPairs.size
    if (ivfpqRecall < 0.6)
      failures ::= f"ivfpq: 8/128-cell probe recall vs flat ADC $ivfpqRecall%.3f below 0.6"

    // -------- IVF-PQ rerank at 10⁶: the exact-euclidean refinement of
    // the same probed candidates. Evidence: recall vs the TRUE euclidean
    // top-k must never fall below the plain ADC path's (the rerank only
    // reorders candidates by exact distance — a drop means the two-stage
    // join is broken), and the refinement touches only
    // queries × k × overfetch float rows (the brute pass below is the
    // full-scan cost it avoids).
    import org.apache.spark.sql.expressions.Window
    // One exact pass collects ranks to 10: rank<=5 grades the k=5 sweep
    // legs (unchanged), the full set grades the recall@10 frontier leg.
    val (exactEucRanked, tExactEuc) = timed {
      val qsE = queries.select(col("query_id"), col("q_embedding").as("q_emb"))
      val d2 = aggregate(
        zip_with(col("q_emb"), col("embedding"),
          (x, y) => { val d = x.cast("double") - y.cast("double"); d * d }),
        lit(0.0d), (acc, v) => acc + v)
      bigV.crossJoin(broadcast(qsE))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("d2", d2)
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(asc("d2"), asc("vec_id"))))
        .filter(col("rank") <= 10)
        .select("query_id", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    }
    val exactEucPairs = exactEucRanked.filter(_._3 <= 5).map(r => (r._1, r._2)).toSet
    val exactEucPairs10 = exactEucRanked.map(r => (r._1, r._2)).toSet
    val (rerankTop, tRerank) = timed {
      operators.Ann.ivfPqTopKReranked(
        spark, ivfpqDir, queries, bigV, ivfCents, pqBooks,
        k = 5, nProbe = 8, overfetch = 4)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val plainEucRecall = ivfpqTop.count(exactEucPairs.contains).toDouble / exactEucPairs.size
    val rerankEucRecall = rerankTop.count(exactEucPairs.contains).toDouble / exactEucPairs.size
    if (rerankEucRecall + 1e-9 < plainEucRecall)
      failures ::= f"ivfpq_rerank: recall $rerankEucRecall%.3f fell below plain ADC $plainEucRecall%.3f"
    if (rerankEucRecall < 0.5)
      failures ::= f"ivfpq_rerank: recall vs exact euclidean $rerankEucRecall%.3f below 0.5"

    // -------- IVF-PQ parameter SWEEP (r9 verdict #6): the recall/cost
    // frontier the Verify gates' thresholds trace to — nProbe ×
    // overfetch over the same 10⁶-vector layout, recall vs the exact
    // euclidean top-k, probe seconds per setting. Records the curve so
    // the gates rest on a frontier, not a point.
    val sweep = for {
      np <- Seq(2, 8, 32)
      of <- Seq(1, 4)
    } yield {
      val (pairs, tS) = timed {
        (if (of == 1)
          operators.Ann.ivfPqJoin(
            spark, ivfpqDir, queries, ivfCents, pqBooks, k = 5, nProbe = np)
        else
          operators.Ann.ivfPqTopKReranked(
            spark, ivfpqDir, queries, bigV, ivfCents, pqBooks,
            k = 5, nProbe = np, overfetch = of))
          .select("query_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      (np, of, pairs.count(exactEucPairs.contains).toDouble / exactEucPairs.size, tS)
    }
    // Frontier sanity. NOT asserted: monotonicity in nProbe — measured
    // here (and a known ADC property), recall of the FINAL top-k can
    // DROP as the probe widens (0.76 → 0.68 across 2 → 32 cells at
    // overfetch=1): the candidate set is a superset, but every added
    // cell adds quantization-noisy decoys that can outrank true
    // neighbors in ADC distance before any exact refinement runs. That
    // recorded non-monotonicity is exactly why the sweep exists — probe
    // budget is a tuning point on a curve, not "more is safer". What IS
    // structural: a floor under every setting, and exact rerank never
    // below its plain-ADC sibling at the same probe.
    sweep.foreach { case (np, of, rec, _) =>
      if (rec < 0.5)
        failures ::= f"ivfpq_sweep: recall $rec%.3f below 0.5 at nProbe=$np overfetch=$of"
    }
    for (np <- Seq(2, 8, 32)) {
      val plain = sweep.find(s => s._1 == np && s._2 == 1).get._3
      val rr = sweep.find(s => s._1 == np && s._2 == 4).get._3
      if (rr + 1e-9 < plain)
        failures ::= f"ivfpq_sweep: rerank recall $rr%.3f below plain $plain%.3f at nProbe=$np"
    }

    // -------- OPQ at 10⁶ (r10 verdict #3): the learned-rotation lever
    // on the overfetch=1 frontier. Trains on the same bounded hash
    // sample (driver-local Procrustes alternation), rotates the corpus
    // inside the one layout-write pass, probes with rotated queries;
    // recall graded against the SAME original-space exact euclidean
    // top-k (rotation preserves euclidean geometry). Recorded: the flat
    // ADC side-by-side (plain vs OPQ — the overfetch=1 number the
    // verdict named) and probe rows at the sweep's nProbe points.
    // Failure wiring: a floor under every setting plus non-inferiority
    // vs plain ADC with 0.05 slack (this fixture's base vectors are
    // near-isotropic — OPQ's structural win is capacity rebalancing,
    // spec-pinned on an anisotropic fixture in AnnSpec; at scale the
    // claim recorded here is "never worse, same probe cost").
    val ((opqRot, opqBooks), tOpqTrain) = timed {
      operators.Ann.trainOpq(bigV, m = 8, dsub = 8, kStar = 16,
        opqIters = 6, lloydIters = 6)
    }
    val bigVrot = operators.Ann.rotated(bigV, opqRot)
    val opqDir = tempDir("graft_scale_opq")
    val (opqCents, tOpqBuild) = timed {
      val (cents, _) = operators.Ann.buildIvf(spark, bigVrot, nCells = 128, maxIter = 2)
      operators.Ann.writeIvfPqPartitioned(bigVrot, cents, opqBooks, opqDir)
      cents
    }
    val queriesRot = operators.Ann.rotated(
      queries.withColumnRenamed("q_embedding", "embedding"), opqRot)
      .withColumnRenamed("embedding", "q_embedding")
    val (opqFlatTop, tOpqFlat) = timed {
      operators.Ann.pqAdcTopK(bigVrot, opqBooks, nQueries = 5, k = 5)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val flatPlainEucRecall =
      flatAdcTop.map(r => (r._1, r._3)).count(exactEucPairs.contains).toDouble / exactEucPairs.size
    val opqFlatRecall =
      opqFlatTop.count(exactEucPairs.contains).toDouble / exactEucPairs.size
    if (opqFlatRecall + 0.05 < flatPlainEucRecall)
      failures ::= f"opq: flat recall $opqFlatRecall%.3f more than 0.05 below plain $flatPlainEucRecall%.3f"
    val opqSweep = Seq(2, 8, 32).map { np =>
      val (pairs, tS) = timed {
        operators.Ann.ivfPqJoin(
          spark, opqDir, queriesRot, opqCents, opqBooks, k = 5, nProbe = np)
          .select("query_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      (np, pairs.count(exactEucPairs.contains).toDouble / exactEucPairs.size, tS)
    }
    opqSweep.foreach { case (np, rec, _) =>
      if (rec < 0.5)
        failures ::= f"opq_sweep: recall $rec%.3f below 0.5 at nProbe=$np overfetch=1"
    }

    // -------- LOPQ (per-cell residual books) at 10⁶: the
    // after-OPQ lever on the overfetch=1 frontier — every one of the
    // 128 cells trains its own books in parallel (mapGroups), encoding
    // and probing under the cell's own codebook. Graded against the
    // SAME exact euclidean top-k at the sweep's nProbe points. Failure
    // wiring mirrors OPQ: floor under every setting + non-inferiority
    // vs the plain global-book sweep with 0.05 slack (the structural
    // win — per-cell adaptation — is spec-pinned on a cell-structured
    // fixture in LopqSpec; the claim recorded at scale is "never worse,
    // same probe cost").
    val (lopqBooks, tLopqTrain) = timed {
      operators.Ann.trainLocalPqCodebooks(
        bigV, ivfCents, m = 8, dsub = 8, kStar = 16, maxIter = 5)
    }
    val lopqDir = tempDir("graft_scale_lopq")
    val (_, tLopqBuild) = timed {
      operators.Ann.writeIvfPqLocalPartitioned(bigV, ivfCents, lopqBooks, s"$lopqDir/codes")
    }
    val lopqSweep = Seq(2, 8, 32).map { np =>
      val (pairs, tS) = timed {
        operators.Ann.ivfPqLocalTopK(
          spark, s"$lopqDir/codes", queries, ivfCents, lopqBooks, k = 5, nProbe = np)
          .select("query_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      (np, pairs.count(exactEucPairs.contains).toDouble / exactEucPairs.size, tS)
    }
    lopqSweep.foreach { case (np, rec, _) =>
      if (rec < 0.5)
        failures ::= f"lopq_sweep: recall $rec%.3f below 0.5 at nProbe=$np overfetch=1"
      val plain = sweep.find(s => s._1 == np && s._2 == 1).get._3
      if (rec + 0.05 < plain)
        failures ::= f"lopq_sweep: recall $rec%.3f more than 0.05 below plain $plain%.3f at nProbe=$np"
    }

    // -------- ≥0.9 recall@10 frontier point at the FULL 10⁶ vectors
    // (r12 verdict #4; corpus size to 10⁶ per r13 verdict #2): the
    // approximate tier must be able to BUY its way to near-exact — the
    // k-NN retrieval contract is exact top-k, so the question a user of
    // the approximate path asks is "what probe budget reaches ~exact?".
    // The frontier corpus uses the SAME graded-near-dup fixture recipe
    // expanded 2.5× (matching the semantic-dedup legs' 10⁶); IVF cells
    // and LOPQ books are the ones trained on the 4×10⁵ corpus — at
    // 100 TB you train codebooks on a sample and encode everything
    // under them, and the bases/decoy distribution are identical, so
    // the sample is representative by construction. Encode+layout cost
    // for the big corpus is recorded as build_sec.
    // LOPQ layout + exact-euclidean rerank, escalating (nProbe,
    // overfetch) until recall@10 vs the exact top-10 crosses 0.9; the
    // recorded cost multiplier is probe seconds vs the (nProbe=8,
    // overfetch=1) economy probe on the SAME 10⁶ layout — the price of
    // near-exactness on a corpus where the full exact scan costs
    // exact_scan_sec.
    // Escalation ladder with early stop at the crossing. The endpoint
    // is structurally near-exact: nProbe=128 probes EVERY cell (zero
    // coverage loss) and deep overfetch hands the exact reranker
    // k×overfetch candidates, so the only loss left is a true
    // neighbor ranking below that ADC cut — driven to ~zero as the
    // overfetch widens. Measured first at r13 (at 4×10⁵): recall@10
    // plateaus at 0.72–0.80 through (8,4)/(16,4)/(32,8) on these
    // near-random synthetic embeddings (deep ranks are barely-closer-
    // than-random, exactly PQ's worst case), and crosses only on the
    // wide settings.
    val frontierVariants = (5 * variants + 1) / 2 // 10⁶ vectors at default 200
    val nFro = nVec * frontierVariants
    val froDir = tempDir("graft_scale_frontier")
    // Timed in two stages so the ann_build leg below can reuse the
    // layout write as its 10⁶-scale point: source-vector materialization
    // vs encode+layout (assign → per-cell PQ encode → partitioned write).
    val (_, tFroVecsWrite) = timed {
      expandedVectors(frontierVariants).write.parquet(s"$froDir/vecs")
    }
    val froVecs = spark.read.parquet(s"$froDir/vecs")
    val (_, tFroLayout) = timed {
      operators.Ann.writeIvfPqLocalPartitioned(
        froVecs, ivfCents, lopqBooks, s"$froDir/codes")
    }
    val tFroBuild = tFroVecsWrite + tFroLayout
    val (froExactRanked, tFroExact) = timed {
      val qsE = queries.select(col("query_id"), col("q_embedding").as("q_emb"))
      val d2 = aggregate(
        zip_with(col("q_emb"), col("embedding"),
          (x, y) => { val d = x.cast("double") - y.cast("double"); d * d }),
        lit(0.0d), (acc, v) => acc + v)
      froVecs.crossJoin(broadcast(qsE))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("d2", d2)
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(asc("d2"), asc("vec_id"))))
        .filter(col("rank") <= 10)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val froExact10 = froExactRanked.toSet
    val (froEconomyPairs, froEconomyT) = timed {
      operators.Ann.ivfPqLocalTopK(
        spark, s"$froDir/codes", queries, ivfCents, lopqBooks,
        k = 10, nProbe = 8)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val froEconomyRecall =
      froEconomyPairs.count(froExact10.contains).toDouble / froExact10.size
    val frontierSettings =
      Seq((8, 4), (32, 8), (64, 16), (128, 32), (128, 64), (128, 256))
    val frontier = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, Double, Double)]
    val settingsIt = frontierSettings.iterator
    while (settingsIt.hasNext && !frontier.lastOption.exists(_._3 >= 0.9)) {
      val (np, of) = settingsIt.next()
      val (pairs, tS) = timed {
        operators.Ann.ivfPqLocalTopKReranked(
          spark, s"$froDir/codes", queries, froVecs, ivfCents, lopqBooks,
          k = 10, nProbe = np, overfetch = of)
          .select("query_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      frontier += ((np, of,
        pairs.count(froExact10.contains).toDouble / froExact10.size, tS))
    }
    val crossing = frontier.find(_._3 >= 0.9)
    if (crossing.isEmpty)
      failures ::= s"ann_frontier: no (nProbe, overfetch) setting reached " +
        f"recall@10 >= 0.9 at n=$nFro — best ${frontier.map(_._3).max}%.3f"

    // -------- ANN BUILD-COST scaling (r14 verdict #5): at 100× corpus
    // the BUILD, not the probe, dominates ANN cost (the frontier layout
    // took minutes where probes take seconds), so the "build once,
    // fingerprint-keyed" story needs per-stage numbers at two scales:
    //  - TRAINING (IVF centroids + local PQ codebooks) runs on a
    //    BOUNDED hash-sample (~5×10⁴ rows drawn from either corpus), so
    //    its cost must be FLAT in corpus size — hard-checked below;
    //  - ASSIGNMENT (nearest-cell pass) and ENCODE+LAYOUT (assign →
    //    per-cell PQ encode → partitioned write) are map-only over the
    //    corpus and scale ~linearly — per-row throughput recorded at
    //    10⁵ and 10⁶ so a superlinear regression (a shuffle sneaking
    //    into the layout path) is visible as a throughput drop.
    // The 10⁶ points reuse the frontier corpus and its layout write;
    // the 10⁵ corpus is a hash-slice of the same distribution, encoded
    // under the SAME centroids/books (train-on-sample, encode-all — the
    // production discipline this leg prices).
    val abDir = tempDir("graft_scale_annbuild")
    froVecs.filter(pmod(xxhash64(col("vec_id")), lit(10)) === 0)
      .write.parquet(s"$abDir/vecs")
    val abSmall = spark.read.parquet(s"$abDir/vecs")
    val nAbSmall = abSmall.count()
    // Aggregate over the assignment column, NOT count(): the assign UDF
    // is deterministic, so count() would prune the column and the pass
    // would never execute (the first recording read 0.1 s at BOTH
    // scales — a row count, not an assignment).
    val (_, tAssignSmall) = timed {
      operators.Ann.assignCells(abSmall, ivfCents)
        .agg(sum(col("cell"))).head()
    }
    val (_, tAssignBig) = timed {
      operators.Ann.assignCells(froVecs, ivfCents)
        .agg(sum(col("cell"))).head()
    }
    val (_, tBuildSmall) = timed {
      operators.Ann.writeIvfPqLocalPartitioned(
        abSmall, ivfCents, lopqBooks, s"$abDir/codes")
    }
    // Bounded-sample training at both corpus scales: the sample draw
    // (one linear filter scan) materializes OUTSIDE the timed region —
    // the flat-cost claim is about training on the bounded sample, and
    // both samples are ~5×10⁴ rows by construction.
    val abSampSmall = abSmall
      .filter(pmod(xxhash64(col("vec_id"), lit(1)), lit(2)) === 0).localCheckpoint()
    val abSampBig = froVecs
      .filter(pmod(xxhash64(col("vec_id"), lit(1)), lit(20)) === 0).localCheckpoint()
    val nSampSmall = abSampSmall.count()
    val nSampBig = abSampBig.count()
    def trainOnSample(s: DataFrame): Unit = {
      val (c, _) = operators.Ann.buildIvf(spark, s, nCells = 128, maxIter = 2)
      operators.Ann.trainLocalPqCodebooks(s, c, m = 8, dsub = 8, kStar = 16, maxIter = 2)
      ()
    }
    val (_, tTrainSmall) = timed(trainOnSample(abSampSmall))
    val (_, tTrainBig) = timed(trainOnSample(abSampBig))
    // Flat-training assertion: same-size samples must cost the same to
    // train regardless of the corpus they were drawn from. 2.5× + 5 s
    // of margin absorbs scheduler noise without letting an accidental
    // full-corpus pass (a 10× blowup) through.
    if (tTrainBig > 2.5 * tTrainSmall + 5.0)
      failures ::= f"ann_build: training not flat in corpus size — " +
        f"$tTrainBig%.1f s on the 10⁶-drawn sample vs $tTrainSmall%.1f s on the 10⁵-drawn"

    // -------- ANN distributed-queries JOIN at 10⁵/10⁶ × 10⁴ queries
    // (r16 verdict next #5): the corpus-vs-corpus `ivfJoin` priced at
    // its real shape — the query side is 1% of the corpus, far beyond a
    // probe batch, and auto-broadcast is disabled for the timed runs so
    // the plan is the both-sides-shuffle-by-cell exchange it would be
    // at 100 TB. Evidence recorded:
    //  - scored-pair counts at both scales, computed analytically as
    //    Σ_cell queriesProbing(cell) × occupancy(cell) — hard-failed if
    //    growth is superlinear in corpus size (fixed queries ⇒ pairs
    //    must track occupancy) or approaches queries × corpus
    //    (all-pairs means the probe pruning fell out of the plan);
    //  - the executed plan carries the probed-cell PartitionFilters
    //    and no cartesian/BNLJ — the only driver-side materialization
    //    in the operator is the ≤nCells distinct probed-cell set (the
    //    bounded-collect discipline every layout probe follows; the
    //    query FRAME never collects).
    val ajDir = tempDir("graft_scale_annjoin")
    val (_, tAjLayoutSmall) = timed {
      operators.Ann.writeCellPartitioned(abSmall, ivfCents, s"$ajDir/small")
    }
    val (_, tAjLayoutBig) = timed {
      operators.Ann.writeCellPartitioned(froVecs, ivfCents, s"$ajDir/big")
    }
    val ajQ = froVecs.filter(pmod(xxhash64(col("vec_id"), lit(7)), lit(100)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      .localCheckpoint()
    val nAjQ = ajQ.count()
    val ajProbeU = udf((v: Seq[Float]) => operators.Ann.nearestCells(v, ivfCents, 8))
    def ajPairs(path: String): Long = {
      val occ = spark.read.parquet(path).groupBy("cell").agg(count(lit(1)).as("occ"))
      ajQ.withColumn("cell", explode(ajProbeU(col("q_embedding"))))
        .groupBy("cell").agg(count(lit(1)).as("nq"))
        .join(occ, "cell")
        .agg(coalesce(sum(col("nq") * col("occ")), lit(0L))).head().getLong(0)
    }
    val pairsSmall = ajPairs(s"$ajDir/small")
    val pairsBig = ajPairs(s"$ajDir/big")
    // Probe-side kernel vs closure UDF at 10⁶ QUERY rows (r17 verdict
    // next #2): the join tier exists because the query frame is
    // corpus-sized, so probe generation runs per query row — time the
    // full 10⁶-row corpus as the query side through both forms.
    // Aggregate over the exploded probe column so the pass executes
    // (count() would prune it — the assign-leg lesson above).
    val (_, tProbeUdf1e6) = timed {
      froVecs.select(explode(ajProbeU(col("embedding"))).as("cell"))
        .agg(sum(col("cell"))).head()
    }
    val (_, tProbeKernel1e6) = timed {
      froVecs.select(explode(graft.expressions.VectorExpressions
        .ivfCellProbes(col("embedding"), ivfCents, 8)).as("cell"))
        .agg(sum(col("cell"))).head()
    }
    val abtKey = "spark.sql.autoBroadcastJoinThreshold"
    val abtOld = spark.conf.get(abtKey)
    // Restore in a finally (r17 ADVICE #3): a Spark failure inside a
    // timed join must not leave auto-broadcast disabled for every
    // subsequent evidence leg.
    spark.conf.set(abtKey, "-1")
    val (ajRowsSmall, tAjSmall, ajRowsBig, tAjBig, ajPlan) =
      try {
        val (rs, ts) = timed {
          operators.Ann.ivfJoin(spark, s"$ajDir/small", ajQ, ivfCents,
            k = 10, nProbe = 8).count()
        }
        val ajBigDf = operators.Ann.ivfJoin(spark, s"$ajDir/big", ajQ, ivfCents,
          k = 10, nProbe = 8)
        val (rb, tb) = timed { ajBigDf.count() }
        (rs, ts, rb, tb, ajBigDf.queryExecution.executedPlan.toString)
      } finally spark.conf.set(abtKey, abtOld)
    if (ajRowsBig != nAjQ * 10)
      failures ::= s"ann_join: $ajRowsBig result rows, expected ${nAjQ * 10}"
    val ajRatio = pairsBig.toDouble / math.max(pairsSmall, 1L)
    val ajCorpusRatio = nFro.toDouble / nAbSmall
    if (ajRatio > 2.0 * ajCorpusRatio)
      failures ::= f"ann_join: pair growth $ajRatio%.1fx vs corpus growth " +
        f"$ajCorpusRatio%.1fx — superlinear candidate blow-up"
    if (pairsBig >= nAjQ * nFro / 4)
      failures ::= s"ann_join: $pairsBig scored pairs approaches all-pairs ${nAjQ * nFro}"
    if (ajPlan.contains("BroadcastNestedLoopJoin") || ajPlan.contains("CartesianProduct"))
      failures ::= "ann_join: candidate join degenerated to a cartesian/BNLJ plan"
    // Pruning contract under the r18 adaptive cutoff: a probed set
    // covering < half the cells must reach the scan as a per-value
    // IN/INSET partition filter; one covering >= half must NOT (the
    // isin would prune ~nothing and the full scan is the better shape).
    val ajProbedCells = ajQ
      .withColumn("cell", explode(ajProbeU(col("q_embedding"))))
      .select("cell").distinct().count()
    val ajPf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(ajPlan).map(_.group(1)).mkString(";")
    val ajPruned = ajPf.contains(" IN (") || ajPf.contains("INSET")
    if (2 * ajProbedCells < ivfCents.length && !ajPruned)
      failures ::= "ann_join: probed-cell pruning missing from the layout scan"
    if (2 * ajProbedCells >= ivfCents.length && ajPruned)
      failures ::= "ann_join: adaptive cutoff failed to skip the useless isin"

    // -------- skewed-cell twin (r16 verdict next #3): 20% of the 10⁶
    // corpus collapses onto one direction → one hot cell (the ANN
    // analog of the MinHash hub). The salted join must return results
    // IDENTICAL to the unsalted plan (the guard redistributes, never
    // caps) while the reconstructed per-(cell,salt) occupancy stays
    // ~cap instead of the hot cell's 2×10⁵.
    val skewVecs = froVecs.select(col("vec_id"),
      when(pmod(xxhash64(col("vec_id"), lit(13)), lit(5)) === 0,
        transform(col("embedding"), (x, i) =>
          (lit(1.0f) + pmod(xxhash64(col("vec_id")) + i.cast("long"), lit(997))
            .cast("float") * lit(1e-5f)).cast("float")))
        .otherwise(col("embedding")).as("embedding"))
    val (_, tAjLayoutSkew) = timed {
      operators.Ann.writeCellPartitioned(skewVecs, ivfCents, s"$ajDir/skew")
    }
    val skewOcc = spark.read.parquet(s"$ajDir/skew")
      .groupBy("cell").agg(count(lit(1)).as("n"))
    val hotOcc = skewOcc.agg(max("n")).head().getLong(0)
    if (hotOcc < (nFro * 0.15).toLong)
      failures ::= s"ann_join_skew: fixture not skewed (max cell $hotOcc of $nFro)"
    val skewQ = froVecs.filter(pmod(xxhash64(col("vec_id"), lit(7)), lit(1000)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      .localCheckpoint()
    val nSkewQ = skewQ.count()
    val ajCap = 50000
    def skewRun(cap: Int): (Set[(Long, Int, Long)], Double) = {
      val (rows, t) = timed {
        operators.Ann.ivfJoin(spark, s"$ajDir/skew", skewQ, ivfCents,
          k = 10, nProbe = 8, hotCellCap = cap, maxSalt = 64)
          .select("query_id", "rank", "vec_id").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      }
      (rows, t)
    }
    spark.conf.set(abtKey, "-1")
    val (saltedRows, tAjSalted, unsaltedRows, tAjUnsalted) =
      try {
        val (sr, st) = skewRun(ajCap)
        val (ur, ut) = skewRun(0)
        (sr, st, ur, ut)
      } finally spark.conf.set(abtKey, abtOld)
    if (saltedRows != unsaltedRows)
      failures ::= "ann_join_skew: salted results differ from unsalted"
    val nsaltHot = math.min(64L, math.ceil(hotOcc.toDouble / ajCap).toLong)
    // Reconstructed through the guard's OWN expressions (Ann.hotKeys /
    // Ann.corpusSalt) so this bound certifies the production plan, not
    // a re-implementation of it.
    val skewLayout = spark.read.parquet(s"$ajDir/skew")
    val saltedMax = skewLayout
      .join(operators.Ann.hotKeys(skewLayout, "cell", ajCap, 64), Seq("cell"), "left")
      .withColumn("salt", operators.Ann.corpusSalt)
      .groupBy("cell", "salt").count().agg(max("count")).head().getLong(0)
    if (saltedMax > 2L * ajCap)
      failures ::= s"ann_join_skew: per-(cell,salt) occupancy $saltedMax exceeds 2x cap=$ajCap"

    // -------- LSH-tier distributed join at 10⁶ (the ivfJoin leg's
    // twin, same query frame): Hamming-1 probe signatures explode per
    // query row, candidates from the sig equi-join over the
    // signature-partitioned layout, both sides shuffled by sig with
    // auto-broadcast disabled. The scored-pair LINEARITY story is
    // carried by the ivfJoin leg above; here the evidence is the tier's
    // throughput at 10⁶ plus the same plan contract (probed-sig
    // PartitionFilters, no BNLJ/cartesian) and the analytic pair count
    // recorded against its all-pairs ceiling.
    val ljDir = tempDir("graft_scale_lshjoin")
    val (_, tLjLayout) = timed {
      operators.Ann.writeSignaturePartitioned(froVecs, ljDir, nBits = 8)
    }
    val ljSigU = udf((v: Seq[Float]) =>
      if (v == null) Array.empty[Int]
      else operators.Ann.probeSignatures(
        operators.Ann.signature(v, 8), 8, 1).toArray)
    val ljPairs = {
      val occ = spark.read.parquet(ljDir).groupBy("sig").agg(count(lit(1)).as("occ"))
      ajQ.withColumn("sig", explode(ljSigU(col("q_embedding"))))
        .groupBy("sig").agg(count(lit(1)).as("nq"))
        .join(occ, "sig")
        .agg(coalesce(sum(col("nq") * col("occ")), lit(0L))).head().getLong(0)
    }
    spark.conf.set(abtKey, "-1")
    val (ljRows, tLj, ljPlan) =
      try {
        val ljDf = operators.Ann.lshJoin(spark, ljDir, ajQ, k = 10, nBits = 8, probeBits = 1)
        val (r, t) = timed { ljDf.count() }
        (r, t, ljDf.queryExecution.executedPlan.toString)
      } finally spark.conf.set(abtKey, abtOld)
    if (ljRows != nAjQ * 10)
      failures ::= s"ann_join_lsh: $ljRows result rows, expected ${nAjQ * 10}"
    if (ljPairs >= nAjQ * nFro / 4)
      failures ::= s"ann_join_lsh: $ljPairs scored pairs approaches all-pairs"
    if (ljPlan.contains("BroadcastNestedLoopJoin") || ljPlan.contains("CartesianProduct"))
      failures ::= "ann_join_lsh: candidate join degenerated to a cartesian/BNLJ plan"
    // Same adaptive-cutoff contract as the ivfJoin leg, on the 2^8 sig space.
    val ljProbedSigs = ajQ
      .withColumn("sig", explode(ljSigU(col("q_embedding"))))
      .select("sig").distinct().count()
    val ljPf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(ljPlan).map(_.group(1)).mkString(";")
    val ljPruned = ljPf.contains(" IN (") || ljPf.contains("INSET")
    if (2 * ljProbedSigs < 256 && !ljPruned)
      failures ::= "ann_join_lsh: probed-sig pruning missing from the layout scan"
    if (2 * ljProbedSigs >= 256 && ljPruned)
      failures ::= "ann_join_lsh: adaptive cutoff failed to skip the useless isin"

    // -------- incremental IVF-PQ maintenance at 10⁶: the versioned root.
    // Base = the full 10⁶-vector corpus as one batch write; then a
    // ~5k-row ingest batch appends under the STANDING index (only the
    // batch is scanned/encoded — evidence: batch append time ≪ base
    // write time), two currently-retrieved ids are tombstone-deleted,
    // and the probe runs over live rows. Hard checks: tombstoned ids
    // can never resurface; a planted EXACT twin of query 0's vector
    // (id −1, so every distance tie breaks toward it) must come back at
    // rank 1 — per-subspace argmin encoding makes its reconstruction
    // the closest possible lattice point to the query, so a miss means
    // the appended batch was not probed.
    val verRoot = tempDir("graft_scale_ivfpqv")
    val (_, tVerBase) = timed {
      operators.Ann.ivfPqAppendBatch(spark, verRoot, bigV, ivfCents, pqBooks, "base")
    }
    val nBig = nVec * variants
    val batchVecs = emb
      .select((col("vec_id") + lit(nBig)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + (pmod(lit(variants + 1) * 31 + i, lit(17)) - lit(8)).cast("float") * lit(0.05f))
            .cast("float")).as("embedding"))
      .unionAll(emb.filter(col("vec_id") === 0)
        .select(lit(-1L).as("vec_id"), col("embedding")))
    val (_, tVerBatch) = timed {
      operators.Ann.ivfPqAppendBatch(spark, verRoot, batchVecs, ivfCents, pqBooks, "b1")
    }
    val victimIds = ivfpqTop.map(_._2).distinct.take(2)
    val (_, tVerDel) = timed {
      import spark.implicits._
      operators.Ann.ivfPqDeleteByKey(spark, verRoot, victimIds.toSeq.toDF("vec_id"))
    }
    val (incRows, tVerQuery) = timed {
      operators.Ann.ivfPqTopKVersioned(
        spark, verRoot, queries, ivfCents, pqBooks, k = 5, nProbe = 8)
        .select("query_id", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    }
    if (incRows.exists(r => victimIds.contains(r._3)))
      failures ::= s"ivfpq_incremental: tombstoned id resurfaced in ${incRows.toSeq}"
    if (!incRows.contains((0L, 1, -1L)))
      failures ::= s"ivfpq_incremental: planted batch twin (id -1) not at rank 1 for query 0"
    if (tVerBatch >= tVerBase)
      failures ::= f"ivfpq_incremental: ${batchVecs.count()}-row batch append took $tVerBatch%.1f s vs $tVerBase%.1f s base — not incremental"

    // -------- semantic dedup (SemDeDup) at 10⁶ vectors: 16-dim slices
    // (the pairwise budget is Σ|cell|²·dim — dimension is a linear
    // knob, cell count the quadratic one), 1024 seeded cells. Variant 1
    // is a ±0.005-jittered twin (planted semantic dup, cos ≈ 0.999 on
    // the 0.5-norm slice — r8 used ±0.01, which is cos ≈ 0.997 and sat
    // 1.1% under the 90% same-cell fixture-health floor; the tightened
    // jitter makes the fixture match its documented cos, not the floor
    // match the fixture);
    // variants ≥ 2 are sign-decorrelated (Rademacher flips from
    // xxhash64(v, i) — near-orthogonal to everything, controlled noise).
    // The EXACT property: every twin assigned to its original's cell is
    // dropped — within-cell candidate generation is exhaustive, so a
    // same-cell miss is impossible, not merely unlikely. Twins that
    // jitter across a cell boundary are counted and reported (that is
    // the documented recall cost of cluster-bounded pairing, the same
    // trade the SemDeDup paper makes); the assert also demands ≥90%
    // land same-cell so the planted signal can't silently evaporate.
    val semVariants = (5 * variants + 1) / 2 // 10⁶ vectors at default 200
    val semVecs = emb
      .crossJoin(spark.range(semVariants.toLong).toDF("v"))
      .select(
        (col("v") * nVec + col("vec_id")).as("vec_id"),
        when(col("v") === 0, slice(col("embedding"), 1, 16))
          .when(col("v") === 1,
            transform(slice(col("embedding"), 1, 16), (x, i) =>
              (x + when(pmod(i, lit(2)) === 0, lit(0.005f)).otherwise(lit(-0.005f)))
                .cast("float")))
          .otherwise(
            transform(slice(col("embedding"), 1, 16), (x, i) =>
              (x * when(pmod(xxhash64(col("v"), i), lit(2)) === 0, lit(1.0f))
                .otherwise(lit(-1.0f))).cast("float")))
          .as("embedding"))
    val semInPath = tempDir("graft_scale_semin")
    semVecs.repartition(cpus.toInt * 2).write.mode("overwrite").parquet(semInPath)
    val semCorpus = spark.read.parquet(semInPath)
    val nSemVecs = semCorpus.count()
    val semOutPath = tempDir("graft_scale_semout")
    val (_, tSem) = timed {
      operators.Dedup.semanticDedup(semCorpus, nCells = 1024, threshold = 0.95)
        .write.mode("overwrite").parquet(semOutPath)
    }
    val semFull = spark.read.parquet(semOutPath)
    if (semFull.count() != nSemVecs)
      failures ::= s"semantic: output rows ${semFull.count()} != input $nSemVecs"
    val semCells = semFull.select("vec_id", "cell", "kept")
    val sameCellTwins = semCells.filter(col("vec_id") < nVec)
      .select(col("vec_id").as("o"), col("cell").as("co"))
      .join(semCells.filter(col("vec_id") >= nVec && col("vec_id") < 2 * nVec)
        .select((col("vec_id") - nVec).as("o"), col("cell").as("ct"),
          col("kept").as("twin_kept")), "o")
      .filter(col("co") === col("ct")).cache()
    val plantedSameCell = sameCellTwins.count()
    val sameCellDropped = sameCellTwins.filter(!col("twin_kept")).count()
    sameCellTwins.unpersist()
    if (sameCellDropped != plantedSameCell)
      failures ::= s"semantic: $sameCellDropped of $plantedSameCell same-cell twins dropped"
    if (plantedSameCell < nVec * 9 / 10)
      failures ::= s"semantic: only $plantedSameCell/$nVec twins landed same-cell"
    val semOrigKept = semCells.filter(col("vec_id") < nVec && col("kept")).count()
    if (semOrigKept < nVec * 99 / 100)
      failures ::= s"semantic: only $semOrigKept/$nVec originals kept"

    // -------- MEGA-CELL semantic dedup: same 10⁶ vectors forced through
    // the over-budget path — 64 coarse cells (mean occupancy ~15.6k) with
    // maxCellRows=5000, so EVERY cell exceeds the budget and routes
    // through the cell-scoped banded join (32 bits / 2 wide bands; wide
    // bands because within-cell banding at a 0.95 threshold must prune
    // hard — 16-bit buckets hold ~n/65536 rows, so candidates stay
    // ~n²/2¹⁶ per cell·band instead of the |cell|² the budget forbids).
    // The EXACT property mirrors the same-cell rule above one level down:
    // a twin that lands in its original's cell AND shares ≥1 of the 2
    // signature bands is guaranteed-candidate, so a miss is impossible;
    // band-sharing twins are ~96% at cos 0.999 and the rest are the
    // documented recall cost of banding, counted, not hidden.
    val semMegaPath = tempDir("graft_scale_semmega")
    val (_, tSemMega) = timed {
      operators.Dedup.semanticDedup(semCorpus, nCells = 64, threshold = 0.95,
        maxCellRows = 5000, megaNBits = 32, megaBands = 2)
        .write.mode("overwrite").parquet(semMegaPath)
    }
    val semMega = spark.read.parquet(semMegaPath)
    if (semMega.count() != nSemVecs)
      failures ::= s"semantic_mega: output rows ${semMega.count()} != input $nSemVecs"
    val sigU = udf((v: Seq[Float]) =>
      operators.Dedup.portableSignature(v, 32))
    val semSigs = semCorpus
      .select(col("vec_id"), sigU(col("embedding")).as("sig"))
    val megaCellsOut = semMega.select("vec_id", "cell", "kept")
      .join(semSigs, "vec_id")
    val megaTwinJoin = megaCellsOut.filter(col("vec_id") < nVec)
      .select(col("vec_id").as("o"), col("cell").as("co"), col("sig").as("so"))
      .join(megaCellsOut.filter(col("vec_id") >= nVec && col("vec_id") < 2 * nVec)
        .select((col("vec_id") - nVec).as("o"), col("cell").as("ct"),
          col("sig").as("st"), col("kept").as("twin_kept")), "o")
      .withColumn("same_cell", col("co") === col("ct"))
      .withColumn("shares_band",
        (col("so").bitwiseAND(lit(0xFFFF)) === col("st").bitwiseAND(lit(0xFFFF))) ||
          (shiftrightunsigned(col("so"), 16) === shiftrightunsigned(col("st"), 16)))
      .cache()
    val megaSameCell = megaTwinJoin.filter(col("same_cell")).count()
    val megaBandShared = megaTwinJoin.filter(col("same_cell") && col("shares_band")).count()
    val megaGuaranteedDropped = megaTwinJoin
      .filter(col("same_cell") && col("shares_band") && !col("twin_kept")).count()
    // END-TO-END planted-twin recall of the mega-cell path — cell-miss
    // and band-miss losses INCLUDED — as a hard floor, not a report:
    // the exactness/recall trade the scaladoc documents
    // (Dedup.semanticDedup mega-cell routing) is regression-pinned at
    // 10⁶ here. Measured 0.92 (0.947 same-cell × 0.973 band-sharing);
    // floor at 0.8 catches a broken band join or collapsed cells while
    // tolerating fixture drift.
    val megaTwinsDropped = megaTwinJoin.filter(!col("twin_kept")).count()
    megaTwinJoin.unpersist()
    if (megaGuaranteedDropped != megaBandShared)
      failures ::= s"semantic_mega: $megaGuaranteedDropped of $megaBandShared band-sharing same-cell twins dropped"
    if (megaBandShared < megaSameCell * 9 / 10)
      failures ::= s"semantic_mega: only $megaBandShared/$megaSameCell same-cell twins share a band"
    if (megaSameCell < nVec * 9 / 10)
      failures ::= s"semantic_mega: only $megaSameCell/$nVec twins landed same-cell"
    if (megaTwinsDropped < nVec * 8 / 10)
      failures ::= s"semantic_mega: end-to-end twin recall ${megaTwinsDropped}/$nVec below 0.8 floor"
    val megaOrigKept = megaCellsOut.filter(col("vec_id") < nVec && col("kept")).count()
    if (megaOrigKept < nVec * 99 / 100)
      failures ::= s"semantic_mega: only $megaOrigKept/$nVec originals kept"

    // -------- data SELECTION at 10⁶ docs: DSIR, the quality
    // classifier, and BPE training over the expanded text corpus. The
    // corpus is its own planted signal: v0/v1 docs are verbatim base
    // docs, v≥2 are token-suffixed with a DISJOINT vocabulary — with
    // the v0 slice as the TARGET, the on-target population is exactly
    // the 2·nBase v<2 docs, and both selectors must find it.
    val selTarget = corpus.filter(col("doc_id") < nBase)

    // DSIR (murmur path — the scale default): per-doc log-weights over
    // all 10⁶ docs, Gumbel top-1000. Off-target docs carry ~hundreds of
    // absent-from-target tokens, each a strongly negative log-ratio, so
    // the Gumbel noise (max ~ln 10⁶ ≈ 14 over the decoys) cannot bridge
    // the gap: ALL 1000 selections must be v<2.
    val (dsirSel, tDsirSel) = timed {
      operators.Scale.dsirSelect(corpus, selTarget, k = 1000, nBuckets = 4096,
        seed = 7L)
        .select("doc_id").collect().map(_.getLong(0))
    }
    val dsirOnTarget = dsirSel.count(_ < 2 * nBase)
    if (dsirOnTarget != 1000)
      failures ::= s"dsir: only $dsirOnTarget/1000 selections on-target"

    // Quality classifier: train v0-slice vs a ~nBase hash-sample of the
    // suffixed decoys (bounded curated-vs-sample corpora), then SCORE
    // ALL 10⁶ docs with the ROW-LOCAL column — the map-only pass the
    // 100 TB pool pays, timed for throughput. Disjoint vocabularies ⇒
    // the class means must separate wide.
    val qNeg = corpus.filter(col("doc_id") >= 2 * nBase &&
      pmod(xxhash64(col("doc_id")), lit(variants.toLong - 2)) === 0)
    val (qw, tQTrain) = timed {
      operators.QualityModel.train(selTarget, qNeg, nBuckets = 4096,
        iters = 30, lr = 300.0)
    }
    val (qMeans, tQScore) = timed {
      corpus
        .withColumn("quality",
          operators.QualityModel.qualityCol(col("text"), qw, 4096))
        .groupBy(col("doc_id") < 2 * nBase)
        .agg(avg("quality"))
        .collect().map(r => (r.getBoolean(0), r.getDouble(1))).toMap
    }
    if (qMeans(true) < qMeans(false) + 0.3)
      failures ::= f"quality: on-target mean ${qMeans(true)}%.3f not separated from ${qMeans(false)}%.3f"

    // BPE training over the 10⁶-doc corpus — the vocab is ~200× the
    // base corpus's (every suffixed variant mints new words), the
    // stress case for the word-level formulation: each round is still
    // one explode+aggregate over the (distributed) vocab. Invariant:
    // the selected pair counts are NON-INCREASING — a merge can only
    // create pairs whose counts are bounded by the pair it replaced, so
    // an increase means the recount is broken.
    val ((bpeVocab, bpeMerges), tBpe) = timed {
      val v = operators.Bpe.wordCounts(corpus).count()
      (v, operators.Bpe.learnMerges(corpus, nMerges = 8))
    }
    if (bpeMerges.length != 8)
      failures ::= s"bpe: learned ${bpeMerges.length}/8 merges"
    if (bpeMerges.map(_._3).sliding(2).exists(p => p.length == 2 && p(1) > p(0)))
      failures ::= s"bpe: merge counts not non-increasing: ${bpeMerges.map(_._3)}"

    // -------- BPE token-id corpus emit + packing at 10⁶ docs (r9 next
    // #1): the closed tokenizer→packing loop. Map-only encode of every
    // document to id arrays under the learned table (per-executor word
    // memo), then training bins packed by the REAL token counts.
    // Invariants: zero UNK ids (the alphabet came from this corpus),
    // and the packed bins' token total equals the encoded corpus's
    // token total exactly — packing loses nothing.
    val bpeM = bpeMerges.map(m => (m._1, m._2))
    val bpeIds = operators.Bpe.vocabIds(operators.Bpe.alphabet(corpus), bpeM)
    val ((encDocs, encTokens, encUnk), tEncode) = timed {
      val enc = operators.Bpe.encodeCorpus(corpus, bpeM, bpeIds).localCheckpoint()
      val r = enc.agg(
        count(lit(1)),
        sum("n_tokens"),
        sum(size(filter(col("token_ids"), x => x < 0)))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    if (encDocs != nDocs) failures ::= s"bpe_encode: $encDocs/$nDocs docs encoded"
    if (encUnk != 0) failures ::= s"bpe_encode: $encUnk UNK ids on the training corpus"
    val ((packBinsN, packTokens), tPack) = timed {
      val enc = operators.Bpe.encodeCorpus(corpus, bpeM, bpeIds)
      val bins = operators.Scale.packSequencesBy(
        enc, col("n_tokens"), budgetTokens = 4096, shards = 16)
      val r = bins.agg(count(lit(1)), sum("total_tokens")).head()
      (r.getLong(0), r.getLong(1))
    }
    if (packTokens != encTokens)
      failures ::= s"bpe_pack: bin total $packTokens != encoded total $encTokens"

    // -------- INCREMENTAL BPE trainer at a ~1.4M-word vocab (the r9
    // scale `weak`, fixed): bulk = 10⁶ 8-hex-char words (each hex 2-gram
    // touches only ~2.7% of them), plus a planted 400K-word family
    // suffixed "ssss" whose (s,s) pair dominates the first merges. The
    // recorded (touched, sec) series is the evidence the brief asked
    // for: early family merges touch ~400K words, the following hex
    // merges ~25K — per-merge cost tracks the touch fraction instead of
    // staying flat at full-vocab, and the whole run must stay EXACTLY
    // equal to the sequential reference (and to the recount path, timed
    // alongside as the baseline the incremental form replaces).
    val bpeBig = spark.range(1400000L).toDF("doc_id")
      .select(col("doc_id"),
        when(col("doc_id") < 1000000L, substring(md5(col("doc_id").cast("string")), 1, 8))
          .otherwise(concat(substring(md5(col("doc_id").cast("string")), 1, 8), lit("ssss")))
          .as("text"))
      .repartition(cpus.toInt * 2)
      .localCheckpoint()
    val nBpeMerges = 12
    val ((bpeIncMerges, bpeIncStats), tBpeInc) = timed {
      operators.Bpe.learnMergesWithStats(bpeBig, nBpeMerges)
    }
    val (bpeRecMerges, tBpeRec) = timed {
      operators.Bpe.learnMerges(bpeBig, nBpeMerges, recountBelow = Long.MaxValue)
    }
    val (bpeRefMerges, _) = timed {
      operators.Bpe.learnMergesReference(
        operators.Bpe.wordCounts(bpeBig)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq,
        nBpeMerges)
    }
    if (bpeIncMerges != bpeRefMerges)
      failures ::= "bpe_incremental: diverged from the sequential reference at 1.4M vocab"
    if (bpeIncMerges != bpeRecMerges)
      failures ::= "bpe_incremental: diverged from the recount path at 1.4M vocab"
    locally {
      val maxTouch = bpeIncStats.maxBy(_.touchedWords)
      val minTouch = bpeIncStats.minBy(_.touchedWords)
      if (maxTouch.touchedWords < 5 * minTouch.touchedWords)
        failures ::= s"bpe_incremental: touch range too flat to evidence " +
          s"(${minTouch.touchedWords}..${maxTouch.touchedWords})"
      else {
        // MEDIANS per touch class, not the single min/max merges: one
        // scheduler stall on the smallest-touch merge flipped this gate
        // (r13 passed by 0.06 s; an r14 recording read the min-touch
        // merge at the max-touch cost) — the same median-over-stalls
        // discipline the bench uses.
        def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
        val big = bpeIncStats.filter(_.touchedWords * 2 >= maxTouch.touchedWords).map(_.sec)
        val small = bpeIncStats.filter(_.touchedWords <= minTouch.touchedWords * 2).map(_.sec)
        if (median(small) > median(big))
          failures ::= f"bpe_incremental: cost flat vs touch — median " +
            f"${median(small)}%.1f s over ${small.size} small-touch merges vs " +
            f"${median(big)}%.1f s over ${big.size} big-touch merges"
      }
    }

    // -------- DEEP-merge regime (r10 verdict #6): ≥1000 merges with
    // adaptive compaction actually firing, so "compaction amortizes O(1)
    // per touched row" is measured, not asserted. 200K distinct 12-hex
    // words sustain >1000 merges; maxOverlayRows=30K forces regular
    // overlay→base folds. Recorded: compaction count, the per-100-merge
    // median cost curve (the tail must NOT degrade — a leaking overlay
    // or lineage blowup shows up exactly there), and prefix equality of
    // the first 200 merges against the sequential reference (full-depth
    // equality is the Verify gate's job at its own budget; the prefix
    // check here pins the deep run to the same rule without a
    // 1000-iteration driver replay).
    val bpeDeep = spark.range(200000L).toDF("doc_id")
      .select(col("doc_id"),
        substring(md5(col("doc_id").cast("string")), 1, 12).as("text"))
      .repartition(cpus.toInt * 2)
      .localCheckpoint()
    val nDeepMerges = 1000
    val aqeWasDeep = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val ((deepMerges, deepStats), tDeep) =
      try timed {
        operators.Bpe.learnMergesWithStats(bpeDeep, nDeepMerges, maxOverlayRows = 30000)
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWasDeep)
    val deepRefPrefix = operators.Bpe.learnMergesReference(
      operators.Bpe.wordCounts(bpeDeep)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq,
      200)
    if (deepMerges.length < nDeepMerges)
      failures ::= s"bpe_deep: vocab exhausted at ${deepMerges.length} merges"
    if (deepMerges.take(200) != deepRefPrefix)
      failures ::= "bpe_deep: first 200 merges diverged from the sequential reference"
    val deepCompactions = deepStats.count(_.compacted)
    if (deepCompactions < 5)
      failures ::= s"bpe_deep: only $deepCompactions compactions — adaptive path not exercised"
    def medianSec(s: Seq[operators.Bpe.MergeStat]): Double = {
      val xs = s.map(_.sec).sorted
      if (xs.isEmpty) 0.0 else xs(xs.length / 2)
    }
    val deepCurve = deepStats.grouped(100).map(g => medianSec(g.toSeq)).toSeq
    locally {
      val mid = medianSec(deepStats.slice(250, 500).toSeq)
      val tail = medianSec(deepStats.slice(750, 1000).toSeq)
      if (tail > 2 * mid)
        failures ::= f"bpe_deep: tail per-merge cost $tail%.2f s degraded vs mid $mid%.2f s"
    }

    // -------- Z-order data-skipping layout at 2M rows: the claim under
    // test is GEOMETRIC, not throughput — a conjunctive 2-D box query
    // over the Morton-clustered layout must materialize a small
    // multi-dimensional neighborhood from parquet, while the best
    // single-column sort can only prune one dimension. Hard checks:
    // both layouts return the identical answer; z materializes ≤ half
    // of linear's rows and ≤ 10% of the table. (At 100 TB the same
    // footer-stats mechanism prunes row groups instead of whole small
    // files; the ratio is what transfers.)
    val zN = 2000000L
    val zSrc = spark.range(zN).select(
      col("id"),
      (col("id") * 2654435761L % 1000003L).cast("double").as("a"),
      (col("id") * 40503L % 999983L).cast("double").as("b"),
      md5(col("id").cast("string")).as("payload"))
    val zDir = tempDir("graft_scale_zorder")
    val (_, tZWrite) = timed {
      operators.Layout.writeZOrdered(zSrc, Seq("a", "b"), s"$zDir/z", nFiles = 256)
    }
    val (_, tLinWrite) = timed {
      operators.Layout.writeLinear(zSrc, "a", s"$zDir/lin", nFiles = 256)
    }
    def zBox(df: DataFrame) = df.filter(
      col("a").between(100000, 150000) && col("b").between(400000, 450000))
    val zAnswer = operators.Layout.fingerprint(zBox(spark.read.parquet(s"$zDir/z")), "id")
    val linAnswer = operators.Layout.fingerprint(zBox(spark.read.parquet(s"$zDir/lin")), "id")
    if (zAnswer != linAnswer)
      failures ::= s"zorder: layouts disagree — z=$zAnswer linear=$linAnswer"
    val (zMat, tZScan) = timed {
      operators.Layout.scanRowsMaterialized(zBox(spark.read.parquet(s"$zDir/z")))
    }
    val (linMat, tLinScan) = timed {
      operators.Layout.scanRowsMaterialized(zBox(spark.read.parquet(s"$zDir/lin")))
    }
    if (zMat * 2 > linMat)
      failures ::= s"zorder: z materialized $zMat, not under half of linear $linMat"
    if (zMat * 10 > zN)
      failures ::= s"zorder: z materialized $zMat of $zN — over 10% of the table"

    // -------- Bloom-gated incremental dedup at 10M history keys: the
    // claim under test is the SHUFFLE ASYMMETRY — the gate's answer must
    // equal the plain anti-join bit-for-bit while the history side is
    // only scanned (bloom build + broadcast-probe), never exchanged, and
    // the exact-verify join sees only the candidate sliver (true dups +
    // ~fpp of the novel rows), not the whole batch. At 100 TB the bloom
    // (~1.2 bytes/key) is built once and amortized across every daily
    // batch; the anti-join baseline re-shuffles the full history per
    // batch.
    val bgHistN = 10000000L
    val bgBatchN = 1000000L
    val bgHist = spark.range(bgHistN).select(col("id").as("k"),
      (col("id") * 31L % 1000L).as("payload"))
    // 10% of the batch collides with history, 90% is novel.
    val bgBatch = spark.range(bgBatchN).select(
      when(col("id") % 10 === 0, col("id"))
        .otherwise(col("id") + bgHistN).as("k"),
      lit(-1L).as("payload"))
    val ((bgOut, bgStats), tBloomGate) = timed {
      val r = operators.Dedup.bloomGateWithStats(bgHist, bgBatch, Seq("k"), fpp = 0.01)
      (operators.Layout.fingerprint(r._1, "k"), r._2)
    }
    val (bgRef, tAntiJoin) = timed {
      operators.Layout.fingerprint(
        bgBatch.join(bgHist.select("k"), Seq("k"), "left_anti"), "k")
    }
    if (bgOut != bgRef)
      failures ::= s"bloom_gate: gate=$bgOut anti-join=$bgRef disagree"
    val bgDups = bgBatchN / 10
    if (bgStats.candidates > bgDups + (3 * 0.01 * (bgBatchN - bgDups)).toLong)
      failures ::= s"bloom_gate: ${bgStats.candidates} candidates — fp rate " +
        "far above the fpp=0.01 regime"
    if (bgStats.confirmedDups != bgDups)
      failures ::= s"bloom_gate: confirmed ${bgStats.confirmedDups} dups, expected $bgDups"
    // Measured-fpp gate at the scale where the r12 under-sizing bug bit
    // (stat.bloomFilter's 2^26 maxNumBits clamp measured ~11% here):
    // the MEASURED rate over the batch's novel keys must sit within 2x
    // the requested fpp, and the filter must be bigger than the clamp.
    if (bgStats.measuredFpp > 2 * 0.01)
      failures ::= f"bloom_gate: measured fpp ${bgStats.measuredFpp}%.4f over 2x requested 0.01"
    if (bgStats.filterBits <= (1L << 26))
      failures ::= s"bloom_gate: ${bgStats.filterBits} bits — inside the maxNumBits clamp regime"

    // -------- weighted PageRank at graph scale: the claim under test is
    // the PER-ITERATION plan — one shares⋈rank equi-join + one dst
    // aggregation + a 1-row broadcast dangling mass + IterScope
    // retention — staying near-linear in |E| as the graph grows 10×. At
    // 100 TB the iteration cost IS the operator; the registry query only
    // proves it on a 100-node graph. Synthetic skewed graph: src uniform
    // (out-edges everywhere), dst = (h2·h3) div N — a product
    // distribution quadratically skewed toward low ids, so the fixed
    // point has a checkable in-degree head. Exactness at scale: the
    // distributed integer power iteration must equal the sequential
    // in-driver reference NODE FOR NODE at the small scale (integer
    // arithmetic is order-free, so any divergence is a real bug), and
    // total mass must stay conserved up to truncation at both scales.
    def synthEdges(nNodes: Long, nEdges: Long): DataFrame =
      spark.range(nEdges).select(
        pmod(xxhash64(col("id"), lit(1)), lit(nNodes)).as("src"),
        expr(s"pmod(xxhash64(id, 2L), ${nNodes}L) * pmod(xxhash64(id, 3L), ${nNodes}L) div ${nNodes}L")
          .as("dst"),
        (pmod(xxhash64(col("id"), lit(4)), lit(5)) + 1).as("weight"))
        .filter(col("src") =!= col("dst"))
    val prDir = tempDir("graft_scale_pr")
    val (prNSmall, prESmall) = (10000L, 100000L)
    val (prNBig, prEBig) = (100000L, 1000000L)
    synthEdges(prNSmall, prESmall).write.parquet(s"$prDir/small")
    synthEdges(prNBig, prEBig).write.parquet(s"$prDir/big")
    val prSmallEdges = spark.read.parquet(s"$prDir/small")
    val prBigEdges = spark.read.parquet(s"$prDir/big")
    val prIters = 15
    val (prSmallRows, tPrSmall) = timed {
      operators.Graphs.pageRankPicos(prSmallEdges, prIters)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
    }
    val prRef = operators.Graphs.pageRankPicosReference(
      prSmallEdges.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq,
      prIters)
    val prRefEqual = prSmallRows.length == prRef.size &&
      prSmallRows.forall { case (node, pr) => prRef.get(node).contains(pr) }
    if (!prRefEqual)
      failures ::= s"graph_pagerank: distributed != sequential reference at $prESmall edges"
    val ((prBigMass, prBigN, prBigTop), tPrBig) = timed {
      val r = operators.Graphs.pageRankPicos(prBigEdges, prIters)
      val h = r.agg(sum(col("pr_picos")), count(lit(1))).head()
      val top = r.orderBy(desc("pr_picos"), asc("node")).limit(1).head().getLong(0)
      (h.getLong(0), h.getLong(1), top)
    }
    val prSmallMass = prSmallRows.map(_._2).sum
    // Truncating division only ever LOSES mass; conservation holds to
    // ~0.1% at these shapes (the registry graph reads 0.99986e12).
    for ((tag, mass) <- Seq("small" -> prSmallMass, "big" -> prBigMass))
      if (mass > 1000000000000L || mass < 990000000000L)
        failures ::= s"graph_pagerank: $tag mass $mass outside [0.99e12, 1e12]"
    if (prBigTop >= prNBig / 10)
      failures ::= s"graph_pagerank: top node $prBigTop outside the planted in-degree head"

    spark.stop()
    def r1(v: Double): String = f"$v%.1f"
    val line =
      s"""{"metric":"scale_evidence","n_docs":$nDocs,"n_base":$nBase,"cpus":$cpus,""" +
        s""""exact_dedup":{"sec":${r1(tExact)},"docs_per_sec":${r1(nDocs / tExact)}},""" +
        s""""minhash_lsh":{"sec":${r1(tMinhash)},"docs_per_sec":${r1(nDocs / tMinhash)},"planted_pairs_found":$mhPairs},""" +
        s""""dedup_skew":{"n_docs":$nDocs,"hot_copies":$nHot,"max_band_size":$skewCap,""" +
        s""""sec":${r1(tSkew)},"uniform_sec":${r1(tMinhash)},"hub_pairs":$hubPairs,""" +
        s""""planted_cold_pairs":$plantedCold,"hot_bands":$nHotBands,""" +
        s""""cold_max_partition_share":${f"$coldShare%.4f"},"uncapped_max_partition_share":${f"$uncappedShare%.4f"}},""" +
        s""""simhash64_banded":{"sec":${r1(tSimhash64)},"docs_per_sec":${r1(nDocs / tSimhash64)},"planted_pairs_found":$sh64Pairs},""" +
        s""""simhash_banded_portable":{"n_docs":$nShDocs,"sec":${r1(tSimhash)},"docs_per_sec":${r1(nShDocs / tSimhash)},"planted_pairs_found":$shPairs},""" +
        s""""line_dedup":{"sec":${r1(tLines)},"docs_per_sec":${r1(nDocs / tLines)},"kept_lines":$lineKept,"hot_line_copies":$nDocs},""" +
        s""""span_dedup":{"sec":${r1(tSpans)},"docs_per_sec":${r1(nDocs / tSpans)},"passage_survivors":$passageSurvivors,"hot_gram_copies":$nDocs,"exact_copies_fully_stripped":$copiesStripped},""" +
        s""""line_index_lifecycle":{"index_sec":${r1(tLineIdx)},"admit_sec":${r1(tLineAdmit)},"batch_docs":$batchN,"mismatches":$lineMismatch},""" +
        s""""span_index_lifecycle":{"index_sec":${r1(tGramIdx)},"admit_sec":${r1(tSpanAdmit)},"batch_docs":$batchN,"mismatches":$spanMismatch},""" +
        s""""ann_partitioned":{"n_vectors":${nVec * variants},"layout_sec":${r1(tLayout)},"probe_sec":${r1(tProbe)},"brute_sec":${r1(tBrute)},"dirs_probed":$dirsProbed,"dirs_total":256},""" +
        s""""ann_ivfpq":{"n_vectors":${nVec * variants},"n_cells":128,"m":8,"k_star":16,"build_sec":${r1(tIvfpqBuild)},"probe_sec":${r1(tIvfpqProbe)},"flat_adc_sec":${r1(tFlatAdc)},"full_probe_sec":${r1(tIvfpqFull)},"dirs_probed":$ivfpqDirsProbed,"dirs_total":128,"full_probe_equals_flat":${ivfpqFullTop.toSet == flatAdcTop.toSet},"probe_recall_vs_flat":${f"$ivfpqRecall%.3f"}},""" +
        s""""ann_ivfpq_rerank":{"n_vectors":${nVec * variants},"overfetch":4,"rerank_sec":${r1(tRerank)},"exact_euclidean_sec":${r1(tExactEuc)},"plain_recall_vs_exact":${f"$plainEucRecall%.3f"},"rerank_recall_vs_exact":${f"$rerankEucRecall%.3f"}},""" +
        s""""ann_ivfpq_incremental":{"n_vectors":${nVec * variants},"batch_rows":${nVec + 1},"base_write_sec":${r1(tVerBase)},"batch_append_sec":${r1(tVerBatch)},"delete_sec":${r1(tVerDel)},"probe_sec":${r1(tVerQuery)},"tombstoned":${victimIds.length},"twin_at_rank1":${incRows.contains((0L, 1, -1L))}},""" +
        s""""semantic_dedup":{"n_vectors":$nSemVecs,"n_cells":1024,"sec":${r1(tSem)},"vecs_per_sec":${r1(nSemVecs / tSem)},"planted_twins":$nVec,"twins_same_cell":$plantedSameCell,"same_cell_twins_dropped":$sameCellDropped,"originals_kept":$semOrigKept},""" +
        s""""semantic_dedup_megacell":{"n_vectors":$nSemVecs,"n_cells":64,"max_cell_rows":5000,"mega_bits":32,"mega_bands":2,"sec":${r1(tSemMega)},"vecs_per_sec":${r1(nSemVecs / tSemMega)},"twins_same_cell":$megaSameCell,"band_sharing_twins":$megaBandShared,"band_sharing_dropped":$megaGuaranteedDropped,"twins_dropped_total":$megaTwinsDropped,"twin_recall_floor":0.8,"originals_kept":$megaOrigKept},""" +
        s""""dsir_select":{"n_docs":$nDocs,"k":1000,"sec":${r1(tDsirSel)},"docs_per_sec":${r1(nDocs / tDsirSel)},"on_target":$dsirOnTarget},""" +
        s""""quality_model":{"n_docs":$nDocs,"train_sec":${r1(tQTrain)},"score_sec":${r1(tQScore)},"score_docs_per_sec":${r1(nDocs / tQScore)},"mean_on_target":${f"${qMeans(true)}%.3f"},"mean_off_target":${f"${qMeans(false)}%.3f"}},""" +
        s""""bpe_train":{"n_docs":$nDocs,"vocab_words":$bpeVocab,"n_merges":${bpeMerges.length},"sec":${r1(tBpe)}},""" +
        s""""bpe_encode_pack":{"n_docs":$encDocs,"total_tokens":$encTokens,"unk_ids":$encUnk,"encode_sec":${r1(tEncode)},"encode_docs_per_sec":${r1(nDocs / tEncode)},"pack_sec":${r1(tPack)},"bins":$packBinsN,"bin_token_total":$packTokens},""" +
        s""""ann_ivfpq_sweep":${sweep.map { case (np, of, rec, tS) =>
          f"""{"n_probe":$np,"overfetch":$of,"recall_vs_exact":$rec%.3f,"probe_sec":${r1(tS)}}"""
        }.mkString("[", ",", "]")},""" +
        s""""ann_opq":{"train_sec":${r1(tOpqTrain)},"build_sec":${r1(tOpqBuild)},"flat_adc_sec":${r1(tOpqFlat)},""" +
        f""""flat_recall_plain":$flatPlainEucRecall%.3f,"flat_recall_opq":$opqFlatRecall%.3f,""" +
        s""""sweep":${opqSweep.map { case (np, rec, tS) =>
          f"""{"n_probe":$np,"overfetch":1,"recall_vs_exact":$rec%.3f,"probe_sec":${r1(tS)}}"""
        }.mkString("[", ",", "]")}},""" +
        s""""ann_lopq":{"train_sec":${r1(tLopqTrain)},"build_sec":${r1(tLopqBuild)},"n_cells":${lopqBooks.size},""" +
        s""""sweep":${lopqSweep.map { case (np, rec, tS) =>
          f"""{"n_probe":$np,"overfetch":1,"recall_vs_exact":$rec%.3f,"probe_sec":${r1(tS)}}"""
        }.mkString("[", ",", "]")}},""" +
        s""""bpe_incremental":{"vocab_words":1400000,"n_merges":${bpeIncMerges.length},"incremental_sec":${r1(tBpeInc)},"recount_sec":${r1(tBpeRec)},"per_merge":${bpeIncStats.map(st =>
          f"""{"touched":${st.touchedWords},"sec":${st.sec}%.2f}""").mkString("[", ",", "]")},""" +
        s""""deep":{"vocab_words":200000,"n_merges":${deepMerges.length},"sec":${r1(tDeep)},"max_overlay_rows":30000,"compactions":$deepCompactions,"per_100_median_sec":${deepCurve.map(v => f"$v%.3f").mkString("[", ",", "]")}}},""" +
        s""""zorder_layout":{"n_rows":$zN,"n_files":256,"z_write_sec":${r1(tZWrite)},"linear_write_sec":${r1(tLinWrite)},""" +
        s""""box_selected":${zAnswer.n},"z_rows_materialized":$zMat,"linear_rows_materialized":$linMat,""" +
        s""""z_scan_sec":${r1(tZScan)},"linear_scan_sec":${r1(tLinScan)},"answers_equal":${zAnswer == linAnswer}},""" +
        s""""ann_frontier":{"n_vectors":$nFro,"k":10,"train_vectors":${nVec * variants},""" +
        s""""build_sec":${r1(tFroBuild)},"exact_scan_sec":${r1(tFroExact)},""" +
        s""""economy_probe_sec":${r1(froEconomyT)},"economy_recall_at_10":${f"$froEconomyRecall%.3f"},""" +
        s""""sweep":[${frontier.map { case (np, of, rec, tS) =>
          s"""{"n_probe":$np,"overfetch":$of,"recall_at_10":${f"$rec%.3f"},"probe_sec":${r1(tS)},"cost_multiplier_vs_economy":${f"${tS / froEconomyT}%.2f"}}"""
        }.mkString(",")}],""" +
        s""""crossing":${crossing.map { case (np, of, rec, tS) =>
          s"""{"n_probe":$np,"overfetch":$of,"recall_at_10":${f"$rec%.3f"},"probe_sec":${r1(tS)},"cost_multiplier_vs_economy":${f"${tS / froEconomyT}%.2f"}}"""
        }.getOrElse("null")}},""" +
        s""""ann_build":{"n_small":$nAbSmall,"n_big":$nFro,""" +
        s""""train_sample_small":$nSampSmall,"train_sample_big":$nSampBig,""" +
        s""""train_sec_small":${r1(tTrainSmall)},"train_sec_big":${r1(tTrainBig)},""" +
        s""""assign_sec_small":${r1(tAssignSmall)},"assign_sec_big":${r1(tAssignBig)},""" +
        s""""build_sec_small":${r1(tBuildSmall)},"build_sec_big":${r1(tFroLayout)},""" +
        s""""build_rows_per_sec_small":${(nAbSmall / math.max(tBuildSmall, 0.001)).toLong},""" +
        s""""build_rows_per_sec_big":${(nFro / math.max(tFroLayout, 0.001)).toLong},""" +
        s""""source_vec_write_sec_big":${r1(tFroVecsWrite)}},""" +
        s""""ann_join":{"n_small":$nAbSmall,"n_big":$nFro,"n_queries":$nAjQ,"n_probe":8,"k":10,""" +
        s""""layout_sec_small":${r1(tAjLayoutSmall)},"layout_sec_big":${r1(tAjLayoutBig)},""" +
        s""""pairs_small":$pairsSmall,"pairs_big":$pairsBig,""" +
        s""""pair_growth":${f"$ajRatio%.2f"},"corpus_growth":${f"$ajCorpusRatio%.2f"},""" +
        s""""join_sec_small":${r1(tAjSmall)},"join_sec_big":${r1(tAjBig)},""" +
        s""""probe_sec_udf_1e6":${r1(tProbeUdf1e6)},""" +
        s""""probe_sec_kernel_1e6":${r1(tProbeKernel1e6)},""" +
        s""""result_rows_small":$ajRowsSmall,"result_rows_big":$ajRowsBig,""" +
        s""""skew":{"hot_cell_rows":$hotOcc,"cap":$ajCap,"nsalt_hot":$nsaltHot,""" +
        s""""n_queries":$nSkewQ,"layout_sec":${r1(tAjLayoutSkew)},""" +
        s""""salted_sec":${r1(tAjSalted)},"unsalted_sec":${r1(tAjUnsalted)},""" +
        s""""max_cell_salt_rows":$saltedMax,"results_equal":${saltedRows == unsaltedRows}}},""" +
        s""""ann_join_lsh":{"n_big":$nFro,"n_queries":$nAjQ,"n_bits":8,"probe_bits":1,"k":10,""" +
        s""""layout_sec":${r1(tLjLayout)},"pairs":$ljPairs,""" +
        s""""pairs_vs_all_pairs":${f"${ljPairs.toDouble / (nAjQ * nFro)}%.4f"},""" +
        s""""join_sec":${r1(tLj)},"result_rows":$ljRows},""" +
        s""""bloom_gate":{"history_keys":$bgHistN,"batch_rows":$bgBatchN,"fpp":0.01,""" +
        s""""bloom_negatives":${bgStats.bloomNegatives},"candidates":${bgStats.candidates},""" +
        s""""confirmed_dups":${bgStats.confirmedDups},"false_positives":${bgStats.falsePositives},""" +
        s""""measured_fpp":${f"${bgStats.measuredFpp}%.5f"},"expected_fpp":${f"${bgStats.expectedFpp}%.5f"},"filter_bits":${bgStats.filterBits},""" +
        s""""gate_sec":${r1(tBloomGate)},"anti_join_sec":${r1(tAntiJoin)},"answers_equal":${bgOut == bgRef}},""" +
        s""""graph_pagerank":{"edges_small":$prESmall,"nodes_small":$prNSmall,""" +
        s""""edges_big":$prEBig,"nodes_big":$prNBig,"iters":$prIters,""" +
        s""""sec_small":${r1(tPrSmall)},"sec_big":${r1(tPrBig)},""" +
        s""""sec_per_iter_big":${f"${tPrBig / prIters}%.2f"},""" +
        s""""ref_equal_small":$prRefEqual,"mass_small":$prSmallMass,""" +
        s""""mass_big":$prBigMass,"n_nodes_big":$prBigN,"top_node_big":$prBigTop},""" +
        s""""failures":${failures.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(out), line + "\n")
    println(line)
    if (failures.nonEmpty) sys.exit(1)
  }
}
