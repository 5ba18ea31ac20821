package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Ann, Bpe, Layout, QualityModel, Unigram}
import scala.jdk.CollectionConverters._

/** The one build-once helper ([[Layout.fingerprint]] / [[Layout.onceAt]]
  * / [[Layout.memoLayout]]): the memo keys and layout names every site
  * derives from it, the job count of a warm cached call, and the pin
  * that keeps the fingerprint and the marker gate in one place.
  */
class BuildOnceSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  /** 96 fixed 8-dim vectors (no RNG, no fixture files). */
  private def vecs: DataFrame = (0 until 96).map { i =>
    (i.toLong, Array.tabulate(8)(j => (((i * 31 + j * 17 + i * j) % 23) - 11).toFloat / 7f))
  }.toDF("vec_id", "embedding")

  private val words = Seq("alpha", "beta", "gamma", "delta", "lambda", "tutor",
    "spark", "index", "vector", "chunk", "answer", "query")

  /** 24 fixed 12-word documents. */
  private def docs: DataFrame = (0 until 24).map { i =>
    (i.toLong, (0 until 12).map(j => words((i * 7 + j * 5 + i * j) % words.size)).mkString(" "))
  }.toDF("doc_id", "text")

  private def zFrame: DataFrame =
    (0 until 40).map(i => (i.toLong, (i * 7 % 13).toDouble, (i * 5 % 11).toDouble))
      .toDF("id", "a", "b")

  private def golden(keys: java.util.concurrent.ConcurrentHashMap[String, _]): Seq[String] =
    keys.keySet.asScala.toSeq.filter(_.contains("golden")).sorted

  /** Jobs started while `f` runs (listener delivery is async: wait for
    * the count to settle).
    */
  private def jobsOf(f: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      var stable = 0
      var last = -1
      while (stable < 5) {
        Thread.sleep(100)
        if (jobs.get() == last) stable += 1 else { stable = 0; last = jobs.get() }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  /** Run `f` with the JVM-global trainer captures restored afterwards,
    * so the fixture's structures never reach another spec's mirrors.
    */
  private def isolated[A](f: => A): A = {
    val caps = Seq(AnnOracle.mainCentroids, AnnOracle.globalBooks, AnnOracle.residualBooks,
      AnnOracle.localBooks, AnnOracle.opqRotation, AnnOracle.opqBooks, AnnOracle.opqCentroids)
      .map(_.asInstanceOf[AnnOracle.Capture[Any]])
    val snaps = caps.map(_.snapshot())
    val unigram = Unigram.lastModel
    try f
    finally {
      caps.zip(snaps).foreach { case (c, snap) => c.restore(snap) }
      Unigram.lastModel = unigram
    }
  }

  test("memo keys and layout names are byte-identical to the pre-helper derivation") {
    // Captured from the per-site code the helper replaced, on exactly
    // these frames. AnnOracle matches captures by key suffix and reuses
    // layouts already on disk by name, so any drift here silently drops
    // mirrors to rows-only or rebuilds every standing layout.
    isolated {
      val v = vecs
      val (cents, _) = Ann.buildIvfCached(spark, v, "golden", nCells = 4, maxIter = 2)
      val books = Ann.trainPqCodebooksCached(v, "golden", m = 2, dsub = 4, kStar = 4, maxIter = 2)
      Ann.trainOpqCached(v, "golden", m = 2, dsub = 4, kStar = 4, opqIters = 1, lloydIters = 2)
      val rb = Ann.trainPqCodebooksResidualCached(
        v, "golden", cents, m = 2, dsub = 4, kStar = 4, maxIter = 2)
      val lb = Ann.trainLocalPqCodebooksCached(
        v, "golden", cents, m = 2, dsub = 4, kStar = 2, maxIter = 2, maxPerCell = 50)
      def capKeys(c: AnnOracle.Capture[_]) =
        c.snapshot().keys.filter(_.contains("golden")).toSeq.sorted
      assert(capKeys(AnnOracle.mainCentroids) == Seq("golden|96|-2373926680832702583|4|2"))
      assert(capKeys(AnnOracle.globalBooks) == Seq("golden|96|-2373926680832702583|2|4|4|2"))
      assert(capKeys(AnnOracle.residualBooks) ==
        Seq("golden|res185375124|96|-2373926680832702583|2|4|4|2"))
      assert(capKeys(AnnOracle.localBooks) ==
        Seq("golden|lopq185375124|96|-2373926680832702583|2|4|2|2|50"))
      assert(capKeys(AnnOracle.opqRotation) == Seq("opq|golden|96|-2373926680832702583|2|4|4|1|2"))
      assert(capKeys(AnnOracle.opqBooks) == Seq("opq|golden|96|-2373926680832702583|2|4|4|1|2"))

      val base = java.nio.file.Files.createTempDirectory("graft_golden").toString
      def name(p: String) = p.stripPrefix(base + "/")
      assert(name(Ann.signaturePartitionedLayout(spark, v, base, nBits = 4)) ==
        "sigm4_n96_fpdf0e1e42ea250789")
      assert(name(Ann.cellLayout(spark, v, base, cents)) ==
        "cells4_n96_fpdf0e1e42ea250789_ixb0c9994")
      assert(name(Ann.ivfPqLayout(spark, v, base, cents, books)) ==
        "ivfpq_c4_m2_n96_fpdf0e1e42ea250789_ixa6388e3d")
      assert(name(Ann.ivfPqResidualLayout(spark, v, base, cents, rb)) ==
        "ivfpqr_c4_m2_n96_fpdf0e1e42ea250789_ixe7e3aa8b")
      assert(name(Ann.ivfPqLocalLayout(spark, v, base, cents, lb)) ==
        "ivfpqlo_c4_n96_fpdf0e1e42ea250789_ixa6acade9")
      val root = Ann.ivfPqVersionedRoot(v, base, cents, books)
      assert(name(root) == "ivfpqv_c4_m2_n96_fpdf0e1e42ea250789_ixa6388e3d")
      Ann.ivfPqAppendBatch(spark, root, v, cents, books, "b0")
      Ann.ivfPqDeleteByKey(spark, root, v.filter(col("vec_id") < 3).select("vec_id"))
      assert(new java.io.File(root, "_tombstones").list().toSeq == Seq("delfp=3xf851ab3e4bf40593"))
      val z = zFrame
      assert(name(Layout.zOrderedLayout(spark, z, Seq("a", "b"), base, 4, Seq("id", "a", "b"))) ==
        "za_b_f4_n40_fpdb16ce2956b4ec3c")
      assert(name(Layout.linearLayout(spark, z, "a", base, 4, Seq("id", "a", "b"))) ==
        "lina_f4_n40_fpdb16ce2956b4ec3c")

      val d = docs
      val merges = Bpe.learnMergesCached(d, "golden", nMerges = 3)
      Bpe.learnMergesIncrementalCached(d, "golden", nMerges = 3)
      Bpe.vocabIdsCached(d, "golden", merges.map(m => (m._1, m._2)))
      Unigram.trainCached(d, "golden", targetVocab = 30, seedSize = 60, maxPieceLen = 3)
      QualityModel.trainCached(d.filter(col("doc_id") < 12), d.filter(col("doc_id") >= 12),
        "golden", nBuckets = 16, iters = 2)
      assert(golden(Bpe.mergeCache) == Seq(
        "golden|24|-8622584759157870679|3",
        "inc|golden|24|-8622584759157870679|3|250000"))
      assert(golden(Bpe.idsCache) == Seq("golden|24|-8622584759157870679|1713011914"))
      assert(golden(Unigram.modelCache) == Seq("golden|24|-8622584759157870679|30|60|3|2|0.75"))
      assert(golden(QualityModel.weightCache) ==
        Seq("golden|12_-8241022181949490716|12_429087872645830221|16|2|300.0|false"))
    }
  }

  test("a warm cached call runs one fingerprint query and nothing else") {
    // One fingerprint query is the whole warm cost. Under AQE its
    // shuffle stage is a job of its own, so the unit is measured, not
    // assumed: `one` is the listener count of a bare fingerprint.
    isolated {
      val v = vecs
      val d = docs
      val target = d.filter(col("doc_id") < 12)
      val raw = d.filter(col("doc_id") >= 12)
      val base = java.nio.file.Files.createTempDirectory("graft_warm_jobs").toString
      val one = jobsOf(Layout.fingerprint(v, "vec_id", "embedding"))
      assert(one >= 1)
      val (cents, _) = Ann.buildIvfCached(spark, v, "warm", nCells = 4, maxIter = 2)
      val books = Ann.trainPqCodebooksCached(v, "warm", m = 2, dsub = 4, kStar = 4, maxIter = 2)
      val warm: Seq[(String, () => Any)] = Seq(
        "buildIvfCached" -> (() => Ann.buildIvfCached(spark, v, "warm", nCells = 4, maxIter = 2)),
        "trainPqCodebooksCached" ->
          (() => Ann.trainPqCodebooksCached(v, "warm", m = 2, dsub = 4, kStar = 4, maxIter = 2)),
        "trainOpqCached" -> (() =>
          Ann.trainOpqCached(v, "warm", m = 2, dsub = 4, kStar = 4, opqIters = 1, lloydIters = 2)),
        "trainPqCodebooksResidualCached" -> (() => Ann.trainPqCodebooksResidualCached(
          v, "warm", cents, m = 2, dsub = 4, kStar = 4, maxIter = 2)),
        "trainLocalPqCodebooksCached" -> (() => Ann.trainLocalPqCodebooksCached(
          v, "warm", cents, m = 2, dsub = 4, kStar = 2, maxIter = 2, maxPerCell = 50)),
        "ivfPqLayout" -> (() => Ann.ivfPqLayout(spark, v, base, cents, books)),
        "learnMergesCached" -> (() => Bpe.learnMergesCached(d, "warm", nMerges = 3)),
        "vocabIdsCached" -> (() => Bpe.vocabIdsCached(d, "warm", Seq(("a", "l")))),
        "Unigram.trainCached" -> (() =>
          Unigram.trainCached(d, "warm", targetVocab = 30, seedSize = 60, maxPieceLen = 3)),
        // two corpora, still ONE fingerprint query
        "QualityModel.trainCached" -> (() =>
          QualityModel.trainCached(target, raw, "warm", nBuckets = 16, iters = 2)))
      for ((label, call) <- warm) {
        call() // cold: train or build
        val n = jobsOf(call())
        assert(n == one, s"$label: warm call ran $n jobs, one fingerprint query is $one")
      }
      // the two-frame form really is one query, not one per frame
      assert(jobsOf(Layout.fingerprints(Seq(target, raw), "doc_id", "text")) == one)
      assert(Layout.fingerprints(Seq(target, raw, d.filter(lit(false))), "doc_id", "text") ==
        Seq(Layout.fingerprint(target, "doc_id", "text"),
          Layout.fingerprint(raw, "doc_id", "text"), Layout.Fingerprint(0L, 0L)))
    }
  }

  test("the fingerprint and the _SUCCESS gate are spelled only in Layout") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    def sitesOf(pattern: scala.util.matching.Regex): Seq[String] = sources.flatMap { p =>
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      pattern.findAllMatchIn(text).map { m =>
        s"${root.relativize(p)}:${text.take(m.start).count(_ == '\n') + 1}"
      }
    }
    def outside(sites: Seq[String], allowed: String*): Seq[String] =
      sites.filterNot(s => allowed.exists(a => s.startsWith(a + ":")))
    // Bench.cpuProbe hashes sha2 output as a CPU calibration workload;
    // it fingerprints nothing and its cost is the calibration baseline.
    val fps = sitesOf("""bit_xor\(xxhash64\(""".r)
      .filterNot(s => s.startsWith("graft/Bench.scala:"))
    assert(outside(fps, "graft/operators/Layout.scala").isEmpty,
      s"content fingerprint spelled outside Layout.fingerprint: $fps")
    assert(fps.count(_.startsWith("graft/operators/Layout.scala:")) == 1, fps)
    // Store's staging recovery keys a swap protocol, not a build-once gate.
    val gates = sitesOf("""new org\.apache\.hadoop\.fs\.Path\([^)]*"_SUCCESS"\)""".r)
    assert(outside(gates, "graft/operators/Layout.scala", "graft/operators/Store.scala").isEmpty,
      s"_SUCCESS gate spelled outside Layout.onceAt: $gates")
    assert(gates.count(_.startsWith("graft/operators/Layout.scala:")) == 1, gates)
    val dirs = sitesOf("\"graft_ann_layouts\"".r)
    assert(dirs.map(_.takeWhile(_ != ':')) == Seq("graft/operators/Layout.scala"),
      s"ANN layout directory spelled outside Layout.annLayoutDir: $dirs")
  }
}
