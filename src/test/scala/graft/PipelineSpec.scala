package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Ann, Layout, Rag, Retrieval, Store}
import graft.sources.DocLoader
import graft.multimodal.Multimodal
import java.nio.file.Files

class StoreSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-store").toString

  test("O-7: append accumulates rows") {
    val path = tmpDir() + "/logs"
    Store.append(Seq((1L, "a")).toDF("id", "v"), path)
    Store.append(Seq((2L, "b")).toDF("id", "v"), path)
    assert(spark.read.parquet(path).count() == 2)
  }

  test("O-10/O-11/O-12/O-13: delete family") {
    val t = Seq((1L, "2024-01-01"), (2L, "2024-02-01"), (3L, "2024-03-01"))
      .toDF("id", "d").withColumn("ts", $"d".cast("timestamp"))
    assert(Store.deleteByKey(t, "id", Seq(2L).toDF("id"))
      .select("id").as[Long].collect().toSet == Set(1L, 3L))
    assert(Store.deleteWhere(t, $"id" === 1L)
      .select("id").as[Long].collect().toSet == Set(2L, 3L))
    assert(Store.retentionDelete(t, "ts", "2024-02-01 00:00:00").count() == 2)
    assert(Store.clear(t).count() == 0)
    assert(Store.clear(t).schema == t.schema)
  }

  test("overwriteWith rewrites a table it reads from") {
    val path = tmpDir() + "/t"
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").write.parquet(path)
    val kept = Store.deleteByKey(spark.read.parquet(path), "id", Seq(1L).toDF("id"))
    Store.overwriteWith(spark, kept, path)
    assert(spark.read.parquet(path).select("id").as[Long].collect().toSeq == Seq(2L))
    assert(!new java.io.File(path + ".staging").exists() &&
      !new java.io.File(path + ".old").exists(),
      "swap must clean up its staging and parked directories")
  }

  test("overwriteWith writes the data exactly once (rename swap, no second write)") {
    val path = tmpDir() + "/t"
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "v").write.parquet(path)
    val kept = spark.read.parquet(path).filter($"id" =!= 2L)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Store.overwriteWith(spark, kept, path)
      // Listener delivery is async; wait for the count to settle.
      var stable = 0
      var last = -1
      while (stable < 5) {
        Thread.sleep(100)
        if (jobs.get() == last) stable += 1 else { stable = 0; last = jobs.get() }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    // One job = the staging write. The old two-stage form ran a second
    // read-staging-write-dest job — the 2x write I/O a 100 TB retention
    // delete cannot afford.
    assert(jobs.get() == 1, s"expected exactly one write job, saw ${jobs.get()}")
    assert(spark.read.parquet(path).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("crash before the swap leaves the old table readable; recoverSwap discards staging") {
    val path = tmpDir() + "/t"
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").write.parquet(path)
    // Simulated crash: staging fully written, process died before any rename.
    spark.read.parquet(path).filter($"id" === 1L)
      .write.parquet(path + ".staging")
    assert(spark.read.parquet(path).count() == 2, "old table must still be intact")
    Store.recoverSwap(spark, path)
    assert(spark.read.parquet(path).count() == 2)
    assert(!new java.io.File(path + ".staging").exists())
  }

  test("crash mid-swap (table parked, staging committed): recoverSwap completes the swap") {
    val path = tmpDir() + "/t"
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").write.parquet(path)
    spark.read.parquet(path).filter($"id" === 1L)
      .write.parquet(path + ".staging")
    // Simulated crash after parking the destination, before the swap-in.
    assert(new java.io.File(path).renameTo(new java.io.File(path + ".old")))
    Store.recoverSwap(spark, path)
    assert(spark.read.parquet(path).select("id").as[Long].collect().toSeq == Seq(1L))
    assert(!new java.io.File(path + ".old").exists())
  }

  test("crash with an UNcommitted staging dir: recoverSwap restores the parked table") {
    val path = tmpDir() + "/t"
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").write.parquet(path)
    spark.read.parquet(path).filter($"id" === 1L)
      .write.parquet(path + ".staging")
    assert(new java.io.File(path + ".staging/_SUCCESS").delete())
    assert(new java.io.File(path).renameTo(new java.io.File(path + ".old")))
    Store.recoverSwap(spark, path)
    assert(spark.read.parquet(path).count() == 2, "parked table must be restored")
    assert(!new java.io.File(path + ".old").exists())
  }

  test("compact collapses micro-append files, preserves rows, survives a crash") {
    val path = tmpDir() + "/t"
    // 6 micro-appends of 1 file each -> 6 data files
    (1 to 6).foreach { i =>
      Store.append(Seq((i.toLong, s"v$i")).toDF("id", "v").repartition(1), path)
    }
    def files() = new java.io.File(path).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files() === 6)
    val (before, after) = Store.compact(spark, path, rowsPerFile = 10L)
    assert(before === 6L && after === 1L && files() === 1)
    assert(spark.read.parquet(path).select("id").as[Long].collect().sorted
      === (1L to 6L))
    // rowsPerFile smaller than the table splits output into ceil(n/rows)
    val (_, after2) = Store.compact(spark, path, rowsPerFile = 2L)
    assert(after2 === 3L)
    // crash before the swap (staging left behind): table still intact,
    // recoverSwap cleans up
    spark.read.parquet(path).write.parquet(path + ".staging")
    Store.recoverSwap(spark, path)
    assert(spark.read.parquet(path).count() === 6)
    assert(!new java.io.File(path + ".staging").exists())
  }

  test("snapshots: versioned commits, time travel, orphan invisibility, vacuum") {
    val path = tmpDir() + "/t"
    assert(Store.snapshotVersions(spark, path).isEmpty)
    intercept[java.io.IOException](Store.readSnapshot(spark, path))
    val v1 = Store.commitSnapshot(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    val v2 = Store.commitSnapshot(spark, Seq((1L, "a2"), (3L, "c")).toDF("id", "v"), path)
    assert((v1, v2) === (1L, 2L))
    assert(Store.snapshotVersions(spark, path) === Seq(1L, 2L))
    assert(Store.readSnapshot(spark, path).select("v").as[String].collect().sorted
      === Array("a2", "c"))
    assert(Store.readSnapshot(spark, path, Some(1L))
      .select("v").as[String].collect().sorted === Array("a", "b"))
    // crashed writer: data dir without a manifest is invisible to reads
    Seq((9L, "ghost")).toDF("id", "v").write.parquet(path + "/data/snap-9-dead")
    assert(Store.readSnapshot(spark, path).count() === 2)
    // vacuum: orphan reclaimed (grace 0), both versions kept
    assert(Store.vacuumSnapshots(spark, path, keepLast = 2, orphanGraceMs = 0L) === 1)
    assert(Store.readSnapshot(spark, path, Some(1L)).count() === 2)
    // vacuum to 1: v1 gone, current survives
    Store.vacuumSnapshots(spark, path, keepLast = 1, orphanGraceMs = 0L)
    intercept[Exception](Store.readSnapshot(spark, path, Some(1L)).collect())
    assert(Store.readSnapshot(spark, path).count() === 2)
    // the commit point is create-if-absent: a raced writer that lost
    // version N fails at exactly this call and never pollutes the table
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    intercept[Exception](
      fs.create(new org.apache.hadoop.fs.Path(path + s"/manifest-v$v2.json"),
        /* overwrite = */ false).close())
    assert(Store.readSnapshot(spark, path).count() === 2)
  }

  test("O-14/O-6: json round trip") {
    val path = tmpDir() + "/j"
    Store.writeJson(Seq((1L, "s1", 3)).toDF("id", "session", "messageCount"), path)
    val back = Store.readJson(spark, path, "id BIGINT, session STRING, messageCount INT")
    assert(back.count() == 1)
    assert(back.columns.sorted.toSeq == Seq("id", "messageCount", "session"))
  }
}

class DocLoaderSpec extends AnyFunSuite with SparkTestSession {

  test("O-1..O-4: binary scan, dispatch and REAL extraction per format") {
    val dir = Files.createTempDirectory("graft-docs")
    Files.write(dir.resolve("page.html"),
      "<html><head><style>p{}</style></head><body><p>Hello &amp; welcome</p></body></html>"
        .getBytes("UTF-8"))
    Files.write(dir.resolve("doc.pdf"), DocLoader.buildPdf(Seq("page one text", "page two text")))
    Files.write(dir.resolve("memo.docx"), DocLoader.buildDocx("memo line 1\nmemo line 2"))
    Files.write(dir.resolve("notes.txt"), "plain".getBytes("UTF-8"))

    val out = DocLoader.loadDocuments(spark, dir.toString)
      .collect().map(r => (r.getAs[String]("format"),
        Option(r.getAs[String]("text")))).toMap
    assert(out("html").get == "Hello & welcome")
    assert(out("pdf").get == "page one text\npage two text")
    assert(out("docx").get == "memo line 1\nmemo line 2")
    assert(out("unsupported").isEmpty)
  }

  test("O-1 status routing: loadDocumentsWithStatus quarantines Type0 PDFs") {
    val dir = Files.createTempDirectory("graft-docs-status")
    Files.write(dir.resolve("good.pdf"), DocLoader.buildPdf(Seq("readable text")))
    // bare Type0 (no ToUnicode): genuinely undecodable, must quarantine
    Files.write(dir.resolve("cjk.pdf"), DocLoader.buildPdfType0Bare(Seq("cid encoded")))
    // Type0 WITH a ToUnicode CMap: extracts through the CMapFont path
    Files.write(dir.resolve("cjk_uni.pdf"), DocLoader.buildPdfType0(Seq("mapped text")))
    Files.write(dir.resolve("broken.pdf"), "%PDX not a pdf".getBytes("UTF-8"))
    Files.write(dir.resolve("page.html"), "<body><p>ok html</p></body>".getBytes("UTF-8"))
    Files.write(dir.resolve("notes.txt"), "plain".getBytes("UTF-8"))

    val out = DocLoader.loadDocumentsWithStatus(spark, dir.toString)
      .collect().map { r =>
        val name = r.getAs[String]("path").split('/').last
        name -> ((Option(r.getAs[String]("text")), r.getAs[String]("extraction_status")))
      }.toMap
    assert(out("good.pdf") == ((Some("readable text"), DocLoader.StatusOk)))
    assert(out("cjk.pdf") == ((None, DocLoader.StatusUnsupportedFont)))
    assert(out("cjk_uni.pdf") == ((Some("mapped text"), DocLoader.StatusOk)))
    assert(out("broken.pdf") == ((None, DocLoader.StatusParseError)))
    assert(out("page.html") == ((Some("ok html"), DocLoader.StatusOk)))
    assert(out("notes.txt") == ((None, DocLoader.StatusUnsupportedFormat)))
    // the quarantine frame an ingest run routes aside: every non-ok row,
    // no content dropped silently
    val quarantined = DocLoader.loadDocumentsWithStatus(spark, dir.toString)
      .filter(org.apache.spark.sql.functions.col("extraction_status") =!= DocLoader.StatusOk)
    assert(quarantined.count() == 3)
  }

  test("html extraction strips scripts, comments, entities") {
    val html = "<body><script>var x=1;</script><!-- c --><b>bold</b> &lt;tag&gt;</body>"
    assert(DocLoader.extractHtml(html.getBytes("UTF-8")) == "bold <tag>")
  }

  test("O-2: docx round trip survives escapes, tabs, unicode, empty lines") {
    val texts = Seq(
      "simple words",
      "amp & lt < gt > mix",
      "tab\there and\nnext line",
      "unicode café über 中文",
      "",
      "trailing newline\n",
      "\nleading and\n\ndouble blank")
    texts.foreach { t =>
      assert(DocLoader.extractDocx(DocLoader.buildDocx(t)) == t, s"docx round trip: ${t.take(30)}")
    }
  }

  test("O-2: docx extraction handles real OOXML structure, not just our writer") {
    // run properties, split runs, w:tab/w:br elements, numeric entities
    val xml = """<?xml version="1.0"?><w:document xmlns:w="x"><w:body>""" +
      """<w:p><w:pPr><w:jc w:val="left"/></w:pPr>""" +
      """<w:r><w:rPr><w:b/></w:rPr><w:t>bold</w:t></w:r>""" +
      """<w:r><w:t xml:space="preserve"> and&#33;</w:t></w:r>""" +
      """<w:r><w:tab/><w:t>tabbed</w:t><w:br/><w:t>broken</w:t></w:r></w:p>""" +
      """<w:p/><w:p><w:r><w:t>second</w:t></w:r></w:p>""" +
      "</w:body></w:document>"
    val zip = {
      val out = new java.io.ByteArrayOutputStream()
      val zos = new java.util.zip.ZipOutputStream(out)
      zos.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
      zos.write(xml.getBytes("UTF-8")); zos.closeEntry(); zos.close()
      out.toByteArray
    }
    assert(DocLoader.extractDocx(zip) == "bold and!\ttabbed\nbroken\n\nsecond")
    assert(DocLoader.extractDocx("not a zip".getBytes("UTF-8")) == null)
  }

  test("O-1: pdf round trip — pages, escapes, flate, page numbering") {
    val pages = Seq(
      "plain page",
      "parens (nested (deep)) and \\ backslash",
      "multi\nline\npage",
      "",
      "unicode café page")
    val got = DocLoader.extractPdfPages(DocLoader.buildPdf(pages))
    assert(got.map(_._1) == (1 to pages.size))
    assert(got.map(_._2) == pages)
    assert(DocLoader.extractPdf("plain text".getBytes("UTF-8")) == null)
    assert(DocLoader.extractPdfPages(DocLoader.buildPdf(Seq.empty)) == Seq((1, "")))
  }

  test("O-1: pdf extraction handles uncompressed streams, hex strings, TJ arrays") {
    // hand-written single-page PDF, no filter, TJ array + hex string + quote op
    // note: ' itself moves to the next line before showing, so no T* before it
    val content = "BT /F1 12 Tf 10 700 Td [(Hel) -20 (lo)] TJ T* <20776f726c64> Tj (next)' ET"
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n" +
      s"4 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n" +
      "%%EOF\n").getBytes("ISO-8859-1")
    val got = DocLoader.extractPdfPages(pdf)
    assert(got == Seq((1, "Hello\n world\nnext")))
  }

  test("O-1: UTF-16BE hex strings (BOM-prefixed) decode to unicode text") {
    // <FEFF 00E9 4E2D> = é中 in the PDF-standard UTF-16BE text encoding
    val content = "BT 10 700 Td <FEFF00E94E2D> Tj ET"
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n" +
      s"4 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n" +
      "%%EOF\n").getBytes("ISO-8859-1")
    assert(DocLoader.extractPdfPages(pdf) == Seq((1, "é中")))
  }

  test("page metadata propagates from loadDocumentPages through the chunker") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-paged-ingest")
    Files.write(dir.resolve("two.pdf"),
      DocLoader.buildPdf(Seq("x" * 250, "y" * 80))) // page 1 → 2 chunks, page 2 → 1
    val docs = DocLoader.loadDocumentPages(spark, dir.toString)
      .select(lit(7L).as("doc_id"), $"path".as("source"), $"page", $"text")
    val chunks = graft.operators.Ingest.splitIntoChunks(docs, chunkSize = 200, overlap = 0)
      .select("chunk_id", "page", "chunk_index", "total_chunks")
      .as[(String, Int, Int, Int)].collect().sortBy(c => (c._2, c._3)).toSeq
    assert(chunks == Seq(
      ("7_p1_0", 1, 0, 2), ("7_p1_1", 1, 1, 2), ("7_p2_0", 2, 0, 1)))
    // pageless inputs keep their historical ids and gain page = 1
    val flat = graft.operators.Ingest
      .splitIntoChunks(Seq((1L, "abcd", "s")).toDF("doc_id", "text", "source"), 10, 0)
      .select("chunk_id", "page").as[(String, Int)].collect().toSeq
    assert(flat == Seq(("1_0", 1)))
  }

  test("O-1: loadDocumentPages emits page-granular rows for pdf") {
    val dir = Files.createTempDirectory("graft-paged")
    Files.write(dir.resolve("two.pdf"), DocLoader.buildPdf(Seq("alpha", "beta")))
    Files.write(dir.resolve("one.docx"), DocLoader.buildDocx("gamma"))
    val rows = DocLoader.loadDocumentPages(spark, dir.toString)
      .select("format", "page", "text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(rows == Set(("pdf", 1, "alpha"), ("pdf", 2, "beta"), ("docx", 1, "gamma")))
  }
}

class AnnSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private lazy val corpus =
    Tables.embeddings(spark, "/root/testdata/sf0.001").cache()

  private lazy val queries = corpus.filter($"vec_id" < 20)
    .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))

  private lazy val exact = Retrieval.knnJoin(queries, corpus, k = 5)
    .select("query_id", "vec_id").as[(Long, Long)].collect()
    .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  /** Asserts the branch of the layout probe's adaptive cutoff that a
    * probed set of `probed` keys out of `keySpace` takes. Under the
    * cutoff (2·probed < keySpace) the set must reach the scan as a
    * static per-value `IN`/`INSET` on `key`. Over it the scan must carry
    * no static per-value filter: the join's inferred `isnotnull(key)`
    * and a runtime `dynamicpruningexpression` are always allowed, so
    * neither can pass for pruning.
    */
  private def assertProbeBranch(
      df: org.apache.spark.sql.DataFrame, key: String, probed: Int, keySpace: Int): Unit = {
    val leaves = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(leaves).map(_.group(1)).mkString(";")
    val static = pf.contains(" IN (") || pf.contains("INSET")
    if (2 * probed < keySpace)
      assert(static && pf.contains(key),
        s"$probed of $keySpace probed ${key}s must reach the scan as a static IN/INSET: $pf")
    else
      assert(!static,
        s"$probed of $keySpace probed ${key}s must not pay the static per-value filter: $pf")
  }

  /** Distinct cells the IVF probes of `qs` (query_id, q_embedding) visit. */
  private def probedCells(
      qs: org.apache.spark.sql.DataFrame, centroids: Array[Array[Float]], nProbe: Int): Int =
    qs.select("q_embedding").collect()
      .flatMap(r => Ann.nearestCells(r.getSeq[Float](0), centroids, nProbe)).distinct.length

  private def recall(approx: Array[(Long, Long)]): Double = {
    val byQ = approx.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = exact.map { case (q, truth) =>
      truth.intersect(byQ.getOrElse(q, Set.empty)).size.toDouble / truth.size
    }
    hits.sum / hits.size
  }

  test("LSH ANN: deterministic signatures, self-retrieval, useful recall") {
    val sig1 = Ann.signature(Array(1f, 2f, 3f), 8)
    assert(sig1 == Ann.signature(Array(1f, 2f, 3f), 8))
    val out = Ann.lshTopK(queries, corpus, k = 5, nBits = 8, probeBits = 2)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
    // a vector always lands in its own bucket -> every query finds itself
    val selfHits = out.filter { case (q, v) => q == v }
    assert(selfHits.length == 20)
    val r = recall(out)
    assert(r >= 0.3, s"LSH recall too low: $r")
    // probing wider must not reduce recall vs the narrow probe
    val narrow = recall(Ann.lshTopK(queries, corpus, k = 5, nBits = 8, probeBits = 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect())
    assert(r >= narrow)
  }

  test("IVF ANN: probing more cells increases recall; full probe is exact") {
    val (centroids, assigned) = Ann.buildIvf(spark, corpus, nCells = 8, maxIter = 3)
    assert(centroids.length == 8)
    val cached = assigned.cache()
    val r1 = recall(Ann.ivfTopK(queries, cached, centroids, k = 5, nProbe = 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect())
    val r8 = recall(Ann.ivfTopK(queries, cached, centroids, k = 5, nProbe = 8)
      .select("query_id", "vec_id").as[(Long, Long)].collect())
    assert(r8 == 1.0, s"full probe must equal brute force, got $r8")
    assert(r8 >= r1)
    assert(r1 >= 0.2, s"single-cell recall suspiciously low: $r1")
  }

  test("signature-partitioned corpus: probes prune partitions, match in-memory LSH") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sigpart").toString
    Ann.writeSignaturePartitioned(corpus.select("vec_id", "embedding"), dir, nBits = 8)
    val df = Ann.lshJoin(spark, dir, queries, k = 5, nBits = 8, probeBits = 2)
    val out = df.select("query_id", "rank", "vec_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    val mem = Ann.lshTopK(queries, corpus, k = 5, nBits = 8, probeBits = 2)
      .select("query_id", "rank", "vec_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(out == mem, "partitioned layout must not change results")
    val probedSigs = queries.select("q_embedding").collect().flatMap(r =>
      Ann.probeSignatures(Ann.signature(r.getSeq[Float](0), 8), 8, 2)).distinct.length
    assertProbeBranch(df, "sig", probedSigs, 1 << 8)
  }

  test("cell-partitioned IVF layout: probes prune partitions, match in-memory IVF") {
    val (centroids, assigned) = Ann.buildIvf(spark, corpus, nCells = 8, maxIter = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_cellpart").toString
    Ann.writeCellPartitioned(corpus.select("vec_id", "embedding"), centroids, dir)
    val df = Ann.ivfJoin(spark, dir, queries, centroids, k = 5, nProbe = 3)
    val out = df.select("query_id", "rank", "vec_id")
      .as[(Long, Int, Long)].collect().toSet
    val mem = Ann.ivfTopK(queries, assigned, centroids, k = 5, nProbe = 3)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    assert(out == mem, "cell-partitioned layout must not change results")
    assertProbeBranch(df, "cell", probedCells(queries, centroids, 3), centroids.length)
  }

  test("fingerprint-keyed layout: reused for identical corpus, rebuilt on mutation") {
    val base = java.nio.file.Files.createTempDirectory("graft_layout_fp").toString
    val vecs = corpus.select("vec_id", "embedding")
    val (centroids, _) = Ann.buildIvf(spark, vecs, nCells = 8, maxIter = 3)
    val books = Ann.trainPqCodebooks(vecs, m = 8, dsub = 8, kStar = 8, maxIter = 3)
    val resBooks = Ann.trainPqCodebooksResidual(
      vecs, centroids, m = 8, dsub = 8, kStar = 8, maxIter = 3)
    val localBooks = Ann.trainLocalPqCodebooks(
      vecs, centroids, m = 8, dsub = 8, kStar = 4, maxIter = 3)
    val zCols = Seq("vec_id", "a", "b")
    def zFrame(df: org.apache.spark.sql.DataFrame) = df.select(col("vec_id"),
      col("embedding").getItem(0).as("a"), col("embedding").getItem(1).as("b"))
    // Every build-once layout kind: (expected name prefix, build over a frame).
    // murmur layouts live under `sigm…`, never the retired portable `sig…` paths
    val kinds: Seq[(String, org.apache.spark.sql.DataFrame => String)] = Seq(
      "sigm8_" -> (df => Ann.signaturePartitionedLayout(spark, df, base)),
      "cells8_" -> (df => Ann.cellLayout(spark, df, base, centroids)),
      "ivfpq_c8_m8_" -> (df => Ann.ivfPqLayout(spark, df, base, centroids, books)),
      "ivfpqr_c8_m8_" -> (df => Ann.ivfPqResidualLayout(spark, df, base, centroids, resBooks)),
      "ivfpqlo_c8_" -> (df => Ann.ivfPqLocalLayout(spark, df, base, centroids, localBooks)),
      "za_b_f4_" -> (df => Layout.zOrderedLayout(spark, zFrame(df), Seq("a", "b"), base, 4, zCols)),
      "lina_f4_" -> (df => Layout.linearLayout(spark, zFrame(df), "a", base, 4, zCols)))
    for ((prefix, build) <- kinds) {
      val p1 = build(vecs)
      assert(new java.io.File(p1).getName.startsWith(prefix), s"$p1 lacks prefix $prefix")
      val marker = new java.io.File(p1, "_SUCCESS")
      assert(marker.exists(), s"$prefix: no marker")
      val mtime = marker.lastModified()
      // same content → same path, no rewrite (the _SUCCESS marker is untouched)
      assert(build(vecs) == p1, s"$prefix: unchanged corpus moved the layout")
      assert(marker.lastModified() == mtime, s"$prefix: unchanged corpus must not rebuild")
      // mutated content (one vector dropped) → different fingerprint → new path
      val p3 = build(vecs.filter(col("vec_id") =!= 0L))
      assert(p3 != p1, s"$prefix: a mutated corpus must get a fresh layout, never stale probes")
      assert(new java.io.File(p3).getName.startsWith(prefix))
      assert(new java.io.File(p3, "_SUCCESS").exists(), s"$prefix: mutated build unpublished")
    }
  }

  test("quantized rerank with full over-fetch equals exact float top-k") {
    // Over-fetch the whole corpus: the coarse stage then only orders the
    // candidate set, and the float rerank must reproduce brute force
    // exactly (floored sims, vec_id tiebreak, self excluded).
    val n = corpus.count().toInt
    val k = 3
    val out = Ann.quantizedTopKReranked(
      Ann.quantizeInt8(corpus), corpus, nQueries = 5, k = k, overfetch = n)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("sim")))
    val vecs = corpus.select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    for (q <- 0L until 5L) {
      val truth = vecs.keys.filter(_ != q).toSeq
        .map(v => (v, cos(vecs(q), vecs(v))))
        .sortBy { case (v, s) => (-s, v) }.take(k)
      val got = out.filter(_._1 == q).sortBy(_._2).map(r => (r._3, r._4)).toSeq
      assert(got == truth, s"query $q: reranked != exact")
    }
  }

  test("int8 quantization: codes bounded, norms exact, high top-k recall") {
    val quantized = Ann.quantizeInt8(corpus).cache()
    val rows = quantized.collect()
    assert(rows.length == corpus.count())
    rows.foreach { r =>
      val qv = r.getSeq[Long](r.fieldIndex("qv"))
      assert(qv.forall(v => v >= -127 && v <= 127), "codes must stay in int8 range")
      assert(r.getAs[Long]("qnorm2") == qv.map(v => v * v).sum)
    }
    // quantized top-5 should mostly agree with the exact float top-5
    val approx = Ann.quantizedTopK(quantized, nQueries = 20, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
    val exactNoSelf = Retrieval.knnJoin(queries, corpus, k = 6)
      .filter($"query_id" =!= $"vec_id")
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).take(5).toSet).toMap
    val byQ = approx.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = exactNoSelf.map { case (q, truth) =>
      truth.intersect(byQ.getOrElse(q, Set.empty)).size.toDouble / truth.size }
    val r = hits.sum / hits.size
    assert(r >= 0.7, s"int8 recall vs float exact too low: $r")
  }

  test("PQ ADC: encode ties to lowest code; scan equals brute force over reconstructions") {
    import org.apache.spark.sql.functions.col
    val cb: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(0.5, 0.5), Seq(-0.5, -0.5), Seq(0.5, -0.5), Seq(-0.5, 0.5)),
      Seq(Seq(0.25, 0.25), Seq(-0.25, -0.25), Seq(0.75, -0.25), Seq(-0.75, 0.25)))
    // vec 0 sits EXACTLY between codes 0 and 2 of subspace 0
    // ((0.5, 0) is equidistant to (0.5, 0.5) and (0.5, -0.5)) — the
    // argmin must take the lowest code, matching the oracle's
    // ORDER BY dist, code
    val tie = Seq((0L, Array(0.5f, 0.0f, 0.25f, 0.25f)))
      .toDF("vec_id", "embedding")
    val tieCode = Ann.pqEncode(tie, cb).collect().head
    assert(tieCode.getAs[Int]("code_0") == 0, "tie must break to the lowest code")
    assert(tieCode.getAs[Int]("code_1") == 0)
    // ADC == exact squared distance to the PQ reconstruction, so the
    // scan must return EXACTLY the brute-force top-k over reconstructed
    // vectors (no approximation beyond quantization itself)
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(4)(j =>
        (math.sin(i * 0.37 + j * 1.3) * 0.8).toFloat))
    }.toDF("vec_id", "embedding")
    val out = Ann.pqAdcTopK(vecs, cb, nQueries = 3, k = 7)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val raw = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def encode(v: Seq[Double]): Seq[Int] = cb.zipWithIndex.map { case (cents, s) =>
      cents.zipWithIndex
        .map { case (c, ci) =>
          (c.zipWithIndex.map { case (x, j) =>
            val d = v(s * 2 + j) - x; d * d
          }.sum, ci)
        }.minBy { case (d, ci) => (d, ci) }._2
    }
    for (q <- 0L until 3L) {
      val qv = raw(q)
      val truth = raw.keys.filter(_ != q).toSeq
        .map { v =>
          // same association as the operator: per-subspace sums first,
          // then across subspaces (floats care about fold order)
          val codesV = encode(raw(v))
          val d = cb.indices.map { s =>
            cb(s)(codesV(s)).zipWithIndex.map { case (c, j) =>
              val x = qv(s * 2 + j) - c; x * x
            }.sum
          }.sum
          (v, math.floor(d * 1e6) / 1e6)
        }
        .sortBy { case (v, d) => (d, v) }.take(7).map(_._1)
      assert(out(q) == truth, s"query $q: ADC ranking != reconstruction brute force")
    }
  }

  test("PQ training: deterministic, error-monotone Lloyd, cluster identification") {
    import org.apache.spark.sql.functions.col
    // 8 planted clusters in 16 dims: center c has +/-0.8 sign pattern
    // from c's bits; members jitter by small deterministic offsets
    val vecs = (0L until 160L).map { i =>
      val c = (i % 8).toInt
      (i, Array.tabulate(16) { j =>
        val sign = if (((c >> (j % 3)) & 1) == 0) 1.0f else -1.0f
        sign * 0.8f + ((i / 8 % 5).toInt - 2) * 0.01f
      })
    }.toDF("vec_id", "embedding")
    val trained  = Ann.trainPqCodebooks(vecs, m = 4, dsub = 4, kStar = 8, maxIter = 3)
    val trained2 = Ann.trainPqCodebooks(vecs, m = 4, dsub = 4, kStar = 8, maxIter = 3)
    assert(trained == trained2, "training must be deterministic")
    val seedsOnly = Ann.trainPqCodebooks(vecs, m = 4, dsub = 4, kStar = 8, maxIter = 0)
    // Lloyd never increases the k-means objective on its training set:
    // mean squared quantization error with trained books <= seed books
    val raw = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def qErr(books: Seq[Seq[Seq[Double]]]): Double = raw.values.map { v =>
      books.zipWithIndex.map { case (cents, s) =>
        cents.map(c => c.zipWithIndex.map { case (x, j) =>
          val d = v(s * 4 + j) - x; d * d
        }.sum).min
      }.sum
    }.sum / raw.size
    assert(qErr(trained) <= qErr(seedsOnly) + 1e-12,
      s"Lloyd increased quantization error: ${qErr(trained)} > ${qErr(seedsOnly)}")
    // Cluster identification, the property PQ actually has: members of
    // one cluster share a code, so within-cluster ORDER is invisible to
    // ADC (ties break by vec_id) — but retrieved neighbors must come
    // from the query's own cluster once the codebooks are trained.
    val got = Ann.pqAdcTopK(vecs, trained, nQueries = 4, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val sameCluster = (0L until 4L).map { q =>
      val mine = got.getOrElse(q, Seq.empty)
      mine.count(v => v % 8 == q % 8).toDouble / mine.size
    }
    val precision = sameCluster.sum / sameCluster.size
    assert(precision >= 0.8,
      s"trained-PQ retrieved cross-cluster neighbors: $precision same-cluster")
    // cache: identical corpus under the same key returns the memoized
    // books (reference-equal — no Lloyd rerun); a mutated corpus changes
    // the content fingerprint and must retrain, never serve stale books
    val k1 = Ann.trainPqCodebooksCached(vecs, "pq-spec", m = 4, dsub = 4, kStar = 8, maxIter = 3)
    val k2 = Ann.trainPqCodebooksCached(vecs, "pq-spec", m = 4, dsub = 4, kStar = 8, maxIter = 3)
    assert(k1 eq k2, "same corpus + key must hit the codebook memo")
    val mutated = vecs.withColumn("embedding",
      org.apache.spark.sql.functions.transform(col("embedding"), x => x * 2.0f))
    val k3 = Ann.trainPqCodebooksCached(mutated, "pq-spec", m = 4, dsub = 4, kStar = 8, maxIter = 3)
    assert(!(k3 eq k1), "mutated corpus must not be served stale codebooks")
  }

  test("OPQ: orthogonal deterministic rotation, capacity-rebalance beats plain PQ") {
    import org.apache.spark.sql.functions.col
    // The structural case rotation exists for (Ge et al. 2013's
    // capacity-imbalance): TWO independent 8-level signals both land in
    // subspace 0 (dims 0 and 1), so plain PQ with k*=8 must cover an
    // 8×8 grid with 8 centroids — while a rotation (any orthogonal map
    // moving one signal into another subspace) makes both exactly
    // representable. OPQ must find (an equivalent of) that rotation.
    val vecs = (0L until 256L).map { i =>
      val a = (i % 8).toInt; val b = ((i / 8) % 8).toInt
      (i, Array.tabulate(16) { j =>
        val base = j match {
          case 0 => (a - 3.5f) * 1.0f
          case 1 => (b - 3.5f) * 1.0f
          case _ => 0.0f
        }
        base + ((i / 64 % 3).toInt - 1) * 0.01f
      })
    }.toDF("vec_id", "embedding")
    val (rot, opqBooks) = Ann.trainOpq(vecs, m = 4, dsub = 4, kStar = 8,
      opqIters = 10, lloydIters = 10)
    // determinism
    val (rot2, opqBooks2) = Ann.trainOpq(vecs, m = 4, dsub = 4, kStar = 8,
      opqIters = 10, lloydIters = 10)
    assert(rot.map(_.toSeq).toSeq == rot2.map(_.toSeq).toSeq && opqBooks == opqBooks2,
      "OPQ training must be deterministic")
    // orthogonality: R·Rᵀ = I to float tolerance
    val d = rot.length
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(k => rot(i)(k).toDouble * rot(j)(k)).sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-5,
        f"R·Rᵀ[$i,$j] = $dot%.8f, expected $expect")
    }
    // quantization error: mean ‖R·x − q(R·x)‖² under OPQ books must beat
    // plain-PQ ‖x − q(x)‖² decisively on this fixture (rotation
    // preserves norms, so the comparison is apples to apples)
    val plainBooks = Ann.trainPqCodebooks(vecs, m = 4, dsub = 4, kStar = 8, maxIter = 10)
    val raw = vecs.collect().map(r => r.getSeq[Float](1).map(_.toDouble).toArray)
    def qErr(xs: Seq[Array[Double]], books: Seq[Seq[Seq[Double]]]): Double =
      xs.map { v =>
        books.zipWithIndex.map { case (cents, s) =>
          cents.map(c => c.zipWithIndex.map { case (x, j) =>
            val dd = v(s * 4 + j) - x; dd * dd
          }.sum).min
        }.sum
      }.sum / xs.size
    val rotRaw = raw.map { x =>
      Array.tabulate(16)(i => (0 until 16).map(j => rot(i)(j).toDouble * x(j)).sum)
    }
    val ePlain = qErr(raw.toSeq, plainBooks)
    val eOpq = qErr(rotRaw.toSeq, opqBooks)
    assert(eOpq < ePlain * 0.5,
      f"OPQ error $eOpq%.4f not decisively below plain $ePlain%.4f on the capacity fixture")
    // end-to-end: rotated ADC top-k recall vs exact euclidean must not
    // fall below plain ADC on the same fixture
    val exactE = {
      val qs = vecs.filter($"vec_id" < 8)
        .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      vecs.crossJoin(broadcast(qs)).filter($"vec_id" =!= $"query_id")
        .withColumn("d2", aggregate(zip_with($"q_emb", $"embedding",
          (x, y) => { val dd = x.cast("double") - y.cast("double"); dd * dd }),
          lit(0.0d), (acc, v) => acc + v))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(asc("d2"), asc("vec_id"))))
        .filter($"rank" <= 5).select("query_id", "vec_id")
        .as[(Long, Long)].collect().toSet
    }
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      exactE.count(got.contains).toDouble / exactE.size
    }
    val rPlain = recallOf(Ann.pqAdcTopK(vecs, plainBooks, nQueries = 8, k = 5))
    val rOpq = recallOf(Ann.pqAdcTopK(Ann.rotated(vecs, rot), opqBooks, nQueries = 8, k = 5))
    assert(rOpq + 1e-9 >= rPlain,
      f"OPQ recall $rOpq%.3f fell below plain PQ $rPlain%.3f")
    // memo: same corpus + key reference-equal; mutation retrains
    val c1 = Ann.trainOpqCached(vecs, "opq-spec", m = 4, dsub = 4, kStar = 8)
    val c2 = Ann.trainOpqCached(vecs, "opq-spec", m = 4, dsub = 4, kStar = 8)
    assert(c1 eq c2, "same corpus + key must hit the OPQ memo")
    val mutated = vecs.withColumn("embedding",
      org.apache.spark.sql.functions.transform(col("embedding"), x => x * 2.0f))
    val c3 = Ann.trainOpqCached(mutated, "opq-spec", m = 4, dsub = 4, kStar = 8)
    assert(!(c3 eq c1), "mutated corpus must not be served a stale rotation")
  }

  test("IVF-PQ: full probe equals flat ADC; partial probe prunes partitions") {
    val vecs = corpus.select("vec_id", "embedding")
    val (centroids, _) = Ann.buildIvf(spark, vecs, nCells = 8, maxIter = 3)
    val books = Ann.trainPqCodebooks(vecs, m = 8, dsub = 8, kStar = 8, maxIter = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Ann.writeIvfPqPartitioned(vecs, centroids, books, dir)
    // layout shape: the pre-write co-location shuffle must cap the
    // layout at ONE data file per cell — a map-side partitionBy write
    // regresses to (tasks × cells) small files, the shape that drowns
    // probe-time file opens at cluster scale
    val dataFiles = new java.io.File(dir).listFiles.filter(_.getName.startsWith("cell="))
      .map(d => d.listFiles.count(_.getName.endsWith(".parquet")))
    assert(dataFiles.nonEmpty && dataFiles.forall(_ == 1),
      s"expected one data file per cell dir, got ${dataFiles.toSeq}")
    val qs = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    // full probe: cell pruning is physical only — the composed path must
    // reproduce the flat ADC scan row for row (ranks, ids, distances)
    val full = Ann.ivfPqJoin(spark, dir, qs, centroids, books, k = 7, nProbe = 8)
      .select("query_id", "rank", "vec_id", "adc_dist")
      .as[(Long, Int, Long, Double)].collect().toSet
    val flat = Ann.pqAdcTopK(vecs, books, nQueries = 3, k = 7)
      .select("query_id", "rank", "vec_id", "adc_dist")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(full == flat, "full-probe IVF-PQ must equal the flat ADC scan")
    // partial probe: the scan takes the adaptive-cutoff branch its
    // probed cells call for
    val partial = Ann.ivfPqJoin(spark, dir, qs, centroids, books, k = 7, nProbe = 2)
    assertProbeBranch(partial, "cell", probedCells(qs, centroids, 2), centroids.length)
    // and the probed subset still finds most of what the flat scan finds
    val got = partial.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val hits = flat.map(r => (r._1, r._3)).count(got.contains).toDouble / flat.size
    assert(hits >= 0.5, s"2/8-cell probe recall vs flat ADC suspiciously low: $hits")
  }

  test("IVF-PQ layout: fingerprint-keyed build-once, rebuilt on corpus or index change") {
    val vecs = corpus.select("vec_id", "embedding")
    val (centroids, _) = Ann.buildIvf(spark, vecs, nCells = 8, maxIter = 3)
    val books = Ann.trainPqCodebooks(vecs, m = 8, dsub = 8, kStar = 8, maxIter = 3)
    val base = java.nio.file.Files.createTempDirectory("graft_ivfpq_fp").toString
    val p1 = Ann.ivfPqLayout(spark, vecs, base, centroids, books)
    val marker = new java.io.File(p1, "_SUCCESS")
    assert(marker.exists())
    val mtime = marker.lastModified()
    val p2 = Ann.ivfPqLayout(spark, vecs, base, centroids, books)
    assert(p2 == p1)
    assert(marker.lastModified() == mtime, "unchanged corpus+index must not rebuild")
    val p3 = Ann.ivfPqLayout(
      spark, vecs.filter($"vec_id" =!= 0L), base, centroids, books)
    assert(p3 != p1, "a mutated corpus must get a fresh layout")
    // retrained index (different books) under the SAME corpus → new path:
    // stale codes under new codebooks would score garbage distances
    val seedBooks = Ann.trainPqCodebooks(vecs, m = 8, dsub = 8, kStar = 8, maxIter = 0)
    val p4 = Ann.ivfPqLayout(spark, vecs, base, centroids, seedBooks)
    assert(p4 != p1, "retrained codebooks must get a fresh layout")
  }

  test("IVF-PQ rerank: full probe + full over-fetch equals exact euclidean top-k") {
    val vecs = corpus.select("vec_id", "embedding")
    val n = vecs.count().toInt
    val (centroids, _) = Ann.buildIvf(spark, vecs, nCells = 8, maxIter = 3)
    val books = Ann.trainPqCodebooks(vecs, m = 8, dsub = 8, kStar = 8, maxIter = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_rr").toString
    Ann.writeIvfPqPartitioned(vecs, centroids, books, dir)
    val qs = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    val k = 3
    // full probe + over-fetch >= corpus: the coarse ADC stage only orders
    // the candidate set; the float euclidean rerank must reproduce the
    // exact top-k (floored d2, vec_id tiebreak, self excluded)
    val out = Ann.ivfPqTopKReranked(
      spark, dir, qs, vecs, centroids, books, k = k, nProbe = 8, overfetch = n)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("d2")))
    val raw = vecs.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      math.floor(s * 1e6) / 1e6
    }
    for (q <- 0L until 3L) {
      val truth = raw.keys.filter(_ != q).toSeq
        .map(v => (v, d2(raw(q), raw(v))))
        .sortBy { case (v, s) => (s, v) }.take(k)
      val got = out.filter(_._1 == q).sortBy(_._2).map(r => (r._3, r._4)).toSeq
      assert(got == truth, s"query $q: reranked != exact euclidean top-k")
    }
    // partial probe + modest over-fetch: recall vs exact must not go DOWN
    // when the rerank is added on top of the same probed candidate set
    val plain = Ann.ivfPqJoin(spark, dir, qs, centroids, books, k = 5, nProbe = 2)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val rr = Ann.ivfPqTopKReranked(
      spark, dir, qs, vecs, centroids, books, k = 5, nProbe = 2, overfetch = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exactTop = (0L until 3L).flatMap { q =>
      raw.keys.filter(_ != q).toSeq.map(v => (v, d2(raw(q), raw(v))))
        .sortBy { case (v, s) => (s, v) }.take(5).map(p => (q, p._1))
    }.toSet
    val rPlain = exactTop.count(plain.contains).toDouble / exactTop.size
    val rRr = exactTop.count(rr.contains).toDouble / exactTop.size
    assert(rRr >= rPlain,
      s"rerank reduced recall: $rRr < $rPlain — rerank must only fix ADC ordering")
  }

  test("residual IVF-PQ: full probe equals reconstruction brute force; residual beats raw codes on clustered data") {
    import org.apache.spark.sql.functions.col
    // clustered fixture (the PQ-training one): 8 planted clusters whose
    // structure the coarse cells can capture — the regime residual
    // encoding exists for
    val vecs = (0L until 160L).map { i =>
      val c = (i % 8).toInt
      (i, Array.tabulate(16) { j =>
        val sign = if (((c >> (j % 3)) & 1) == 0) 1.0f else -1.0f
        sign * 0.8f + ((i / 8 % 5).toInt - 2) * 0.01f + (j % 4) * 0.005f * (if (i % 2 == 0) 1 else -1)
      })
    }.toDF("vec_id", "embedding")
    val (centroids, _) = Ann.buildIvf(spark, vecs, nCells = 4, maxIter = 3,
      sampleNum = 4, sampleDenom = 4)
    val resBooks = Ann.trainPqCodebooksResidual(
      vecs, centroids, m = 4, dsub = 4, kStar = 4, maxIter = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_res").toString
    Ann.writeIvfPqResidualPartitioned(vecs, centroids, resBooks, dir)
    val qs = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    // in-spec reference: cells via the same cosine argmax, residual codes
    // via the same lowest-code argmin, distance = query to FULL
    // reconstruction (centroid + decoded residual), per-subspace fold
    val raw = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cellOf(v: Array[Double]): Int =
      Ann.nearestCells(v.map(_.toFloat), centroids, 1).head
    def encodeRes(v: Array[Double]): (Int, Seq[Int]) = {
      val cell = cellOf(v)
      val res = v.indices.map(i => (v(i).toFloat - centroids(cell)(i)).toDouble)
      val codes = resBooks.zipWithIndex.map { case (cents, s) =>
        cents.zipWithIndex.map { case (c, ci) =>
          (c.zipWithIndex.map { case (x, j) =>
            val d = res(s * 4 + j) - x; d * d
          }.sum, ci)
        }.minBy { case (d, ci) => (d, ci) }._2
      }
      (cell, codes)
    }
    val out = Ann.ivfPqResidualTopK(
      spark, dir, qs, centroids, resBooks, k = 7, nProbe = 4)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    for (q <- 0L until 3L) {
      val qv = raw(q)
      val truth = raw.keys.filter(_ != q).toSeq
        .map { v =>
          val (cell, codes) = encodeRes(raw(v))
          // same association as the operator: the LUT is built from the
          // query residual to THIS candidate's cell, per-subspace sums
          // first — float residual like residualCol, double accumulation
          val qr = qv.indices.map(i => (qv(i).toFloat - centroids(cell)(i)).toDouble)
          val d = resBooks.indices.map { s =>
            resBooks(s)(codes(s)).zipWithIndex.map { case (c, j) =>
              val x = qr(s * 4 + j) - c; x * x
            }.sum
          }.sum
          (v, math.floor(d * 1e6) / 1e6)
        }
        .sortBy { case (v, d) => (d, v) }.take(7).map(_._1)
      assert(out(q) == truth,
        s"query $q: residual IVF-PQ != reconstruction brute force")
    }
    // the point of residuals: at the same code budget, quantization error
    // of (centroid + residual reconstruction) is below raw-code PQ error
    val rawBooks = Ann.trainPqCodebooks(vecs, m = 4, dsub = 4, kStar = 4, maxIter = 3)
    def rawErr(v: Array[Double]): Double =
      rawBooks.zipWithIndex.map { case (cents, s) =>
        cents.map(c => c.zipWithIndex.map { case (x, j) =>
          val d = v(s * 4 + j) - x; d * d
        }.sum).min
      }.sum
    def resErr(v: Array[Double]): Double = {
      val (cell, codes) = encodeRes(v)
      val res = v.indices.map(i => (v(i).toFloat - centroids(cell)(i)).toDouble)
      resBooks.indices.map { s =>
        resBooks(s)(codes(s)).zipWithIndex.map { case (c, j) =>
          val x = res(s * 4 + j) - c; x * x
        }.sum
      }.sum
    }
    val (rE, rwE) = (raw.values.map(resErr).sum / raw.size,
      raw.values.map(rawErr).sum / raw.size)
    assert(rE < rwE,
      s"residual encoding did not reduce quantization error: $rE >= $rwE")
  }

  test("versioned IVF-PQ: append + tombstone delete + compact equal the rebuilt layout") {
    val vecs = corpus.select("vec_id", "embedding")
    val (centroids, _) = Ann.buildIvf(spark, vecs, nCells = 8, maxIter = 3)
    val books = Ann.trainPqCodebooks(vecs, m = 8, dsub = 8, kStar = 8, maxIter = 3)
    val qs = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    // base/batch split: the standing corpus vs a later ingest batch
    val base = vecs.filter(pmod(hash($"vec_id"), lit(5)) =!= 0)
    val batch = vecs.filter(pmod(hash($"vec_id"), lit(5)) === 0)
    val root = java.nio.file.Files.createTempDirectory("graft_ivfpq_ver").toString
    Ann.ivfPqAppendBatch(spark, root, base, centroids, books, "base")
    Ann.ivfPqAppendBatch(spark, root, batch, centroids, books, "b1")
    // rebuilt flat layout over the SAME full corpus and index
    val flatDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_flat").toString
    Ann.writeIvfPqPartitioned(vecs, centroids, books, flatDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "adc_dist")
        .as[(Long, Int, Long, Double)].collect().toSet
    val versioned = Ann.ivfPqTopKVersioned(
      spark, root, qs, centroids, books, k = 7, nProbe = 3)
    assert(rows(versioned) ==
      rows(Ann.ivfPqJoin(spark, flatDir, qs, centroids, books, k = 7, nProbe = 3)),
      "base + appended batch must equal the rebuilt layout")
    // across batch directories the scan takes the adaptive-cutoff
    // branch its probed cells call for
    assertProbeBranch(versioned, "cell", probedCells(qs, centroids, 3), centroids.length)
    // idempotency: re-delivering the same batch must not double-insert
    val before = spark.read.option("basePath", root).parquet(root).count()
    Ann.ivfPqAppendBatch(spark, root, batch, centroids, books, "b1")
    assert(spark.read.option("basePath", root).parquet(root).count() == before,
      "re-appending an existing batch id must be a no-op")
    // tombstone delete: victims picked FROM the current result so the
    // delete visibly changes it; equality vs a rebuild without them
    val victims = rows(versioned).toSeq.sortBy(r => (r._1, r._2)).take(2)
      .map(_._3).distinct
    val victimDf = victims.toDF("vec_id")
    Ann.ivfPqDeleteByKey(spark, root, victimDf)
    Ann.ivfPqDeleteByKey(spark, root, victimDf) // re-delete: no-op, no crash
    val afterDelete = Ann.ivfPqTopKVersioned(
      spark, root, qs, centroids, books, k = 7, nProbe = 3)
    val flatMinus = java.nio.file.Files.createTempDirectory("graft_ivfpq_fm").toString
    Ann.writeIvfPqPartitioned(
      vecs.filter(!$"vec_id".isin(victims: _*)), centroids, books, flatMinus)
    assert(rows(afterDelete) ==
      rows(Ann.ivfPqJoin(spark, flatMinus, qs, centroids, books, k = 7, nProbe = 3)),
      "tombstoned layout must equal a rebuild without the victims")
    assert(rows(afterDelete) != rows(versioned),
      "victims were in the result set — the delete must change it")
    // compact: physically folds batches + tombstones into a fresh root
    val root2 = java.nio.file.Files.createTempDirectory("graft_ivfpq_cmp").toString
    Ann.ivfPqCompact(spark, root, root2)
    assert(rows(Ann.ivfPqTopKVersioned(
      spark, root2, qs, centroids, books, k = 7, nProbe = 3)) == rows(afterDelete),
      "compaction must not change query results")
    val live = spark.read.option("basePath", root2).parquet(root2)
    assert(live.count() == vecs.count() - victims.length,
      "compaction must physically drop tombstoned rows")
    assert(!new java.io.File(s"$root2/_tombstones").exists(),
      "a compacted root carries no tombstones")
  }

  test("IVF-PQ join: distributed-queries form equals the driver-side probe exactly") {
    val vecs = corpus.select("vec_id", "embedding")
    val (centroids, _) = Ann.buildIvf(spark, vecs, nCells = 8, maxIter = 3)
    val books = Ann.trainPqCodebooks(vecs, m = 8, dsub = 8, kStar = 8, maxIter = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_join").toString
    Ann.writeIvfPqPartitioned(vecs, centroids, books, dir)
    // a query frame far larger than a probe batch — the join form never
    // collects it; results must still be row-identical to the
    // driver-side probe at the same parameters (same LUT arithmetic,
    // same ranking, same self-exclusion)
    val qs = vecs.filter($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "adc_dist")
        .as[(Long, Int, Long, Double)].collect().toSet
    val joined = rows(Ann.ivfPqJoin(spark, dir, qs, centroids, books, k = 5, nProbe = 2))
    val driver = rows(AnnDriverReference.ivfPqTopK(spark, dir, qs, centroids, books, k = 5, nProbe = 2))
    assert(joined == driver, "distributed join must equal the driver-side probe")
    assert(joined.nonEmpty)
  }

  test("exact IVF join: distributed-queries form equals the driver-side probe exactly") {
    val vecs = corpus.select("vec_id", "embedding")
    val (centroids, assigned) = Ann.buildIvf(spark, vecs, nCells = 8, maxIter = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_join").toString
    Ann.writeCellPartitioned(vecs, centroids, dir)
    // the ivfPqJoin treatment on the EXACT-scoring tier: the query frame
    // never collects; rows — including the raw double sim — must be
    // identical to both driver-side forms at the same parameters
    val qs = vecs.filter($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "sim")
        .as[(Long, Int, Long, Double)].collect().toSet
    val joined = rows(Ann.ivfJoin(spark, dir, qs, centroids, k = 5, nProbe = 2))
    val driver = rows(AnnDriverReference.ivfTopK(spark, dir, qs, centroids, k = 5, nProbe = 2))
    val mem = rows(Ann.ivfTopK(qs, assigned, centroids, k = 5, nProbe = 2))
    assert(joined == driver, "distributed join must equal the driver-side layout probe")
    assert(joined == mem, "distributed join must equal the in-memory probe")
    assert(joined.nonEmpty)
  }

  test("LSH join: distributed-queries form over the layout equals in-memory lshTopK") {
    val vecs = corpus.select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_join").toString
    Ann.writeSignaturePartitioned(vecs, dir, nBits = 8)
    val qs = vecs.filter($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "sim")
        .as[(Long, Int, Long, Double)].collect().toSet
    val joined = rows(Ann.lshJoin(spark, dir, qs, k = 5, nBits = 8, probeBits = 2))
    val mem = rows(Ann.lshTopK(qs, vecs, k = 5, nBits = 8, probeBits = 2))
    assert(joined == mem, "LSH distributed join must equal the in-memory bucket probe")
    assert(joined.nonEmpty)
  }

  test("lshJoin prunes the layout scan to the probed signatures (r16 next #6)") {
    val vecs = corpus.select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_prune").toString
    Ann.writeSignaturePartitioned(vecs, dir, nBits = 8)
    // a FEW queries probe a few buckets — the clustered-probe case the
    // pruning exists for
    val qs = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    val pruned = Ann.lshJoin(spark, dir, qs, k = 5, nBits = 8, probeBits = 1)
    val leaves = pruned.queryExecution.executedPlan
      .collectLeaves().map(_.toString).mkString
    // a genuine per-value IN/INSET on the partition column, not just the
    // join key's isnotnull (r18: the assertion tightened alongside the
    // adaptive cutoff — isnotnull alone must not pass)
    val pfContents = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(leaves).map(_.group(1)).mkString(";")
    assert((pfContents.contains(" IN (") || pfContents.contains("INSET")) &&
      pfContents.contains("sig"),
      s"the bounded probed-sig set must reach the scan as PartitionFilters: $pfContents")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "sim")
        .as[(Long, Int, Long, Double)].collect().toSet
    val full = rows(Ann.lshTopK(qs, vecs, k = 5, nBits = 8, probeBits = 1))
    assert(rows(pruned) == full,
      "pruned scan must return exactly the in-memory probe's rows")
    assert(full.nonEmpty)
  }

  test("ivfJoin prunes the layout scan to the probed cells") {
    val vecs = corpus.select("vec_id", "embedding")
    val (centroids, assigned) = Ann.buildIvf(spark, vecs, nCells = 8, maxIter = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_prune").toString
    Ann.writeCellPartitioned(vecs, centroids, dir)
    // ONE query probing 2 of 8 cells — safely under the r18 adaptive
    // cutoff (a probed set covering >= half the key space skips the
    // isin; the diffuse case has its own test below)
    val qs = vecs.filter($"vec_id" < 1)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    val pruned = Ann.ivfJoin(spark, dir, qs, centroids, k = 5, nProbe = 2)
    val leaves = pruned.queryExecution.executedPlan
      .collectLeaves().map(_.toString).mkString
    val pfContents = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(leaves).map(_.group(1)).mkString(";")
    assert((pfContents.contains(" IN (") || pfContents.contains("INSET")) &&
      pfContents.contains("cell"),
      s"the bounded probed-cell set must reach the scan as PartitionFilters: $pfContents")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "sim")
        .as[(Long, Int, Long, Double)].collect().toSet
    val full = rows(Ann.ivfTopK(qs, assigned, centroids, k = 5, nProbe = 2))
    assert(rows(pruned) == full,
      "pruned scan must return exactly the in-memory probe's rows")
    assert(full.nonEmpty)
  }

  test("join pruning adaptive cutoff: diffuse probes skip the isin, rows unchanged (r18)") {
    // A probed set covering >= half the key space keeps most directories
    // anyway — the isin would prune ~nothing while forcing the slower
    // per-value scan shape, so prunedLayout falls back to the full scan
    // (the distinct pass already ran; the choice is free). Rows must be
    // identical either way.
    val vecs = corpus.select("vec_id", "embedding")
    val (centroids, assigned) = Ann.buildIvf(spark, vecs, nCells = 8, maxIter = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_diffuse").toString
    Ann.writeCellPartitioned(vecs, centroids, dir)
    // many queries at high nProbe: the probed set is most of the 8 cells
    val qs = vecs.filter($"vec_id" < 30)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    val probedCells = qs.collect().flatMap(r =>
      Ann.nearestCells(r.getSeq[Float](1), centroids, 6)).distinct
    assume(2 * probedCells.length >= 8, "fixture must be diffuse for this test")
    val adaptive = Ann.ivfJoin(spark, dir, qs, centroids, k = 5, nProbe = 6)
    val leaves = adaptive.queryExecution.executedPlan
      .collectLeaves().map(_.toString).mkString
    // non-vacuous check: the PartitionFilters list must carry NO STATIC
    // per-value IN/INSET predicate. The join key's isnotnull(cell) is
    // always there, and Spark may add a dynamicpruningexpression(cell IN
    // dynamicpruning#N) — runtime DPP from the equi-join itself, which
    // is exactly the free pruning the cutoff defers to; both are fine.
    val pfContents = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(leaves).map(_.group(1)).mkString(";")
    assert(!pfContents.contains(" IN (") && !pfContents.contains("INSET"),
      s"diffuse probes must not pay the static per-value partition filter: $pfContents")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "sim")
        .as[(Long, Int, Long, Double)].collect().toSet
    val full = rows(Ann.ivfTopK(qs, assigned, centroids, k = 5, nProbe = 6))
    assert(rows(adaptive) == full, "adaptive cutoff must not change any row")
    assert(full.nonEmpty)
  }

  test("residual IVF-PQ rerank: full probe + full over-fetch equals exact euclidean top-k") {
    import org.apache.spark.sql.functions.col
    val vecs = (0L until 160L).map { i =>
      val c = (i % 8).toInt
      (i, Array.tabulate(16) { j =>
        val sign = if (((c >> (j % 3)) & 1) == 0) 1.0f else -1.0f
        sign * 0.8f + ((i / 8 % 5).toInt - 2) * 0.01f + (j % 4) * 0.005f * (if (i % 2 == 0) 1 else -1)
      })
    }.toDF("vec_id", "embedding")
    val (centroids, _) = Ann.buildIvf(spark, vecs, nCells = 4, maxIter = 3,
      sampleNum = 4, sampleDenom = 4)
    val resBooks = Ann.trainPqCodebooksResidual(
      vecs, centroids, m = 4, dsub = 4, kStar = 4, maxIter = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_resrr").toString
    Ann.writeIvfPqResidualPartitioned(vecs, centroids, resBooks, dir)
    val qs = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    val k = 4
    val out = Ann.ivfPqResidualTopKReranked(
      spark, dir, qs, vecs, centroids, resBooks,
      k = k, nProbe = 4, overfetch = 160)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("d2")))
    val raw = vecs.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      math.floor(s * 1e6) / 1e6
    }
    for (q <- 0L until 3L) {
      val truth = raw.keys.filter(_ != q).toSeq
        .map(v => (v, d2(raw(q), raw(v))))
        .sortBy { case (v, s) => (s, v) }.take(k)
      val got = out.filter(_._1 == q).sortBy(_._2).map(r => (r._3, r._4)).toSeq
      assert(got == truth, s"query $q: residual rerank != exact euclidean top-k")
    }
  }

  test("fused PQ training: job count scales with iterations, not subspaces") {
    // The m per-subspace Lloyd problems share each iteration as one
    // aggregate job over the exploded (subspace, subvector) frame. At
    // m=8, the old per-subspace loop shape costs >= m*maxIter (~24+)
    // jobs; the fused shape stays at ~2 per iteration (AQE splits a
    // shuffle into map+final) plus sample-count and seed passes.
    val vecs = corpus.select("vec_id", "embedding")
    val sc = spark.sparkContext
    sc.setJobGroup("pq-train-jobs", "fused trainer job audit")
    try Ann.trainPqCodebooks(vecs, m = 8, dsub = 8, kStar = 8, maxIter = 3)
    finally sc.clearJobGroup()
    // status store ingests listener events asynchronously — poll briefly
    var jobs = 0
    val deadline = System.currentTimeMillis() + 10000
    var last = -1
    while (System.currentTimeMillis() < deadline &&
           { jobs = sc.statusTracker.getJobIdsForGroup("pq-train-jobs").length
             jobs != last || jobs == 0 }) {
      last = jobs; Thread.sleep(200)
    }
    assert(jobs > 0, "job audit saw no jobs — group not attached?")
    assert(jobs <= 2 * 3 + 6,
      s"fused trainer launched $jobs jobs for m=8, maxIter=3 — per-subspace loop shape?")
  }
}

class RagSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("full chat pipeline: retrieve, stuff, answer, parse") {
    val chunks = Seq(
      (0L, "spark runs distributed queries", "spark runs distributed queries"),
      (1L, "ducks swim in ponds", "ducks swim in ponds"),
      (2L, "catalyst optimizes plans", "catalyst optimizes plans"))
      .toDF("vec_id", "text", "src")
      .withColumn("embedding", graft.functions.HashEmbedder.embedCol($"text"))
      .select("vec_id", "embedding", "text")
    val logs = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "prior question", "{}"))
      .toDF("user_id", "ts", "event_id", "event_type", "props")
      .withColumn("ts", $"ts".cast("timestamp"))
    val questions = Seq(
      (100L, 1L, "how does spark run distributed queries"),
      (101L, 1L, ""), // invalid: dropped at admission
      (102L, 2L, "x" * 2001)) // invalid: too long
      .toDF("query_id", "user_id", "question")

    val out = Rag.chatPipeline(questions, logs, chunks).collect()
    assert(out.length == 1)
    val row = out.head
    assert(row.getAs[Long]("query_id") == 100L)
    assert(row.getAs[String]("context").contains("spark runs distributed queries"))
    assert(row.getAs[String]("answer").startsWith("Re: how does spark"))
    assert(row.getAs[String]("emotion") == "explaining")

    // Hybrid flagship over the same fixtures: admission still drops the
    // invalid rows, and the lexically-obvious chunk (shares "spark",
    // "distributed", "queries" with the question) must reach the fused
    // context — BM25 guarantees it even if the hash-embedding channel
    // preferred another chunk.
    val hyb = Rag.chatPipelineHybrid(questions, logs, chunks, fetchK = 3).collect()
    assert(hyb.length == 1)
    val hrow = hyb.head
    assert(hrow.getAs[Long]("query_id") == 100L)
    assert(hrow.getAs[String]("context").contains("spark runs distributed queries"))
    assert(hrow.getAs[String]("answer").startsWith("Re: how does spark"))
    assert(hrow.getAs[String]("emotion") == "explaining")
  }
}

class MultimodalSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def assets = Seq(
    (1L, "image", "fake-image-bytes-aaaa".getBytes("UTF-8"), "s3://x/1.png"),
    (2L, "audio", "fake-audio-bytes-bbbb".getBytes("UTF-8"), "s3://x/2.wav"),
    (3L, "video", ("frame" * 30).getBytes("UTF-8"), "s3://x/3.mp4"))
    .toDF("asset_id", "modality", "content", "source_uri")

  test("feature extraction keeps schema, determinism and batch shape") {
    val feats = Multimodal.extractFeatures(assets, batchSize = 2).collect()
      .map(f => f.asset_id -> f).toMap
    assert(feats.size == 3)
    assert(feats(1L).width > 0 && feats(1L).height > 0 && feats(1L).durationMs == 0L)
    assert(feats(2L).durationMs > 0L && feats(2L).width == 0)
    assert(feats(1L).embedding.length == Multimodal.FeatureDim)
    // determinism: same bytes -> same features
    val again = Multimodal.extractFeatures(assets, batchSize = 1).collect()
      .map(f => f.asset_id -> f.embedding.toSeq).toMap
    assert(again(1L) == feats(1L).embedding.toSeq)
    // embeddings are unit-norm
    val n = math.sqrt(feats(3L).embedding.map(x => x.toDouble * x).sum)
    assert(math.abs(n - 1.0) < 1e-5)
  }

  test("frame sampling emits bounded, strided frame references") {
    val frames = Multimodal.sampleFrames(assets, stride = 10, maxFrames = 4).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.getAs[Long]("asset_id") == 3L))
    assert(frames.length <= 4)
    val offs = frames.map(_.getAs[Int]("byte_offset")).sorted.toSeq
    assert(offs == Seq(0, 10, 20, 30).take(frames.length))
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { d += a(i).toDouble * b(i); i += 1 }
    d
  }

  test("real image decode: pixels through javax.imageio, centered unit embeddings") {
    val png = Multimodal.syntheticPng(patternId = 3, variant = 0)
    val Some((w, h, emb, ahash)) = Multimodal.decodeImageReal(png)
    assert(w == 32 && h == 32 && emb.length == 64)
    assert(math.abs(math.sqrt(emb.map(x => x.toDouble * x).sum) - 1.0) < 1e-5)
    assert(math.abs(emb.map(_.toDouble).sum) < 1e-4, "embedding must be mean-centered")
    assert(ahash != 0L)
    // determinism end to end: bytes -> pixels -> features
    assert(Multimodal.decodeImageReal(png).get._3.toSeq == emb.toSeq)
    assert(Multimodal.decodeImageReal("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeImageReal(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeImageReal(null).isEmpty)
  }

  test("real decode separates variants (near-dup) from distinct patterns") {
    val base = Multimodal.decodeImageReal(Multimodal.syntheticPng(1, 0)).get
    val vari = Multimodal.decodeImageReal(Multimodal.syntheticPng(1, 2)).get
    val other = Multimodal.decodeImageReal(Multimodal.syntheticPng(2, 0)).get
    assert(cos(base._3, vari._3) > 0.97, "noised variant must stay near-duplicate")
    assert(math.abs(cos(base._3, other._3)) < 0.5, "distinct patterns must separate")
    assert(java.lang.Long.bitCount(base._4 ^ vari._4) <= 6, "variant aHash near-identical")
    assert(java.lang.Long.bitCount(base._4 ^ other._4) >= 16, "pattern aHash far apart")
  }

  test("real-decode near-dup pipeline finds exactly the within-pattern pairs") {
    val nPatterns = 20
    val pngs = spark.range(nPatterns * 3L).as[Long]
      .map(id => (id, Multimodal.syntheticPng((id / 3).toInt, (id % 3).toInt)))
      .toDF("asset_id", "content")
    val feats = Multimodal.extractRealImageFeatures(pngs, batchSize = 16).toDF()
    assert(feats.filter($"decoded" && $"width" === 32 && $"height" === 32).count() == nPatterns * 3)
    val pairs = graft.operators.Dedup.embeddingNearDupBucketed(
      feats.select($"asset_id".as("vec_id"), $"embedding"),
      threshold = 0.9, nBits = 16, bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (for {
      p <- 0 until nPatterns; a <- 0 until 3; b <- (a + 1) until 3
    } yield (p * 3L + a, p * 3L + b)).toSet
    assert(pairs == expected,
      s"missing=${(expected -- pairs).take(5)} spurious=${(pairs -- expected).take(5)}")
  }

  test("real audio decode: WAV PCM through javax.sound, block-RMS features") {
    val wav = Multimodal.syntheticWav(patternId = 3, variant = 0)
    val Some((rate, ch, nFrames, rms)) = Multimodal.decodeAudioReal(wav)
    assert(rate == 8000 && ch == 1 && nFrames == 2048L)
    assert(rms.length == Multimodal.AudioFeatureDim)
    assert(rms.forall(r => r > 0.0 && r < 1.0),
      s"block RMS must be positive sub-unit energies: ${rms.toSeq}")
    // the decoded samples ARE the written int16 formula: replay block 0
    // by hand from the generator arithmetic
    val expected0 = {
      var acc = 0.0
      for (i <- 0 until 128) {
        val env = 1 + math.floorMod(3 * 3 + 0 * 5 + 3 * 0, 23)
        val tone = math.floorMod(i * (3 + 3), 1201) - 600
        val x = (env * tone).toShort / 32768.0
        acc += x * x
      }
      math.sqrt(acc / 128)
    }
    assert(rms(0) == expected0, s"rms(0)=${rms(0)} expected=$expected0")
    // determinism + honest rejection
    assert(Multimodal.decodeAudioReal(wav).get._4.toSeq == rms.toSeq)
    assert(Multimodal.decodeAudioReal("not audio".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeAudioReal(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeAudioReal(null).isEmpty)
    // a truncated header must reject, not crash
    assert(Multimodal.decodeAudioReal(wav.take(30)).isEmpty)
  }

  test("real audio decode separates variants (near-dup) from distinct patterns") {
    def emb(p: Int, v: Int): Array[Float] = {
      val rms = Multimodal.decodeAudioReal(Multimodal.syntheticWav(p, v)).get._4
      val mean = rms.sum / rms.length
      var norm = 0.0
      val c = rms.map { r => val d = r - mean; norm += d * d; d }
      c.map(d => (d / math.sqrt(norm)).toFloat)
    }
    val base = emb(1, 0)
    val vari = emb(1, 2)
    val other = emb(2, 0)
    assert(cos(base, vari) > 0.97, "noised variant must stay near-duplicate")
    assert(math.abs(cos(base, other)) < 0.5, "distinct envelope patterns must separate")
  }

  test("real-audio near-dup pipeline finds exactly the within-pattern pairs") {
    val nPatterns = 20
    val wavs = spark.range(nPatterns * 3L).as[Long]
      .map(id => (id, Multimodal.syntheticWav((id / 3).toInt, (id % 3).toInt)))
      .toDF("asset_id", "content")
    val feats = Multimodal.extractRealAudioFeatures(wavs, batchSize = 16).toDF()
    assert(feats.filter($"decoded" && $"sample_rate" === 8000 &&
      $"n_frames" === 2048L && $"duration_ms" === 256L).count() == nPatterns * 3)
    val pairs = graft.operators.Dedup.embeddingNearDupBucketed(
      feats.select($"asset_id".as("vec_id"), $"embedding"),
      threshold = 0.9, nBits = 16, bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (for {
      p <- 0 until nPatterns; a <- 0 until 3; b <- (a + 1) until 3
    } yield (p * 3L + a, p * 3L + b)).toSet
    assert(pairs == expected,
      s"missing=${(expected -- pairs).take(5)} spurious=${(pairs -- expected).take(5)}")
  }

  test("real video decode: uncompressed AVI through the RIFF/DIB parser") {
    val avi = Multimodal.syntheticAvi(patternId = 3, variant = 0)
    val Some((w, h, nFrames, durMs, grids)) = Multimodal.decodeVideoReal(avi)
    assert(w == 16 && h == 16 && nFrames == 8 && durMs == 800L)
    assert(grids.length == 4 && grids.forall(_.length == 16)) // frames 0,2,4,6
    // the decoded pixels ARE the written formula: replay frame 0 cell 0
    // by hand from the generator arithmetic (f=0 → R=G=B=L)
    val expected00 = {
      var acc = 0.0
      for (i <- 0 until 16) {
        val y = i / 4; val x = i % 4
        val base = math.floorMod(3 * 3 + 0 * 5 + 3 * 0 + 0, 23) * 8
        val l = base + math.floorMod(x * 5 + y * 3, 7) + 2
        acc += 0.299 * l + 0.587 * l + 0.114 * l
      }
      acc / 16.0
    }
    assert(grids(0)(0) == expected00, s"got ${grids(0)(0)} expected $expected00")
    // determinism + honest rejection
    assert(Multimodal.decodeVideoReal(avi).get._5.map(_.toSeq).toSeq ==
      grids.map(_.toSeq).toSeq)
    assert(Multimodal.decodeVideoReal("not video".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeVideoReal(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeVideoReal(null).isEmpty)
    assert(Multimodal.decodeVideoReal(avi.take(100)).isEmpty)
    // a compressed stream must reject (no JDK codec), not crash: flip
    // biCompression in the vids strf (tag scan keeps the test honest
    // about the layout instead of hard-coding offsets)
    val strfOff = avi.indices.find(i => i + 4 <= avi.length &&
      new String(avi, i, 4, "US-ASCII") == "strf").get
    val compressed = avi.clone()
    compressed(strfOff + 8 + 16) = 1 // biCompression = BI_RLE8
    assert(Multimodal.decodeVideoReal(compressed).isEmpty)
  }

  test("real video decode handles row padding and top-down frames") {
    // w=6 → rowBytes 20 (2 pad bytes per row): the padded path must
    // reproduce an independent reimplementation of the same pixel math
    val avi = Multimodal.syntheticAvi(patternId = 5, variant = 1,
      nFrames = 2, width = 6, height = 4)
    val Some((w, h, n, _, grids)) = Multimodal.decodeVideoReal(avi, grid = 1, frameStride = 1)
    assert(w == 6 && h == 4 && n == 2 && grids.length == 2)
    def refMean(f: Int): Double = {
      var acc = 0.0
      for (y <- 0 until 4; x <- 0 until 6) {
        val c = (y / 4) * 4 + (x / 4)
        val base = math.floorMod(5 * 3 + c * 5 + 5 * c + f * 7, 23) * 8
        val noise = math.floorMod(1 * 31 + (f * 256 + y * 16 + x) * 17, 5) - 2
        val l = base + math.floorMod(x * 5 + y * 3, 7) + 2 + noise
        acc += 0.299 * (l + 2 * f) + 0.587 * (l + f) + 0.114 * l
      }
      acc / 24.0
    }
    assert(grids(0)(0) == refMean(0) && grids(1)(0) == refMean(1))
    // top-down twin: negate biHeight and reverse each frame's rows —
    // the decoder must produce identical grids
    val full = Multimodal.syntheticAvi(patternId = 7, variant = 2)
    val Some((_, _, _, _, upGrids)) = Multimodal.decodeVideoReal(full)
    val down = full.clone()
    val strfOff = down.indices.find(i => i + 4 <= down.length &&
      new String(down, i, 4, "US-ASCII") == "strf").get
    val hNeg = -16
    down(strfOff + 16) = (hNeg & 0xFF).toByte
    down(strfOff + 17) = ((hNeg >> 8) & 0xFF).toByte
    down(strfOff + 18) = ((hNeg >> 16) & 0xFF).toByte
    down(strfOff + 19) = ((hNeg >> 24) & 0xFF).toByte
    val rowBytes = 48
    var i = 0
    while (i + 4 <= down.length) {
      if (new String(down, i, 4, "US-ASCII") == "00db") {
        val frame = java.util.Arrays.copyOfRange(down, i + 8, i + 8 + rowBytes * 16)
        for (r <- 0 until 16)
          System.arraycopy(frame, (15 - r) * rowBytes, down, i + 8 + r * rowBytes, rowBytes)
        i += 8 + rowBytes * 16
      } else i += 1
    }
    val Some((_, _, _, _, downGrids)) = Multimodal.decodeVideoReal(down)
    assert(downGrids.map(_.toSeq).toSeq == upGrids.map(_.toSeq).toSeq,
      "top-down DIB must decode identically to its bottom-up twin")
  }

  test("real video decode separates variants (near-dup) from distinct patterns") {
    def emb(p: Int, v: Int): Array[Float] = {
      val grids = Multimodal.decodeVideoReal(Multimodal.syntheticAvi(p, v)).get._5
      val cells = Array.tabulate(16) { i =>
        var acc = 0.0; grids.foreach(g => acc += g(i)); acc / grids.length
      }
      val mean = cells.sum / 16
      var norm = 0.0
      val c = cells.map { r => val d = r - mean; norm += d * d; d }
      c.map(d => (d / math.sqrt(norm)).toFloat)
    }
    val base = emb(1, 0)
    val vari = emb(1, 2)
    val other = emb(2, 0)
    assert(cos(base, vari) > 0.95, "noised variant must stay near-duplicate")
    assert(math.abs(cos(base, other)) < 0.7, "distinct cell profiles must separate")
  }

  test("real-video near-dup pipeline finds exactly the within-pattern pairs") {
    val nPatterns = 20
    val avis = spark.range(nPatterns * 3L).as[Long]
      .map(id => (id, Multimodal.syntheticAvi((id / 3).toInt, (id % 3).toInt)))
      .toDF("asset_id", "content")
    val feats = Multimodal.extractRealVideoFeatures(avis, batchSize = 16).toDF()
    assert(feats.filter($"decoded" && $"width" === 16 && $"height" === 16 &&
      $"n_frames" === 8 && $"n_sampled" === 4 &&
      $"duration_ms" === 800L).count() == nPatterns * 3)
    val pairs = graft.operators.Dedup.embeddingNearDupBucketed(
      feats.select($"asset_id".as("vec_id"), $"embedding"),
      threshold = 0.9, nBits = 16, bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (for {
      p <- 0 until nPatterns; a <- 0 until 3; b <- (a + 1) until 3
    } yield (p * 3L + a, p * 3L + b)).toSet
    assert(pairs == expected,
      s"missing=${(expected -- pairs).take(5)} spurious=${(pairs -- expected).take(5)}")
  }
}
