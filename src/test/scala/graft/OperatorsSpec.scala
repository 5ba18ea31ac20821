package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Ingest, Retrieval, Sessions}
import graft.functions.{TextAnalysis, VectorOps}

/** DataFrame-level operator specs over tiny in-memory fixtures
  * (FIXTURES.md §B).
  */
class SessionsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def logs = Seq(
    // (event_id, ts, user_id, event_type, props)
    (1L, "2024-01-01 10:00:00", 1L, "q1", "a1"),
    (2L, "2024-01-01 10:01:00", 1L, "q2", "a2"),
    (3L, "2024-01-01 10:02:00", 1L, "q3", "a3"),
    (4L, "2024-01-01 10:03:00", 1L, "q4", "a4"),
    (5L, "2024-01-01 10:04:00", 1L, "q5", "a5"),
    (6L, "2024-01-01 10:05:00", 1L, "q6", "a6"),
    (7L, "2024-01-01 10:06:00", 1L, "q7", "a7"),
    (8L, "2024-01-01 10:07:00", 1L, "q8", "a8"),
    (9L, "2024-01-01 10:08:00", 1L, "q9", "a9"),
    (10L, "2024-01-01 10:09:00", 1L, "q10", "a10"),
    (11L, "2024-01-01 10:10:00", 1L, "q11", "a11"),
    (12L, "2024-01-01 10:11:00", 1L, "q12", "a12"),
    (13L, "2024-01-01 09:00:00", 2L, "other", "x"))
    .toDF("event_id", "ts", "user_id", "event_type", "props")
    .withColumn("ts", col("ts").cast("timestamp"))

  test("S-1: last-10 per session, chronological, ties by id") {
    val out = Sessions.lastNPerSession(logs, 10)
      .filter($"user_id" === 1L).orderBy("ts").collect()
    assert(out.length == 10)
    assert(out.head.getAs[Long]("event_id") == 3L) // rows 1,2 dropped
    assert(out.last.getAs[Long]("event_id") == 12L)
  }

  test("S-1: window is independent per session") {
    val out = Sessions.lastNPerSession(logs, 10)
    assert(out.filter($"user_id" === 2L).count() == 1)
  }

  test("T-12: one log row unnests to human then ai") {
    val m = Sessions.toMessages(logs.filter($"event_id" === 1L))
      .orderBy(desc("role")).collect()
    assert(m.map(_.getAs[String]("role")).toSeq == Seq("human", "ai"))
    assert(m.map(_.getAs[String]("content")).toSeq == Seq("q1", "a1"))
  }

  test("A-4: session stats") {
    val st = Sessions.sessionStats(logs).filter($"user_id" === 1L).collect()(0)
    assert(st.getAs[Long]("message_count") == 12L)
    assert(st.getAs[java.sql.Timestamp]("first_at").toString.startsWith("2024-01-01 10:00"))
  }

  test("J-4: purge removes exactly the expired sessions' rows") {
    val kept = Sessions.purgeExpired(logs, "2024-01-01 10:00:00")
    // user 2's last activity (09:00) < cutoff -> purged; user 1 kept
    assert(kept.select("user_id").distinct().as[Long].collect().toSet == Set(1L))
  }
}

class IngestSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("P-4: filename sanitize matches the reference edge cases") {
    val cases = Seq(
      "../../etc/passwd", "my file (1).pdf", ".hidden", "", ".", "normal-name.pdf")
    val out = cases.toDF("name")
      .select(Ingest.sanitizeFilename($"name").as("s")).as[String].collect().toSeq
    assert(out == Seq("passwd", "my_file__1_.pdf", "file_hidden", "unnamed_file",
      "unnamed_file", "normal-name.pdf"))
  }

  test("P-1/P-2: extension + size predicates") {
    val df = Seq(
      ("a.pdf", 10L), ("b.PDF", 10L), ("c.docx", 10L), ("d.exe", 10L),
      ("e.html", 10L * 1024 * 1024), ("f.html", 10L * 1024 * 1024 + 1))
      .toDF("name", "size")
    val byName = df.select($"name", Ingest.validExtension($"name"), Ingest.validSize($"size"))
      .collect().map(r => r.getString(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    assert(byName("a.pdf") == ((true, true)))
    assert(byName("b.PDF")._1)
    assert(byName("c.docx")._1)
    assert(!byName("d.exe")._1)
    assert(byName("e.html") == ((true, true)))  // exactly 10MB accepted
    assert(!byName("f.html")._2)                // 10MB+1 rejected
  }

  test("P-3: MIME sniff accepts matching magic and fails open") {
    val df = Seq(
      ("%PDF-1.7 rest", ".pdf"), ("%PDF-1.7 rest", ".html"),
      ("PKzip", ".docx"), ("<html><body>", ".html"),
      ("randombytes", ".pdf"))
      .toDF("content", "ext")
    val out = df.select(Ingest.mimeMatches($"content", $"ext")).as[Boolean].collect().toSeq
    assert(out == Seq(true, false, true, true, true)) // last: unknown header -> fail-open
  }

  test("T-6/J-3: dedup gate is idempotent (ingest twice == once)") {
    val docs = Seq((1L, "alpha text", "s1", 10L), (2L, "beta text", "s2", 9L))
      .toDF("doc_id", "text", "source", "n_chars")
    val catalog = docs.withColumn("file_hash", Ingest.contentHash($"text"))
    val incomingDup = docs.union(docs).withColumn("file_hash", Ingest.contentHash($"text"))
    val out = Ingest.dedupGate(incomingDup, catalog, "file_hash")
    assert(out.count() == 0) // all already in catalog
    val fresh = Seq((3L, "gamma text", "s3", 10L)).toDF("doc_id", "text", "source", "n_chars")
      .withColumn("file_hash", Ingest.contentHash($"text"))
    assert(Ingest.dedupGate(fresh, catalog, "file_hash").count() == 1)
  }

  test("T-1/T-2: chunk enrichment carries index and totals") {
    val docs = Seq((7L, ("para " * 60).trim, "src", 300L))
      .toDF("doc_id", "text", "source", "n_chars")
    val chunks = Ingest.splitIntoChunks(docs, chunkSize = 100, overlap = 20).collect()
    assert(chunks.length > 1)
    assert(chunks.map(_.getAs[Int]("chunk_index")).toSeq == chunks.indices.toSeq)
    assert(chunks.forall(_.getAs[Int]("total_chunks") == chunks.length))
    assert(chunks.forall(_.getAs[String]("chunk_id").startsWith("7_")))
  }

  test("open-schema metadata: null extras are ABSENT keys, element_at fails closed") {
    val docs = Seq(
      (1L, "short pdf text", "a.pdf", 14L),
      (2L, "short web text", "b.html", 14L))
      .toDF("doc_id", "text", "source", "n_chars")
    val chunks = Ingest.chunkStrided(docs, chunkSize = 100, overlap = 20)
    val out = Ingest.openMetadata(chunks,
      "producer" -> when($"file_id" === 1L, lit("lib-x")) /* null for doc 2 */)
      .select($"file_id", $"metadata").collect()
      .map(r => r.getAs[Long]("file_id") -> r.getAs[Map[String, String]]("metadata"))
      .toMap
    // base keys always present; the extra only where its value was non-null
    assert(out(1L).keySet == Set("source", "page", "producer"))
    assert(out(2L).keySet == Set("source", "page"), s"null extra must be absent: ${out(2L)}")
    assert(out(1L)("producer") == "lib-x" && out(1L)("source") == "a.pdf")
    // element_at on the missing key is null -> a where-filter drops the row
    val filtered = Ingest.openMetadata(chunks,
      "producer" -> when($"file_id" === 1L, lit("lib-x")))
      .filter(element_at($"metadata", "producer") === "lib-x")
      .select("file_id").as[Long].collect().toSet
    assert(filtered == Set(1L))
    // an extras key shadowing a base key fails fast at call time, not as
    // a mapKeyDedupPolicy error mid-job
    val clash = intercept[IllegalArgumentException] {
      Ingest.openMetadata(chunks, "source" -> lit("shadowed"))
    }
    assert(clash.getMessage.contains("source"))
  }
}

class RetrievalSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1f, 0f, 0f)),
    (1L, Array(0.9f, 0.1f, 0f)),
    (2L, Array(0f, 1f, 0f)),
    (3L, Array(0f, 0f, 1f))).toDF("vec_id", "embedding")

  test("T-4: self-query ranks itself first with similarity 1") {
    val queries = vecs.filter($"vec_id" === 0L)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    val out = Retrieval.knnJoin(queries, vecs, k = 2).orderBy("rank").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("vec_id") == 0L)
    assert(math.abs(out(0).getAs[Double]("sim") - 1.0) < 1e-9)
    assert(out(1).getAs[Long]("vec_id") == 1L) // nearest neighbor
    assert(out(0).getAs[Double]("sim") >= out(1).getAs[Double]("sim"))
  }

  test("P-9: metadata prefilter excludes below the top-k") {
    val queries = vecs.filter($"vec_id" === 0L)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    val out = Retrieval.knnJoinFiltered(queries, vecs, 2, $"vec_id" =!= 1L).collect()
    assert(!out.map(_.getAs[Long]("vec_id")).contains(1L))
  }

  test("T-7: context fold concatenates in rank order") {
    val retrieved = Seq((10L, 2, "second"), (10L, 1, "first")).toDF("query_id", "rank", "text")
    val ctx = Retrieval.stuffContext(retrieved).as[(Long, String)].collect().head
    assert(ctx == ((10L, "first\n\nsecond")))
  }

  test("T-10: LLM response parse ladder (langchain_utils.py:105-206)") {
    val cases = Seq(
      """{"answer": "plain", "emotion": "happy"}""",
      "```json\n{\"answer\": \"fenced\", \"emotion\": \"thinking\"}\n```",
      """Here's the answer: {"answer": "prefixed", "emotion": "explaining"}""",
      """{"answer": "no emotion"}""",
      """{"answer": "bad emotion", "emotion": "angry"}""",
      """total garbage, not json""",
      """The answer is: {"answer": "listed prefix", "emotion": "HAPPY "}""",
      """{"answer": "{leaky braces}", "emotion": "happy"}""",
      """{"emotion": "happy"}""", // missing answer -> fallback + neutral
      """prose before {"answer": "embedded", "emotion": "thinking"} prose after""",
      "")
    val out = cases.toDF("raw")
      .select(Retrieval.parseLlmResponse($"raw").as("p"))
      .select("p.answer", "p.emotion")
      .as[(String, String)].collect().toSeq
    assert(out(0) == (("plain", "happy")))
    assert(out(1) == (("fenced", "thinking")))
    assert(out(2) == (("prefixed", "explaining")))
    assert(out(3) == (("no emotion", "neutral")))
    assert(out(4) == (("bad emotion", "neutral")))
    assert(out(5) == (("total garbage, not json", "neutral")))
    assert(out(6) == (("listed prefix", "happy"))) // prefix stripped, emotion trimmed+lowered
    assert(out(7) == (("leaky braces", "happy"))) // brace artifacts cleaned
    assert(out(8) == (("""{"emotion": "happy"}""", "neutral"))) // missing answer -> extracted text, neutral
    assert(out(9) == (("embedded", "thinking"))) // first { .. last } extraction
    assert(out(10) == (("I apologize, I encountered an error generating a response.", "neutral")))
  }

  test("T-11: markdown strip for TTS (ChatInterface.js:224)") {
    val md = "# Title\n**bold** and *italic* with `code` and [a link](http://x.y) " +
      "plus ![img](http://z)\n> quoted\n- item one\n```scala\nval x = 1\n```"
    val out = Seq(md).toDF("t")
      .select(graft.functions.TextAnalysis.stripMarkdown($"t")).as[String].collect().head
    assert(!out.contains("#") && !out.contains("*") && !out.contains("`") &&
      !out.contains("[") && !out.contains(">"))
    assert(out.contains("bold") && out.contains("italic") && out.contains("code") &&
      out.contains("a link") && out.contains("img") && out.contains("quoted") &&
      out.contains("item one"))
  }
}

class DedupSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // dup of 1
    (3L, "the quick brown fox jumps over the lazy cat near the river bank today"), // near-dup
    (4L, "completely different content about query engines and columnar storage"))
    .toDF("doc_id", "text")

  test("cross-doc line dedup: boilerplate stripped after first occurrence, order kept") {
    val docs = Seq(
      (1L, "HEADER\nunique one\nFOOTER"),
      (2L, "HEADER\nunique two\nFOOTER"),
      (3L, "HEADER\nFOOTER"), // nothing unique: comes back empty, not dropped
      (4L, "solo line"))
      .toDF("doc_id", "text")
    val out = Dedup.crossDocLineDedup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"), r.getAs[String]("cleaned_text"))))
      .toMap
    assert(out(1L) == ((3L, 3L, "HEADER\nunique one\nFOOTER"))) // first occurrence keeps all
    assert(out(2L) == ((3L, 1L, "unique two")))
    assert(out(3L) == ((2L, 0L, "")))
    assert(out(4L) == ((1L, 1L, "solo line")))
  }

  test("incremental line dedup equals batch-mode rule on corpus+batch") {
    val corpus = Seq(
      (1L, "HEADER\ncorpus content one\nFOOTER"),
      (2L, "HEADER\ncorpus content two"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "HEADER\nnew stuff\nBANNER"), // HEADER in corpus; BANNER first here
      (11L, "BANNER\nmore new"), // BANNER now a later copy
      (12L, "HEADER\nFOOTER")) // fully boilerplate: empty, not dropped
      .toDF("doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"), r.getAs[String]("cleaned_text"))))
      .toMap
    val inc = asMap(Dedup.incrementalLineDedup(batch, Dedup.lineIndex(corpus)))
    assert(inc(10L) == ((3L, 2L, "new stuff\nBANNER")))
    assert(inc(11L) == ((2L, 1L, "more new")))
    assert(inc(12L) == ((2L, 0L, "")))
    // must equal the corpus-wide rule run over corpus+batch, batch slice
    val full = asMap(Dedup.crossDocLineDedup(corpus.unionByName(batch))
      .filter(col("doc_id") >= 10L))
    assert(inc == full, "incremental must reproduce the batch-mode rule")
  }

  test("span dedup: later k-token windows stripped, intra-doc repetition collapsed") {
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x A B C d y"), // case-insensitive match; edge tokens x/y survive
      (3L, "a b c d e"), // exact copy: entirely covered, returned empty
      (4L, "p q r p q r p q r"), // intra-doc loop collapses to one period
      (5L, "a b")) // shorter than k: no windows, untouched
      .toDF("doc_id", "text")
    val out = Dedup.repeatedSpanDedup(docs, k = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_toks"), r.getAs[Long]("n_kept"), r.getAs[String]("cleaned_text"))))
      .toMap
    assert(out(1L) == ((5L, 5L, "a b c d e"))) // first occurrence keeps all
    assert(out(2L) == ((6L, 2L, "x y")))
    assert(out(3L) == ((5L, 0L, "")))
    assert(out(4L) == ((9L, 3L, "p q r")))
    assert(out(5L) == ((2L, 2L, "a b")))
  }

  test("incremental span dedup equals batch-mode rule on corpus+batch") {
    val corpus = Seq(
      (1L, "a b c d e"),
      (2L, "p q r s"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "x a b c d y"), // corpus windows taper-strip the middle
      (11L, "m n o m n o m n o"), // intra-batch repetition collapses
      (12L, "a b c d e")) // full corpus copy: entirely covered
      .toDF("doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_toks"), r.getAs[Long]("n_kept"), r.getAs[String]("cleaned_text"))))
      .toMap
    val inc = asMap(Dedup.incrementalSpanDedup(batch, Dedup.gramIndex(corpus, 3), k = 3))
    assert(inc(10L) == ((6L, 2L, "x y")))
    assert(inc(11L) == ((9L, 3L, "m n o")))
    assert(inc(12L) == ((5L, 0L, "")))
    val full = asMap(Dedup.repeatedSpanDedup(corpus.unionByName(batch), k = 3)
      .filter(col("doc_id") >= 10L))
    assert(inc == full, "incremental must reproduce the batch-mode rule")
  }

  test("exact dedup keeps min doc_id per hash") {
    val out = Dedup.exact(docs).collect()
    assert(out.length == 3)
    val dup = out.find(_.getAs[Long]("copies") == 2L).get
    assert(dup.getAs[Long]("keep_doc_id") == 1L)
  }

  test("ngram jaccard finds exact and near duplicates") {
    val pairs = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("containment flags a doc embedded in a longer one that jaccard misses") {
    val emb = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      // doc 1 verbatim inside a much longer wrapper: jaccard diluted,
      // containment(1 in 2) = 1
      (2L, "EDITORIAL PREFACE zzz qqq www " +
        "the quick brown fox jumps over the lazy dog" +
        " APPENDIX kkk jjj hhh ggg fff eee ddd ccc bbb aaa xxy xyz yzx"),
      (3L, "completely different content about columnar storage engines"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(emb, n = 3, threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        ((r.getAs[Double]("cont_a_in_b"), r.getAs[Double]("cont_b_in_a")))).toMap
    assert(cont.contains((1L, 2L)), s"containment pair missing: $cont")
    assert(cont((1L, 2L))._1 == 1.0) // every shingle of 1 appears in 2
    assert(cont((1L, 2L))._2 < 0.9)  // but 2 is NOT contained in 1
    // and symmetric jaccard at the same bar indeed misses the pair
    val jac = Dedup.ngramJaccardPairs(emb, n = 3, threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(!jac.contains((1L, 2L)))
    // df-capping preserves the subset relation: still 1.0 under a cap
    val capped = Dedup.containmentPairs(emb, n = 3, threshold = 0.9, maxDf = 2)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("cont_a_in_b")).toMap
    capped.get((1L, 2L)).foreach(c => assert(c == 1.0))
  }

  test("minhash LSH surfaces duplicate candidates with est jaccard 1 for dups") {
    val out = Dedup.minHashLshPairs(docs, threshold = 0.5).collect()
    val exactDup = out.find(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(exactDup.isDefined)
    assert(exactDup.get.getAs[Double]("est_jaccard") == 1.0)
  }

  test("simhash pairs identical docs at hamming 0") {
    val out = Dedup.simHashPairs(docs, maxHamming = 8).collect()
    val dup = out.find(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(dup.isDefined)
    assert(dup.get.getAs[Int]("hamming") == 0)
  }

  test("simhash pairs equal the all-pairs Hamming filter above a 4-band budget") {
    // Variants of one sentence, each with two words replaced: some pairs
    // within the budget differ in all four 16-bit quarters of the
    // fingerprint, the pairs a fixed four-band cut cannot generate.
    val words = ("the quick brown fox jumps over the lazy dog near the river " +
      "bank today while birds sing").split(" ")
    val subs = Seq("red", "slow", "cat", "walks", "under", "busy", "lake", "shore",
      "night", "cows")
    val texts = (0 until 40).map { i =>
      val w = words.clone()
      w(i % w.length) = subs(i % subs.length)
      w((i * 7 + 3) % w.length) = subs((i / 3) % subs.length)
      (i.toLong, w.mkString(" "))
    }
    val maxHamming = 8
    val fp = texts.map { case (id, t) => id -> TextAnalysis.simHash(t) }.toMap
    val expected = (for {
      (a, fa) <- fp; (b, fb) <- fp if a < b
      d = java.lang.Long.bitCount(fa ^ fb) if d <= maxHamming
    } yield (a, b, d)).toSet
    def quarters(x: Long) = (0 until 4).map(q => (x >>> (16 * q)) & 0xFFFFL)
    assert(expected.exists { case (a, b, _) =>
      quarters(fp(a)).zip(quarters(fp(b))).forall { case (x, y) => x != y }
    }, "fixture has no in-budget pair outside every 16-bit band")
    val got = Dedup.simHashPairs(texts.toDF("doc_id", "text"), maxHamming).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Int]("hamming")))
    assert(got.length == got.toSet.size)
    assert(got.toSet == expected)
  }

  test("band cut: contiguous widths, masks exact up to a 64-bit band") {
    assert(Dedup.bandCut(64, 4) == Seq((0, 0xFFFFL), (16, 0xFFFFL), (32, 0xFFFFL), (48, 0xFFFFL)))
    assert(Dedup.bandCut(31, 3) == Seq((0, 1023L), (10, 1023L), (20, 2047L)))
    assert(Dedup.bandCut(64, 1) == Seq((0, -1L)))
    assert(Dedup.bandCut(64, 9).map(_._2).map(java.lang.Long.bitCount).sum == 64)
  }

  test("portable minhash/simhash agree with murmur variants on dup detection") {
    val p = Dedup.minHashLshPairsPortable(docs, threshold = 0.5).collect()
    val dup = p.find(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(dup.isDefined && dup.get.getAs[Double]("est_jaccard") == 1.0)
    val s = Dedup.simHashPairsExact(docs, maxHamming = 0).collect()
    assert(s.exists(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L &&
      r.getAs[Int]("hamming") == 0))
  }

  test("minhash verify stage: accepts near-copies, rejects shingle-set twins") {
    // the two candidate classes: 101 is a suffix near-copy of 100 (tiny
    // edit -> verified); 102 is a ROTATION of 100 (shingle set nearly
    // unchanged -> MinHash candidate, but the text moved wholesale ->
    // edit_sim low -> candidate REJECTED). 103 is unrelated (no pair).
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    val rotated = base.split(" ").drop(12).mkString(" ") + " " +
      base.split(" ").take(12).mkString(" ")
    val vdocs = Seq(
      (100L, base),
      (101L, base + " tiny"),
      (102L, rotated),
      (103L, "wholly unrelated text about glacier melt and alpine flora"))
      .toDF("doc_id", "text")
    val out = Dedup.minHashVerifiedPairs(vdocs, minAgreement = 0.25, minEditSim = 0.9)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        ((r.getAs[Double]("edit_sim"), r.getAs[Boolean]("verified")))).toMap
    val nearCopy = out((100L, 101L))
    assert(nearCopy._2, s"near-copy must verify: $nearCopy")
    assert(nearCopy._1 > 0.95)
    val rot = out((100L, 102L))
    assert(!rot._2, s"rotation must be a REJECTED candidate: $rot")
    assert(rot._1 < 0.9)
    assert(!out.keySet.exists { case (a, b) => a == 103L || b == 103L },
      "unrelated doc must not appear as a candidate")
  }

  test("incremental admit: corpus dups, batch-sibling dups and novel docs") {
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about query engines and columnar storage"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"), // dup of corpus 1
      (11L, "an entirely novel essay on gardening tomatoes in cold climates works"),   // novel
      (12L, "an entirely novel essay on gardening tomatoes in cold climates works"),   // dup of sibling 11
      (13L, "unrelated treatise regarding deep sea navigation by ancient mariners"))   // novel
      .toDF("doc_id", "text")
    val out = Dedup.incrementalAdmit(existing, incoming).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("admitted"), r.getAs[Long]("blocked_by")))).toMap
    assert(out == Map(
      10L -> ((false, 1L)),   // blocked by the corpus doc
      11L -> ((true, -1L)),
      12L -> ((false, 11L)),  // blocked by its lower-id batch sibling
      13L -> ((true, -1L))))
  }

  test("incremental admit: empty corpus degrades to within-batch dedup") {
    val incoming = Seq(
      (5L, "same words repeated here for the minhash shingles to latch onto"),
      (6L, "same words repeated here for the minhash shingles to latch onto"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalAdmit(
      incoming.filter(col("doc_id") < 0), incoming).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("admitted")).toMap
    assert(out == Map(5L -> true, 6L -> false))
  }

  test("duplicate clusters: chain and isolated components get min-id labels") {
    // chain 1-2, 2-5, plus component 7-9: component {1,2,5} -> 1, {7,9} -> 7
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 9L)).toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("duplicate clusters converge on a long chain (diameter > 2)") {
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClusters(pairs).collect()
    assert(out.length == 12)
    assert(out.forall(_.getAs[Long]("cluster_id") == 1L))
  }

  test("star connected components equal min-label propagation on varied graphs") {
    val shapes: Seq[Seq[(Long, Long)]] = Seq(
      (1L until 12L).map(i => (i, i + 1)),                       // chain, diameter 11
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L)),             // clique + pair
      Seq((5L, 9L), (9L, 1L), (3L, 7L), (7L, 3L), (8L, 4L), (4L, 6L)), // forest, dup edges, reversed ids
      Seq((20L, 10L), (10L, 30L), (30L, 5L), (40L, 41L), (41L, 5L)))   // merges into one big component
    for (ps <- shapes) {
      val pairs = ps.toDF("doc_a", "doc_b")
      def m(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
      assert(m(Dedup.duplicateClustersStar(pairs)) == m(Dedup.duplicateClusters(pairs)),
        s"star != min-label on $ps")
    }
  }

  test("star clustering needs few rounds where label propagation needs the diameter") {
    // 40-node chain: min-label propagation would take ~40 join rounds;
    // the star algorithm's default 25-round budget is ample (O(log n)).
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClustersStar(pairs).collect()
    assert(out.length == 40)
    assert(out.forall(_.getAs[Long]("cluster_id") == 1L))
  }

  test("PII redaction scrubs emails, phones, IPs, SSNs and leaves prose") {
    import org.apache.spark.sql.functions.col
    val dirty = "reach me at jane.doe+x@corp.example.org or (555) 123-4567, " +
      "server 192.168.1.200, ssn 987-65-4321, just prose 2024 stays"
    val out = Seq(dirty).toDF("t")
      .select(graft.functions.TextAnalysis.redactPii(col("t"))).as[String].collect().head
    assert(out.contains("<EMAIL>") && out.contains("<PHONE>") &&
      out.contains("<IP>") && out.contains("<SSN>"))
    assert(!out.contains("jane.doe") && !out.contains("123-4567") &&
      !out.contains("192.168") && !out.contains("987-65"))
    assert(out.contains("just prose 2024 stays"))
  }

  test("contamination check finds docs sharing shingles with the benchmark") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated text about database engines")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "quick brown fox jumps over the lazy")).toDF("doc_id", "text")
    val hits = Dedup.contaminationCheck(corpus, bench, n = 13)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bench_id"))).toSet
    assert(hits.contains((1L, 100L)))
    assert(!hits.exists(_._1 == 2L))
  }

  test("embedding near-dup finds only above-threshold pairs") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.99f, 0.14f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = TwinReference.embeddingNearDupPairs(vecs, 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(out == Set((0L, 1L)))
  }

  test("banded simhash equals the exact all-pairs result (pigeonhole)") {
    val corpus = docs.union(Seq(
      (5L, "the quick brown fox leaps over the lazy dog near the river bank today"),
      (6L, "columnar storage engines and query planners for analytical workloads"))
      .toDF("doc_id", "text"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("hamming"))).toSet
    for (h <- Seq(0, 2, 4)) {
      assert(pairs(Dedup.simHashPairsBanded(corpus, maxHamming = h)) ==
        pairs(Dedup.simHashPairsExact(corpus, maxHamming = h)),
        s"banded != exact at maxHamming=$h")
    }
  }

  test("bucketed embedding near-dup: full recall on true near-dups, subset of exact") {
    // 20 base vectors + 5 jittered copies: the 5 (base, copy) pairs are the
    // true near-dups at 0.98; everything else is well below.
    val rng = new scala.util.Random(7)
    val base = (0 until 20).map(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1)))
    val dups = (0 until 5).map(i =>
      (100L + i, base(i)._2.map(x => x + 0.001f * (i + 1))))
    val vecs = (base ++ dups).toDF("vec_id", "embedding")
    val exact = TwinReference.embeddingNearDupPairs(vecs, 0.98)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val bucketed = Dedup.embeddingNearDupBucketed(vecs, 0.98, nBits = 16, bands = 4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(bucketed.subsetOf(exact), "bucketed must never invent pairs")
    assert((0 until 5).forall(i => bucketed.contains((i.toLong, 100L + i))),
      s"jittered near-dup pairs missed: $bucketed")
  }

  test("bucketed near-dup tolerates empty, single-vector and null-embedding corpora") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Dedup.embeddingNearDupBucketed(empty, 0.9).count() == 0)
    val one = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    assert(Dedup.embeddingNearDupBucketed(one, 0.9).count() == 0)
    val withNull = Seq(
      (1L, Array(1f, 0f)), (2L, null.asInstanceOf[Array[Float]]), (3L, Array(1f, 0.01f)))
      .toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDupBucketed(withNull, 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(out == Set((1L, 3L)), "null embedding must drop out, not poison the join")
  }

  test("banded simhash and capped jaccard tolerate empty input") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.simHashPairsBanded(empty).count() == 0)
    assert(Dedup.ngramJaccardPairs(empty, 3, 0.5, maxDf = 10).count() == 0)
    assert(Dedup.duplicateClustersStar(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
  }

  test("df cap leaves ngram-jaccard pairs unchanged when no shingle is hot") {
    val uncapped = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSet
    val capped = Dedup.ngramJaccardPairs(docs, 3, 0.5, maxDf = 4)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSet
    assert(capped == uncapped, "cap above every df must be a no-op")
  }

  test("df cap drops only hot-shingle matches from the contamination check") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated text about database engines")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "quick brown fox jumps over the lazy")).toDF("doc_id", "text")
    val hits = Dedup.contaminationCheck(corpus, bench, n = 13, maxDf = 1)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bench_id"))).toSet
    assert(hits == Set((1L, 100L)), "df=1 shingles all survive a maxDf=1 cap")
  }
}

class VectorOpsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("cosine similarity matches hand-computed values") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f), 1.0),
      (Array(1f, 0f), Array(0f, 1f), 0.0),
      (Array(1f, 1f), Array(1f, 0f), 1.0 / math.sqrt(2)),
      (Array(0f, 0f), Array(1f, 0f), 0.0)) // zero vector -> defined as 0
      .toDF("a", "b", "expected")
    val rows = df.select(VectorOps.cosineSim($"a", $"b").as("sim"), $"expected").collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
  }

  test("l2 distance and dot product") {
    val df = Seq((Array(1f, 2f), Array(4f, 6f))).toDF("a", "b")
    val r = df.select(
      VectorOps.dot($"a", $"b").as("dot"),
      VectorOps.l2Sq($"a", $"b").as("l2sq")).collect()(0)
    assert(r.getDouble(0) == 16.0)
    assert(r.getDouble(1) == 25.0)
  }
}

class GopherRulesSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._
  import graft.functions.TextAnalysis

  test("each rule fires on its own violation; clean text keeps") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over a lazy dog while the river runs past it today"), // clean
      (2L, "the cat"),                                                // too few tokens
      (3L, ("spam " * 20).trim + " the a dog runs fast here now ok"), // repetition
      (4L, "wordsoup gibberish lexeme cluster phrase corpus tokens morpheme syntax parse tree deep")) // no stopwords
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs,
      minTokens = 5, maxTokens = 1000, minMeanLen = 1.0, maxMeanLen = 12.0,
      maxRepetition = 0.3, minDistinctStopwords = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"))
    assert(!out(2L).getAs[Boolean]("rule_word_count") && !out(2L).getAs[Boolean]("keep"))
    assert(!out(3L).getAs[Boolean]("rule_repetition") && !out(3L).getAs[Boolean]("keep"))
    assert(!out(4L).getAs[Boolean]("rule_stopwords") && !out(4L).getAs[Boolean]("keep"))
  }

  test("empty text fails word count without null-poisoning other rules") {
    val out = TextAnalysis.gopherRules(Seq((9L, "")).toDF("doc_id", "text"),
      minTokens = 1, maxTokens = 10, minMeanLen = 0.0, maxMeanLen = 99.0,
      maxRepetition = 1.0, minDistinctStopwords = 0).collect().head
    assert(!out.getAs[Boolean]("rule_word_count"))
    assert(out.getAs[Boolean]("rule_repetition"))
    assert(!out.getAs[Boolean]("keep"))
  }
}
