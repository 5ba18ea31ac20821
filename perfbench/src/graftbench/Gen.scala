package graftbench

import java.util.SplittableRandom

/** Seeded input generators. Every input of every workload comes from here,
  * so the same seed gives the same inputs, and every count a correctness
  * check expects is implied by the generator rather than measured from the
  * engine under test.
  */
object Gen {

  final case class Doc(docId: String, text: String, lang: String, source: String) {
    def nChars: Long = text.length.toLong
  }

  /** A chat request: one question from one user. `kind` is one of
    * `verbatim`, `shuffled`, `off`.
    */
  final case class Question(queryId: Long, userId: Long, text: String, kind: String)

  final case class LogRow(userId: Long, tsMicros: Long, eventId: Long, eventType: String, props: String)

  /** One file of an upload batch. `kind` is `fresh`, `reupload` or
    * `undecodable`; `text` is what the container holds.
    */
  final case class UploadFile(name: String, bytes: Array[Byte], kind: String, text: String) {
    def stem: String = name.substring(0, name.lastIndexOf('.'))
  }

  // ------------------------------------------------------------ vocabulary
  private val syllables = Seq("ka", "lo", "mi", "ra", "ten", "sul", "ve", "dor", "pa", "ni",
    "qua", "ser", "bi", "tor", "lu", "gen", "mar", "so", "di", "fe")
  /** Shared topical vocabulary of the documents corpus, 2-3 syllables. */
  val Topical: IndexedSeq[String] = (for {
    a <- syllables; b <- syllables; c <- Seq("") ++ syllables.take(3)
  } yield a + b + c).distinct.take(600).toIndexedSeq

  /** Per-language function words: what the trigram language ID keys on. */
  val Function: Map[String, IndexedSeq[String]] = Map(
    "en" -> IndexedSeq("the", "and", "of", "to", "this", "that", "with", "thing", "nothing"),
    "es" -> IndexedSeq("de", "la", "que", "el", "en", "los", "del", "canción", "nación"),
    "fr" -> IndexedSeq("le", "et", "les", "des", "une", "que", "est", "souvent", "lent"),
    "de" -> IndexedSeq("der", "die", "und", "ein", "ich", "nicht", "schule", "zeitung", "dich"),
    "zh" -> IndexedSeq("数据", "查询", "系统", "模型", "检索", "文本", "向量", "分析", "学习"))
  private val langs = IndexedSeq("en", "es", "fr", "de", "zh")
  private val langCum = cumulative(IndexedSeq(0.41, 0.15, 0.15, 0.14, 0.15))
  private val topicalCum = cumulative(Topical.indices.map(r => 1.0 / (r + 1)))

  /** Off-corpus words: built from syllables the corpus never uses. */
  private val offSyl = Seq("zu", "xe", "qo", "wy", "jix", "vup", "hoz", "yek")
  val OffCorpus: IndexedSeq[String] =
    (for (a <- offSyl; b <- offSyl) yield a + b).toIndexedSeq

  /** Upload vocabulary: every word has exactly [[UploadWordLen]] letters, so
    * the recursive splitter's chunk count has the closed form of
    * [[uploadChunks]].
    */
  val UploadWordLen = 7
  val UploadVocab: IndexedSeq[String] = {
    val cs = "bcdfghklmnprstvz"; val vs = "aeiou"
    (0 until 1500).map { i =>
      var x = i * 7919 + 13
      val sb = new StringBuilder
      (0 until UploadWordLen).foreach { p =>
        val pool = if (p % 2 == 0) cs else vs
        sb += pool(x % pool.length); x = x / pool.length + p * 31 + i
      }
      sb.toString
    }.distinct
  }

  private def cumulative(w: IndexedSeq[Double]): Array[Double] = {
    val c = w.scanLeft(0.0)(_ + _).tail.toArray
    c.map(_ / c.last)
  }
  private def draw(rng: SplittableRandom, cum: Array[Double]): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cum, u)
    math.min(if (i >= 0) i else -i - 1, cum.length - 1)
  }

  // ------------------------------------------------------------- documents
  /** A documents table shaped like the engine's sf0.1 `documents` fixture:
    * ~300 characters per document on average, five languages, one
    * line of single-spaced words (so every container format round-trips
    * it exactly).
    */
  def documents(seed: Long, n: Int, idPrefix: String = "d"): IndexedSeq[Doc] = {
    val rng = new SplittableRandom(seed * 1000003L + 17)
    (0 until n).map { i =>
      val lang = langs(draw(rng, langCum))
      val nWords = 8 + rng.nextInt(83)
      val fw = Function(lang)
      val words = (0 until nWords).map { _ =>
        if (rng.nextDouble() < 0.3) fw(rng.nextInt(fw.length)) else Topical(draw(rng, topicalCum))
      }
      Doc(s"$idPrefix$i", words.mkString(" "), lang, s"src${i % 50}")
    }
  }

  // -------------------------------------------------------------- chat
  val Users = 40

  /** Chat log: user of rank r has about 400/(r+1) prior events, so the
    * 10-row history window is full for heavy users and short or empty for
    * the tail.
    */
  def logs(seed: Long): IndexedSeq[LogRow] = {
    val rng = new SplittableRandom(seed * 7919L + 3)
    val types = IndexedSeq("question", "answer", "upload", "feedback", "login")
    var eid = 0L
    (0 until Users).flatMap { u =>
      val n = math.round(400.0 / (u + 1)).toInt
      (0 until n).map { _ =>
        eid += 1
        LogRow(u.toLong, 1700000000000000L + rng.nextInt(86400 * 30).toLong * 1000000L,
          eid, types(rng.nextInt(types.length)), s"p$eid")
      }
    }
  }

  private val userCum = cumulative((0 until Users).map(u => 1.0 / (u + 1)))

  val QuestionKinds: IndexedSeq[String] = IndexedSeq("verbatim", "shuffled", "off")

  /** Chat questions over the texts of `store`, the kinds in turn: a
    * verbatim span of a stored text, the same kind of span word-shuffled,
    * then off-corpus text. Users are drawn with the same skew as [[logs]].
    * No measured traffic mix exists for these shares or for the skew, so
    * they are the simplest that ask every kind of question of users with
    * every length of history; taking the kinds in turn gives every run
    * the same mix, whatever its seed.
    */
  def questions(seed: Long, store: IndexedSeq[String], n: Int): IndexedSeq[Question] = {
    val rng = new SplittableRandom(seed * 104729L + 11)
    (0 until n).map { i =>
      val u = draw(rng, userCum).toLong
      val kind = QuestionKinds(i % QuestionKinds.length)
      val text =
        if (kind == "off") (0 until 4 + rng.nextInt(5)).map(_ => OffCorpus(rng.nextInt(OffCorpus.length))).mkString(" ")
        else {
          val words = store(rng.nextInt(store.length)).split(" ")
          val len = math.min(words.length, 4 + rng.nextInt(7))
          val start = rng.nextInt(words.length - len + 1)
          val span = words.slice(start, start + len).toIndexedSeq
          (if (kind == "verbatim") span else shuffle(rng, span)).mkString(" ")
        }
      Question(i.toLong, u, text, kind)
    }
  }

  private def shuffle[T](rng: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    var i = a.length - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq
  }

  // ------------------------------------------------------------ upload
  /** Files per upload batch. The batch sizes are not from a measured
    * upload mix: one re-upload and one undecodable PDF are the fewest that
    * send every kind of file through the upload path.
    */
  val BatchFiles = 24
  val BatchReuploads = 1
  val BatchUndecodable = 1
  val ChunkSize = 1000
  val ChunkOverlap = 200

  /** Chunks the recursive splitter makes of a one-line text of `w` words of
    * [[UploadWordLen]] letters: 125 words fill a 999-character chunk, 25
    * words (199 characters) are the overlap, so each further chunk adds 100
    * words.
    */
  def uploadChunks(w: Int): Int = {
    val per = (ChunkSize + 1) / (UploadWordLen + 1)
    val keep = (ChunkOverlap + 1) / (UploadWordLen + 1)
    if (w <= per) 1 else 1 + (w - per + (per - keep) - 1) / (per - keep)
  }

  /** Words of chunk `i` of an upload text of words `ws`. */
  def uploadChunkText(ws: IndexedSeq[String], i: Int): String = {
    val per = (ChunkSize + 1) / (UploadWordLen + 1)
    val stride = per - (ChunkOverlap + 1) / (UploadWordLen + 1)
    ws.slice(i * stride, i * stride + per).mkString(" ")
  }

  /** The chunk texts the recursive splitter must make of a one-line text:
    * the whole text when it fits one chunk, else the closed form above
    * (longer texts are upload texts, all of [[UploadWordLen]]-letter words).
    */
  def chunkTexts(text: String): IndexedSeq[String] =
    if (text.length <= ChunkSize) IndexedSeq(text)
    else {
      val ws = text.split(" ").toIndexedSeq
      require(ws.forall(_.length == UploadWordLen), "long generated texts use the upload vocabulary")
      (0 until uploadChunks(ws.length)).map(uploadChunkText(ws, _))
    }

  /** `text` in a container: PDF, DOCX or HTML drawn from `rng`, or for
    * `undecodable` a PDF whose Type0 font has no Unicode map.
    */
  private def container(rng: SplittableRandom, stem: String, kind: String, text: String): UploadFile = {
    import graft.sources.DocLoader
    if (kind == "undecodable") UploadFile(s"$stem.pdf", DocLoader.buildPdfType0Bare(Seq(text)), kind, text)
    else rng.nextInt(3) match {
      case 0 => UploadFile(s"$stem.pdf", DocLoader.buildPdf(Seq(text)), kind, text)
      case 1 => UploadFile(s"$stem.docx", DocLoader.buildDocx(text), kind, text)
      case _ =>
        val html = s"<html><head><style>p{margin:0}</style></head><body><p>$text</p></body></html>"
        UploadFile(s"$stem.html", html.getBytes("UTF-8"), kind, text)
    }
  }

  /** The upload batch called `name`. Positions of the re-upload and of the
    * undecodable PDF, container formats, text lengths and which committed
    * text is re-sent are drawn from the seed. `committed` holds the texts
    * already in the store's catalog.
    */
  def uploadBatch(seed: Long, name: String, committed: IndexedSeq[String]): IndexedSeq[UploadFile] = {
    val rng = new SplittableRandom(seed * 15485863L + name.hashCode)
    val kinds = shuffle(rng, IndexedSeq.fill(BatchReuploads)("reupload") ++
      IndexedSeq.fill(BatchUndecodable)("undecodable") ++
      IndexedSeq.fill(BatchFiles - BatchReuploads - BatchUndecodable)("fresh"))
    kinds.zipWithIndex.map { case (kind, i) =>
      val text =
        if (kind == "reupload") committed(rng.nextInt(committed.length))
        else (0 until 60 + rng.nextInt(361)).map(_ => UploadVocab(rng.nextInt(UploadVocab.length))).mkString(" ")
      container(rng, s"up_${name}_$i", kind, text)
    }
  }

  // ------------------------------------------------------------ curate
  final case class Curate(docs: IndexedSeq[(Long, Doc)], exactCopies: Map[Long, Long], nearCopies: Map[Long, Long]) {
    /** Each original that has planted copies, with those copies: the
      * duplicate clusters a correct curation pass must find, and no others.
      */
    def groups: Set[Set[Long]] =
      (exactCopies ++ nearCopies).groupBy(_._2).map { case (o, cs) => cs.keySet + o }.toSet
  }

  /** Shingle Jaccard above which two base documents count as natural near
    * duplicates. MinHash pairs need an estimated Jaccard of 0.5; at 0.3,
    * 32 or more of 64 hashes agree with probability 6e-4.
    */
  val NaturalJaccardMax = 0.3

  private def shingles(text: String): Set[String] = {
    val ts = text.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)
    if (ts.length < 3) Set(ts.mkString(" ")) else ts.sliding(3).map(_.mkString(" ")).toSet
  }

  /** The first `n` generated documents that repeat no earlier kept text and
    * share at most [[NaturalJaccardMax]] of their 3-word shingles with each
    * earlier kept one, so that the only duplicates in a curate corpus are
    * the planted ones.
    */
  private def distinctBase(seed: Long, n: Int): IndexedSeq[Doc] = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[(Doc, Int)]
    val index = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
    val texts = scala.collection.mutable.HashSet.empty[String]
    val it = documents(seed, n + n / 10 + 10, "c").iterator
    while (kept.size < n && it.hasNext) {
      val d = it.next()
      val sh = shingles(d.text)
      val shared = scala.collection.mutable.HashMap.empty[Int, Int]
      sh.foreach(s => index.get(s).foreach(_.foreach(j => shared(j) = shared.getOrElse(j, 0) + 1)))
      val near = shared.exists { case (j, c) => c.toDouble / (sh.size + kept(j)._2 - c) > NaturalJaccardMax }
      if (!near && texts.add(d.text)) {
        sh.foreach(s => index.getOrElseUpdate(s, scala.collection.mutable.ArrayBuffer.empty) += kept.size)
        kept += ((d, sh.size))
      }
    }
    require(kept.size == n, s"only ${kept.size} of $n documents are free of natural duplicates")
    kept.map(_._1).toIndexedSeq
  }

  /** A documents corpus of `n` base documents free of natural duplicates,
    * salted with `exact` exact copies and `near` one-word-substituted near
    * copies of long documents (at least 60 words, so a near copy keeps a
    * shingle Jaccard of at least 0.9 with its original). The maps go from
    * copy id to original id.
    */
  def curate(seed: Long, n: Int, exact: Int, near: Int): Curate = {
    val base = distinctBase(seed, n).zipWithIndex.map { case (d, i) => (i.toLong, d.copy(docId = s"c$i")) }
    val rng = new SplittableRandom(seed * 32452843L + 5)
    val long = base.filter(_._2.text.split(" ").length >= 60)
    val ex = (0 until exact).map { j =>
      val (oid, o) = base(rng.nextInt(base.length))
      (n.toLong + j, oid, o.copy(docId = s"c${n + j}"))
    }
    val nr = (0 until near).map { j =>
      val (oid, o) = long(rng.nextInt(long.length))
      val ws = o.text.split(" ")
      val p = 3 + rng.nextInt(ws.length - 6)
      var w = Topical(rng.nextInt(Topical.length))
      while (w == ws(p)) w = Topical(rng.nextInt(Topical.length))
      ws(p) = w
      val id = n.toLong + exact + j
      (id, oid, o.copy(docId = s"c$id", text = ws.mkString(" ")))
    }
    Curate(
      base ++ ex.map(e => (e._1, e._3)) ++ nr.map(e => (e._1, e._3)),
      ex.map(e => e._1 -> e._2).toMap,
      nr.map(e => e._1 -> e._2).toMap)
  }
}
