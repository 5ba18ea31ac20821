package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.HashEmbedder
import graft.operators.{Attributes, Dedup, Ingest, Rag, Retrieval, Sessions, Store, TextRetrieval}
import graft.sources.DocLoader
import graftbench.Trace.span

/** Timed sinks. A timed operation ends only when every output column has
  * been delivered: `collect` for answers, a full parquet write for ingest
  * and curation. No timed operation ends at `count()`.
  */
object Sink {
  def collect(df: DataFrame): Array[Row] = df.collect()
  def write(df: DataFrame, path: String): Unit = Store.append(df, path)
  def overwrite(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)

  /** A materialised copy of `df`: its rows, delivered, as a local frame.
    * The traced runs put one between layers so each layer's time is its
    * own.
    */
  def materialize(df: DataFrame): DataFrame = {
    val rows = collect(df)
    df.sparkSession.createDataFrame(rows.toSeq.asJava, df.schema)
  }
}

/** The chunk store: chunk rows at `chunks`, the content-hash catalog the
  * ingest dedup gate reads at `catalog`.
  */
final case class StoreDir(root: String) {
  def chunks: String = s"$root/chunks"
  def catalog: String = s"$root/catalog"
  def logs: String = s"$root/logs"
  def bytes: Long = Flows.dirBytes(new java.io.File(chunks)) + Flows.dirBytes(new java.io.File(catalog))
  /** Names of the chunk files; names are unique, so a name identifies a file. */
  def chunkFiles: Set[String] = Option(new java.io.File(chunks).listFiles()).toSeq.flatten
    .map(_.getName).filter(_.endsWith(".parquet")).toSet
}

object Flows {
  val FetchK = 20
  val K = 2
  val HistoryN = 10

  def fileName(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".crc")) 0L else f.length()

  private def build[T](body: => T): T = span("catalyst.build")(body)

  // ------------------------------------------------------------- store
  val DocSchema: StructType = StructType.fromDDL(
    "doc_id STRING, text STRING, lang STRING, source STRING, n_chars BIGINT")

  def docsFrame(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(
      docs.map(d => Row(d.docId, d.text, d.lang, d.source, d.nChars)).asJava, DocSchema)

  /** Ingest chunk rows in the store's column layout. */
  def storeRows(chunks: DataFrame): DataFrame = chunks.select(
    col("chunk_id").as("vec_id"), col("file_id"), col("source_file"), col("page"),
    col("total_chunks"), col("chunk_index"), col("chunk_text").as("text"), col("embedding"))

  /** Build a store: ingest a documents table (hash, gate against an empty
    * catalog, split, embed), write chunks and catalog, then upload one
    * batch of files into it through the upload path.
    */
  def buildStore(spark: SparkSession, dir: StoreDir, docs: Seq[Gen.Doc],
      batch: (String, IndexedSeq[Gen.UploadFile]), traced: Boolean): UploadResult = {
    val df = docsFrame(spark, docs)
    val empty = spark.createDataFrame(java.util.List.of[Row](), StructType.fromDDL("file_hash STRING"))
    Sink.write(storeRows(Ingest.ingest(df, empty, Gen.ChunkSize, Gen.ChunkOverlap)), dir.chunks)
    Sink.write(df.select(Ingest.contentHash(col("text")).as("file_hash"), col("doc_id").as("file_id")),
      dir.catalog)
    val (path, files) = batch
    val before = dir.bytes
    val status = Trace.withRequest(3000000L)(upload(spark, dir, path, traced))
    UploadResult(files, status, files.map(_.bytes.length.toLong).sum, dir.bytes - before)
  }

  // -------------------------------------------------------------- chat
  val QuestionSchema: StructType = StructType.fromDDL("query_id BIGINT, user_id BIGINT, question STRING")

  final case class ChatResult(q: Gen.Question, rows: Array[Row], files: Set[String])

  def questionFrame(spark: SparkSession, qs: Seq[Gen.Question]): DataFrame =
    spark.createDataFrame(qs.map(q => Row(q.queryId, q.userId, q.text)).asJava, QuestionSchema)

  /** One chat request through the library's hybrid pipeline, delivered
    * with `collect`.
    */
  def chat(spark: SparkSession, store: StoreDir, logs: DataFrame, q: Gen.Question,
      llm: Rag.LlmClient = Rag.DeterministicLlm,
      read: String => DataFrame = null): (Array[Row], Set[String]) = {
    val chunks = if (read == null) spark.read.parquet(store.chunks) else read(store.chunks)
    val out = Rag.chatPipelineHybrid(questionFrame(spark, Seq(q)), logs, chunks, llm, K, FetchK, HistoryN)
    (Sink.collect(out), chunks.inputFiles.map(fileName).toSet)
  }

  /** The same request, materialised layer by layer under spans:
    * history → embed → bm25 → knn → rrf → stuff → answer. The result has
    * the same columns as [[chat]]'s. The history, embed and answer stages
    * restate `Rag.prepareQuestions` and `Rag.answerAndParse`, which are
    * private; the retrieval stages call the public operators.
    */
  def chatTraced(spark: SparkSession, store: StoreDir, logs: DataFrame, q: Gen.Question,
      llm: Rag.LlmClient = Rag.DeterministicLlm): (Array[Row], Set[String]) = {
    val chunks = span("Store.read")(spark.read.parquet(store.chunks))
    val history = span("Sessions.history")(Sink.materialize(build(
      Sessions.lastNPerSession(logs, HistoryN)
        .groupBy("user_id")
        .agg(concat_ws("\n", transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          s => s.getField("event_type"))).as("history")))))
    val embedded = span("HashEmbedder.embed_q")(Sink.materialize(build {
      val reformulate = udf((h: String, qt: String) => llm.reformulate(Option(h).toSeq.flatMap(_.split("\n")), qt))
      questionFrame(spark, Seq(q)).filter(Ingest.validQuery(col("question")))
        .join(history, Seq("user_id"), "left")
        .withColumn("history", coalesce(col("history"), lit("")))
        .withColumn("standalone_question", reformulate(col("history"), col("question")))
        .withColumn("q_embedding", HashEmbedder.embedCol(col("standalone_question")))
    }))
    val lex = span("TextRetrieval.bm25")(Sink.materialize(build(
      TextRetrieval.bm25TopK(chunks.select(col("vec_id").as("doc_id"), col("text")),
        embedded.select(col("query_id"), col("standalone_question").as("qtext")), FetchK)
        .select("query_id", "doc_id", "rank"))))
    val sem = span("Retrieval.knn")(Sink.materialize(build(
      Retrieval.knnJoin(embedded.select(col("query_id"), col("q_embedding")), chunks, FetchK)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank")))))
    val fused = span("TextRetrieval.rrf")(Sink.materialize(build(
      TextRetrieval.hybridTopK(lex, sem, K).select(col("query_id"), col("doc_id").as("vec_id"), col("rank")))))
    val contexts = span("Retrieval.stuff")(Sink.materialize(build(
      Retrieval.stuffContext(fused.join(chunks.select(col("vec_id"), col("text")), "vec_id")))))
    val rows = span("Rag.answer")(Sink.collect(build {
      val answer = udf((ctx: String, qt: String) => llm.answer(Option(ctx).getOrElse(""), qt))
      embedded.join(contexts, Seq("query_id"), "left")
        .withColumn("context", coalesce(col("context"), lit("")))
        .withColumn("raw_response", answer(col("context"), col("standalone_question")))
        .withColumn("parsed", Retrieval.parseLlmResponse(col("raw_response")))
        .select(col("query_id"), col("user_id"), col("question"), col("standalone_question"),
          col("context"), col("parsed.answer").as("answer"), col("parsed.emotion").as("emotion"))
    }))
    (rows, chunks.inputFiles.map(fileName).toSet)
  }

  // ------------------------------------------------------------ upload
  /** What one upload batch delivered: the per-file extraction status the
    * client gets back, the bytes it sent and the bytes the store grew by.
    */
  final case class UploadResult(batch: IndexedSeq[Gen.UploadFile], status: Map[String, String],
      inputBytes: Long, storeBytesAdded: Long)

  private val stemOf = regexp_extract(col("path"), "([^/]+)\\.[A-Za-z0-9]+$", 1)

  def writeBatch(dir: String, files: Seq[Gen.UploadFile]): Unit = {
    new java.io.File(dir).mkdirs()
    files.foreach(f => java.nio.file.Files.write(new java.io.File(dir, f.name).toPath, f.bytes))
  }

  /** One upload batch: extract → validate, hash, dedup gate against the
    * catalog → split → embed → append chunks and catalog rows.
    */
  def upload(spark: SparkSession, store: StoreDir, dir: String, traced: Boolean,
      alter: DataFrame => DataFrame = identity): Map[String, String] = {
    def stage(name: String)(df: => DataFrame): DataFrame =
      if (traced) span(name)(Sink.materialize(build(df))) else df
    // extraction is delivered in full in both modes: its rows are the
    // per-file status the client gets back
    val loaded = DocLoader.loadDocumentsWithStatus(spark, dir).withColumn("doc_id", stemOf)
    val loadedRows = span("DocLoader.extract")(Sink.collect(build(loaded)))
    val delivered = spark.createDataFrame(loadedRows.toSeq.asJava, loaded.schema)
    val fresh = stage("Ingest.gate") {
      val ok = delivered.filter(col("extraction_status") === DocLoader.StatusOk)
        .select(col("doc_id"), col("text"), element_at(split(col("path"), "/"), -1).as("source"),
          length(col("text")).cast("long").as("n_chars"))
        .withColumn("file_hash", Ingest.contentHash(col("text")))
        .filter(Ingest.validSize(col("n_chars")))
      Ingest.dedupGate(ok, spark.read.parquet(store.catalog), "file_hash")
    }
    val chunked = stage("Ingest.chunk")(Ingest.splitIntoChunks(fresh, Gen.ChunkSize, Gen.ChunkOverlap))
    val embedded = stage("HashEmbedder.embed_chunks")(Ingest.embedChunks(chunked))
    span("Store.append") {
      Sink.write(build(alter(storeRows(embedded))), store.chunks)
      Sink.write(build(fresh.select(col("file_hash"), col("doc_id").as("file_id"))), store.catalog)
    }
    loadedRows.map(r => r.getAs[String]("doc_id") -> r.getAs[String]("extraction_status")).toMap
  }

  // ------------------------------------------------------------ curate
  val CurateRules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "exact_dup" -> !col("is_exact_dup"),
    "gopher" -> col("gopher_keep"),
    "lang" -> col("lang_match"))

  /** One curation pass over the documents at `input`, written in full to
    * `out`: attribute tags and the policy decision, then MinHash near-dup
    * pairs and their duplicate clusters. A traced pass returns its MinHash
    * (candidate, verified) pair counts.
    */
  def curate(spark: SparkSession, input: String, out: String, traced: Boolean): (Long, Long) = {
    val docs = spark.read.parquet(input)
    if (!traced) {
      Sink.overwrite(Attributes.decide(Attributes.tag(docs), CurateRules), s"$out/decided")
      Sink.overwrite(Dedup.duplicateClusters(Dedup.minHashLshPairs(docs)), s"$out/clusters")
      (0L, 0L)
    } else {
      span("TextAnalysis.langid")(Sink.overwrite(build(
        docs.select(col("doc_id"), graft.functions.TextAnalysis.detectLanguageCol(col("text")).as("lang_pred"))),
        s"$out/langid"))
      val tagged = span("Attributes.tag")(Sink.materialize(build(Attributes.tag(docs))))
      span("Attributes.decide")(Sink.overwrite(build(Attributes.decide(tagged, CurateRules)), s"$out/decided"))
      val cands = span("Dedup.minhash")(Sink.materialize(build(Dedup.minHashLshPairs(docs, threshold = 0.0))))
      val verified = cands.filter(col("est_jaccard") >= 0.5)
      span("Dedup.clusters")(Sink.overwrite(build(Dedup.duplicateClusters(verified)), s"$out/clusters"))
      (cands.count(), verified.count())
    }
  }
}
