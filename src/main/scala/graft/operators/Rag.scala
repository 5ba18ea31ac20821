package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.HashEmbedder

/** The full §3.1 chat read path as one batch lineage
  * (reference: main.py:190-303 + langchain_utils.py:209-256):
  *
  *   validate → history window → reformulate (LLM) → embed → k-NN retrieve
  *   → stuff context → answer (LLM) → parse/normalize → loggable rows.
  *
  * The two LLM stages (T-8 reformulate, T-9 answer) are network model
  * calls in the reference; here they are a pluggable [[Rag.LlmClient]]
  * applied per-partition, with a deterministic local default so the whole
  * pipeline is testable. Swap in a remote client (batched HTTP inside
  * `mapPartitions`) for production — the plan shape is unchanged.
  */
object Rag {

  /** Pluggable LLM boundary (T-8/T-9). Implementations must be
    * serializable: they ship to executors.
    */
  trait LlmClient extends Serializable {
    /** History-aware question reformulation (langchain_utils.py:16-27). */
    def reformulate(history: Seq[String], question: String): String
    /** Context-stuffed answer generation returning the JSON envelope
      * `{"answer": ..., "emotion": ...}` (langchain_utils.py:29-103).
      */
    def answer(context: String, question: String): String
  }

  /** Deterministic local stub: identity reformulation; answer echoes the
    * question plus a stable digest of the context, always valid JSON —
    * the question is JSON-escaped so quotes/backslashes/control chars in
    * user text cannot corrupt the envelope (which would silently flip the
    * downstream parse ladder onto its fallback path).
    */
  object DeterministicLlm extends LlmClient {
    private def jsonEscape(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    override def reformulate(history: Seq[String], question: String): String = question
    override def answer(context: String, question: String): String = {
      val digest = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(context, 7))
      s"""{"answer": "Re: ${jsonEscape(question)} [ctx:$digest]", "emotion": "explaining"}"""
    }
  }

  /** Stages 1-4, shared by both pipelines: admission, per-user history
    * digest, reformulation, question embedding. Returns the admitted
    * questions with `standalone_question` and `q_embedding` attached,
    * delivered once as a local frame (one row per question, small):
    * the retrieval channels and the answer join all read the same rows,
    * so each question is reformulated exactly once and both channels
    * retrieve for the `standalone_question` the turn returns. The LLM
    * UDFs are nondeterministic for the same reason — Catalyst must never
    * copy a call into two references.
    */
  private def prepareQuestions(
      questions: DataFrame,
      logs: DataFrame,
      llm: LlmClient,
      historyN: Int): DataFrame = {
    // 1. admission (P-5/P-6: length + non-blank; invalid rows are dropped
    //    where the reference returns 4xx)
    val admitted = questions.filter(Ingest.validQuery(col("question")))

    // 2. per-user history digest (S-1 last-N, chronological), joined to
    //    the query; the digest is what reformulation conditions on
    val history = Sessions.lastNPerSession(logs, historyN)
      .groupBy("user_id")
      .agg(concat_ws("\n",
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          s => s.getField("event_type"))).as("history"))

    val withHistory = admitted.join(history, Seq("user_id"), "left")
      .withColumn("history", coalesce(col("history"), lit("")))

    // 3. T-8 reformulate (pluggable LLM; identity in the deterministic stub)
    val reformulateUdf = udf((h: String, q: String) =>
      llm.reformulate(Option(h).toSeq.flatMap(_.split("\n")), q)).asNondeterministic()
    val reformulated = withHistory
      .withColumn("standalone_question", reformulateUdf(col("history"), col("question")))

    // 4. T-3 embed the standalone question
    val prepared = reformulated
      .withColumn("q_embedding", HashEmbedder.embedCol(col("standalone_question")))
    prepared.sparkSession.createDataFrame(prepared.collect().toSeq.asJava, prepared.schema)
  }

  /** Stages 7-8, shared by both pipelines: answer over the stuffed
    * context, then the defensive parse ladder and final projection.
    */
  private def answerAndParse(
      embedded: DataFrame, contexts: DataFrame, llm: LlmClient): DataFrame = {
    val answerUdf = udf((ctx: String, q: String) => llm.answer(Option(ctx).getOrElse(""), q))
      .asNondeterministic()
    embedded.join(contexts, Seq("query_id"), "left")
      .withColumn("context", coalesce(col("context"), lit("")))
      .withColumn("raw_response", answerUdf(col("context"), col("standalone_question")))
      .withColumn("parsed", Retrieval.parseLlmResponse(col("raw_response")))
      .select(
        col("query_id"), col("user_id"), col("question"),
        col("standalone_question"), col("context"),
        col("parsed.answer").as("answer"),
        col("parsed.emotion").as("emotion"))
  }

  /** Run the chat pipeline for a batch of questions.
    *
    * @param questions (query_id, user_id, question)
    * @param logs      chat log table (user_id, ts, event_id, event_type, props)
    * @param chunks    vector store (vec_id, embedding, text)
    * @param k         retriever fan-in (config.py:34: 2)
    * @param historyN  history window (config.py:43: 10)
    * @return one row per query: question, context, answer, emotion
    */
  def chatPipeline(
      questions: DataFrame,
      logs: DataFrame,
      chunks: DataFrame,
      llm: LlmClient = DeterministicLlm,
      k: Int = 2,
      historyN: Int = 10): DataFrame = {
    val embedded = prepareQuestions(questions, logs, llm, historyN)

    // 5-6. T-4 retrieve top-k + T-7 stuff context (rank-ordered fold)
    val topk = Retrieval.knnJoin(
      embedded.select(col("query_id"), col("q_embedding")), chunks, k)
      .join(chunks.select(col("vec_id"), col("text")), "vec_id")
    val contexts = Retrieval.stuffContext(topk)

    answerAndParse(embedded, contexts, llm)
  }

  /** [[chatPipeline]] with the round-5 retrieval stack in the retrieve
    * slot: BM25 lexical top-`fetchK` and cosine semantic top-`fetchK`
    * fused by Reciprocal Rank Fusion, the fused top-`k` stuffed into the
    * context. This is the standard production RAG shape (hybrid search
    * beats either channel alone on keyword-heavy AND paraphrased
    * questions) expressed with the same operators the registry checks
    * individually: [[TextRetrieval.bm25TopK]], [[Retrieval.knnJoin]],
    * [[TextRetrieval.hybridTopK]], [[Retrieval.stuffContext]].
    *
    * Scale shape: both channels bound their output at `fetchK` rows per
    * query before fusion, so the fusion join touches O(queries·fetchK)
    * rows regardless of corpus size. When `chunks` is a bare parquet
    * scan (a file-backed store, only projected), the lexical channel
    * reads the store's per-file [[Bm25Segments]], built once per file
    * and session, so a turn scans the chunk store twice: the kNN
    * embeddings and the text of the fused top-k. Any other `chunks`
    * frame (a join, a filter, a local frame) gets the on-the-fly
    * [[TextRetrieval.bm25TopK]], which tokenizes the chunk texts per
    * turn with no corpus-sized shuffle (its df join is
    * query-term-bounded). The kNN corpus never shuffles.
    */
  def chatPipelineHybrid(
      questions: DataFrame,
      logs: DataFrame,
      chunks: DataFrame,
      llm: LlmClient = DeterministicLlm,
      k: Int = 2,
      fetchK: Int = 20,
      historyN: Int = 10): DataFrame = {
    val embedded = prepareQuestions(questions, logs, llm, historyN)

    // 5a. lexical channel: BM25 over the chunk texts, from the store's
    //     segments when the chunks are a bare parquet scan
    val docs = chunks.select(col("vec_id").as("doc_id"), col("text"))
    val qtexts = embedded.select(col("query_id"), col("standalone_question").as("qtext"))
    val lex = Bm25Segments.topK(docs, qtexts, fetchK)
      .getOrElse(TextRetrieval.bm25TopK(docs, qtexts, fetchK))
      .select("query_id", "doc_id", "rank")

    // 5b. semantic channel: cosine kNN over the chunk embeddings
    val sem = Retrieval.knnJoin(
      embedded.select(col("query_id"), col("q_embedding")), chunks, fetchK)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))

    // 5c. RRF fusion to the final top-k + 6. stuff context in fused order
    val fused = TextRetrieval.hybridTopK(lex, sem, k)
      .select(col("query_id"), col("doc_id").as("vec_id"), col("rank"))
    val contexts = Retrieval.stuffContext(
      fused.join(chunks.select(col("vec_id"), col("text")), "vec_id"))

    answerAndParse(embedded, contexts, llm)
  }
}
