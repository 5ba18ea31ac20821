package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HashEmbedder
import graft.operators.{Rag, Store}

/** Counts every LLM call the clients below make, across executors. */
object LlmCalls {
  val reformulate = new AtomicInteger
  val answer = new AtomicInteger
  def reset(): Unit = { reformulate.set(0); answer.set(0) }
}

/** Identity rewrite and the deterministic answer, each call counted. */
class CountingLlm extends Rag.LlmClient {
  override def reformulate(history: Seq[String], question: String): String = {
    LlmCalls.reformulate.incrementAndGet()
    question
  }
  override def answer(context: String, question: String): String = {
    LlmCalls.answer.incrementAndGet()
    Rag.DeterministicLlm.answer(context, question)
  }
}

/** A rewrite that changes on every call, as a sampled model's does. */
class DriftingLlm(rewrites: Seq[String]) extends Rag.LlmClient {
  override def reformulate(history: Seq[String], question: String): String =
    rewrites(LlmCalls.reformulate.getAndIncrement() % rewrites.size)
  override def answer(context: String, question: String): String =
    Rag.DeterministicLlm.answer(context, question)
}

/** The chat turn calls the LLM once per stage and question, and every
  * stage of the turn sees the one rewrite the turn returns.
  */
class RagLlmCallsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val logs = Seq((1L, "2024-01-01 10:00:00", 1L, "prior question", "{}"))
    .toDF("user_id", "ts", "event_id", "event_type", "props")
    .withColumn("ts", col("ts").cast("timestamp"))

  private def store(texts: Seq[String]): DataFrame = {
    val dir = Files.createTempDirectory("rag_llm").toString + "/chunks"
    Store.append(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("vec_id", "text")
      .withColumn("embedding", HashEmbedder.embedCol(col("text"))), dir)
    spark.read.parquet(dir)
  }

  private def withAqe[T](on: Boolean)(body: => T): T = {
    val was = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", on.toString)
    try body finally spark.conf.set("spark.sql.adaptive.enabled", was)
  }

  private val pipelines: Seq[(String, (DataFrame, DataFrame, Rag.LlmClient) => DataFrame)] = Seq(
    "chatPipeline" -> ((q, c, llm) => Rag.chatPipeline(q, logs, c, llm, k = 1)),
    "chatPipelineHybrid" -> ((q, c, llm) => Rag.chatPipelineHybrid(q, logs, c, llm, k = 1, fetchK = 3)))

  for ((name, run) <- pipelines; aqe <- Seq(true, false))
    test(s"$name: one reformulate and one answer per admitted question (AQE $aqe)") {
      val chunks = store(Seq("spark runs distributed queries", "ducks paddle on ponds", "catalyst plans"))
      val questions = Seq(
        (100L, 1L, "how does spark run distributed queries"),
        (101L, 2L, "where do ducks paddle"),
        (102L, 1L, "")) // dropped at admission
        .toDF("query_id", "user_id", "question")
      withAqe(aqe) {
        LlmCalls.reset()
        val out = run(questions, chunks, new CountingLlm).collect()
        assert(out.map(_.getAs[Long]("query_id")).sorted.toSeq == Seq(100L, 101L))
        assert(LlmCalls.reformulate.get == 2)
        assert(LlmCalls.answer.get == 2)
      }
    }

  for ((name, run) <- pipelines)
    test(s"$name: context is retrieved for the returned standalone question under a drifting rewrite") {
      val rewrites = Seq("alpha", "bravo", "charlie", "delta", "echo")
      val chunks = store(rewrites)
      val questions = (0 until 4).map(i => (i.toLong, 1L, s"question $i")).toDF("query_id", "user_id", "question")
      LlmCalls.reset()
      val out = run(questions, chunks, new DriftingLlm(rewrites)).collect()
      assert(out.length == 4)
      out.foreach(r => assert(r.getAs[String]("context") == r.getAs[String]("standalone_question")))
    }
}
