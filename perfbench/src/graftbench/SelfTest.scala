package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Attributes, Dedup, Ingest, Rag}

/** The benchmark's own test, on small inputs:
  *
  *  1. every timed sink delivers the full schema of the frame it was
  *     handed, and no timed operation runs a `count`;
  *  2. a corrupted LLM client, a dropped chunk, a stale store read and
  *     curation output that flags or clusters too much or too little are
  *     each counted as failed operations, while the same operations without
  *     the fault pass.
  *
  * {{{ graftbench.SelfTest --scratch DIR }}}  exits 1 on the first broken
  * expectation.
  */
object SelfTest {

  private var broken = 0
  private def expect(what: String, ok: Boolean): Unit = {
    println(s"selftest ${if (ok) "PASS" else "FAIL"} $what")
    if (!ok) broken += 1
  }

  /** The schema an action delivered: a collect's analysed output, or the
    * input of a write command.
    */
  private def delivered(qe: QueryExecution): StructType = {
    def writeInput(p: LogicalPlan): Option[StructType] = p.collectFirst { case c: DataWritingCommand => c.query.schema }
    writeInput(qe.logical).orElse(writeInput(qe.analyzed)).getOrElse(qe.analyzed.schema)
  }

  /** Actions an operation ran, in order, as (name, delivered schema). */
  private def actionsOf(spark: SparkSession, l: Listeners)(op: => Unit): Seq[(String, StructType)] = {
    org.apache.spark.graftbench.BusShim.drain(spark.sparkContext)
    l.lastActions.set(Nil)
    op
    org.apache.spark.graftbench.BusShim.drain(spark.sparkContext)
    l.lastActions.get.reverse.map { case (n, qe) => (n, delivered(qe)) }
  }

  private def sameColumns(a: StructType, b: StructType): Boolean =
    a.fields.map(f => (f.name, f.dataType)).toSeq == b.fields.map(f => (f.name, f.dataType)).toSeq

  /** Answers like the deterministic client, over a context it has altered. */
  object CorruptLlm extends Rag.LlmClient {
    def reformulate(history: Seq[String], question: String): String = question
    def answer(context: String, question: String): String = Rag.DeterministicLlm.answer(context + " ", question)
  }

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val scratch = m("scratch")
    val spark = Main.session(scratch)
    try run(spark, scratch) finally spark.stop()
    println(s"selftest ${if (broken == 0) "OK" else s"$broken FAILED"}")
    if (broken != 0) sys.exit(1)
  }

  def run(spark: SparkSession, scratch: String): Unit = {
    val seed = 7L
    val docs = Gen.documents(seed, 600)
    val setupBatch = Gen.uploadBatch(seed, "setup", docs.map(_.text))
    Flows.writeBatch(s"$scratch/setup_files", setupBatch)
    def newStore(name: String): (StoreDir, Seq[Flows.UploadResult]) = {
      val d = StoreDir(s"$scratch/$name")
      (d, Seq(Flows.buildStore(spark, d, docs, (s"$scratch/setup_files", setupBatch), traced = false)))
    }
    val (store, built) = newStore("store")
    expect("store: the set-up upload's funnel matches the generator", Checks.upload(spark, store, built) == 0)
    val logs = spark.createDataFrame(Gen.logs(seed).map(r => Row(r.userId, new java.sql.Timestamp(r.tsMicros / 1000),
      r.eventId, r.eventType, r.props)).asJava,
      StructType.fromDDL("user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING, props STRING"))
    val qs = Gen.questions(seed, docs.map(_.text), 4)
    val l = Listeners.attach(spark)
    l.keepActions = true

    // 1. delivered-output sinks
    val chatActions = actionsOf(spark, l)(Flows.chat(spark, store, logs, qs.head))
    val chatBuilt = Rag.chatPipelineHybrid(Flows.questionFrame(spark, Seq(qs.head)), logs,
      spark.read.parquet(store.chunks), Rag.DeterministicLlm, Flows.K, Flows.FetchK, Flows.HistoryN).schema
    expect("chat: no count() in the timed operation", !chatActions.exists(_._1 == "count"))
    expect("chat: collect delivers every column of the built answer frame",
      chatActions.exists { case (n, s) => n == "collect" && sameColumns(s, chatBuilt) })

    val batch = Gen.uploadBatch(seed, "t0", docs.map(_.text))
    Flows.writeBatch(s"$scratch/up0", batch)
    val upActions = actionsOf(spark, l)(Flows.upload(spark, store, s"$scratch/up0", traced = false))
    val storeSchema = Flows.storeRows(Ingest.embedChunks(Ingest.splitIntoChunks(Flows.docsFrame(spark, Nil)))).schema
    val catalogSchema = spark.read.parquet(store.catalog).schema
    expect("upload: no count() in the timed operation", !upActions.exists(_._1 == "count"))
    expect("upload: the chunk write delivers every store column",
      upActions.exists { case (n, s) => n != "collect" && sameColumns(s, storeSchema) })
    expect("upload: the catalog write delivers every catalog column",
      upActions.exists { case (n, s) => n != "collect" && sameColumns(s, catalogSchema) })
    expect("upload: extraction is collected with every column",
      upActions.headOption.exists { case (n, s) => n == "collect" && s.fieldNames.contains("text") &&
        s.fieldNames.contains("extraction_status") })

    val cur = Gen.curate(seed, 300, 4, 4)
    val curIn = s"$scratch/curate_in"
    spark.createDataFrame(cur.docs.map { case (id, d) => Row(id, d.text, d.lang, d.source, d.nChars) }.asJava,
      StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")).write.parquet(curIn)
    val curActions = actionsOf(spark, l)(Flows.curate(spark, curIn, s"$scratch/curate_out", traced = false))
    val curDocs = spark.read.parquet(curIn)
    val decidedSchema = Attributes.decide(Attributes.tag(curDocs), Flows.CurateRules).schema
    val clusterSchema = Dedup.duplicateClusters(Dedup.minHashLshPairs(curDocs.limit(0))).schema
    expect("curate: no count() in the timed operation", !curActions.exists(_._1 == "count"))
    expect("curate: the decision write delivers every tagged column",
      curActions.exists { case (_, s) => sameColumns(s, decidedSchema) })
    expect("curate: the cluster write delivers every column",
      curActions.exists { case (_, s) => sameColumns(s, clusterSchema) })
    Listeners.detach(spark, l)
    expect("curate: the generator's invariants hold", Checks.curate(spark, s"$scratch/curate_out", cur) == 0)

    // 2. planted faults, each beside its fault-free control
    println("selftest planting faults: the [check] FAIL lines on stderr from here on are expected")
    val reader = new Checks.SnapshotReader(spark, store)
    def chatResults(llm: Rag.LlmClient) = qs.map { q =>
      val (rows, files) = Flows.chat(spark, store, logs, q, llm)
      Flows.ChatResult(q, rows, files)
    }
    expect("chat: fault-free answers match the reference", Checks.chat(chatResults(Rag.DeterministicLlm), reader) == 0)
    expect("chat: every answer of a corrupted LLM client is counted failed",
      Checks.chat(chatResults(CorruptLlm), reader) == qs.size)

    val okStore = newStore("store_ok")._1
    val okStatus = Flows.upload(spark, okStore, s"$scratch/up0", traced = false)
    expect("upload: the fault-free funnel matches the generator",
      Checks.upload(spark, okStore, Seq(Flows.UploadResult(batch, okStatus, 0, 0))) == 0)
    val dropStore = newStore("store_drop")._1
    val victim = s"${batch.find(_.kind == "fresh").get.stem}_0"
    val dropStatus = Flows.upload(spark, dropStore, s"$scratch/up0", traced = false,
      alter = df => df.filter(col("vec_id") =!= victim))
    expect("upload: one dropped chunk fails its batch",
      Checks.upload(spark, dropStore, Seq(Flows.UploadResult(batch, dropStatus, 0, 0))) == 1)

    val freshStore = newStore("store_fresh")._1
    val stale = spark.read.parquet(freshStore.chunks)
    Flows.writeBatch(s"$scratch/up1", Gen.uploadBatch(seed, "t1", docs.map(_.text)))
    Flows.upload(spark, freshStore, s"$scratch/up1", traced = false)
    val committed = freshStore.chunkFiles
    def readResult(read: String => DataFrame) = {
      val (rows, files) = Flows.chat(spark, freshStore, logs, qs.head, read = read)
      Flows.ChatResult(qs.head, rows, files)
    }
    expect("chat: a read after the last commit is fresh", Checks.fresh(Seq(readResult(null)), committed) == 0)
    expect("chat: a stale store read is counted failed", Checks.fresh(Seq(readResult(_ => stale)), committed) == 1)

    // curation output altered after a correct pass
    def alteredCurate(name: String, decided: DataFrame => DataFrame, clusters: DataFrame => DataFrame): Int = {
      val dir = s"$scratch/$name"
      decided(spark.read.parquet(s"$scratch/curate_out/decided")).write.parquet(s"$dir/decided")
      clusters(spark.read.parquet(s"$scratch/curate_out/clusters")).write.parquet(s"$dir/clusters")
      Checks.curate(spark, dir, cur)
    }
    expect("curate: every row flagged as an exact copy is counted failed",
      alteredCurate("curate_all_flagged", _.withColumn("is_exact_dup", lit(true)), identity) == 1)
    expect("curate: a missed exact copy is counted failed",
      alteredCurate("curate_none_flagged", _.withColumn("is_exact_dup", lit(false)), identity) == 1)
    expect("curate: every document in one cluster is counted failed",
      alteredCurate("curate_one_cluster", identity,
        _ => curDocs.select(col("doc_id"), lit(0L).as("cluster_id"))) == 1)
    expect("curate: a lost near copy is counted failed",
      alteredCurate("curate_lost_near", identity,
        _.filter(!col("doc_id").isin(cur.nearCopies.keys.toSeq: _*))) == 1)
  }
}
