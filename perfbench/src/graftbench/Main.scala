package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark: one workload, one seed, one measured window.
  *
  * {{{
  * graftbench.Main --workload chat|curate --seed N --seconds S
  *                 --trace 0|1 --scratch DIR
  * }}}
  *
  * Every operation is timed from outside the engine, in this JVM, by the
  * client that issues it, and ends when its whole output has been
  * delivered (see [[Sink]]). Set-up is done once, cold, and `setup_s` is
  * session start plus that set-up: what a session pays before its first
  * operation. With `--trace 0` it prints the end-to-end metrics. With
  * `--trace 1` it runs the flagship paths layer by layer under spans for
  * the per-layer times, then the library path untraced with listeners
  * attached for the Catalyst and scheduler counters and the tracing
  * overhead, and prints the per-layer metrics. The last line of stdout is
  * one JSON object: correct, attempted, failed, metrics.
  */
object Main {

  val StoreDocs = 5000
  val CurateDocs = 2500
  /** Planted exact copies: the share of rows of the engine's sf0.1
    * `documents` fixture that repeat an earlier row's text, 8 of 5,000.
    */
  val CurateExact: Int = CurateDocs * 8 / 5000
  /** Planted near copies: as many as exact copies. No measured near-copy
    * share exists; the count only has to put every kind of copy in the run.
    */
  val CurateNear: Int = CurateExact
  val Workloads = Set("chat", "curate")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, scratch: String,
      spans: Option[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = m.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.contains(w), s"unknown workload $w")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("scratch", sys.error("--scratch is required")),
      m.get("spans"))
  }

  def session(scratch: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
    // SPARK_LOCAL_DIRS, when set, wins over spark.local.dir
    if (!sys.env.contains("SPARK_LOCAL_DIRS")) b.config("spark.local.dir", s"$scratch/spark-local")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ------------------------------------------------------------ helpers
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def timed[T](body: => T): (T, Double) = { val t0 = System.nanoTime(); val r = body; (r, secs(t0)) }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** The highest percentile with at least 10 samples beyond it, by nearest
    * rank: (percentile, value). With fewer than 11 samples no such
    * percentile exists and the maximum is reported as percentile 100.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted; val n = s.length
    if (n < 11) (100, s.last) else (100 * (n - 10) / n, s(n - 11))
  }
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
  }
  /** CPU seconds this process has used, every thread included. */
  def cpuSeconds: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private val LogSchema = StructType.fromDDL(
    "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING, props STRING")

  /** Everything a run reports. */
  final class Outcome {
    var attempted = 0
    var failed = 0
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val notes = ArrayBuffer.empty[String]
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  }

  // ------------------------------------------------------------ main
  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val (spark, sessionS) = timed(session(a.scratch))
    val out = new Outcome
    out.notes += s"session ready ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime} ms after JVM start"
    try {
      a.workload match {
        case "chat" => runChat(spark, a, sessionS, out)
        case "curate" => runCurate(spark, a, sessionS, out)
      }
    } finally spark.stop()
    report(out)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def report(out: Outcome): Unit = {
    out.notes.foreach(n => println(s"note $n"))
    out.metrics.foreach { case (k, (v, u)) => println(f"metric $k%-34s ${fmt(v)} $u") }
    val ratio = out.failed.toDouble / math.max(1, out.attempted)
    println(s"metric failed_ops_ratio ${fmt(ratio)} ratio")
    val ms = out.metrics.filterNot(_._1.contains(":")).map { case (k, (v, u)) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": {$ms}}""")
  }

  /** Every per-layer metric, with its unit. A traced run reports each one;
    * a layer the workload leaves idle reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "catalyst.build_s" -> "s", "scheduler.jobs_per_op" -> "count", "scheduler.stages_per_op" -> "count",
    "scheduler.tasks_per_op" -> "count", "scheduler.queue_wait_s" -> "s",
    "scheduler.shuffle_write_bytes" -> "bytes", "scheduler.spill_bytes" -> "bytes",
    "Store.read_s" -> "s", "Store.files" -> "count", "Sessions.history_s" -> "s",
    "HashEmbedder.embed_q_s" -> "s", "TextRetrieval.bm25_s" -> "s", "TextRetrieval.bm25_postings" -> "count",
    "TextRetrieval.bm25_useful_ratio" -> "ratio", "Retrieval.knn_s" -> "s",
    "Retrieval.knn_pairs_scored" -> "count", "Retrieval.knn_useful_ratio" -> "ratio",
    "TextRetrieval.rrf_s" -> "s", "Retrieval.stuff_s" -> "s", "Rag.answer_s" -> "s",
    "DocLoader.extract_s" -> "s", "DocLoader.docs" -> "count", "DocLoader.quarantined" -> "count",
    "Ingest.gate_s" -> "s", "Ingest.dup_dropped" -> "count", "Ingest.chunk_s" -> "s", "Ingest.chunks" -> "count",
    "HashEmbedder.embed_chunks_s" -> "s", "Store.append_s" -> "s", "Store.bytes_written" -> "bytes",
    "Attributes.tag_s" -> "s", "Attributes.decide_s" -> "s", "TextAnalysis.langid_s" -> "s",
    "Dedup.minhash_s" -> "s", "Dedup.candidate_pairs" -> "count", "Dedup.verified_ratio" -> "ratio",
    "Dedup.clusters_s" -> "s", "jvm.gc_s" -> "s", "jvm.peak_rss_mb" -> "MB",
    "trace.spans_per_op" -> "count", "trace.overhead_ratio" -> "ratio")

  val ChatLayers: Seq[String] = Seq("Store.read", "Sessions.history", "HashEmbedder.embed_q", "TextRetrieval.bm25",
    "Retrieval.knn", "TextRetrieval.rrf", "Retrieval.stuff", "Rag.answer")
  val UploadLayers: Seq[String] =
    Seq("DocLoader.extract", "Ingest.gate", "Ingest.chunk", "HashEmbedder.embed_chunks", "Store.append")
  val CurateLayers: Seq[String] =
    Seq("Attributes.tag", "Attributes.decide", "TextAnalysis.langid", "Dedup.minhash", "Dedup.clusters")

  /** Runs `op` back to back, a closed loop with one client, for `seconds`
    * and at least `min` times. Returns the latencies of the operations that
    * succeeded and the elapsed time.
    */
  def closedLoop(seconds: Double, min: Int)(op: () => Option[Double]): (Seq[Double], Double) = {
    val t0 = System.nanoTime()
    val lat = ArrayBuffer.empty[Double]
    var n = 0
    while (secs(t0) < seconds || n < min) { op().foreach(lat += _); n += 1 }
    (lat.toSeq, secs(t0))
  }

  def putEndToEnd(out: Outcome, lat: Seq[Double], elapsed: Double, items: Double, storeRatio: Double): Unit = {
    val (pct, tl) = tail(lat)
    out.put("op_p50_s", median(lat), "s")
    out.put("op_tail_s", tl, "s")
    out.notes += s"op_tail_s is p$pct of n=${lat.size}; ops ${lat.map(x => f"$x%.2f").mkString(" ")} s"
    out.put("items_per_s", items / elapsed, "1/s")
    out.put("store_bytes_per_input_byte", storeRatio, "ratio")
    out.put("peak_rss_mb:untraced", peakRssMb, "MB")
  }

  /** Self time per operation of each layer in `layers`, from the spans of
    * `ops` operations.
    */
  def putSelfTimes(out: Outcome, spans: Seq[Trace.Span], ops: Int, layers: Seq[String]): Unit = {
    val self = Trace.selfSeconds(spans)
    layers.foreach(n => out.put(s"${n}_s", self.getOrElse(n, 0.0) / math.max(1, ops), "s"))
  }

  /** Runs the library path untraced for `seconds`, at least two operations,
    * with listeners attached. Returns the latencies, the listeners and the
    * GC seconds of the window.
    */
  def engineWindow(spark: SparkSession, seconds: Double)(op: () => Option[Double]): (Seq[Double], Listeners, Double) = {
    val l = Listeners.attach(spark)
    val gc0 = gcSeconds
    val (lat, _) = closedLoop(seconds, 2)(op)
    val gcS = gcSeconds - gc0
    Listeners.detach(spark, l)
    (lat, l, gcS)
  }

  /** Catalyst and scheduler counters and GC time per operation, from an
    * [[engineWindow]] that ran `ops` operations.
    */
  def putEngine(out: Outcome, l: Listeners, ops: Int, gcS: Double): Unit = {
    val o = math.max(1, ops).toDouble
    out.put("catalyst.analysis_s", l.analysisMs.get / 1e3 / o, "s")
    out.put("catalyst.optimization_s", l.optimizationMs.get / 1e3 / o, "s")
    out.put("catalyst.planning_s", l.planningMs.get / 1e3 / o, "s")
    out.put("scheduler.jobs_per_op", l.jobs.get / o, "count")
    out.put("scheduler.stages_per_op", l.stages.get / o, "count")
    out.put("scheduler.tasks_per_op", l.tasks.get / o, "count")
    out.put("scheduler.queue_wait_s", l.queueWaitMs.get / 1e3 / o, "s")
    out.put("scheduler.shuffle_write_bytes", l.shuffleWriteBytes.get / o, "bytes")
    out.put("scheduler.spill_bytes", l.spillBytes.get / o, "bytes")
    out.put("jvm.gc_s", gcS / o, "s")
  }

  /** The part every traced run reports alike: DataFrame build time and
    * spans per traced operation, the tracing overhead against the
    * untraced library path, peak RSS, and 0 for every idle layer.
    */
  def finishTrace(out: Outcome, spans: Seq[Trace.Span], tracedLat: Seq[Double], plainLat: Seq[Double]): Unit = {
    val n = math.max(1, tracedLat.size).toDouble
    out.put("catalyst.build_s", Trace.selfSeconds(spans).getOrElse("catalyst.build", 0.0) / n, "s")
    out.put("trace.spans_per_op", spans.size / n, "count")
    out.put("trace.overhead_ratio", median(tracedLat) / median(plainLat), "ratio")
    out.put("jvm.peak_rss_mb", peakRssMb, "MB")
    PerLayer.foreach { case (name, unit) => if (!out.metrics.contains(name)) out.put(name, 0.0, unit) }
  }

  // --------------------------------------------------------------- chat
  def runChat(spark: SparkSession, a: Args, sessionS: Double, out: Outcome): Unit = {
    val docs = Gen.documents(a.seed, StoreDocs)
    val setupBatch = Gen.uploadBatch(a.seed, "setup", docs.map(_.text))
    val batchDir = s"${a.scratch}/setup_files"
    Flows.writeBatch(batchDir, setupBatch)
    val logRows = Gen.logs(a.seed).map(r =>
      Row(r.userId, new java.sql.Timestamp(r.tsMicros / 1000), r.eventId, r.eventType, r.props))
    val store = StoreDir(s"${a.scratch}/store")
    // set-up: the chunk store, one upload batch into it, and the chat log;
    // a traced run traces the upload
    Trace.on = a.trace
    val (upload, buildS) = timed {
      val r = Flows.buildStore(spark, store, docs, (batchDir, setupBatch), a.trace)
      spark.createDataFrame(logRows.asJava, LogSchema).write.parquet(store.logs)
      r
    }
    Trace.on = false
    val setupSpans = Trace.all
    Trace.clear()
    if (!a.trace) out.put("setup_s", sessionS + buildS, "s")
    out.notes += f"setup: session $sessionS%.3f s, store build $buildS%.3f s"

    val logs = spark.read.parquet(store.logs)
    val committed = store.chunkFiles
    val questions = Gen.questions(a.seed, docs.map(_.text), 5000).iterator
    val results = ArrayBuffer.empty[Flows.ChatResult]
    var errors = 0
    def chatOne(traced: Boolean): Option[Double] = {
      val q = questions.next()
      try {
        val ((rows, files), s) = timed(Trace.withRequest(q.queryId) {
          if (traced) Flows.chatTraced(spark, store, logs, q) else Flows.chat(spark, store, logs, q)
        })
        results += Flows.ChatResult(q, rows, files)
        Some(s)
      } catch { case e: Exception => errors += 1; System.err.println(s"[op] chat failed: $e"); None }
    }
    // two warm-up requests: JIT, codegen and the first store reads; checked,
    // not timed. The first request after only one still ran ~40% slower
    // than the rest.
    val (_, warmS) = timed((0 until 2).foreach(_ => chatOne(traced = false)))
    out.notes += f"warm-up $warmS%.3f s"

    if (!a.trace) {
      val cpu0 = cpuSeconds
      val (lat, elapsed) = closedLoop(a.seconds, 1)(() => chatOne(traced = false))
      val inputBytes = docs.map(_.text.getBytes("UTF-8").length.toLong).sum + upload.inputBytes
      putEndToEnd(out, lat, elapsed, lat.size, store.bytes.toDouble / inputBytes)
      out.notes += s"question kinds in order: ${results.drop(2).map(_.q.kind).mkString(" ")}"
      out.put("cpu_s_per_op:untraced", (cpuSeconds - cpu0) / math.max(1, lat.size), "s")
      out.put("chat_p50_s:chat", median(lat), "s")
      val (p, t) = tail(lat)
      out.put(s"chat_tail_s:p$p:n${lat.size}", t, "s")
    } else {
      val first = results.size
      Trace.on = true
      val (tracedLat, _) = closedLoop(a.seconds, 1)(() => chatOne(traced = true))
      Trace.on = false
      val spans = Trace.all
      a.spans.foreach(Trace.write(_, setupSpans ++ spans))
      putSelfTimes(out, spans, tracedLat.size, ChatLayers)
      // the upload layers are measured on the traced set-up upload
      putSelfTimes(out, setupSpans, 1, UploadLayers)
      val fresh = upload.batch.filter(_.kind == "fresh")
      val extracted = upload.status.count(_._2 == graft.sources.DocLoader.StatusOk)
      out.put("DocLoader.docs", upload.status.size, "count")
      out.put("DocLoader.quarantined", upload.status.size - extracted, "count")
      out.put("Ingest.dup_dropped", extracted - fresh.size, "count")
      out.put("Ingest.chunks", fresh.map(f => Gen.chunkTexts(f.text).size).sum, "count")
      out.put("Store.bytes_written", upload.storeBytesAdded, "bytes")
      val reader = new Checks.SnapshotReader(spark, store)
      val traced = results.drop(first).toSeq
      if (traced.nonEmpty) {
        val n = traced.size.toDouble
        val idx = traced.map(r => (r, reader.index(r.files)))
        out.put("TextRetrieval.bm25_postings", idx.map { case (r, i) => i.postingsScored(r.q.text) }.sum / n, "count")
        out.put("TextRetrieval.bm25_useful_ratio", idx.map { case (r, i) =>
          val p = i.postingsScored(r.q.text)
          if (p == 0) 0.0 else i.bm25(r.q.text, Flows.FetchK).size.toDouble / p
        }.sum / n, "ratio")
        out.put("Retrieval.knn_pairs_scored", idx.map(_._2.chunks.size.toDouble).sum / n, "count")
        out.put("Retrieval.knn_useful_ratio", idx.map(Flows.FetchK.toDouble / _._2.chunks.size).sum / n, "ratio")
        out.put("Store.files", traced.map(_.files.size.toDouble).sum / n, "count")
      }
      val (plainLat, l, gcS) = engineWindow(spark, a.seconds * 0.3)(() => chatOne(traced = false))
      putEngine(out, l, plainLat.size, gcS)
      finishTrace(out, spans, tracedLat, plainLat)
    }

    // checks over every operation, the warm-ups and the set-up upload included
    val (failed, checkS) = timed {
      val reader = new Checks.SnapshotReader(spark, store)
      Checks.chat(results.toSeq, reader) + Checks.fresh(results.toSeq, committed) +
        Checks.upload(spark, store, Seq(upload))
    }
    out.notes += f"checks $checkS%.3f s"
    out.failed = failed + errors
    out.attempted = results.size + 1 + errors // + 1: the set-up upload
  }

  // -------------------------------------------------------------- curate
  def runCurate(spark: SparkSession, a: Args, sessionS: Double, out: Outcome): Unit = {
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
    val (corpus, genS) = timed(Gen.curate(a.seed, CurateDocs, CurateExact, CurateNear))
    val rows = corpus.docs.map { case (id, d) => Row(id, d.text, d.lang, d.source, d.nChars) }
    val input = s"${a.scratch}/curate_in"
    val (_, buildS) = timed(spark.createDataFrame(rows.asJava, schema).write.parquet(input))
    if (!a.trace) out.put("setup_s", sessionS + buildS, "s")
    out.notes += f"setup: session $sessionS%.3f s, corpus write $buildS%.3f s (generated in $genS%.3f s)"
    val inputBytes = corpus.docs.map(_._2.text.getBytes("UTF-8").length.toLong).sum
    var pass = 0
    val outs = ArrayBuffer.empty[String]
    var errors = 0
    var dedupPairs = (0L, 0L)
    def one(traced: Boolean): Option[Double] = {
      val dir = s"${a.scratch}/curate_out$pass"; pass += 1
      try {
        val (pairs, s) = timed(Trace.withRequest(pass)(Flows.curate(spark, input, dir, traced)))
        dedupPairs = pairs
        outs += dir
        Some(s)
      } catch { case e: Exception => errors += 1; System.err.println(s"[op] curate failed: $e"); None }
    }
    // four warm-up passes: pass times keep falling until about the fifth
    // pass (3.9 s for the third and fourth, 3.0 s from the fifth on)
    val warmUps = 4
    val (_, warmS) = timed((0 until warmUps).foreach(_ => one(traced = false)))
    out.notes += f"warm-up $warmS%.3f s"
    if (!a.trace) {
      val cpu0 = cpuSeconds
      val (lat, elapsed) = closedLoop(a.seconds, 1)(() => one(traced = false))
      val outBytes = outs.drop(warmUps).map(d => Flows.dirBytes(new java.io.File(d)))
      putEndToEnd(out, lat, elapsed, lat.size * corpus.docs.size, outBytes.sum.toDouble / outBytes.size / inputBytes)
      out.put("cpu_s_per_op:untraced", (cpuSeconds - cpu0) / math.max(1, lat.size), "s")
      out.put("curate_docs_per_s:curate", lat.size * corpus.docs.size / elapsed, "1/s")
    } else {
      Trace.on = true
      val (tracedLat, _) = closedLoop(a.seconds, 1)(() => one(traced = true))
      Trace.on = false
      val spans = Trace.all
      a.spans.foreach(Trace.write(_, spans))
      putSelfTimes(out, spans, tracedLat.size, CurateLayers)
      val (cands, verified) = dedupPairs
      out.put("Dedup.candidate_pairs", cands.toDouble, "count")
      out.put("Dedup.verified_ratio", verified.toDouble / math.max(1L, cands), "ratio")
      val (plainLat, l, gcS) = engineWindow(spark, a.seconds * 0.3)(() => one(traced = false))
      putEngine(out, l, plainLat.size, gcS)
      finishTrace(out, spans, tracedLat, plainLat)
    }
    val (failed, checkS) = timed(outs.map(d => Checks.curate(spark, d, corpus)).sum)
    out.notes += f"checks $checkS%.3f s"
    out.failed = failed + errors
    out.attempted = outs.size + errors
  }
}
