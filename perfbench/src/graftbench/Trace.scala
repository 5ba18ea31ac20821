package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded by the benchmark around each public layer call, and the
  * engine-side counters of a traced run. Nothing here is on when a run is
  * untraced: [[span]] only records once [[on]] is set, and the listeners
  * are attached from outside the engine by [[Listeners.attach]].
  */
object Trace {

  final case class Span(id: Long, parent: Long, requestId: Long, name: String, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val request = ThreadLocal.withInitial[java.lang.Long](() => -1L)

  def withRequest[T](rid: Long)(body: => T): T = {
    val prev = request.get
    request.set(rid)
    try body finally request.set(prev)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, request.get, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def clear(): Unit = spans.clear()

  /** Writes spans as JSON lines: name, start and end in ns, parent, request. */
  def write(path: String, ss: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try ss.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "request": ${s.requestId}, """ +
        s""""name": "${s.name}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    } finally w.close()
  }

  /** Self time per span name in seconds: each span's duration minus the
    * durations of its direct children.
    */
  def selfSeconds(ss: Seq[Span]): Map[String, Double] = {
    val childNs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }
}

/** Scheduler and Catalyst counters, attached to a session from outside. */
final class Listeners extends SparkListener with QueryExecutionListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val queueWaitMs = new AtomicLong
  val analysisMs = new AtomicLong
  val optimizationMs = new AtomicLong
  val planningMs = new AtomicLong
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  /** Actions run while [[keepActions]] is set, newest first. */
  val lastActions = new AtomicReference[List[(String, QueryExecution)]](Nil)
  @volatile var keepActions = false

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    val sub = stageSubmit.get(e.stageId)
    if (sub != null) queueWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - sub))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    analysisMs.addAndGet(ph.get("analysis").map(_.durationMs).getOrElse(0L))
    optimizationMs.addAndGet(ph.get("optimization").map(_.durationMs).getOrElse(0L))
    planningMs.addAndGet(ph.get("planning").map(_.durationMs).getOrElse(0L))
    if (keepActions) lastActions.updateAndGet(l => (funcName, qe) :: l)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Listeners {
  def attach(spark: SparkSession): Listeners = {
    val l = new Listeners
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
  def detach(spark: SparkSession, l: Listeners): Unit = {
    org.apache.spark.graftbench.BusShim.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(l)
  }
}
