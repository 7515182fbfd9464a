package rvbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans come from the benchmark's own calls
  * into each layer; Spark's side comes only from the public listener
  * hooks registered here (QueryExecutionListener, SparkListener,
  * StreamingQueryListener). Everything stays in memory until the run
  * ends. With tracing off no listener is registered and `span` is a
  * plain call. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  val spans = new ConcurrentLinkedQueue[Span]()
  val execs = new java.util.concurrent.ConcurrentHashMap[Long, Exec]()
  /** Files each write action committed, in the order the actions ended. */
  val filesWritten = new ConcurrentLinkedQueue[java.lang.Long]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  private val ids = new AtomicLong()
  private val parents = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  /** Time `f` as a span of `layer`; nested spans record their parent. */
  def span[T](layer: String, name: String, tag: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = parents.get().headOption.getOrElse(0L)
      parents.set(id :: parents.get())
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      try f
      finally {
        spans.add(Span(id, parent, layer, name, tag, w0, t0, System.nanoTime()))
        parents.set(parents.get().tail)
      }
    }

  /** Tag the Spark jobs this thread submits (job properties carry it). */
  def tagJobs(tag: String): Unit =
    if (enabled) spark.sparkContext.setLocalProperty(TagKey, tag)

  private val sparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val props = Option(js.properties)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val tag = props.flatMap(p => Option(p.getProperty(TagKey))).getOrElse("")
      jobs.put(js.jobId, Job(js.jobId, exec, tag, js.time, js.stageIds))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobs.get(je.jobId)).foreach(_.endMs = je.time)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      val m = Option(i.taskMetrics)
      stages.put(i.stageId, Stage(i.stageId, i.numTasks,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        m.map(_.inputMetrics.recordsRead).getOrElse(0L),
        m.map(_.inputMetrics.bytesRead).getOrElse(0L)))
    }
    override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, Exec(s.executionId, s.time, s.physicalPlanDescription))
      case e: SparkListenerSQLExecutionEnd =>
        Option(execs.get(e.executionId)).foreach(_.endMs = e.time)
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      numFiles(qe).foreach(n => filesWritten.add(n))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      progress.add(Progress(p.id.toString, p.batchId,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.numRowsDroppedByWatermark).sum,
        java.time.Instant.parse(p.timestamp).toEpochMilli))
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener bus has delivered every event of finished
    * work: all SQL executions ended and the counts stopped moving. */
  def drain(maxMs: Long = 5000): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    var stable = 0
    while (System.currentTimeMillis() < deadline && stable < 3) {
      Thread.sleep(100)
      val open = execs.values.asScala.count(_.endMs == 0L)
      val n = execs.size.toLong * 1000003L + filesWritten.size * 1009L + jobs.size + stages.size +
        progress.size
      if (open == 0 && n == last) stable += 1 else stable = 0
      last = n
    }
  }

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def spanSeq: Seq[Span] = spans.asScala.toSeq
  def jobSeq: Seq[Job] = jobs.values.asScala.toSeq
  def progressSeq: Seq[Progress] = progress.asScala.toSeq.sortBy(p => (p.queryId, p.batchId))

  /** SQL executions that started inside [fromMs, untilMs]. */
  def execsWithin(fromMs: Long, untilMs: Long): Seq[Exec] =
    execs.values.asScala.toSeq.filter(e => e.startMs >= fromMs && e.startMs <= untilMs)

  def stagesOf(js: Seq[Job]): Seq[Stage] = js.flatMap(_.stageIds).flatMap(s => Option(stages.get(s)))
}

object Trace {
  val TagKey = "rvbench.tag"

  final case class Span(id: Long, parent: Long, layer: String, name: String, tag: String,
      wallStartMs: Long, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
    def endWallMs: Long = wallStartMs + (endNs - startNs) / 1000000L
  }
  /** One SQL execution; `plan` is its physical plan text, which names
    * the paths it scans and writes. */
  final case class Exec(id: Long, startMs: Long, plan: String) {
    @volatile var endMs: Long = 0L
    def touches(dir: String): Boolean = plan.contains(dir)
  }
  final case class Job(id: Int, exec: Option[Long], tag: String, startMs: Long, stageIds: Seq[Int]) {
    @volatile var endMs: Long = 0L
  }
  final case class Stage(id: Int, tasks: Int, submitMs: Long, endMs: Long, recordsRead: Long,
      bytesRead: Long) {
    def ms: Long = math.max(0L, endMs - submitMs)
  }
  final case class Progress(queryId: String, batchId: Long,
      durations: Map[String, Long], stateRows: Long, stateBytes: Long, dropped: Long,
      startMs: Long)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(nodes)
  }

  /** Files a write action committed; None for other actions. */
  private def numFiles(qe: QueryExecution): Option[Long] = {
    val writes = try nodes(qe.executedPlan).collect { case d: DataWritingCommandExec => d }
      catch { case scala.util.control.NonFatal(_) => Nil }
    if (writes.isEmpty) None
    else Some(writes.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum)
  }

  /** Total length of the union of [start, end] intervals, clipped to
    * [from, until]. */
  def covered(intervals: Seq[(Long, Long)], from: Long, until: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, until)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
