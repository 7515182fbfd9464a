package rvbench

import java.io.File
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.engine.{Runner, Scheduler}
import graft.model.{JobStatus, MonitorSpec}
import graft.state.{AlertDispatcher, AlertSinks, AlertThrottle}
import graft.store.MetricSource

/** tick_fleet: 32 seeded monitors on one 5-minute cron schedule, driven through
  * `Scheduler.forSourceWithAlerts` over the rollup store. One operation
  * is one virtual 5-minute tick: `tick(now)` then `awaitIdle()`, i.e. from
  * due to every verdict persisted and every alert delivered. */
object TickFleet extends Workload {
  val name = "tick_fleet"
  val Monitors = 4
  /** Seeded (monitor, tick) pairs re-evaluated after timing. */
  val Sample = 2
  /** The fleet: eight target families (two per monitor, one each), fixed
    * windows and reductions, and one monitor that always fails, so alerts
    * pass the throttle every other tick. The other families are on api_mix. */
  private val Layout: Seq[(Seq[Int], Int, String, Boolean)] = Seq(
    (Seq(0, 1), 60, "max", false), (Seq(3, 6), 360, "p95", false),
    (Seq(8, 9), 1440, "mean", true), (Seq(11, 14), 60, "sum", false))

  def monitors(seed: Long): Seq[MonitorSpec] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    Layout.zipWithIndex.map { case ((fams, minutes, reduction, fails), i) =>
      Gen.monitor(rnd, i + 1L, fams, minutes, reduction, fails) }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val rnd = new scala.util.Random(ctx.seed)
    val (store, buildS) = Setup.rollupStore(ctx)
    val source = MetricSource.rollup(spark, store)
    val Seq(jobData, jobErrors, alertState, deliveries) =
      Seq("job_data", "job_errors", "alert_state", "deliveries").map(ctx.path)
    val sent = new ConcurrentLinkedQueue[String]()
    val sinks = AlertSinks.default(s => ctx.trace.span("state", "deliver") { sent.add(s); () })
    val sched = Scheduler.forSourceWithAlerts(spark, source, jobData, jobErrors,
      alertState, deliveries, sinks)
    val specs = monitors(ctx.seed)
    val byId = specs.map(s => s.id -> s).toMap
    // first tick on a seeded day, far enough in for a 1-day window
    val first = Gen.Start + (3 + rnd.nextInt(Gen.Days - 5)) * Gen.DayMs + 5 * 60000L
    specs.foreach(sched.register(_, java.time.Instant.ofEpochMilli(first - 60000L)))

    val statuses = Seq.newBuilder[(Long, Timestamp, String)]
    def tickAt(k: Int): Boolean = {
      val now = new Timestamp(first + k * 5 * 60000L)
      sched.tick(now.toInstant)
      sched.awaitIdle()
      val snap = sched.snapshot
      snap.foreach(j => statuses += ((j.jobId, now, j.lastStatus)))
      snap.forall(_.lastStatus != JobStatus.Error) && snap.size == Monitors
    }

    Setup.phase("store built")
    val (_, warmS) = Setup.seconds(tickAt(0))
    Setup.phase("warm-up tick done")
    // traced: every event of the warm-up tick delivered before timing
    ctx.trace.drain()
    val warmWrites = ctx.trace.filesWritten.size
    val sentBefore = sent.size
    val (ops, timedS) = Setup.closedLoop(ctx.seconds) { i =>
      ctx.trace.span("engine", "tick") { tickAt(i + 1) }
    }
    sched.shutdown()
    val ticks = ops.length + 1
    val timedTicks = ops.length
    val recorded = statuses.result()

    Setup.phase("timed loop done")
    // -- correctness --------------------------------------------------------
    val jobRows = spark.read.parquet(jobData).count()
    val rowsCheck = Check("job_data rows = monitors x ticks", jobRows == Monitors.toLong * ticks,
      s"$jobRows rows, $Monitors monitors x $ticks ticks")

    val runs = spark.read.parquet(jobData).select("job_id", "window_end", "status").collect()
      .map(r => (r.getAs[Number]("job_id").longValue, r.getTimestamp(1).getTime) -> r.getString(2)).toMap
    val errCounts = (if (new File(jobErrors).exists())
      spark.read.parquet(jobErrors).groupBy("job_id", "at").count().collect()
        .map(r => (r.getAs[Number]("job_id").longValue, r.getTimestamp(1).getTime) -> r.getLong(2)).toMap
    else Map.empty[(Long, Long), Long]).withDefaultValue(0L)
    val pairs = rnd.shuffle(recorded).take(Sample)
    val verdictMismatches = pairs.flatMap { case (id, at, status) =>
      val vs = Runner.evaluate(spark, source, byId(id), at)
      val want = Runner.jobStatus(vs)
      val failing = vs.count(!_.passed).toLong
      val got = runs.get((id, at.getTime))
      val gotErr = errCounts((id, at.getTime))
      if (got.contains(want) && status == want && gotErr == (if (want == JobStatus.Success) 0L else failing)) None
      else Some(s"job $id at $at: persisted $got/$gotErr failing, scheduler $status, evaluate $want/$failing")
    }
    val verdictCheck = Check("sampled verdicts = Runner.evaluate", verdictMismatches.isEmpty,
      if (verdictMismatches.isEmpty) s"${pairs.size} (monitor, tick) pairs agree"
      else verdictMismatches.mkString("; "))

    val runEvents = recorded.map { case (id, at, st) =>
      AlertThrottle.RunEvent(id, at, st != JobStatus.Success, byId(id).errorTimeoutMinutes) }
    val (expectedAlerts, _) = AlertThrottle.replay(runEvents, Map.empty)
    val expected = expectedAlerts.flatMap { a =>
      byId(a.jobId).alertKeys.map(k => (a.jobId, a.at.getTime, AlertDispatcher.parseKey(k)._1)) }.toSet
    val delivered = (if (new File(deliveries).exists())
      AlertDispatcher.read(spark, deliveries).select("jobId", "at", "channel", "delivered").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getString(2), r.getBoolean(3))).toSeq
    else Nil)
    val alertCheck = Check("delivered alerts = AlertThrottle.replay",
      delivered.forall(_._4) && delivered.map(d => (d._1, d._2, d._3)).toSet == expected &&
        delivered.size == expected.size && sent.size == expected.size,
      s"${expected.size} expected, ${delivered.size} delivery records, ${sent.size} sent")

    Setup.phase("checks done")
    // -- per-layer (traced run) --------------------------------------------
    val layers = if (!ctx.trace.enabled) Map.empty[String, Double] else {
      ctx.trace.drain()
      val tr = ctx.trace
      val tickSpans = tr.spanSeq.filter(s => s.layer == "engine" && s.name == "tick")
      val per = math.max(1, tickSpans.size).toDouble
      def inTicks(ms: Long) = tickSpans.exists(s => ms >= s.wallStartMs && ms <= s.endWallMs)
      val execs = tickSpans.flatMap(s => tr.execsWithin(s.wallStartMs, s.endWallMs))
      // an action belongs to the layer whose paths its plan names
      def kind(e: Trace.Exec): String =
        if (e.touches(jobData) || e.touches(jobErrors)) "persist"
        else if (e.touches(deliveries)) "dispatch"
        else if (e.touches(alertState)) "throttle"
        else "eval"
      def execMs(k: String) = execs.filter(kind(_) == k).map(e => (e.endMs - e.startMs).toDouble).sum
      val jobsIn = tr.jobSeq.filter(j => inTicks(j.startMs))
      val stagesIn = tr.stagesOf(jobsIn)
      val evalExecs = execs.filter(kind(_) == "eval").map(_.id).toSet
      val scanStages = tr.stagesOf(jobsIn.filter(_.exec.exists(evalExecs))).filter(_.bytesRead > 0)
      val sparkCovered = tickSpans.map { s =>
        Trace.covered(execs.map(e => (e.startMs, e.endMs)) ++ jobsIn.map(j => (j.startMs, j.endMs)),
          s.wallStartMs, s.endWallMs)
      }.sum
      val deliverMs = tr.spanSeq.filter(s => s.layer == "state" && s.name == "deliver" &&
        inTicks(s.wallStartMs)).map(_.ms).sum
      val timedRecords = recorded.filter(_._2.getTime > first)
      val fired = sent.size - sentBefore
      val failedRuns = timedRecords.count(_._3 != JobStatus.Success)
      val files = tr.filesWritten.asScala.toSeq.drop(warmWrites).map(_.toLong).sum
      Map(
        "engine.persist_ms" -> execMs("persist") / per,
        "engine.eval_ms" -> execMs("eval") / per,
        "engine.batch_scan_ms" -> scanStages.map(_.ms.toDouble).sum / per,
        "engine.driver_ms" -> (tickSpans.map(_.ms).sum - sparkCovered) / per,
        "state.throttle_ms" -> execMs("throttle") / per,
        "state.dispatch_ms" -> (execMs("dispatch") + deliverMs) / per,
        "spark.jobs_per_tick" -> jobsIn.size / per,
        "spark.stages_per_tick" -> stagesIn.size / per,
        "spark.tasks_per_tick" -> stagesIn.map(_.tasks.toDouble).sum / per,
        "store.files_written_per_tick" -> files / per,
        "state.alerts_fired" -> fired.toDouble,
        "state.alerts_suppressed" -> (failedRuns - fired).toDouble,
        "store.job_data_files" -> Fs.dataFiles(new File(jobData)).size.toDouble)
    }

    Outcome(
      setupS = buildS + warmS,
      latenciesMs = ops.map(_._1),
      units = Monitors.toDouble * timedTicks,
      timedS = timedS,
      attempted = timedTicks.toLong,
      failed = ops.count(!_._2).toLong,
      checks = Seq(rowsCheck, verdictCheck, alertCheck),
      layers = layers,
      detail = Map("ticks_timed" -> timedTicks, "store_build_s" -> buildS, "warmup_s" -> warmS,
        "monitor_runs" -> Monitors * timedTicks, "alerts_sent" -> sent.size,
        "failing_runs" -> recorded.count(_._3 != JobStatus.Success)))
  }
}
