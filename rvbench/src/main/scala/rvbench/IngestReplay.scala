package rvbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.state.AlertSinks
import graft.streaming.{Ingest, StreamingRunner}

/** ingest_replay: the event log cut into 30 day files, with a seeded 1%
  * of events held back one day so the watermark must drop them as late.
  * One operation lands one file, then drains it with
  * `Ingest.runAvailableNow` into the rollup store and with one
  * `StreamingRunner.startMultiplexed` cohort of 16 monitors (AvailableNow)
  * into alerts; latency runs from landing to both queries committed. */
object IngestReplay extends Workload {
  val name = "ingest_replay"
  val LateShare = 0.01
  val CohortSize = 16
  val CohortMinutes = 60
  val Slide = "30 minutes"

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    // the day file of each event; held-back events sit in the next day's
    // file, drawn from the first 23 hours so they are behind the watermark
    val events = Gen.events(ctx.seed, LateShare)
    val staged = ctx.dir("staged")
    val files = events.groupBy(_.file).toSeq.sortBy(_._1).map { case (d, evs) =>
      val f = new File(staged, f"d$d%02d.parquet")
      Gen.writeFile(evs, f)
      (d, f, evs.size.toLong, evs.count(_.late).toLong)
    }
    Setup.phase("day files written")
    // a cohort shares one window length; streaming aggregations keep to
    // the reductions with a plain state; every fourth monitor fails
    val rnd = new scala.util.Random(ctx.seed * 17 + 5)
    val specs = (0 until CohortSize).map(i =>
      Gen.monitor(rnd, 500L + i, Seq(i % Gen.families.size), CohortMinutes,
        Seq("max", "mean", "sum", "count")(i % 4), fails = i % 4 == 3))
    val sent = new ConcurrentLinkedQueue[String]()

    val src = ctx.dir("src")
    val Seq(store, storeCkpt, cohortCkpt, alerts, alertState, deliveries) =
      Seq("rollup", "rollup-ckpt", "cohort-ckpt", "alerts", "alert-state", "deliveries").map(ctx.path)

    def land(f: File, d: Int): Unit = {
      // day=NN directories: the file source lists partition directories
      val dest = new File(src, f"day=$d%02d/events.parquet")
      dest.getParentFile.mkdirs()
      Files.move(f.toPath, dest.toPath, StandardCopyOption.ATOMIC_MOVE)
    }

    var cohortIds = Set.empty[String]
    /** Drain whatever has landed: ingest, then the monitor cohort. */
    def drain(): (Double, Double) = {
      val (_, ingestS) = Setup.seconds(ctx.trace.span("streaming", "ingest") {
        Ingest.runAvailableNow(spark, src.getPath, store, storeCkpt) })
      val (_, cohortS) = Setup.seconds(ctx.trace.span("streaming", "cohort") {
        val stream = spark.readStream
          .schema(Ingest.eventsSchema(TimestampType))
          .option("pathGlobFilter", "events.parquet")
          .parquet(src.getPath)
          .select(concat(lit("events."), col("event_type")).as("metric"), col("ts"), col("value"))
        val q = StreamingRunner.startMultiplexed(spark, stream, specs, Slide,
          alerts, alertState, cohortCkpt, sinks = AlertSinks.default(s => { sent.add(s); () }),
          deliveryPath = Some(deliveries))
        cohortIds += q.id.toString
        q.awaitTermination()
      })
      (ingestS * 1000, cohortS * 1000)
    }

    // set-up: land day 0 and drain it (the timed loop continues the same
    // checkpoints)
    land(files.head._2, files.head._1)
    val (_, setupS) = Setup.seconds(drain())
    Setup.phase("set-up drain done")
    val calls = Seq.newBuilder[(Int, Double, Double, Long, Long)]
    val remaining = files.tail
    val (ops, timedS) = Setup.closedLoop(ctx.seconds, maxOps = remaining.size) { i =>
      val (d, f, _, _) = remaining(i)
      val w0 = System.currentTimeMillis()
      land(f, d)
      val (ingestMs, cohortMs) = drain()
      calls += ((d, ingestMs, cohortMs, w0, System.currentTimeMillis()))
      true
    }
    val landed = files.take(1 + ops.size)
    val timedEvents = landed.tail.map(_._3).sum

    Setup.phase("timed loop done")
    // -- correctness --------------------------------------------------------
    // the batch twin reads the landed files and leaves out the held-back ids
    val lateIds = events.filter(e => e.late && e.file <= landed.last._1).map(_.id)
    val batch = spark.read.parquet(src.getPath).filter(!col("event_id").isin(lateIds: _*))
      .select(concat(lit("events."), col("event_type")).as("metric"),
        date_trunc("minute", col("ts")).as("ts"), col("value"))
      .groupBy("metric", "ts")
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_v"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
    val streamed = spark.read.parquet(store).drop("date")
    val lastDayStart = new Timestamp(Gen.Start + landed.last._1 * Gen.DayMs - 3 * 60000L)
    val joined = streamed.as("s").join(batch.as("b"), Seq("metric", "ts"), "left")
    val nStreamed = streamed.count()
    val wrong = joined.filter(col("b.n").isNull || col("s.n") =!= col("b.n") ||
      col("s.sum_v") =!= col("b.sum_v") || col("s.min_v") =!= col("b.min_v") ||
      col("s.max_v") =!= col("b.max_v")).count()
    val missing = batch.filter(col("ts") < lit(lastDayStart))
      .join(streamed, Seq("metric", "ts"), "left_anti").count()
    val rollupCheck = Check("closed-window rollups = batch aggregate of on-time events",
      wrong == 0 && missing == 0 && nStreamed > 0,
      s"$nStreamed rollup rows, $wrong differ, $missing closed windows missing")
    val heldBack = landed.map(_._4).sum
    // Spark counts watermark drops at the stateful operator, after the
    // aggregation has merged the rows of one (metric, minute) key in a
    // batch; each landed file is one batch. The drops come from the
    // StreamingQueryListener, which only the traced run registers, so
    // this check runs in the traced run only.
    val lateKeys = events.filter(e => e.late && e.file <= landed.last._1)
      .groupBy(_.file).values.map(_.map(e => (e.kind, e.tsMs / 60000L)).distinct.size.toLong).sum
    Setup.phase("checks done")

    val (layers, lateCheck) = if (!ctx.trace.enabled) (Map.empty[String, Double], Nil) else {
      ctx.trace.drain()
      val tr = ctx.trace
      val cs = calls.result()
      val prog = tr.progressSeq
      val ingestProg = prog.filterNot(x => cohortIds(x.queryId))
      val cohortProg = prog.filter(x => cohortIds(x.queryId))
      val timedFrom = cs.headOption.map(_._4).getOrElse(Long.MaxValue)
      def timed(xs: Seq[Trace.Progress]) = xs.filter(_.startMs >= timedFrom)
      val per = math.max(1, cs.size).toDouble
      def dur(xs: Seq[Trace.Progress], k: String) = timed(xs).map(_.durations.getOrElse(k, 0L).toDouble).sum / per
      val trig = (timed(ingestProg) ++ timed(cohortProg)).map(_.durations.getOrElse("triggerExecution", 0L)).sum
      val dropped = ingestProg.map(_.dropped).sum
      val lastState = Seq(ingestProg, cohortProg).flatMap(xs => timed(xs).sortBy(_.startMs).lastOption)
      val rollupFiles = Fs.dataFiles(new File(store))
      (Map(
        "streaming.ingest_call_ms" -> cs.map(_._2).sum / per,
        "streaming.cohort_call_ms" -> cs.map(_._3).sum / per,
        "streaming.add_batch_ms" -> (dur(ingestProg, "addBatch") + dur(cohortProg, "addBatch")),
        "streaming.wal_commit_ms" -> (dur(ingestProg, "walCommit") + dur(cohortProg, "walCommit")),
        "streaming.query_planning_ms" ->
          (dur(ingestProg, "queryPlanning") + dur(cohortProg, "queryPlanning")),
        "streaming.start_overhead_ms" -> (cs.map(c => c._2 + c._3).sum - trig) / per,
        "streaming.state_rows" -> lastState.map(_.stateRows.toDouble).sum,
        "streaming.state_bytes" -> lastState.map(_.stateBytes.toDouble).sum,
        "streaming.late_rows_dropped" -> dropped.toDouble,
        "store.rollup_files" -> rollupFiles.size.toDouble,
        "store.rollup_bytes" -> rollupFiles.map(_.length.toDouble).sum),
        Seq(Check("streaming.late_rows_dropped = held-back (metric, minute) keys",
          dropped == lateKeys,
          s"$dropped dropped by the watermark; $heldBack events held back in $lateKeys keys")))
    }

    Outcome(
      setupS = setupS,
      latenciesMs = ops.map(_._1),
      units = timedEvents.toDouble,
      timedS = timedS,
      attempted = ops.size.toLong,
      failed = ops.count(!_._2).toLong,
      checks = rollupCheck +: lateCheck,
      layers = layers,
      detail = Map("files_landed" -> landed.size, "events_timed" -> timedEvents,
        "held_back" -> heldBack, "held_back_keys" -> lateKeys, "alerts_sent" -> sent.size,
        "setup_drain_s" -> setupS))
  }
}
