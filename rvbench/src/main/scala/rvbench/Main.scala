package rvbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload gets: the session, a fresh run root, the seed,
  * the measuring time and the recorder (off in untraced runs). */
final case class Ctx(spark: SparkSession, root: File, seed: Long, seconds: Double, trace: Trace) {
  def dir(name: String): File = { val f = new File(root, name); f.mkdirs(); f }
  def path(name: String): String = new File(root, name).getPath
}

/** One correctness check: a mismatch fails the run. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload measured. `latenciesMs` holds one sample per timed
  * operation; `units` is what throughput counts (monitor runs, requests,
  * events); `layers` are the traced run's per-layer metrics. */
final case class Outcome(
    setupS: Double,
    latenciesMs: Seq[Double],
    units: Double,
    timedS: Double,
    attempted: Long,
    failed: Long,
    checks: Seq[Check],
    layers: Map[String, Double],
    detail: Map[String, Any])

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

object Main {

  val workloads: Map[String, Workload] =
    Seq(TickFleet, ApiMix, IngestReplay).map(w => w.name -> w).toMap

  /** The per-layer metric names every traced run reports (a metric that
    * does not apply to a workload reads 0), with their units. */
  val layerUnits: Seq[(String, String)] = Seq(
    "engine.persist_ms" -> "ms", "engine.eval_ms" -> "ms", "engine.batch_scan_ms" -> "ms",
    "engine.driver_ms" -> "ms", "state.throttle_ms" -> "ms", "state.dispatch_ms" -> "ms",
    "spark.jobs_per_tick" -> "count", "spark.stages_per_tick" -> "count",
    "spark.tasks_per_tick" -> "count", "store.files_written_per_tick" -> "count",
    "state.alerts_fired" -> "count", "state.alerts_suppressed" -> "count",
    "api.evaluate_p50_ms" -> "ms", "api.render_p50_ms" -> "ms", "api.backtest_p50_ms" -> "ms",
    "api.latest_p50_ms" -> "ms", "engine.parse_spec_ms" -> "ms", "engine.plan_ms" -> "ms",
    "dsl.parse_us" -> "us", "api.http_ms" -> "ms", "spark.jobs_per_request" -> "count",
    "store.rows_scanned_per_row_returned" -> "ratio", "store.job_data_files" -> "count",
    "streaming.ingest_call_ms" -> "ms", "streaming.cohort_call_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.start_overhead_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_bytes" -> "bytes",
    "streaming.late_rows_dropped" -> "count", "store.rollup_files" -> "count",
    "store.rollup_bytes" -> "bytes", "jvm.gc_ms" -> "ms",
    "hygiene.tmp_dirs_leaked" -> "count", "trace.latency_p50_ms" -> "ms",
    "trace.throughput" -> "1/s")

  val e2eUnits: Seq[(String, String)] = Seq("setup_s" -> "s", "latency_p50_ms" -> "ms",
    "latency_tail_ms" -> "ms", "throughput" -> "1/s", "ok_ratio" -> "ratio",
    "peak_rss_mb" -> "MB")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      root: File)

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = need("workload")
    require(workloads.contains(wl), s"unknown workload '$wl' (${workloads.keys.mkString(", ")})")
    Opts(wl, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("root")).getAbsoluteFile)
  }

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The session the engine documents: local[nproc], UTC, FAIR pools for
    * the scheduler, shuffle partitions = cores, a large codegen cache. */
  def session(root: File): SparkSession = {
    val spark = SparkSession.builder()
      .appName("rvbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getPath)
      .config("spark.local.dir", new File(root, "spark-local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set (VmHWM) in MB; the JVM's committed memory where
    * /proc is unavailable. */
  private def peakRssMb: Double = {
    val status = new File("/proc/self/status")
    val hwm = if (status.canRead)
      scala.io.Source.fromFile(status).getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
    else None
    hwm.getOrElse {
      val m = ManagementFactory.getMemoryMXBean
      (m.getHeapMemoryUsage.getCommitted + m.getNonHeapMemoryUsage.getCommitted) / 1048576.0
    }
  }

  /** Temp directories the program or Spark left in java.io.tmpdir. */
  private def leakedTmpDirs(): Int = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).toSeq.flatten.count { f =>
      f.isDirectory && Seq("graft-", "spark-", "blockmgr-", "temporary-").exists(f.getName.startsWith)
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = try parse(args) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"rvbench: ${e.getMessage}")
        sys.exit(2)
    }
    opts.root.mkdirs()
    Setup.phase("start")
    val t0 = System.nanoTime()
    val spark = session(opts.root)
    val sessionS = (System.nanoTime() - t0) / 1e9
    Setup.phase("session up")
    val trace = new Trace(spark, opts.trace)
    val ctx = Ctx(spark, opts.root, opts.seed, opts.seconds, trace)
    val gc0 = gcMs
    val out = workloads(opts.workload).run(ctx)
    val gc = gcMs - gc0
    Setup.phase("workload done")
    trace.close()
    spark.stop()
    Setup.phase("session stopped")
    val leaked = leakedTmpDirs()

    val n = out.latenciesMs.length
    val tail = if (n > 0) Stats.tail(out.latenciesMs) else Stats.Tail(0, "none", 0, 0, "no operations")
    val p50 = if (n > 0) Stats.median(out.latenciesMs) else 0.0
    val throughput = if (out.timedS > 0) out.units / out.timedS else 0.0
    val okRatio = if (out.attempted > 0) 1.0 - out.failed.toDouble / out.attempted else 0.0
    val e2e = Map(
      "setup_s" -> (sessionS + out.setupS), "latency_p50_ms" -> p50,
      "latency_tail_ms" -> tail.value, "throughput" -> throughput, "ok_ratio" -> okRatio,
      "peak_rss_mb" -> peakRssMb)
    val layers = (out.layers ++ Map("jvm.gc_ms" -> gc.toDouble,
      "hygiene.tmp_dirs_leaked" -> leaked.toDouble, "trace.latency_p50_ms" -> p50,
      "trace.throughput" -> throughput)).withDefaultValue(0.0)
    val correct = out.checks.nonEmpty && out.checks.forall(_.ok)

    out.checks.foreach(c =>
      println(s"[check] ${if (c.ok) "ok  " else "FAIL"} ${c.name}: ${c.detail}"))
    val detail = Map(
      "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
      "trace" -> opts.trace, "nproc" -> cpus,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION, "session_s" -> sessionS,
      "operations" -> n, "tail_percentile" -> tail.percentile, "tail_beyond" -> tail.beyond,
      "tail_note" -> tail.note, "fail_ratio" -> (1.0 - okRatio), "jvm_gc_ms" -> gc,
      "hygiene_tmp_dirs_leaked" -> leaked,
      "e2e" -> e2e, "layers" -> (if (opts.trace) layers else Map.empty)) ++ out.detail
    if (opts.trace) println("[spans] " + Stats.json(trace.spanSeq.sortBy(_.id).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name, "tag" -> s.tag,
      "start_ms" -> s.wallStartMs, "ms" -> s.ms))))
    println("[detail] " + Stats.json(detail))

    val metrics =
      if (opts.trace) layerUnits.map { case (k, u) => k -> Map("value" -> layers(k), "unit" -> u) }
      else e2eUnits.map { case (k, u) => k -> Map("value" -> e2e(k), "unit" -> u) }
    println(Stats.json(scala.collection.immutable.ListMap(
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
    System.out.flush()
    sys.exit(0)
  }
}
