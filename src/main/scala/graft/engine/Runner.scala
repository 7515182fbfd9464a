package graft.engine

import java.sql.Timestamp

import scala.util.{Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{JobStatus, MonitorSpec, Verdict}
import graft.store.MetricSource

/** Monitor run orchestration — E1 (scheduled run) and E2 (interactive
  * test) from SURVEY §3, minus the Rails host.
  *
  * Pure-plan vs side-effect separation mirrors the reference's
  * `--no-alerts` split (reference Rakefile:4-7): [[evaluate]] is a pure
  * function of (source, spec, now) usable for backtests and UI tests;
  * [[runBatch]] evaluates AND appends the `job_data` / `job_errors` twins.
  * Verdict collect() is bounded by series count — never data volume.
  *
  * E1 costs a fixed number of Spark actions per tick, whatever the
  * number K of due monitors: every monitor's plan
  * ([[Planner.planWithPoints]] — verdicts AND chart payload from one
  * aggregation) is projected to one shape and unioned, so the tick is
  * ONE collect, then ONE `job_data` append and at most ONE `job_errors`
  * append, both `partitionBy("job_id")` at the table root over
  * driver-local rows (neither write touches the store). [[runOnce]] is
  * the K = 1 case of the same code. The hot path takes a
  * [[MetricSource]] so the window bounds reach the storage scan
  * (PushedFilters), not a post-conversion filter.
  */
object Runner {

  /** One chart point; `value` boxed because target functions
    * (transformNull inverses, align joins) can emit nulls. */
  final case class ChartPoint(ts: Timestamp, value: java.lang.Double)
  final case class ChartSeries(metric: String, points: Seq[ChartPoint])

  /** Driver-side `job_data` row; `chart` becomes the JSON `data` column
    * (reference db/schema.rb:29-36). This and [[JobErrorRow]] are public
    * because Spark's generated encoder code calls their accessors. */
  final case class JobDataRow(window_end: Timestamp, status: String,
      chart: Seq[ChartSeries], job_id: Long)
  /** Driver-side `job_errors` row (reference db/schema.rb:38-48). */
  final case class JobErrorRow(at: Timestamp, message: String, status: String,
      job_id: Long)

  /** E2 / pure evaluation: verdict rows only, no side effects. */
  def evaluate(spark: SparkSession, source: MetricSource, spec: MonitorSpec,
      now: Timestamp): Seq[Verdict] =
    shaped(Planner.plan(spark, source, spec, now), withPoints = false)
      .collect().toSeq.map(toVerdict(spec, _))

  def evaluate(spark: SparkSession, store: DataFrame, spec: MonitorSpec,
      now: Timestamp): Seq[Verdict] =
    evaluate(spark, MetricSource.ofFrame(store), spec, now)

  /** Every plan projected to the one shape the decoder reads:
    * (job_id, metric, window_end, observed, passed[, points]), where
    * `observed` is the first `red_*` column in name order. */
  private def shaped(plan: DataFrame, withPoints: Boolean): DataFrame = {
    val observed = plan.columns.filter(_.startsWith("red_")).min
    val cols = Seq(col("job_id"), col("metric"), col("window_end"),
      col(observed).cast("double").as("observed"), col("passed")) ++
      (if (withPoints) Seq(col("points")) else Nil)
    plan.select(cols: _*)
  }

  /** The one verdict decoder over a [[shaped]] row. */
  private def toVerdict(spec: MonitorSpec, r: Row): Verdict = {
    val passed = !r.isNullAt(4) && r.getBoolean(4)
    Verdict(
      jobId = spec.id,
      metric = r.getString(1),
      windowEnd = r.getTimestamp(2),
      observed = if (r.isNullAt(3)) None else Some(r.getDouble(3)),
      passed = passed,
      message = if (passed) "" else s"${spec.name}: ${spec.monitorExpr} violated")
  }

  /** Chart payload of one job: points merged per metric across targets
    * (a metric matched by two targets charts once), sorted by ts for a
    * deterministic payload. */
  private def chartOf(rows: Seq[Row]): Seq[ChartSeries] =
    rows
      .map { r =>
        val pts = r.getSeq[Row](5).map { p =>
          ChartPoint(p.getTimestamp(0), p.get(1).asInstanceOf[java.lang.Double])
        }
        (r.getString(1), pts)
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (m, grps) =>
        ChartSeries(m, grps.flatMap(_._2).sortBy(_.ts.getTime)) }

  /** Overall job status from per-series verdicts: any failing series
    * fails the job (a raise in the reference's sandbox fails the run);
    * an empty series set is an error (bad target / no data). */
  def jobStatus(verdicts: Seq[Verdict]): String =
    if (verdicts.isEmpty) JobStatus.Error
    else if (verdicts.forall(_.passed)) JobStatus.Success
    else JobStatus.Failed

  /** E1: evaluate + persist one monitor. Returns verdicts. Alert
    * dispatch is a side-effecting sink fed by the returned rows —
    * deliberately OUT of the query plan (SURVEY §2.1 S7). */
  def runOnce(spark: SparkSession, source: MetricSource, spec: MonitorSpec,
      now: Timestamp, jobDataPath: String, jobErrorsPath: String): Seq[Verdict] =
    runBatch(spark, source, Seq(spec), now, jobDataPath, jobErrorsPath)(spec.id)

  def runOnce(spark: SparkSession, store: DataFrame, spec: MonitorSpec,
      now: Timestamp, jobDataPath: String, jobErrorsPath: String): Seq[Verdict] =
    runOnce(spark, MetricSource.ofFrame(store), spec, now, jobDataPath, jobErrorsPath)

  /** One job's evaluated run, before persistence; `failure` is why its
    * plan could not be built. */
  private final case class Run(spec: MonitorSpec, verdicts: Seq[Verdict],
      chart: Seq[ChartSeries], failure: Option[Throwable]) {
    def status: String = jobStatus(verdicts)
  }

  private val persistLock = new Object

  /** E1 batched (the thousands-of-monitors cost model): the K due jobs of
    * one tick cost ONE plan, ONE collect and one append per table.
    *
    *  - Scan: for K > 1 the union of the windows is scanned once and
    *    persisted; each job's plan clips its own (narrower) window from
    *    the cached slice. K = 1 keeps its single direct scan. The slice is
    *    window-bounded (KB-to-MB per job even at 100 TB of history), so
    *    pinning it for the batch is safe.
    *  - Plan: each job's plan is built on its own; a plan that fails to
    *    build (bad expression or target) leaves the union and its job is
    *    recorded as an `error` run whose `job_errors` row carries the
    *    exception message, so one bad spec cannot sink the tick.
    *  - Persist: one `job_data` row per job and one `job_errors` row per
    *    failing series (plus the build failures), each table appended
    *    once, `partitionBy("job_id")` at its root: one file per job per
    *    tick in the `job_id=N/` layout. Root-level appends share the
    *    committer's `_temporary/0/` staging, so concurrent appends (other
    *    batches, per-job runs) would delete each other's files mid-commit;
    *    every append therefore runs under one JVM-wide lock. The rows are
    *    metadata-sized, so serializing them is cheap.
    *
    * Results are identical to K independent [[evaluate]] calls
    * (SchedulerSpec proves verdict equality and the single source scan). */
  def runBatch(spark: SparkSession, source: MetricSource, specs: Seq[MonitorSpec],
      now: Timestamp, jobDataPath: String, jobErrorsPath: String): Map[Long, Seq[Verdict]] = {
    if (specs.isEmpty) return Map.empty
    def until(sp: MonitorSpec) = sp.toDate.getOrElse(now)
    val slice = if (specs.size < 2) None else Some(source.scan(
      new Timestamp(specs.map(sp => until(sp).getTime - sp.minutes * 60000L).min),
      new Timestamp(specs.map(until(_).getTime).max)).persist())
    val shared = slice.fold(source)(MetricSource.ofFrame)
    val runs = try {
      val plans = specs.map(sp =>
        sp -> Try(shaped(Planner.planWithPoints(spark, shared, sp, now), withPoints = true)))
      val built = plans.collect { case (_, Success(df)) => df }
      val rows =
        if (built.isEmpty) Map.empty[Long, Seq[Row]]
        else built.reduce(_ unionByName _).collect().toSeq.groupBy(_.getLong(0))
      plans.map { case (sp, plan) =>
        val rs = rows.getOrElse(sp.id, Nil)
        Run(sp, rs.map(toVerdict(sp, _)), chartOf(rs), plan.failed.toOption)
      }
    } finally slice.foreach(_.unpersist())

    import spark.implicits._
    val jobData = runs.map(r =>
      JobDataRow(r.verdicts.headOption.map(_.windowEnd).orNull, r.status, r.chart, r.spec.id))
    val jobErrors = runs.flatMap { r =>
      r.verdicts.filterNot(_.passed).map(v =>
        JobErrorRow(v.windowEnd, v.message, r.status, r.spec.id)) ++
        r.failure.map(e => JobErrorRow(until(r.spec),
          Option(e.getMessage).getOrElse(e.toString), r.status, r.spec.id))
    }
    persistLock.synchronized {
      append(jobData.toDF()
        .select(col("window_end"), col("status"), to_json(col("chart")).as("data"), col("job_id")),
        jobDataPath)
      if (jobErrors.nonEmpty) append(jobErrors.toDF(), jobErrorsPath)
    }
    runs.map(r => r.spec.id -> r.verdicts).toMap
  }

  private def append(rows: DataFrame, path: String): Unit =
    rows.coalesce(1).write.mode(SaveMode.Append).partitionBy("job_id").parquet(path)

  /** E3 read path: latest persisted run per job (O1). */
  def latestRuns(spark: SparkSession, jobDataPath: String): DataFrame = {
    val runs = spark.read.parquet(jobDataPath)
    runs.groupBy(col("job_id"))
      .agg(max_by(struct(col("window_end"), col("status"), col("data")),
        col("window_end")).as("r"))
      .select(col("job_id"), col("r.window_end").as("window_end"),
        col("r.status").as("status"), col("r.data").as("data"))
  }
}
