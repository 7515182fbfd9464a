package rvbench

import java.io.File
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors}

import scala.jdk.CollectionConverters._

import graft.dsl.{MonitorDsl, TargetLang}
import graft.engine.{MonitorApi, MonitorApiServer, Planner, Scheduler}
import graft.state.AlertSinks
import graft.store.MetricSource

/** api_mix: `MonitorApiServer` on loopback with a bearer token, driven by
  * two closed-loop clients (a UI user waits for each reply). Seeded mix:
  * 50% evaluate, 25% render over 1-24 h, 15% backtest over 1-3 days at a
  * 60-minute step, 10% jobs/latest over a job_data tree that set-up
  * writes through the scheduler. One operation is one request; a non-200
  * reply is a failure. */
object ApiMix extends Workload {
  val name = "api_mix"
  val Clients = 2
  val Token = "rvbench-token"

  sealed trait Req { def route: String }
  final case class Evaluate(specJson: String, now: Timestamp) extends Req { val route = "evaluate" }
  final case class Render(target: String, from: Timestamp, until: Timestamp) extends Req {
    val route = "render" }
  final case class Backtest(specJson: String, from: Timestamp, until: Timestamp) extends Req {
    val route = "backtest" }
  case object Latest extends Req { val route = "latest" }

  final case class Done(client: Int, req: Req, ms: Double, code: Int, body: String,
      direct: Option[Direct])
  final case class Direct(ms: Double, body: String, parseMs: Double, planMs: Double,
      dslUs: Double, rows: Int, tag: String)

  private val Step = 60

  /** The route order: 50% evaluate, 25% render, 15% backtest, 10% latest,
    * spread evenly, with fixed render and backtest spans. Client c starts
    * at offset 10c, so every run sends the same mix of work, and the first
    * four requests of the two clients (all a traced run gets to) cover every
    * route. The seed draws the specs' paths and thresholds, and the times. */
  private val Pattern = "ERELEBEREREBERELEBER"
  private val RenderHours = Vector(1, 6, 24, 3, 12)
  private val BacktestDays = Vector(1, 2, 3)

  /** 16 monitors, one per target family, windows 60/360/1440 and five
    * reductions in turn, every fourth failing. */
  def pool(seed: Long): Vector[graft.model.MonitorSpec] = {
    val rnd = new scala.util.Random(seed * 131 + 3)
    Vector.tabulate(Gen.families.size)(i =>
      Gen.monitor(rnd, 1000L + i, Seq(i), Seq(60, 360, 1440)(i % 3),
        Seq("max", "mean", "sum", "p95", "count")(i % 5), fails = i % 4 == 3))
  }

  def requests(seed: Long, client: Int): Iterator[Req] = {
    val rnd = new scala.util.Random(seed * 1000003L + client)
    val specs = pool(seed)
    def hourIn(fromDay: Int, days: Int) =
      Gen.Start + fromDay * Gen.DayMs + rnd.nextInt(days * 24) * 3600000L
    Iterator.from(client * 10).map { k =>
      val n = k / Pattern.length // completed cycles, for the per-route counters
      val i = k % Pattern.length
      def nth(c: Char) = n * Pattern.count(_ == c) + Pattern.take(i).count(_ == c)
      Pattern(i) match {
        case 'E' =>
          val now = hourIn(5, 24) + rnd.nextInt(12) * 5 * 60000L
          Evaluate(Gen.specJson(specs(nth('E') % specs.size)), new Timestamp(now))
        case 'R' =>
          val r = nth('R')
          val from = hourIn(3, 24)
          val t = Gen.families((r * 3) % Gen.families.size).format(Gen.paths(rnd.nextInt(Gen.paths.size)))
          Render(t, new Timestamp(from),
            new Timestamp(from + RenderHours(r % RenderHours.size) * 3600000L))
        case 'B' =>
          val b = nth('B')
          val from = Gen.Start + (3 + rnd.nextInt(22)) * Gen.DayMs
          Backtest(Gen.specJson(specs((b * 5) % specs.size)), new Timestamp(from),
            new Timestamp(from + BacktestDays(b % BacktestDays.size) * Gen.DayMs))
        case _ => Latest
      }
    }
  }

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")

  private def http(base: String, req: Req): (Int, String) = {
    val (method, path, body) = req match {
      case Evaluate(js, now) => ("POST", s"/api/evaluate?now=${enc(now.toString)}", js)
      case Render(t, f, u) =>
        ("GET", s"/api/render?target=${enc(t)}&from=${enc(f.toString)}&until=${enc(u.toString)}", "")
      case Backtest(js, f, u) =>
        ("POST", s"/api/backtest?from=${enc(f.toString)}&until=${enc(u.toString)}&step=$Step", js)
      case Latest => ("GET", "/api/jobs/latest", "")
    }
    val c = URI.create(base + path).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setRequestProperty("Authorization", s"Bearer $Token")
    if (method == "POST") {
      c.setDoOutput(true)
      val os = c.getOutputStream
      try os.write(body.getBytes(StandardCharsets.UTF_8)) finally os.close()
    }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val text = if (in == null) "" else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    (code, text)
  }

  /** The same request through `MonitorApi` directly. The traced run also
    * times the layers under it: spec parsing, planning and DSL parsing. */
  private def direct(ctx: Ctx, source: MetricSource, jobData: String, req: Req,
      tag: String): Direct = {
    val spark = ctx.spark
    val tr = ctx.trace
    var parseMs, planMs, dslUs = 0.0
    def specOf(js: String) = {
      val (sp, s) = Setup.seconds(MonitorApi.parseSpec(spark, js))
      parseMs = s * 1000
      val (_, d) = Setup.seconds {
        sp.targets.foreach(TargetLang.parse); MonitorDsl.parse(sp.monitorExpr) }
      dslUs = d * 1e6
      sp
    }
    if (tr.enabled) req match {
      case Evaluate(js, now) =>
        val sp = specOf(js)
        planMs = Setup.seconds(Planner.plan(spark, source, sp, now).queryExecution.executedPlan)._2 * 1000
      case Backtest(js, _, _) => specOf(js)
      case Render(t, _, _) => dslUs = Setup.seconds(TargetLang.parse(t))._2 * 1e6
      case Latest => ()
    }
    tr.tagJobs(tag)
    val (body, s) = Setup.seconds(tr.span("engine", s"direct.${req.route}", tag) {
      req match {
        case Evaluate(js, now) => MonitorApi.evaluateJson(spark, source, js, now)
        case Render(t, f, u) => MonitorApi.renderJson(spark, source, t, f, u)
        case Backtest(js, f, u) => MonitorApi.backtestJson(spark, source, js, f, u, Step)
        case Latest => MonitorApi.latestRunsJson(spark, jobData)
      }
    })
    tr.tagJobs("")
    Direct(s * 1000, body, parseMs, planMs, dslUs, rowsReturned(req, body), tag)
  }

  /** Rows a reply returns: verdicts for evaluate, array elements else. */
  private def rowsReturned(req: Req, body: String): Int = {
    val arr = req match {
      case _: Evaluate => body.indexOf("\"verdicts\":") match {
        case -1 => ""
        case i => body.substring(i + 11)
      }
      case _ => body
    }
    if (arr.startsWith("[]")) 0
    else arr.split("\\},\\{").length
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val (store, buildS) = Setup.rollupStore(ctx)
    val source = MetricSource.rollup(spark, store)
    val jobData = ctx.path("job_data")

    // the job_data tree jobs/latest reads: one tick of two of tick_fleet's
    // monitors, written through the same scheduler wiring
    val (_, treeS) = Setup.seconds {
      val sched = Scheduler.forSourceWithAlerts(spark, source, jobData, ctx.path("job_errors"),
        ctx.path("alert_state"), ctx.path("deliveries"), AlertSinks.default(_ => ()))
      val first = Gen.Start + 10 * Gen.DayMs + 5 * 60000L
      TickFleet.monitors(ctx.seed).take(2).foreach(sched.register(_, java.time.Instant.ofEpochMilli(first - 60000L)))
      sched.tick(java.time.Instant.ofEpochMilli(first))
      sched.awaitIdle()
      sched.shutdown()
    }

    Setup.phase("store and job_data tree built")
    val server = new MonitorApiServer(spark, source, jobData, authToken = Some(Token)).start()
    try {
      val base = s"http://127.0.0.1:${server.address.getPort}"
      // warm-up: one request of each route, untimed
      val warm = requests(ctx.seed + 99991, 0)
      val warmS = Setup.seconds {
        Seq("evaluate", "render", "backtest", "latest").foreach { r =>
          http(base, warm.find(_.route == r).get) }
      }._2

      Setup.phase("warm-up requests done")
      val done = new ConcurrentLinkedQueue[Done]()
      val t0 = System.nanoTime()
      val deadline = t0 + (ctx.seconds * 1e9).toLong
      val threads = (0 until Clients).map { c =>
        val t = new Thread(() => {
          val reqs = requests(ctx.seed, c)
          var i = 0
          while (System.nanoTime() < deadline) {
            val req = reqs.next()
            val s = System.nanoTime()
            val (code, body) = try ctx.trace.span("api", req.route)(http(base, req))
              catch { case scala.util.control.NonFatal(e) => (-1, String.valueOf(e)) }
            val ms = (System.nanoTime() - s) / 1e6
            val d = if (ctx.trace.enabled) Some(direct(ctx, source, jobData, req, s"c$c-r$i")) else None
            done.add(Done(c, req, ms, code, body, d))
            i += 1
          }
        }, s"rvbench-client-$c")
        t.start(); t
      }
      threads.foreach(_.join())
      val timedS = (System.nanoTime() - t0) / 1e9
      val all = done.asScala.toSeq
      // traced: the direct call ran inside the loop and is not part of
      // the request's latency, but it is part of the timed region
      val directS = all.flatMap(_.direct).map(_.ms).sum / 1000 / Clients

      Setup.phase("timed loop done")
      // -- correctness: every reply body = direct MonitorApi output ---------
      // the traced run made the direct call next to each request; an
      // untraced run makes it now, once per distinct request, on as many
      // threads as there were clients
      val (recheck, recheckS) = Setup.seconds {
        if (ctx.trace.enabled) Map.empty[Req, String] else {
          val reqs = all.map(_.req).distinct
          val pool = Executors.newFixedThreadPool(Clients)
          try {
            val bodies = pool.invokeAll(reqs.map(r =>
              (() => direct(ctx, source, jobData, r, "check").body): Callable[String]).asJava)
            reqs.zip(bodies.asScala.map(_.get)).toMap
          } finally pool.shutdown()
        }
      }
      val mismatches = all.flatMap { d =>
        val want = d.direct.map(_.body).getOrElse(recheck(d.req))
        if (d.code == 200 && d.body == want) None
        else Some(s"${d.req.route} (HTTP ${d.code}): ${d.body.take(120)} vs ${want.take(120)}")
      }
      val bodyCheck = Check("reply bodies = direct MonitorApi output", mismatches.isEmpty && all.nonEmpty,
        if (mismatches.isEmpty) s"${all.size} replies agree"
        else s"${mismatches.size} differ: ${mismatches.take(3).mkString("; ")}")

      val layers = if (!ctx.trace.enabled) Map.empty[String, Double] else {
        ctx.trace.drain()
        val tr = ctx.trace
        def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
        def route(r: String) = p50(all.filter(_.req.route == r).map(_.ms))
        val ds = all.flatMap(_.direct)
        val tags = ds.map(_.tag).toSet
        val tagged = tr.jobSeq.filter(j => tags.contains(j.tag))
        val scanned = tr.stagesOf(tagged).map(_.recordsRead.toDouble).sum
        Map(
          "api.evaluate_p50_ms" -> route("evaluate"), "api.render_p50_ms" -> route("render"),
          "api.backtest_p50_ms" -> route("backtest"), "api.latest_p50_ms" -> route("latest"),
          "engine.parse_spec_ms" -> p50(ds.filter(_.parseMs > 0).map(_.parseMs)),
          "engine.plan_ms" -> p50(ds.filter(_.planMs > 0).map(_.planMs)),
          "dsl.parse_us" -> p50(ds.filter(_.dslUs > 0).map(_.dslUs)),
          "api.http_ms" -> p50(all.flatMap(d => d.direct.map(x => d.ms - x.ms))),
          "spark.jobs_per_request" -> (if (ds.isEmpty) 0.0 else tagged.size.toDouble / ds.size),
          "store.rows_scanned_per_row_returned" -> scanned / math.max(1, ds.map(_.rows).sum),
          "store.job_data_files" -> Fs.dataFiles(new File(jobData)).size.toDouble)
      }

      Outcome(
        setupS = buildS + treeS + warmS,
        latenciesMs = all.map(_.ms),
        units = all.size.toDouble,
        timedS = timedS - directS,
        attempted = all.size.toLong,
        failed = all.count(_.code != 200).toLong,
        checks = Seq(bodyCheck),
        layers = layers,
        detail = Map("store_build_s" -> buildS, "job_data_tree_s" -> treeS, "warmup_s" -> warmS,
          "recheck_s" -> recheckS,
          "requests" -> all.groupBy(_.req.route).map { case (r, xs) => r -> xs.size },
          "job_data_files" -> Fs.dataFiles(new File(jobData)).size))
    } finally server.stop()
  }
}
