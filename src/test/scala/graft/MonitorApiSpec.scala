package graft

import java.sql.Timestamp

import graft.engine.{MonitorApi, MonitorApiServer, Runner}
import graft.store.MetricSource

/** E2/E3 JSON edge: spec-from-JSON, verdicts-to-JSON, latest runs,
  * render. Round-trips through Spark's own JSON reader so the output is
  * verified machine-parseable, not just string-shaped. */
class MonitorApiSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val source = MetricSource.events(spark, dir)
  private val now = Timestamp.valueOf("2024-01-15 12:00:00")

  private def parseJson(json: String) =
    spark.read.json(Seq(json).toDS())

  test("parseSpec: full document, defaults, and rejection of junk") {
    val spec = MonitorApi.parseSpec(spark,
      """{"id": 3, "name": "api-mon", "targets": ["events.*"], "minutes": 720,
         "toDate": "2024-01-15 12:00:00", "cronExpr": "*/10 * * * *",
         "monitorExpr": "mean > 0", "alertKeys": ["mailto:a@b"]}""")
    assert(spec.id == 3 && spec.name == "api-mon" && spec.minutes == 720)
    assert(spec.toDate.contains(now) && spec.alertKeys == Seq("mailto:a@b"))
    val minimal = MonitorApi.parseSpec(spark,
      """{"id": 1, "targets": ["events.click"], "minutes": 60, "monitorExpr": "count >= 0"}""")
    assert(minimal.name == "job 1" && minimal.toDate.isEmpty && minimal.active)
    intercept[IllegalArgumentException] {
      MonitorApi.parseSpec(spark, """{"id": 1}""") // missing required fields
    }
  }

  test("evaluateJson: verdict payload is valid JSON with per-series rows") {
    val out = MonitorApi.evaluateJson(spark, source,
      """{"id": 5, "targets": ["events.*"], "minutes": 720,
         "toDate": "2024-01-15 12:00:00", "monitorExpr": "mean > 0 && count > 0"}""",
      now)
    val doc = parseJson(out).collect()(0)
    assert(doc.getAs[Long]("jobId") == 5L)
    assert(doc.getAs[String]("status") == "success")
    val verdicts = doc.getSeq[org.apache.spark.sql.Row](doc.fieldIndex("verdicts"))
    assert(verdicts.nonEmpty)
    assert(verdicts.forall(_.getAs[Boolean]("passed")))
    assert(verdicts.map(_.getAs[String]("metric")) ==
      verdicts.map(_.getAs[String]("metric")).sorted)
  }

  test("evaluateJson: a bad target surfaces as status=error, not an exception") {
    val out = MonitorApi.evaluateJson(spark, source,
      """{"id": 6, "targets": ["nosuchfn(events.*)"], "minutes": 60,
         "monitorExpr": "mean > 0"}""", now)
    val doc = parseJson(out).collect()(0)
    assert(doc.getAs[String]("status") == "error")
    assert(doc.getAs[String]("error").contains("nosuchfn"))
  }

  test("latestRunsJson: one row per job with the chart payload embedded") {
    val tmp = tempDir("graft-api")
    val spec = MonitorApi.parseSpec(spark,
      """{"id": 11, "targets": ["events.*"], "minutes": 720,
         "toDate": "2024-01-15 12:00:00", "monitorExpr": "mean > 0"}""")
    Runner.runOnce(spark, source, spec, now, s"$tmp/job_data", s"$tmp/job_errors")
    val out = MonitorApi.latestRunsJson(spark, s"$tmp/job_data")
    val rows = parseJson(out).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Number]("job_id").longValue == 11L)
    assert(rows(0).getAs[String]("status") == "success")
    assert(rows(0).getAs[String]("data").contains("\"metric\""))
  }

  test("backtestJson: sweep rows come back ordered with per-window verdicts") {
    val out = MonitorApi.backtestJson(spark, source,
      """{"id": 12, "targets": ["events.*"], "minutes": 720,
         "monitorExpr": "mean > 0 && count > 0"}""",
      Timestamp.valueOf("2024-01-10 06:00:00"),
      Timestamp.valueOf("2024-01-10 18:00:00"), stepMinutes = 240)
    val rows = parseJson(out).collect()
    assert(rows.length >= 8) // 4 grid ends × several metrics
    assert(rows.forall(_.getAs[Boolean]("passed")))
    val ends = rows.map(_.getAs[String]("window_end")).distinct.sorted
    assert(ends.head.startsWith("2024-01-10 06:00") && ends.last.startsWith("2024-01-10 18:00"))
  }

  test("renderJson: target compiles and series come back as (metric, points)") {
    val out = MonitorApi.renderJson(spark, source, "summarize(events.*, \"1h\", \"sum\")",
      Timestamp.valueOf("2024-01-15 00:00:00"), now)
    val rows = parseJson(out).collect()
    assert(rows.length >= 2) // several event metrics
    val points = parseJson(rows(0).getAs[String]("points")).collect()
    assert(points.length > 0)
  }

  test("HTTP host: authenticated routes serve the full JSON surface over loopback") {
    import java.net.{HttpURLConnection, URI}
    def call(url: String, method: String, token: Option[String],
        body: Option[String]): (Int, String) = {
      val c = new URI(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestMethod(method)
      token.foreach(t => c.setRequestProperty("Authorization", s"Bearer $t"))
      body.foreach { b =>
        c.setDoOutput(true)
        val os = c.getOutputStream
        try os.write(b.getBytes("UTF-8")) finally os.close()
      }
      val code = c.getResponseCode
      val is = if (code < 400) c.getInputStream else c.getErrorStream
      val text = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
      c.disconnect()
      (code, text)
    }
    val tmp = tempDir("graft-api-http")
    val spec = graft.model.MonitorSpec(id = 21, name = "http", targets = Seq("events.*"),
      minutes = 720, toDate = None, cronExpr = "* * * * *", monitorExpr = "count > 0")
    Runner.runOnce(spark, source, spec, now, s"$tmp/job_data", s"$tmp/job_errors")
    val srv = new MonitorApiServer(spark, source, s"$tmp/job_data",
      authToken = Some("sekrit")).start()
    try {
      val base = s"http://127.0.0.1:${srv.address.getPort}"
      val specJson = """{"id": 21, "targets": ["events.*"], "minutes": 720,
        "monitorExpr": "count > 0"}"""

      // auth is enforced on every route
      assert(call(s"$base/api/evaluate", "POST", None, Some(specJson))._1 == 401)
      assert(call(s"$base/api/jobs/latest", "GET", Some("wrong"), None)._1 == 401)

      val (c1, eval) = call(s"$base/api/evaluate?now=2024-01-15%2012:00:00",
        "POST", Some("sekrit"), Some(specJson))
      assert(c1 == 200 && eval.contains("\"status\":\"success\"") &&
        eval.contains("\"verdicts\""), eval.take(200))

      val (c2, latest) = call(s"$base/api/jobs/latest", "GET", Some("sekrit"), None)
      assert(c2 == 200 && latest.contains("\"job_id\":21"), latest.take(200))

      val (c3, render) = call(s"$base/api/render?target=" +
        java.net.URLEncoder.encode("summarize(events.*, \"1h\", \"sum\")", "UTF-8") +
        "&from=2024-01-15%2000:00:00&until=2024-01-15%2012:00:00",
        "GET", Some("sekrit"), None)
      assert(c3 == 200 && render.contains("\"points\""), render.take(200))

      val (c4, bt) = call(s"$base/api/backtest?from=2024-01-10%2006:00:00" +
        "&until=2024-01-10%2018:00:00&step=240", "POST", Some("sekrit"), Some(specJson))
      assert(c4 == 200 && bt.contains("\"window_end\""), bt.take(200))

      // bad input is a 400 with a JSON error, not a hung socket
      val (c5, err) = call(s"$base/api/render?from=2024-01-15%2000:00:00" +
        "&until=2024-01-15%2012:00:00", "GET", Some("sekrit"), None)
      assert(c5 == 400 && err.contains("target"), s"$c5 $err")
    } finally srv.stop()
  }
}
