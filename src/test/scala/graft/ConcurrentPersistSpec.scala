package graft
import java.sql.Timestamp
/** Regression guard for the shared-committer race: two jobs appending
  * through one table root share `_temporary/0/` staging and can delete
  * each other's files mid-commit; Runner's JVM-wide persist lock
  * serializes the appends. */
class ConcurrentPersistSpec extends SparkTestBase {
  test("concurrent runOnce for different jobs commits safely") {
    val tmp = tempDir("graft-conc-probe")
    val source = graft.store.MetricSource.events(spark, "/root/testdata/sf0.001")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1L to 4L).map { id =>
      new Thread(() => {
        try {
          graft.engine.Runner.runOnce(spark, source,
            graft.model.MonitorSpec(id, s"p$id", Seq("events.*"), 360, None,
              "* * * * *", "mean > 0"),
            Timestamp.valueOf("2024-01-15 12:00:00"),
            s"$tmp/job_data", s"$tmp/job_errors")
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    // all four runs landed, one per job partition
    assert(spark.read.parquet(s"$tmp/job_data").count() == 4)
  }
}
