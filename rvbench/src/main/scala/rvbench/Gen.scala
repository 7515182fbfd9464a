package rvbench

import java.io.File
import java.sql.Timestamp

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser

import graft.model.MonitorSpec

/** Seeded inputs. Everything the program sees is made here from the
  * workload seed: the event log, the monitor specs and the request mix.
  *
  * The event log has the shape of the repository's sf0.1 `events` table
  * (100,000 events over the 30 days of January 2024, five event types,
  * `event_id, ts, user_id, event_type, value, props`), so the rollup store
  * built from it has the sf0.1 size. */
object Gen {

  val Types: Vector[String] = Vector("click", "view", "signup", "purchase", "error")
  val Days = 30
  val EventsPerRun = 100000
  val Start: Long = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  val DayMs: Long = 86400000L

  /** One event; `file` is the day file it lands in for ingest_replay. */
  final case class Event(id: Long, tsMs: Long, user: Long, kind: String, value: Double,
      props: String, late: Boolean) {
    def day: Int = ((tsMs - Start) / DayMs).toInt
    def file: Int = if (late) day + 1 else day
  }

  /** The seeded event log. `late` events (a `lateShare` of them, drawn
    * from the first 23 hours of days 0-28) land in the next day's file. */
  def events(seed: Long, lateShare: Double = 0.0, n: Int = EventsPerRun): Vector[Event] = {
    val rnd = new scala.util.Random(seed)
    val ts = Array.fill(n)(Start + (rnd.nextDouble() * Days * DayMs).toLong)
    java.util.Arrays.sort(ts)
    Vector.tabulate(n) { i =>
      val kind = Types(rnd.nextInt(Types.length))
      // log-normal magnitudes rounded to cents, like the sf0.1 values
      val v = math.rint(math.exp(rnd.nextGaussian() * 1.1 + 3.0) * 100) / 100
      val props = s"""{"k": ${rnd.nextInt(100)}}"""
      val inDay = (ts(i) - Start) % DayMs
      val late = rnd.nextDouble() < lateShare && inDay < 23 * 3600000L &&
        (ts(i) - Start) / DayMs < Days - 1
      Event(i.toLong, ts(i), rnd.nextInt(2000).toLong, kind, v, props, late)
    }
  }

  private val schema = MessageTypeParser.parseMessageType(
    """message events {
      |  optional int64 event_id;
      |  optional int64 ts (TIMESTAMP(MICROS,true));
      |  optional int64 user_id;
      |  optional binary event_type (STRING);
      |  optional double value;
      |  optional binary props (STRING);
      |}""".stripMargin)

  /** Write events as ONE parquet file at `dest` with the events-table
    * schema (the ingest source reads files named `events.parquet`).
    * Written with the plain parquet writer: input making stays out of the
    * Spark session being measured. */
  def writeFile(evs: Seq[Event], dest: File): Unit = {
    dest.getParentFile.mkdirs()
    val conf = new Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val w = ExampleParquetWriter.builder(new Path(dest.toURI)).withConf(conf).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val g = new SimpleGroupFactory(schema)
    try evs.foreach { e =>
      w.write(g.newGroup().append("event_id", e.id).append("ts", e.tsMs * 1000L)
        .append("user_id", e.user).append("event_type", e.kind).append("value", e.value)
        .append("props", e.props))
    } finally w.close()
    // the writer leaves a checksum beside the file; the source must see one file
    Fs.delete(new File(dest.getParentFile, s".${dest.getName}.crc"))
  }

  // -- monitors -------------------------------------------------------------

  /** Target paths; each matches two of the five series. */
  val paths = Vector("events.{click,view}", "events.{signup,purchase}", "events.{purchase,error}",
    "events.[cv]*")

  /** One template per TargetLang family; `%s` is a seeded path. */
  val families: Vector[String] = Vector(
    """summarize(%s, "15min", "sum")""",
    "movingAverage(%s, 5)",
    """movingSum(%s, "10min")""",
    "sumSeries(%s)",
    "averageSeries(%s)",
    "maxSeries(%s)",
    "derivative(%s)",
    "nonNegativeDerivative(%s)",
    """timeShift(%s, "-30min")""",
    "transformNull(%s, 0)",
    "scale(%s, 2)",
    "highestAverage(%s, 2)",
    "keepLastValue(%s)",
    "integral(%s)",
    """groupByNode(%s, 1, "sum")""",
    """hitcount(%s, "10min")""")

  val keys = Vector("mailto:oncall@example.com", "pagerduty:SVC-KEY",
    "campfire:ops-room", "log:")

  /** One monitor on a 5-minute cron schedule. The workload fixes its
    * shape (target families, window, reduction, whether it fails), so every
    * seed does the same work; the seed draws the paths, the threshold and
    * the alert key. Thresholds sit far above any value in the log, so a
    * `<` predicate always passes and a `>` one always fails. A failing
    * monitor re-alerts every other tick (10-minute throttle). */
  def monitor(rnd: scala.util.Random, id: Long, fams: Seq[Int], minutes: Int, reduction: String,
      fails: Boolean): MonitorSpec = {
    val threshold = (1 + rnd.nextInt(9)) * 1000000000L
    MonitorSpec(id = id, name = s"m$id",
      targets = fams.map(f => families(f).format(paths(rnd.nextInt(paths.size)))),
      minutes = minutes, toDate = None, cronExpr = "*/5 * * * *",
      monitorExpr = s"$reduction ${if (fails) ">" else "<"} $threshold",
      alertKeys = Seq(keys(rnd.nextInt(keys.size))), errorTimeoutMinutes = 10)
  }

  /** The JSON document `MonitorApi.parseSpec` reads. */
  def specJson(sp: MonitorSpec): String = {
    val targets = sp.targets.map(Stats.str).mkString("[", ",", "]")
    val ks = sp.alertKeys.map(Stats.str).mkString("[", ",", "]")
    s"""{"id":${sp.id},"name":${Stats.str(sp.name)},"targets":$targets,""" +
      s""""minutes":${sp.minutes},"cronExpr":${Stats.str(sp.cronExpr)},""" +
      s""""monitorExpr":${Stats.str(sp.monitorExpr)},"alertKeys":$ks,""" +
      s""""errorTimeoutMinutes":${sp.errorTimeoutMinutes}}"""
  }
}

/** File helpers confined to the run root. */
object Fs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Data files under `dir` (no checksums, markers or metadata logs). */
  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else if (dir.isFile) Seq(dir)
    else Option(dir.listFiles()).toSeq.flatten
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .flatMap(f => if (f.isDirectory) dataFiles(f) else Seq(f))
}
