package rvbench

import java.io.File

import graft.streaming.Ingest

/** Set-up shared by the workloads. */
object Setup {

  private val t0 = System.nanoTime()

  /** Progress line on stderr: seconds since the JVM's run began. */
  def phase(what: String): Unit =
    System.err.println(f"[rvbench] +${(System.nanoTime() - t0) / 1e9}%.1fs $what")

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Write the seeded event log and build the day-partitioned rollup
    * store from it with `Ingest.runAvailableNow`. Returns the store and the
    * build's seconds. A run builds once: a second build costs ~5 s, and a
    * comparison's 70 runs must fit 3,420 s, so steadiness comes from the
    * median over runs. */
  def rollupStore(ctx: Ctx): (String, Double) = {
    val src = ctx.dir("events")
    Gen.writeFile(Gen.events(ctx.seed), new File(src, "events.parquet"))
    val store = ctx.path("store")
    val (_, s) = seconds(Ingest.runAvailableNow(ctx.spark, src.getPath, store, ctx.path("store-ckpt")))
    (store, s)
  }

  /** Closed loop on the calling thread: run `op` until `seconds` have
    * passed (the operation in flight finishes). Returns per-operation
    * (latency ms, ok) and the timed seconds. */
  def closedLoop(seconds: Double, maxOps: Int = Int.MaxValue)(op: Int => Boolean)
      : (Seq[(Double, Boolean)], Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val out = Seq.newBuilder[(Double, Boolean)]
    var i = 0
    while (System.nanoTime() < deadline && i < maxOps) {
      val s = System.nanoTime()
      val ok = try op(i) catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[rvbench] operation $i failed: $e"); false
      }
      out += (((System.nanoTime() - s) / 1e6, ok))
      i += 1
    }
    (out.result(), (System.nanoTime() - t0) / 1e9)
  }
}
