package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the Spark session, the scratch root, the
  * operation tallies and the metrics to print. */
final class Ctx(val spark: SparkSession, val root: File, val data: File, val seed: Long,
                val seconds: Double, val trace: Boolean, val exec: ExecListener) {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  /** Answers that came back as success but did not match the closed form. */
  var wrong = 0L

  def put(name: String, value: Double, unit: String): Unit = synchronized { metrics(name) = (value, unit) }
  def note(s: String): Unit = synchronized { notes += s; Console.err.println(s"[perfbench] $s") }
  def fail(what: String): Unit = synchronized { failed += 1; note(s"failed: ${what.take(300)}") }
  def mismatch(what: String): Unit = synchronized {
    failed += 1; wrong += 1; note(s"wrong: ${what.take(300)}")
  }

  def dir(name: String): File = { val d = new File(root, name); Env.rm(d); d.mkdirs(); d }

  /** exec.* per-layer metrics over a phase of `ops` operations. */
  def putExec(from: ExecListener.Snap, wallS: Double, ops: Long): Unit = {
    Thread.sleep(300) // let the listener bus deliver the phase's last events
    val to = exec.snapshot()
    val per = math.max(ops, 1L).toDouble
    put("exec.jobs_per_op", (to.jobs - from.jobs) / per, "count")
    put("exec.stages_per_op", (to.stages - from.stages) / per, "count")
    put("exec.tasks_per_op", (to.tasks - from.tasks) / per, "count")
    put("exec.task_busy_s", (to.busyMs - from.busyMs) / 1e3, "s")
    put("exec.cpu_util", (to.busyMs - from.busyMs) / 1e3 / (wallS * Env.cores), "frac")
    val delays = exec.delaysSince(from)
    put("exec.task_wait_ms_p50", if (delays.isEmpty) 0.0 else Stats.median(delays), "ms")
    put("exec.shuffle_read_bytes", (to.shuffleRead - from.shuffleRead).toDouble, "B")
    put("exec.shuffle_write_bytes", (to.shuffleWrite - from.shuffleWrite).toDouble, "B")
    put("exec.spill_bytes", (to.spill - from.spill).toDouble, "B")
    val skews = exec.skewsSince(from)
    put("exec.task_skew_max", if (skews.isEmpty) 1.0 else skews.max, "ratio")
  }

  /** setup_s: JVM + Spark start, the median of the repeated preparations,
    * and the one-off warm-up. */
  def putSetup(startS: Double, preps: Seq[Double], warmS: Double): Unit = {
    put("setup_s", startS + Stats.median(preps) + warmS, "s")
    note(f"setup: start $startS%.2f s, preparations ${preps.map(p => f"$p%.2f").mkString(" ")} s, " +
      f"warm-up $warmS%.2f s")
  }

  /** heap_live_mb, taken right after the measured phase while the
    * workload's state (store, server) is still held. */
  def putLiveHeap(): Unit = put("heap_live_mb", Env.liveHeapMb(), "MB")

  /** latency_p50_ms / latency_p90_ms from `xs` (ms), with the sample count
    * and the collector time since `gcFromMs` (an [[Env.gcMs]] reading). */
  def putLatency(xs: Seq[Double], what: String, gcFromMs: Long): Unit = {
    if (xs.isEmpty) throw new IllegalStateException(s"no $what samples")
    val (t, p) = Stats.tail(xs)
    put("latency_p50_ms", Stats.median(xs), "ms")
    put("latency_p90_ms", t, "ms")
    note(f"$what latency: n=${xs.size} p50=${Stats.median(xs)}%.1f ms, tail=p${p * 100}%.0f ${t}%.1f ms; " +
      s"GC ${Env.gcMs() - gcFromMs} ms")
  }
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --root DIR --data DIR --out FILE`. Writes the result object as JSON to
  * `--out`; exits non-zero when the workload cannot run. */
object Main {
  val Workloads = Seq("ingest", "query", "curate")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val root = new File(opts("root"))
    val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Env.spark(root)
    val exec = new ExecListener
    spark.sparkContext.addSparkListener(exec)
    val startS = (System.currentTimeMillis() - t0) / 1e3
    val ctx = new Ctx(spark, root, new File(opts("data")), opts("seed").toLong,
      opts("seconds").toDouble, opts("trace") == "1", exec)
    try {
      workload match {
        case "ingest" => IngestW.run(ctx, startS)
        case "query"  => QueryW.run(ctx, startS)
        case "curate" => CurateW.run(ctx, startS)
      }
      ctx.put("rss_peak_mb", Env.rssPeakMb(), "MB")
      if (ctx.trace) Trace.dump(new File(root, "spans.tsv"))
      write(ctx, new File(opts("out")))
    } finally spark.stop()
    System.exit(0)
  }

  private def write(ctx: Ctx, out: File): Unit = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = ctx.metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    val notes = ctx.notes.map(n => "\"" + n.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString(",")
    val json = s"""{"correct":${ctx.wrong == 0},"attempted":${math.max(ctx.attempted, 1L)},""" +
      s""""failed":${ctx.failed},"metrics":{$ms},"notes":[$notes]}"""
    java.nio.file.Files.write(out.toPath, json.getBytes("UTF-8"))
  }
}
