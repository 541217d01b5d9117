package perfbench

import java.io.File
import java.net.Socket
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.io.{RunLog, WireIngest}

/** A wire-fed store: `WireIngest` spools sessions into `wire/`; one
  * maintenance thread runs cycles back to back, each moving the published
  * session files to a batch, `RunLog.spoolResp` into `runs/` (the moment
  * they become visible to `RunLog.liveStore`), then `RunLog.foldRuns` into
  * `layout/`. */
final class WireStore(ctx: Ctx, base: File) {
  val wireDir = new File(base, "wire")
  val runsDir = new File(base, "runs")
  val layoutDir = new File(base, "layout")
  private val batchRoot = new File(base, "batch")
  Seq(wireDir, runsDir, batchRoot).foreach(_.mkdirs())
  val wire = new WireIngest(wireDir)
  wire.start()

  val acks = new ConcurrentHashMap[Long, java.lang.Long]()
  val visible = new ConcurrentHashMap[Long, java.lang.Long]()
  val spooled = new AtomicLong()
  val writersDone = new AtomicBoolean(false)
  @volatile var cycles = 0
  val spoolS, foldS = new java.util.concurrent.atomic.DoubleAdder()
  val spoolBytes, foldBytes, filesLanded = new AtomicLong()
  @volatile var error: Throwable = null

  /** Send one session and wait for the server to close the connection,
    * which it does after publishing the session file. Returns true on a
    * clean publish; a `-PARSER` reply is a failure. */
  def send(id: Long, bytes: Array[Byte]): Boolean = {
    val t0 = System.nanoTime()
    val s = new Socket("127.0.0.1", wire.tcpBoundPort)
    try {
      s.getOutputStream.write(bytes)
      s.shutdownOutput()
      val reply = s.getInputStream.readAllBytes()
      val t1 = System.nanoTime()
      acks.put(id, t1)
      Trace.record("io.wire.publish", id, t0, t1)
      if (reply.nonEmpty) { ctx.fail(s"session $id: ${new String(reply, "UTF-8").trim}"); false }
      else true
    } finally s.close()
  }

  private def published(): Array[File] =
    Option(wireDir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".resp"))

  private def fileBytes(d: File, pred: File => Boolean): (Long, Int) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(d).filter(pred)
    (fs.map(_.length()).sum, fs.size)
  }

  /** One cycle; false when there was nothing to do. */
  private def cycle(): Boolean = {
    val files = published()
    if (files.isEmpty) return false
    cycles += 1
    val batch = new File(batchRoot, s"c$cycles"); batch.mkdirs()
    val ids = files.map { f =>
      val in = new java.io.FileInputStream(f)
      val head = try new String(in.readNBytes(512), "UTF-8") finally in.close()
      val moved = new File(batch, f.getName)
      require(f.renameTo(moved), s"cannot move $f")
      Gen.sessionIdOf(head)
    }
    val t0 = System.nanoTime()
    val n = Trace.span("io.spool", cycles) {
      RunLog.spoolResp(ctx.spark, batch.getPath, runsDir.getPath, Seq("host", "region"))
    }
    val t1 = System.nanoTime()
    ids.foreach(id => visible.put(id, t1))
    spooled.addAndGet(n)
    spoolS.add((t1 - t0) / 1e9)
    spoolBytes.addAndGet(fileBytes(runsDir, f => f.getParentFile == runsDir && f.getName.endsWith(".grun"))._1)
    Env.rm(batch)
    val (lb0, lf0) = fileBytes(layoutDir, f => f.getName.endsWith(".parquet"))
    Trace.span("io.fold", cycles) {
      RunLog.foldRuns(ctx.spark, runsDir.getPath, layoutDir.getPath, Seq("host", "region"))
    }
    val t2 = System.nanoTime()
    foldS.add((t2 - t1) / 1e9)
    val (lb1, lf1) = fileBytes(layoutDir, f => f.getName.endsWith(".parquet"))
    foldBytes.addAndGet(lb1 - lb0)
    filesLanded.addAndGet((lf1 - lf0).toLong)
    true
  }

  /** Cycles until the writers are done and every published session is
    * folded. Runs on its own thread; returns when quiesced. */
  val maintenance = new Thread(() => {
    try {
      var quiet = false
      while (!quiet) {
        val done = writersDone.get()
        val t0 = System.nanoTime()
        if (!cycle()) {
          if (done) quiet = true
          else {
            Thread.sleep(2)
            Trace.record("io.wire.wait", 0L, t0, System.nanoTime())
          }
        }
      }
    } catch { case t: Throwable => error = t }
  }, "perfbench-maintenance")

  def start(): Unit = maintenance.start()

  def finish(): Unit = {
    writersDone.set(true)
    maintenance.join()
    wire.stop()
    if (error != null) throw error
  }

  def storedBytes: Long = Env.du(layoutDir) + Env.du(runsDir)

  /** Compare the live store (layout + leftover runs) with the closed form:
    * per-series sample count and value sum, and events per series. */
  def checkStore(expect: Gen.Expect): Unit = {
    ctx.attempted += 1
    val st = RunLog.liveStore(ctx.spark, layoutDir.getPath, runsDir.getPath)
    val got = st.samples.groupBy(col("sname"))
      .agg(count(lit(1)).as("n"), sum(when(col("event").isNull, col("value"))).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), if (r.isNullAt(2)) 0.0 else r.getDouble(2))).toMap
    val bad = Check.storeDiff(got, expect)
    if (bad.nonEmpty) ctx.mismatch(s"store differs from the closed form in ${bad.size} series, e.g. ${bad.head}")
  }

  /** Freshness of every acked session: ack until visible, in ms. */
  def freshnessMs: Seq[Double] =
    acks.asScala.toSeq.flatMap { case (id, a) =>
      Option(visible.get(id)).map(v => (v.longValue - a.longValue) / 1e6) }
}

/** `ingest`: two closed-loop TCP connections push a fixed corpus into
  * `WireIngest` while one maintenance thread spools and folds; rounds
  * repeat on a fresh store until `--seconds` have passed. */
object IngestW {
  val Conns = 2
  val StepsPerSession = 4
  val SessionsPerConn = 15 // 30 sessions x 20k samples = 0.6M samples a round

  final case class Round(samples: Long, wallS: Double, fresh: Seq[Double],
                         spoolS: Double, foldS: Double, cycles: Int, spoolBytes: Long,
                         foldBytes: Long, files: Long, stored: Long)

  def round(ctx: Ctx, corpus: Gen.Corpus, name: String): Round = {
    val store = new WireStore(ctx, ctx.dir(name))
    val t0 = System.nanoTime()
    store.start()
    val senders = corpus.perConn.map { sessions =>
      new Thread(() => sessions.foreach { case (id, bytes, _) => store.send(id, bytes) })
    }
    senders.foreach(_.start()); senders.foreach(_.join())
    store.finish()
    val wall = (System.nanoTime() - t0) / 1e9
    val acked = corpus.perConn.flatten.filter(s => store.acks.containsKey(s._1)).map(_._3).sum
    val sent = corpus.perConn.flatten.map(_._3).sum
    ctx.attempted += corpus.perConn.map(_.length).sum
    if (acked != sent) ctx.fail(s"$name: ${sent - acked} samples not acknowledged")
    if (store.spooled.get != sent)
      ctx.mismatch(s"$name: spooled ${store.spooled.get} samples, sent $sent")
    store.checkStore(corpus.expect)
    Round(acked, wall, store.freshnessMs, store.spoolS.sum, store.foldS.sum, store.cycles,
      store.spoolBytes.get, store.foldBytes.get, store.filesLanded.get, store.storedBytes)
  }

  def run(ctx: Ctx, startS: Double): Unit = {
    // preparation, repeated: render the corpus; then one warm-up round of
    // another seed's corpus on a fresh store
    var corpus: Gen.Corpus = null
    val preps = (0 until 3).map { _ =>
      val t = System.nanoTime()
      corpus = Gen.corpus(ctx.seed, Conns, SessionsPerConn, StepsPerSession)
      (System.nanoTime() - t) / 1e9
    }
    val tw = System.nanoTime()
    round(ctx, Gen.corpus(ctx.seed + 1, Conns, SessionsPerConn, StepsPerSession), "warm")
    ctx.putSetup(startS, preps, (System.nanoTime() - tw) / 1e9)

    def measure(): (Seq[Round], Double, ExecListener.Snap) = {
      val snap = ctx.exec.snapshot()
      val t0 = System.nanoTime()
      val rounds = ArrayBuffer[Round]()
      while (rounds.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds)
        rounds += round(ctx, corpus, "round")
      (rounds.toSeq, (System.nanoTime() - t0) / 1e9, snap)
    }

    val gc0 = Env.gcMs()
    val (rounds, _, _) = measure()
    val samples = rounds.map(_.samples).sum
    val wall = rounds.map(_.wallS).sum
    ctx.put("throughput_per_s", samples / wall, "1/s")
    ctx.note(f"ingest: ${rounds.size} rounds, $samples samples, ${samples / wall}%.0f samples/s, " +
      f"stored ${rounds.last.stored.toDouble / rounds.last.samples}%.2f B/sample, rounds " +
      rounds.map(r => f"${r.samples / r.wallS}%.0f").mkString(" ") + " samples/s")
    ctx.putLatency(rounds.flatMap(_.fresh), "freshness", gc0)
    ctx.putLiveHeap()

    if (ctx.trace) {
      Trace.reset(); Trace.enabled = true
      val (tr, wallT, snap) = measure()
      Trace.enabled = false
      ctx.putExec(snap, wallT, tr.map(_.cycles).sum.toLong)
      val spans = Trace.all
      // the JVM still warms up through the run, so the traced rounds are
      // compared with the mean of the untraced rounds before and after them
      val (after, _, _) = measure()
      def rate(rs: Seq[Round]) = rs.map(_.samples).sum / rs.map(_.wallS).sum
      ctx.put("trace.overhead_frac", (rate(rounds) + rate(after)) / 2 / rate(tr) - 1.0, "frac")
      // the blocking path is the maintenance thread's spool and fold
      // cycles; its idle waits for the wire and its own bookkeeping are
      // left out and reported as the remainder
      val wallTr = tr.map(_.wallS).sum
      val self = Trace.selfTimes(spans)
      def selfS(name: String) = spans.filter(_.name == name).map(s => self(s.id)).sum / 1e9
      val busy = selfS("io.spool") + selfS("io.fold")
      ctx.put("trace.blocking_sum_frac", busy / wallTr, "frac")
      ctx.note(f"blocking path: spool + fold ${busy}%.1f s of ${wallTr}%.1f s traced wall; remainder: " +
        f"idle waits for the wire ${selfS("io.wire.wait")}%.1f s, the rest bookkeeping")
      val pub = spans.filter(_.name == "io.wire.publish").map(_.dur / 1e6)
      ctx.put("io.wire.publish_ms_p50", Stats.median(pub), "ms")
      putIo(ctx, tr)
    }
  }

  /** io.* per-layer metrics over a set of rounds. */
  def putIo(ctx: Ctx, rs: Seq[Round]): Unit = {
    val n = rs.map(_.samples).sum.toDouble
    ctx.put("io.spool.busy_s", rs.map(_.spoolS).sum, "s")
    ctx.put("io.spool.samples_per_s", n / rs.map(_.spoolS).sum, "1/s")
    ctx.put("io.spool.bytes_per_sample", rs.map(_.spoolBytes).sum / n, "B")
    ctx.put("io.fold.busy_s", rs.map(_.foldS).sum, "s")
    ctx.put("io.fold.samples_per_s", n / rs.map(_.foldS).sum, "1/s")
    ctx.put("io.fold.bytes_written_per_sample", rs.map(_.foldBytes).sum / n, "B")
    ctx.put("io.fold.cycles", rs.map(_.cycles).sum.toDouble / rs.size, "count")
    ctx.put("io.fold.files_landed", rs.map(_.files).sum.toDouble / rs.size, "count")
    ctx.put("io.store.bytes_per_sample", rs.last.stored.toDouble / rs.last.samples, "B")
  }
}
