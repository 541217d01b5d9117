package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import org.apache.spark.sql.functions.col

import graft.ast.{Query, QueryJson, QueryKind}
import graft.io.{Ingest, RunLog}
import graft.plan.{Planner, TsStore}
import graft.serve.{ApiHttp, OutputFormat}

/** `query`: closed-loop HTTP clients send the seeded query mix to an
  * `ApiHttp` serving a static layout. */
object QueryW {
  /** History of the served store: 40 one-second steps of 10,000 series. */
  val K = 40
  val StepsPerSession = 4
  val Clients = 3

  final case class Done(q: Gen.Q, reply: Env.Reply, ok: Boolean, replay: Option[Replay])
  final case class Replay(parse: Double, probe: Double, plan: Double, materialize: Double,
                          drain: Double, analysis: Double, optimization: Double, planning: Double,
                          read: Int, total: Int, scanned: Long, rows: Long) {
    def sum: Double = parse + probe + plan + materialize + drain
  }

  /** Build the store through spool + fold from the rendered session files. */
  def build(ctx: Ctx, base: File, c: Gen.Corpus): Unit = {
    val in = new File(base, "sessions"); in.mkdirs()
    c.perConn(0).foreach { case (id, bytes, _) =>
      java.nio.file.Files.write(new File(in, f"s$id%05d.resp").toPath, bytes) }
    val runs = new File(base, "runs"); runs.mkdirs()
    RunLog.spoolResp(ctx.spark, in.getPath, runs.getPath, Seq("host", "region"))
    RunLog.foldRuns(ctx.spark, runs.getPath, new File(base, "layout").getPath, Seq("host", "region"))
    Env.rm(in)
  }

  /** The existence probe `Api` runs between parse and plan (a `limit(1)`
    * count of the first metric under the where clause), made with the same
    * public calls, since `Api.requireSeries` is private. */
  private def probe(q: Query, store: TsStore): Unit = {
    val first = q.kind match {
      case QueryKind.Select(m)                    => Some(m)
      case QueryKind.SelectEvents(m, _)           => Some(m)
      case QueryKind.Aggregate(pairs)             => pairs.headOption.map(_._1)
      case QueryKind.GroupAggregate(ms, _, _)     => ms.headOption
      case QueryKind.Join(ms)                     => ms.headOption
      case QueryKind.GroupAggregateJoin(ms, _, _) => ms.headOption
      case QueryKind.MetaNames(_)                 => None
    }
    first.foreach(m => store.seriesDim.getOrElse(store.samples)
      .filter(col(TsStore.Metric) === m && Planner.wherePred(q.where)).limit(1).count())
  }

  private def scannedRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scannedRows(a.executedPlan)
    case s: QueryStageExec        => scannedRows(s.plan)
    case _ =>
      (if (p.children.isEmpty) p.metrics.get("numOutputRows").map(_.value).getOrElse(0L) else 0L) +
        p.children.map(scannedRows).sum
  }

  /** The request replayed directly along the path `Api.queryLines`
    * takes: parse, existence probe, plan, plan materialization, then
    * formatting + `toLocalIterator` drain, each in its own span. */
  def replay(json: String, store: TsStore, req: Long, apply: Boolean): Replay = {
    def timed[T](name: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = Trace.span(name, req)(f)
      (r, (System.nanoTime() - t0) / 1e6)
    }
    val (q, tParse) = timed("ast.parse")(QueryJson.parse(json))
    val (_, tProbe) = timed("serve.probe")(probe(q, store))
    val (frame, tPlan) = timed("plan.plan")(Planner.plan(q, store))
    val ds = OutputFormat.csv(frame, isoTimestamps = false)
    val (_, tMat) = timed("plan.materialize")(ds.queryExecution.executedPlan)
    val (rows, tDrain) = timed(if (apply) "functions.drain" else "exec.drain") {
      val it = ds.toLocalIterator()
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
    val ph = ds.queryExecution.tracker.phases
    def phase(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val (read, total) = graft.Bench.partitionPruning(frame.df)
    Replay(tParse, tProbe, tPlan, tMat, tDrain, phase("analysis"), phase("optimization"),
      phase("planning"), read, total, scannedRows(ds.queryExecution.executedPlan), rows)
  }

  def run(ctx: Ctx, startS: Double): Unit = {
    val base = ctx.dir("store")
    // preparation, repeated: generate the values and render the sessions
    var vals: Array[Int] = null
    var corpus: Gen.Corpus = null
    val preps = (0 until 3).map { _ =>
      val t = System.nanoTime()
      vals = Gen.values(ctx.seed, K)
      corpus = Gen.corpus(ctx.seed, 1, K / StepsPerSession, StepsPerSession)
      (System.nanoTime() - t) / 1e9
    }
    // then, once: build the store, start the server, warm up
    val tw = System.nanoTime()
    build(ctx, base, corpus)
    corpus = null
    val store = Ingest.readLayout(ctx.spark, new File(base, "layout").getPath)
    val server = new ApiHttp(() => Trace.span("io.store.open")(store), 0)
    server.start()
    // warm-up: each client sends 3 queries, not checked
    val warm = (0 until Clients).map(c => new Thread(() =>
      Gen.queries(ctx.seed + 7919, c, K).take(3).foreach(q => Env.post(server.boundPort, q.json))))
    warm.foreach(_.start()); warm.foreach(_.join())
    ctx.putSetup(startS, preps, (System.nanoTime() - tw) / 1e9)

    /** One measured phase: closed-loop clients until `seconds` pass. */
    def phase(tag: Int, replayToo: Boolean): (Seq[Done], Double) = {
      val done = new ConcurrentLinkedQueue[Done]()
      val t0 = System.nanoTime()
      val deadline = t0 + (ctx.seconds * 1e9).toLong
      val ts = (0 until Clients).map { c =>
        new Thread(() => {
          val qs = Gen.queries(ctx.seed, c + tag * 100, K)
          var req = (tag * 100L + c) * 1000000L
          while (System.nanoTime() < deadline) {
            val q = qs.next()
            req += 1
            val r = try Env.post(server.boundPort, q.json) catch {
              case e: Exception =>
                val now = System.nanoTime(); Env.Reply(-1, Seq("-" + e.getMessage), 0, now, now, now)
            }
            Trace.record("serve.http", req, r.start, r.end)
            val ok = r.code == 200 && r.inBandError.isEmpty
            val rp = if (ok && replayToo) Some(replay(q.json, store, req, q.kind == "apply")) else None
            done.add(Done(q, r, ok, rp))
          }
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      (done.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
    }

    def tally(ds: Seq[Done]): Unit = ds.foreach { d =>
      ctx.attempted += 1
      if (!d.ok) ctx.fail(s"${d.q.kind} HTTP ${d.reply.code}: ${d.reply.inBandError.getOrElse(d.reply.lines.headOption.getOrElse(""))}")
      else Check.check(d.q, d.reply.lines, vals, K).foreach(err => ctx.mismatch(s"${d.q.json}: $err"))
    }

    val snap = ctx.exec.snapshot()
    val gc0 = Env.gcMs()
    val (ds, wall) = phase(0, replayToo = false)
    tally(ds)
    val lat = ds.filter(_.ok).map(_.reply.ms)
    ctx.put("throughput_per_s", ds.count(_.ok) / wall, "1/s")
    ctx.putLatency(lat, "query", gc0)
    ctx.putLiveHeap()
    ctx.note(f"queries: ${ds.size} sent, ${ds.count(!_.ok)} failed, ${wall}%.1f s; by kind (n, median ms): " +
      ds.groupBy(_.q.kind).toSeq.sortBy(_._1).map { case (k, xs) =>
        f"$k ${xs.size} ${Stats.median(xs.map(_.reply.ms))}%.0f" }.mkString(", "))
    if (ctx.trace) {
      ctx.putExec(snap, wall, ds.size.toLong)
      Trace.reset(); Trace.enabled = true
      val (tr, _) = phase(1, replayToo = true)
      Trace.enabled = false
      tally(tr)
      // the JVM still warms up through the run, so the traced phase is
      // compared with the mean of the untraced phases before and after it
      val (after, _) = phase(2, replayToo = false)
      tally(after)
      putTraced(ctx, tr, (Stats.median(lat) + Stats.median(after.filter(_.ok).map(_.reply.ms))) / 2)
    }
    server.stop()
  }

  private def putTraced(ctx: Ctx, tr: Seq[Done], untracedP50: Double): Unit = {
    val ok = tr.filter(d => d.ok && d.replay.isDefined)
    def med(f: Done => Double) = if (ok.isEmpty) 0.0 else Stats.median(ok.map(f))
    val http = ok.map(_.reply.ms)
    ctx.put("trace.overhead_frac", Stats.median(http) / untracedP50 - 1.0, "frac")
    // the blocking path of a request from measured spans only: the store
    // provider call inside the server, then parse, probe, plan, materialize
    // and drain from the direct replay; the rest of the latency (HTTP
    // transport, `Api`'s JSON handling, contention with the other clients)
    // is left unexplained
    val opens = Trace.all.filter(_.name == "io.store.open").map(_.dur / 1e6)
    val openP50 = if (opens.isEmpty) 0.0 else Stats.median(opens)
    val measured = med(_.replay.get.sum) + openP50
    ctx.put("trace.blocking_sum_frac", measured / untracedP50, "frac")
    ctx.note(f"blocking path: measured spans $measured%.0f ms of the untraced p50 $untracedP50%.0f ms, " +
      f"unexplained ${untracedP50 - measured}%.0f ms (${(1 - measured / untracedP50) * 100}%.0f%%)")
    ctx.put("trace.replay_coverage_frac", med(d => d.replay.get.sum / d.reply.ms), "frac")
    ctx.put("ast.parse_ms_p50", med(_.replay.get.parse), "ms")
    ctx.put("serve.probe_ms_p50", med(_.replay.get.probe), "ms")
    ctx.put("plan.plan_ms_p50", med(_.replay.get.plan), "ms")
    ctx.put("plan.materialize_ms_p50", med(_.replay.get.materialize), "ms")
    ctx.put("plan.spark_analysis_ms_p50", med(_.replay.get.analysis), "ms")
    ctx.put("plan.spark_optimization_ms_p50", med(_.replay.get.optimization), "ms")
    ctx.put("plan.spark_planning_ms_p50", med(_.replay.get.planning), "ms")
    val read = ok.map(_.replay.get.read).sum.toDouble
    val total = ok.map(_.replay.get.total).sum.toDouble
    ctx.put("plan.partitions_read_frac", if (total == 0) 0.0 else read / total, "frac")
    val rows = ok.map(_.replay.get.rows).sum.toDouble
    ctx.put("plan.rows_scanned_per_row_returned", ok.map(_.replay.get.scanned).sum / math.max(rows, 1.0), "ratio")
    ctx.put("exec.drain_ms_p50", med(_.replay.get.drain), "ms")
    val applies = ok.filter(_.q.kind == "apply")
    ctx.put("functions.apply_p50_ms", if (applies.isEmpty) 0.0 else Stats.median(applies.map(_.reply.ms)), "ms")
    ctx.put("serve.ttfb_ms_p50", Stats.median(http.indices.map(i => (ok(i).reply.firstByte - ok(i).reply.start) / 1e6)), "ms")
    ctx.put("serve.overhead_ms_p50", med(d => d.reply.ms - d.replay.get.sum), "ms")
    val big = ok.filter(_.reply.bytes >= (256 << 10))
    val streamS = big.map(d => (d.reply.end - d.reply.firstByte) / 1e9).sum
    ctx.put("serve.stream_mb_per_s", if (streamS == 0) 0.0 else big.map(_.reply.bytes).sum / 1e6 / streamS, "MB/s")
    ctx.put("serve.bytes_per_row", ok.map(_.reply.bytes).sum.toDouble / math.max(ok.map(_.reply.lines.size).sum, 1), "B")
    ctx.put("io.store.open_ms_p50", openP50, "ms")
  }
}
