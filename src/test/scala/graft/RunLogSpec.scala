package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.TestData
import graft.io.{Ingest, RunLog}

/** The run-log spool (WAL-then-tree ingest shape): spooled runs must be
  * a lossless, read-identical representation of the parsed wire input,
  * and compaction must produce the same layout as the direct path. */
class RunLogSpec extends SparkFunSuite {

  private def renderSessions(dir: java.io.File): Unit = {
    val day = Ingest.DayNs
    // two sessions: dictionary protocol, 2 metrics x 3 hosts, 2 days,
    // one event series, out-of-order timestamps within a series
    val s1 = (0 until 100).flatMap { i =>
      Seq(s"+m${i % 2} host=h${i % 3}", s":${(i % 2) * day + i * 1000000000L}",
        s"+${i * 0.5}")
    }
    val s2 = Seq(
      "*2", "+!deploy host=h9", ":1",
      ":1", ":5000000000", "+rollout one",
      ":1", ":4000000000", "+rollout two") ++
      (0 until 50).flatMap { i =>
        Seq(s"+m0 host=h${i % 3}", s":${day + i * 2000000000L}", s":$i")
      }
    Files.write(new java.io.File(dir, "s1.resp").toPath,
      s1.mkString("\n").getBytes)
    Files.write(new java.io.File(dir, "s2.resp").toPath,
      s2.mkString("\n").getBytes)
  }

  test("spooled runs read back identical to the direct parse") {
    val dir = new java.io.File(TestData.freshScratch("graft-runlog"))
    renderSessions(dir)
    val runs = new java.io.File(dir, "runs").getAbsolutePath
    val n = RunLog.spoolResp(spark, dir.getAbsolutePath, runs,
      flattenTags = Seq("host"))
    assert(n == 152)
    // NaN-normalizing row key: boxed NaN != NaN under Scala ==
    def key(r: org.apache.spark.sql.Row): Seq[Any] = r.toSeq.map {
      case d: java.lang.Double if d.isNaN => "NaN"
      case x                              => x
    }
    val direct = Ingest.respFilesFlat(spark, dir.getAbsolutePath, Seq("host"))
      .collect().map(key).toSet
    val viaRuns = RunLog.readRuns(spark, runs)
      .collect().map(key).toSet
    assert(viaRuns == direct)
    assert(viaRuns.size == 152)
    // events carried bodies; samples carried values
    val ev = RunLog.readRuns(spark, runs)
      .filter(col("event").isNotNull).collect()
    assert(ev.map(_.getAs[String]("event")).sorted.toSeq ==
      Seq("rollout one", "rollout two"))
  }

  test("compacted runs produce the same layout as the direct ingest") {
    val dir = new java.io.File(TestData.freshScratch("graft-runlog2"))
    renderSessions(dir)
    val runs = new java.io.File(dir, "runs").getAbsolutePath
    val viaRunsLayout = new java.io.File(dir, "lay-runs").getAbsolutePath
    val directLayout = new java.io.File(dir, "lay-direct").getAbsolutePath
    RunLog.spoolResp(spark, dir.getAbsolutePath, runs, Seq("host"))
    RunLog.compactRuns(spark, runs, viaRunsLayout)
    Ingest.ingestResp(spark, dir.getAbsolutePath, directLayout,
      flattenTags = Seq("host"))
    def key(r: org.apache.spark.sql.Row): Seq[Any] = r.toSeq.map {
      case d: java.lang.Double if d.isNaN => "NaN"
      case x                              => x
    }
    val a = Ingest.readLayout(spark, viaRunsLayout).samples
      .collect().map(key).toSet
    val b = Ingest.readLayout(spark, directLayout).samples
      .collect().map(key).toSet
    assert(a == b && a.nonEmpty)
  }

  test("runs are queryable before compaction (live-view store)") {
    val dir = new java.io.File(TestData.freshScratch("graft-runlog3"))
    renderSessions(dir)
    val runs = new java.io.File(dir, "runs").getAbsolutePath
    RunLog.spoolResp(spark, dir.getAbsolutePath, runs, Seq("host"))
    val st = RunLog.toStore(spark, runs)
    val df = graft.plan.Planner.plan(graft.ast.QueryJson.parse(
      s"""{"select":"m0","range":{"from":0,"to":${3 * Ingest.DayNs}},
         |"where":{"host":"h1"}}""".stripMargin), st).df
    assert(df.count() > 0)
  }

  test("liveStore serves layout + uncompacted runs as one view") {
    val dir = new java.io.File(TestData.freshScratch("graft-runlog6"))
    val day = Ingest.DayNs
    // batch half: ingested + compacted into the layout
    val batchDir = new java.io.File(dir, "batch"); batchDir.mkdirs()
    Files.write(new java.io.File(batchDir, "s.resp").toPath,
      (0 until 40).flatMap(i =>
        Seq(s"+m0 host=h${i % 2}", s":${i * 1000000000L}", s":$i"))
        .mkString("\n").getBytes)
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    Ingest.ingestResp(spark, batchDir.getAbsolutePath, layout,
      flattenTags = Seq("host"))
    // live half: spooled runs only, one day later, NOT compacted
    val liveDir = new java.io.File(dir, "live"); liveDir.mkdirs()
    Files.write(new java.io.File(liveDir, "s.resp").toPath,
      (0 until 25).flatMap(i =>
        Seq(s"+m0 host=h${i % 2}", s":${day + i * 1000000000L}", s":${100 + i}"))
        .mkString("\n").getBytes)
    val runs = new java.io.File(dir, "runs").getAbsolutePath
    RunLog.spoolResp(spark, liveDir.getAbsolutePath, runs, Seq("host"))
    // one query over the union sees BOTH halves, correctly filtered
    val st = RunLog.liveStore(spark, layout, runs)
    val df = graft.plan.Planner.plan(graft.ast.QueryJson.parse(
      s"""{"select":"m0","range":{"from":0,"to":${3 * day}},
         |"where":{"host":"h1"}}""".stripMargin), st).df
    val vals = df.collect().map(_.getDouble(2)).sorted.toSeq
    assert(vals == ((0 until 40).filter(_ % 2 == 1).map(_.toDouble) ++
      (0 until 25).filter(_ % 2 == 1).map(i => (100 + i).toDouble)).sorted)
    // and the derived series dimension knows both halves' series
    assert(graft.plan.Meta.metricNames(st).collect().map(_.getString(0))
      .toSeq == Seq("m0"))
  }

  test("a liveStore with unfolded runs keeps the single-pass scan routing") {
    val dir = new java.io.File(TestData.freshScratch("graft-runlog-size"))
    def session(name: String, t0: Long): String = {
      val d = new java.io.File(dir, name); d.mkdirs()
      Files.write(new java.io.File(d, "s.resp").toPath,
        (0 until 200).flatMap(i => Seq(s"+m0 host=h${i % 2}",
          s":${t0 + i * 1000000000L}", s":$i")).mkString("\n").getBytes)
      d.getAbsolutePath
    }
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    Ingest.ingestResp(spark, session("batch", 0L), layout, Seq("host"))
    val runs = new java.io.File(dir, "runs").getAbsolutePath
    RunLog.spoolResp(spark, session("live", Ingest.DayNs), runs, Seq("host"))
    val base = Ingest.readLayout(spark, layout)
    val live = RunLog.liveStore(spark, layout, runs)
    // the runs leg is sized by its files, not spark.sql.defaultSizeInBytes
    val est = live.samples.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est < BigInt(1L << 20), s"live store estimated at $est B")
    assert(!graft.functions.ChunkedScan.eligible(live.samples))
    def ewmaJobs(st: graft.plan.TsStore): Int =
      org.apache.spark.sql.graftio.ListenerBus.jobsOf(spark.sparkContext) {
        graft.plan.Planner.plan(graft.ast.QueryJson.parse(
          s"""{"select":"m0","range":{"from":0,"to":${3 * Ingest.DayNs}},
             |"apply":[{"name":"ewma","decay":0.5}]}""".stripMargin), st)
          .df.collect()
      }
    assert(ewmaJobs(live) == ewmaJobs(base))
  }

  test("foldRuns: appends one snapshot, retires it, view stays exactly-once") {
    val dir = new java.io.File(TestData.freshScratch("graft-runlog-fold"))
    val day = Ingest.DayNs
    def spool(name: String, lines: Seq[String]): Unit = {
      val d = new java.io.File(dir, name); d.mkdirs()
      Files.write(new java.io.File(d, "s.resp").toPath,
        lines.mkString("\n").getBytes)
      RunLog.spoolResp(spark, d.getAbsolutePath,
        new java.io.File(dir, "runs").getAbsolutePath, Seq("host"))
    }
    val runs = new java.io.File(dir, "runs").getAbsolutePath
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    def liveValues(): Seq[Double] = {
      val st = RunLog.liveStore(spark, layout, runs)
      graft.plan.Planner.plan(graft.ast.QueryJson.parse(
        s"""{"select":"m0","range":{"from":0,"to":${3 * day}}}"""), st).df
        .collect().map(_.getDouble(2)).sorted.toSeq
    }
    // cycle 1: fold bootstraps the layout and empties the spool
    spool("b1", (0 until 40).flatMap(i =>
      Seq(s"+m0 host=h${i % 2}", s":${i * 1000000000L}", s":$i")))
    val retired1 = RunLog.foldRuns(spark, runs, layout, Seq("host"))
    assert(retired1.nonEmpty && RunLog.listRuns(spark, runs).isEmpty)
    assert(liveValues() == (0 until 40).map(_.toDouble))
    // a batch spooled after the fold serves live, each sample ONCE
    spool("b2", (0 until 25).flatMap(i =>
      Seq(s"+m0 host=h${i % 2}", s":${day + i * 1000000000L}", s":${100 + i}")))
    val all = (0 until 40).map(_.toDouble) ++ (100 until 125).map(_.toDouble)
    assert(liveValues() == all)
    // cycle 2 folds EXACTLY the b2 snapshot; view unchanged, spool empty
    val b2Files = RunLog.listRuns(spark, runs).map(_.getPath.toString)
    val retired2 = RunLog.foldRuns(spark, runs, layout, Seq("host"))
    assert(retired2 == b2Files && b2Files.nonEmpty)
    assert(RunLog.listRuns(spark, runs).isEmpty)
    assert(liveValues() == all)
    // mismatched tag keys are rejected before any append
    spool("b2x", Seq("+m0 host=h0", ":2", ":9"))
    intercept[IllegalArgumentException] {
      RunLog.foldRuns(spark, runs, layout, Seq("dc"))
    }
    assert(RunLog.listRuns(spark, runs).nonEmpty)
    assert(RunLog.foldRuns(spark, runs, layout, Seq("host")).size == 1)
    // compactRuns (full rebuild) refuses an empty spool: a typo'd or
    // drained runs dir must never overwrite a layout with nothing
    intercept[IllegalArgumentException] {
      RunLog.compactRuns(spark, runs, layout)
    }
    assert(liveValues() == (all :+ 9.0).sorted)
    spool("b3", Seq("+m0 host=h0", ":1", ":7"))
    assert(RunLog.listRuns(spark, runs).nonEmpty)
    assert(RunLog.foldRuns(spark, runs, layout, Seq("host")).size == 1)
    assert(liveValues() == (all ++ Seq(7.0, 9.0)).sorted)
  }

  test("foldRuns into an hourly layout needs no width: it uses the layout's") {
    val dir = new java.io.File(TestData.freshScratch("graft-runlog-hourly"))
    val hour = 3600L * 1000000000L
    val runs = new java.io.File(dir, "runs").getAbsolutePath
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    Ingest.writeLayout(spark.range(4).select(lit("m0").as("metric"),
        map(lit("host"), lit("h0")).as("tags"), (col("id") * hour).as("ts"),
        col("id").cast("double").as("value"),
        lit(null).cast("string").as("event")),
      layout, flattenTags = Seq("host"), bucketNs = hour, saltBuckets = 1)
    val d = new java.io.File(dir, "b"); d.mkdirs()
    Files.write(new java.io.File(d, "s.resp").toPath,
      (0 until 10).flatMap(i => Seq("+m0 host=h1",
        s":${5 * hour + i * 1000000000L}", s":${100 + i}"))
        .mkString("\n").getBytes)
    RunLog.spoolResp(spark, d.getAbsolutePath, runs, Seq("host"))
    assert(RunLog.foldRuns(spark, runs, layout, Seq("host")).nonEmpty)
    assert(Ingest.readBucketNs(spark, layout).contains(hour))
    // hour pruning: a ranged query over the folded hour sees exactly it
    def ranged(from: Long, to: Long) = graft.plan.Planner.plan(
      graft.ast.QueryJson.parse(
        s"""{"select":"m0","range":{"from":$from,"to":$to}}"""),
      RunLog.liveStore(spark, layout, runs)).df
      .collect().map(_.getDouble(2)).sorted.toSeq
    assert(ranged(5 * hour, 6 * hour) == (100 until 110).map(_.toDouble))
    assert(ranged(0, 6 * hour) ==
      ((0 until 4) ++ (100 until 110)).map(_.toDouble))
  }

  test("foldRuns: a tag-key mismatch with the layout fails before staging") {
    val dir = new java.io.File(TestData.freshScratch("graft-runlog-tagkeys"))
    val runs = new java.io.File(dir, "runs").getAbsolutePath
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    def spool(name: String, tags: Seq[String]): Unit = {
      val d = new java.io.File(dir, name); d.mkdirs()
      Files.write(new java.io.File(d, "s.resp").toPath,
        (0 until 6).flatMap(i => Seq(s"+m$i host=h$i region=r${i % 2}",
          s":${i * 1000000000L}", s":$i")).mkString("\n").getBytes)
      RunLog.spoolResp(spark, d.getAbsolutePath, runs, tags)
    }
    // the layout is bootstrapped with two flattened tags, across several
    // metric= directories
    spool("b1", Seq("host", "region"))
    assert(RunLog.foldRuns(spark, runs, layout, Seq("host", "region")).nonEmpty)
    spool("b2", Seq("host"))
    val pending = RunLog.listRuns(spark, runs)
    val e = intercept[IllegalArgumentException] {
      RunLog.foldRuns(spark, runs, layout, Seq("host"))
    }
    assert(e.getMessage.contains(s"layout $layout has flattened tags [") &&
      e.getMessage.contains(s"runs under $runs spooled with [host]"),
      e.getMessage)
    assert(Seq("host", "region").forall(t =>
      e.getMessage.contains(t)), e.getMessage)
    // nothing was staged: the runs stay where they were, servable
    assert(RunLog.listRuns(spark, runs) == pending && pending.nonEmpty)
    val folding = new java.io.File(runs, ".folding")
    assert(!folding.exists() || folding.list().isEmpty)
    // called with the layout's keys, as a fixed maintenance loop does:
    // the runs' own header rejects it, still before staging
    val e2 = intercept[IllegalArgumentException] {
      RunLog.foldRuns(spark, runs, layout, Seq("host", "region"))
    }
    assert(e2.getMessage.contains("spooled with tag keys [host]"),
      e2.getMessage)
    assert(RunLog.listRuns(spark, runs) == pending)
    assert(!folding.exists() || folding.list().isEmpty)
    // a fresh layout has no footer to compare: the header check alone
    // rejects the wrong keys, and no layout appears
    val fresh = new java.io.File(dir, "fresh")
    intercept[IllegalArgumentException] {
      RunLog.foldRuns(spark, runs, fresh.getAbsolutePath, Seq("dc"))
    }
    assert(RunLog.listRuns(spark, runs) == pending)
    assert(!folding.exists() || folding.list().isEmpty)
    assert(!fresh.exists())
  }

  test("run names are deterministic per partition (retry-idempotent)") {
    val dir = new java.io.File(TestData.freshScratch("graft-runlog5"))
    renderSessions(dir)
    val runs = new java.io.File(dir, "runs")
    RunLog.spoolResp(spark, dir.getAbsolutePath, runs.getAbsolutePath,
      Seq("host"))
    val names = runs.listFiles().map(_.getName).filter(_.endsWith(".grun"))
    // one file per non-empty partition, named run-<run nonce>-<pid>.grun:
    // the nonce is fixed driver-side for the whole call, so a RETRIED
    // task republishes to the same name instead of adding a duplicate
    assert(names.nonEmpty)
    val nonces = names.map(_.split("-")(1)).toSet
    assert(nonces.size == 1, s"per-attempt nonces would duplicate data: $names")
    assert(names.forall(_.matches("run-[0-9a-f]+-\\d+\\.grun")))
    // a second spool CALL into the same directory is new data, not a
    // retry: distinct nonce, both file sets readable together
    RunLog.spoolResp(spark, dir.getAbsolutePath, runs.getAbsolutePath,
      Seq("host"))
    val all = runs.listFiles().map(_.getName).filter(_.endsWith(".grun"))
    assert(all.map(_.split("-")(1)).toSet.size == 2)
    assert(RunLog.readRuns(spark, runs.getAbsolutePath)
      .count() == 304) // both spools: 2 x 152
  }

  test("varint/zigzag codec round-trips arbitrary longs") {
    val rnd = new scala.util.Random(99)
    val probe = Seq(0L, 1L, -1L, 127L, 128L, -128L, Long.MaxValue,
      Long.MinValue) ++ Seq.fill(500)(rnd.nextLong())
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    probe.foreach(v => RunLog.writeVarLong(out, RunLog.zigzag(v)))
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    probe.foreach { v =>
      assert(RunLog.unzigzag(RunLog.readVarLong(in)) == v)
    }
    // small magnitudes stay small on the wire (the point of the delta
    // encoding): |v| < 2^6 fits one byte
    val b1 = new java.io.ByteArrayOutputStream()
    RunLog.writeVarLong(new java.io.DataOutputStream(b1), RunLog.zigzag(-42L))
    assert(b1.size == 1)
  }

  test("a truncated run file fails loudly with the file path") {
    val dir = new java.io.File(TestData.freshScratch("graft-runlog7"))
    renderSessions(dir)
    val runs = new java.io.File(dir, "runs")
    RunLog.spoolResp(spark, dir.getAbsolutePath, runs.getAbsolutePath,
      Seq("host"))
    // corrupt one published run: chop its tail mid-frame (and drop the
    // local-FS checksum sidecar, which would otherwise catch it first —
    // also acceptable, but here we exercise the decoder's own guard)
    val f = runs.listFiles().filter(_.getName.endsWith(".grun")).head
    val bytes = Files.readAllBytes(f.toPath)
    Files.write(f.toPath, bytes.take(bytes.length - 3))
    new java.io.File(runs, s".${f.getName}.crc").delete()
    val e = intercept[org.apache.spark.SparkException] {
      RunLog.readRuns(spark, runs.getAbsolutePath).count()
    }
    val msg = e.getMessage +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("corrupt run file") && msg.contains(f.getName))
  }

  test("tag-key mismatch between spool and read fails fast") {
    val dir = new java.io.File(TestData.freshScratch("graft-runlog4"))
    renderSessions(dir)
    val runs = new java.io.File(dir, "runs").getAbsolutePath
    // one snapshot, two key sets: the read takes the first file's keys
    // and the other file's task fails, naming it
    RunLog.spoolResp(spark, dir.getAbsolutePath, runs, Seq("host"))
    RunLog.spoolResp(spark, dir.getAbsolutePath, runs, Seq("dc"))
    val files = RunLog.listRuns(spark, runs)
    val e = intercept[org.apache.spark.SparkException] {
      RunLog.readRuns(spark, runs).collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("spooled with tag keys"), msg)
    assert(files.exists(f => msg.contains(f.getPath.getName)), msg)
  }
}
