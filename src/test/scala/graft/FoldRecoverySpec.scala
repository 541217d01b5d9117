package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.TestData
import graft.io.{Ingest, RunLog, WireIngest}
import graft.model.AkuTime

/** Crash recovery of the fold protocol (reference parity:
  * test_kill.py / test_wal_recovery.py — SIGKILL at any point costs
  * zero samples and creates zero permanent duplicates). Each test
  * CONSTRUCTS the exact on-disk state a kill at one protocol step
  * leaves behind (stage / mid-landing / post-commit), then asserts the
  * next foldRuns or recoverFolds converges to the exactly-once view,
  * ending with a real Planner query over the recovered store. */
class FoldRecoverySpec extends SparkFunSuite {

  private val day = Ingest.DayNs

  private def spool(dir: java.io.File, name: String, runs: String,
                    lines: Seq[String]): Unit = {
    val d = new java.io.File(dir, name); d.mkdirs()
    Files.write(new java.io.File(d, "s.resp").toPath,
      lines.mkString("\n").getBytes)
    RunLog.spoolResp(spark, d.getAbsolutePath, runs, Seq("host"))
  }

  private def respLines(vals: Range, t0: Long = 0L): Seq[String] =
    vals.flatMap(i => Seq(s"+m0 host=h${i % 2}",
      s":${t0 + i * 1000000000L}", s":$i"))

  private def liveValues(layout: String, runs: String): Seq[Double] = {
    val st = RunLog.liveStore(spark, layout, runs)
    graft.plan.Planner.plan(graft.ast.QueryJson.parse(
      s"""{"select":"m0","range":{"from":0,"to":${3 * day}}}"""), st).df
      .collect().map(_.getDouble(2)).sorted.toSeq
  }

  test("kill after staging: staged runs stay servable, next fold lands them once") {
    val dir = new java.io.File(TestData.freshScratch("graft-rec-stage"))
    val runs = new java.io.File(dir, "runs").getAbsolutePath
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    // data A committed normally (also bootstraps the layout)
    spool(dir, "a", runs, respLines(0 until 20))
    RunLog.foldRuns(spark, runs, layout, Seq("host"))
    // simulate a kill right after step 1 of folding data B: every
    // published run moved into the staging directory, nothing else
    spool(dir, "b", runs, respLines(0 until 30, t0 = day))
    val staging = new java.io.File(s"$runs/.folding/0000000000001-dead")
    staging.mkdirs()
    new java.io.File(runs).listFiles.filter(_.getName.endsWith(".grun"))
      .foreach(f => Files.move(f.toPath,
        new java.io.File(staging, f.getName).toPath))
    assert(RunLog.listRuns(spark, runs).isEmpty)
    val want = ((0 until 20) ++ (0 until 30)).map(_.toDouble).sorted
    // gap-free serving: the staged (crash-orphaned) runs are still read
    assert(liveValues(layout, runs) == want)
    // the next maintenance cycle recovers the orphan before snapshotting
    val retired = RunLog.foldRuns(spark, runs, layout, Seq("host"))
    assert(retired.isEmpty) // the new snapshot itself was empty
    assert(!new java.io.File(s"$runs/.folding").exists ||
      new java.io.File(s"$runs/.folding").listFiles.isEmpty)
    assert(liveValues(layout, runs) == want)
  }

  test("kill mid-landing: manifest rollback, regenerate, exactly-once") {
    val dir = new java.io.File(TestData.freshScratch("graft-rec-land"))
    val runs = new java.io.File(dir, "runs").getAbsolutePath
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    // cycle 1 committed normally: data A lives in the layout
    spool(dir, "a", runs, respLines(0 until 20))
    RunLog.foldRuns(spark, runs, layout, Seq("host"))
    assert(liveValues(layout, runs) == (0 until 20).map(_.toDouble))
    // build the step-4 crash state for data B: staged runs + generated
    // foldout + inflight manifest + ONE file already landed
    spool(dir, "b", runs, respLines(0 until 25, t0 = day))
    val foldId = "0000000000002-beef"
    val staging = new java.io.File(s"$runs/.folding/$foldId")
    staging.mkdirs()
    new java.io.File(runs).listFiles.filter(_.getName.endsWith(".grun"))
      .foreach(f => Files.move(f.toPath,
        new java.io.File(staging, f.getName).toPath))
    val foldout = s"$layout/.foldout/$foldId"
    RunLog.compactRuns(spark, staging.getAbsolutePath, foldout)
    val outFiles = Files.walk(java.nio.file.Paths.get(foldout)).iterator()
    val targets = scala.collection.mutable.ArrayBuffer[(java.io.File, java.io.File)]()
    outFiles.forEachRemaining { p =>
      val f = p.toFile
      if (f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")
          && f.getParentFile.getName.startsWith("day=")) {
        val dayDir = f.getParentFile
        val tgt = new java.io.File(
          s"$layout/${dayDir.getParentFile.getName}/${dayDir.getName}/" +
          s"fold-$foldId-${f.getName}")
        targets += ((f, tgt))
      }
    }
    assert(targets.nonEmpty)
    val foldsDir = new java.io.File(s"$layout/_folds"); foldsDir.mkdirs()
    Files.write(new java.io.File(foldsDir, s"$foldId.inflight").toPath,
      targets.map(_._2.getAbsolutePath).mkString("\n").getBytes)
    // one file landed before the "kill"
    targets.head._2.getParentFile.mkdirs()
    Files.move(targets.head._1.toPath, targets.head._2.toPath)
    // recovery: rolls the partial landing back by the manifest, redoes
    // the fold, retires — the view is A union B, each sample ONCE
    RunLog.recoverFolds(spark, runs, layout)
    val want = ((0 until 20) ++ (0 until 25)).map(_.toDouble).sorted
    assert(liveValues(layout, runs) == want)
    assert(new java.io.File(s"$runs/.folding").listFiles.isEmpty)
    assert(!new java.io.File(foldout).exists)
  }

  test("kill after commit: marker makes recovery retire without re-appending") {
    val dir = new java.io.File(TestData.freshScratch("graft-rec-commit"))
    val runs = new java.io.File(dir, "runs").getAbsolutePath
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    spool(dir, "a", runs, respLines(0 until 20))
    // keep copies of the run files, then fold normally (data committed)
    val runFiles = new java.io.File(runs).listFiles
      .filter(_.getName.endsWith(".grun"))
    val copies = runFiles.map { f =>
      val c = new java.io.File(dir, s"copy-${f.getName}")
      Files.copy(f.toPath, c.toPath); c
    }
    RunLog.foldRuns(spark, runs, layout, Seq("host"))
    assert(liveValues(layout, runs) == (0 until 20).map(_.toDouble))
    // crash state between steps 5 and 6: staged runs still present AND
    // the done-marker exists (the landing already happened above)
    val foldId = "0000000000003-cafe"
    val staging = new java.io.File(s"$runs/.folding/$foldId")
    staging.mkdirs()
    copies.foreach(c => Files.move(c.toPath,
      new java.io.File(staging, c.getName.stripPrefix("copy-")).toPath))
    new java.io.File(s"$layout/_folds").mkdirs()
    Files.createFile(new java.io.File(s"$layout/_folds/$foldId").toPath)
    // recovery must NOT append the staged snapshot a second time
    RunLog.recoverFolds(spark, runs, layout)
    assert(liveValues(layout, runs) == (0 until 20).map(_.toDouble))
    assert(new java.io.File(s"$runs/.folding").listFiles.isEmpty)
  }

  test("recovery into an hourly layout lands rows where hour pruning finds them") {
    val dir = new java.io.File(TestData.freshScratch("graft-rec-hourly"))
    val runs = new java.io.File(dir, "runs").getAbsolutePath
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    val hour = 3600L * 1000000000L
    // the layout's creator chose hourly buckets; nothing else restates it
    Ingest.writeLayout(spark.range(4).select(lit("m0").as("metric"),
        map(lit("host"), lit("h0")).as("tags"), (col("id") * hour).as("ts"),
        col("id").cast("double").as("value"),
        lit(null).cast("string").as("event")),
      layout, flattenTags = Seq("host"), bucketNs = hour, saltBuckets = 1)
    // kill right after step 1 of a fold: the runs are staged, nothing else
    spool(dir, "b", runs, respLines(100 until 110, t0 = 5 * hour))
    val staging = new java.io.File(s"$runs/.folding/0000000000004-f00d")
    staging.mkdirs()
    new java.io.File(runs).listFiles.filter(_.getName.endsWith(".grun"))
      .foreach(f => Files.move(f.toPath,
        new java.io.File(staging, f.getName).toPath))
    RunLog.recoverFolds(spark, runs, layout)
    assert(RunLog.listServableRuns(spark, runs).isEmpty)
    assert(Ingest.readBucketNs(spark, layout).contains(hour))
    def ranged(from: Long, to: Long) = graft.plan.Planner.plan(
      graft.ast.QueryJson.parse(
        s"""{"select":"m0","range":{"from":$from,"to":$to}}"""),
      RunLog.liveStore(spark, layout, runs)).df
      .collect().map(_.getDouble(2)).sorted.toSeq
    assert(ranged(5 * hour, 6 * hour) == (100 until 110).map(_.toDouble))
    assert(ranged(0, 6 * hour) ==
      ((0 until 4) ++ (100 until 110)).map(_.toDouble))
  }

  test("wire-to-query kill: TCP ingest severed mid-session, store recovers") {
    val dir = new java.io.File(TestData.freshScratch("graft-rec-wire"))
    val spoolDir = new java.io.File(dir, "spool")
    val runs = new java.io.File(dir, "runs").getAbsolutePath
    new java.io.File(runs).mkdirs()
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    val t0 = AkuTime.parseTs("20240501T000000")
    val srv = new WireIngest(spoolDir)
    srv.start()
    val n = 500
    try {
      val sock = new java.net.Socket("127.0.0.1", srv.tcpBoundPort)
      val sb = new java.lang.StringBuilder()
      for (i <- 0 until n)
        sb.append("+m0 host=h1\r\n:").append(t0 + i * 1000000L)
          .append("\r\n:").append(i).append("\r\n")
      sb.append("+m0 host=h1\r\n:4") // torn mid-entry when the server dies
      sock.getOutputStream.write(sb.toString.getBytes("UTF-8"))
      sock.getOutputStream.flush()
      Thread.sleep(300)
    } finally srv.stop() // severs the connection like a process death
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (spoolDir.listFiles().count(_.getName.endsWith(".resp")) < 1 &&
           System.nanoTime() < deadline) Thread.sleep(20)
    // recovery pipeline: spool -> runs -> fold -> layout, then QUERY
    RunLog.spoolResp(spark, spoolDir.getAbsolutePath, runs, Seq("host"))
    RunLog.foldRuns(spark, runs, layout, Seq("host"))
    val st = RunLog.liveStore(spark, layout, runs)
    val got = graft.plan.Planner.plan(graft.ast.QueryJson.parse(
      s"""{"select":"m0","range":{"from":"20240501T000000",
         |"to":"20240502T000000"}}""".stripMargin), st).df
      .collect().map(_.getDouble(2)).sorted.toSeq
    // every validated sample survives; the torn entry is invisible
    assert(got == (0 until n).map(_.toDouble))
  }
}
