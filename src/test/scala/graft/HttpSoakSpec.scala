package graft

import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import graft.sources.TestData
import graft.io.RunLog
import graft.serve.ApiHttp

/** Concurrent serving soak THROUGH the HTTP runtime — the reference's
  * MHD thread-per-connection behavior under load (httpserver.cpp:54-114)
  * driven the way `test_concurrency.py` drives it: a TCP writer streams
  * sessions, a maintenance thread runs spool→runs→layout fold cycles,
  * and ≥8 parallel HTTP clients hammer `POST /api/query` against the
  * live `storeProvider` view the whole time.
  *
  * Invariants (load-insensitive, like ConcurrencySoakSpec's):
  * - ZERO 5xx responses, ever — the server's error paths are 400/404 or
  *   the in-band `-message` cursor contract, never a server blow-up;
  * - every clean 200 is a contiguous ordered prefix of the acked stream
  *   (sessions commit in order, so a torn middle is an engine bug);
  * - transient dirt (a fold retiring a run file mid-stream surfaces as
  *   an in-band error line; a rotation window hides the staged tail) is
  *   counted and reported, not asserted — its share is load-dependent;
  * - after quiescing, one final HTTP read returns the EXACT full stream.
  */
class HttpSoakSpec extends SparkFunSuite {

  test("8 parallel /api/query clients over live ingest + fold cycles: " +
      "zero 5xx, clean prefixes, exact final view") {
    val root = new java.io.File(TestData.freshScratch("graft-http-soak"))
    val spool = new java.io.File(root, "spool"); spool.mkdirs()
    val runs = new java.io.File(root, "runs").getAbsolutePath
    val layout = new java.io.File(root, "layout").getAbsolutePath
    val srv = new graft.io.WireIngest(spool)
    srv.start()
    val sessions = 12; val per = 1000
    val n = sessions * per
    val step = 1000000000L

    def sendSession(s: Int): Unit = {
      // ack-synchronous: WireIngest publishes the session in its
      // handler thread AFTER close() returns, so await the publish
      // counter before returning — otherwise a saturated host can
      // publish session k after k+1 (a non-contiguous fold the torn
      // check would blame on the engine) or after the writer-done
      // flag (the final-view assert would miss the last session)
      val expect = srv.sessionsPublished + 1
      val sock = new Socket("127.0.0.1", srv.tcpBoundPort)
      val sb = new java.lang.StringBuilder(per * 40)
      for (i <- 0 until per) {
        val g = s * per + i
        sb.append("+test tag=Foo\r\n:").append(step * g)
          .append("\r\n:").append(g).append("\r\n")
      }
      sock.getOutputStream.write(sb.toString.getBytes(UTF_8))
      sock.close()
      var w = 0
      while (srv.sessionsPublished < expect && w < 20000) {
        Thread.sleep(20); w += 20
      }
      assert(srv.sessionsPublished >= expect,
        s"session $s not published within 20s")
    }

    // seed one folded session so the layout exists before the server
    // opens (liveStore requires a layout; a real deployment starts
    // serving after its first fold too)
    sendSession(0)
    // wait for the publish (close -> rename) to land
    def spoolFiles() = Option(spool.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".resp"))
    var waited = 0
    while (spoolFiles().isEmpty && waited < 10000) {
      Thread.sleep(50); waited += 50
    }
    def rotateAndFold(gen: Int): Boolean = {
      val fs = spoolFiles()
      if (fs.isEmpty) false
      else {
        val genDir = new java.io.File(root, s"gen$gen"); genDir.mkdirs()
        val moved = fs.filter(f =>
          f.renameTo(new java.io.File(genDir, f.getName)))
        val did = moved.nonEmpty
        if (did) {
          RunLog.spoolResp(spark, genDir.getAbsolutePath, runs)
          RunLog.foldRuns(spark, runs, layout)
        }
        genDir.listFiles().foreach(_.delete()); genDir.delete()
        did
      }
    }
    assert(rotateAndFold(0), "seed fold did not run")

    val api = new ApiHttp(() => RunLog.liveStore(spark, layout, runs))
    api.start()
    val port = api.boundPort
    val body =
      s"""{"select":"test","range":{"from":0,"to":${step * n}},
         |"output":{"format":"csv"}}""".stripMargin

    @volatile var writerDone = false
    @volatile var writerErr: Option[Throwable] = None
    val writer = new Thread(() => {
      try {
        for (s <- 1 until sessions) { sendSession(s); Thread.sleep(400) }
      } catch { case t: Throwable => writerErr = Some(t) }
      finally writerDone = true
    }, "http-soak-writer")

    @volatile var maintDone = false
    @volatile var maintErr: Option[Throwable] = None
    @volatile var folds = 1
    val maint = new Thread(() => {
      try {
        var gen = 1
        while (!writerDone || spoolFiles().nonEmpty) {
          Thread.sleep(600)
          if (rotateAndFold(gen)) folds += 1
          gen += 1
        }
      } catch { case t: Throwable => maintErr = Some(t) }
      finally maintDone = true
    }, "http-soak-maint")

    val stop = new AtomicBoolean(false)
    val clean = new AtomicInteger(0)
    val dirty = new AtomicInteger(0)
    val server5xx = new AtomicInteger(0)
    val torn = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val clients = (0 until 8).map { c =>
      new Thread(() => {
        while (!stop.get()) {
          try {
            val (code, text) = HttpTest.http(port, "/api/query", "POST", body)
            if (code >= 500) server5xx.incrementAndGet()
            else if (code != 200) dirty.incrementAndGet()
            else {
              val lines = text.split("\r\n").filter(_.nonEmpty).toSeq
              if (lines.exists(_.startsWith("-"))) dirty.incrementAndGet()
              else {
                // csv: "test tag=Foo,<iso>,<value>"; forward select =>
                // time order => the values must be exactly 0..k-1
                val vals = lines.map(_.split(",")(2).toDouble.toLong)
                if (vals == (0L until vals.length.toLong)) {
                  clean.incrementAndGet()
                } else {
                  dirty.incrementAndGet()
                  if (torn.size() < 3) torn.add(
                    s"client $c: ${vals.length} rows, " +
                      s"first mismatch at ${vals.zipWithIndex
                        .find { case (v, i) => v != i }}")
                }
              }
            }
          } catch { case _: Throwable => dirty.incrementAndGet() }
        }
      }, s"http-soak-client-$c")
    }

    // clients get a short quiet head-start (no concurrent folds yet) so
    // the clean-read floor never depends on how much of the contended
    // phase a fold window happens to cover on a loaded host
    clients.foreach(_.start())
    Thread.sleep(1500)
    writer.start(); maint.start()
    try {
      // generous deadline, but a deadline: a wedged maintenance thread
      // (e.g. a spool renameTo persistently failing) must fail the suite
      // with a diagnostic, not hang it forever
      val maintDeadline = System.nanoTime() + 180L * 1000000000L
      while (!maintDone && System.nanoTime() < maintDeadline)
        Thread.sleep(100)
      stop.set(true) // before the assert: clients must wind down either way
      assert(maintDone,
        s"maintenance did not finish within 180s ($folds folds done)")
      clients.foreach(_.join(120000))
      writer.join(60000); maint.join(60000)
      assert(writerErr.isEmpty, s"writer failed: $writerErr")
      assert(maintErr.isEmpty, s"maintenance failed: $maintErr")
      info(s"http soak: ${clean.get} clean, ${dirty.get} transient, " +
        s"$folds folds, ${server5xx.get} 5xx")
      assert(server5xx.get == 0, s"server returned ${server5xx.get} 5xx")
      // torn middles are engine bugs regardless of load; shorter
      // prefixes and in-band stream errors are the transient budget
      assert(torn.isEmpty, s"non-prefix responses: ${torn}")
      assert(clean.get >= 5,
        s"soak made only ${clean.get} clean reads (${dirty.get} transient)")
      assert(folds >= 2, s"maintenance barely ran: $folds folds")
      // quiesced: one last request must return the exact full stream
      val (code, text) = HttpTest.http(port, "/api/query", "POST", body)
      assert(code == 200)
      val vals = text.split("\r\n").filter(_.nonEmpty).toSeq
        .map(_.split(",")(2).toDouble.toLong)
      assert(vals == (0L until n.toLong),
        s"final view has ${vals.length} of $n rows")
    } finally { api.stop(); srv.stop() }
  }
}
