package graft

import java.net.{HttpURLConnection, Socket, URI}
import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.TestData
import graft.io.{Ingest, WireIngest}
import graft.model.AkuTime
import graft.serve.ApiHttp

/** End-to-end parity with test_restart.py and test_kill.py: data written
  * over TCP survives a full server stop/start (durability lives in the
  * published session spool — the WAL analogue), reads after restart
  * return every point, new writes land in the restarted server, and a
  * session torn by a crash (connection never closed) is invisible after
  * recovery — the atomic-publish contract stands in for the reference's
  * WAL truncation on restart.
  */
class FunctestsParity6Spec extends SparkFunSuite {

  private val DeltaNs = 1000000L
  private val T0 = AkuTime.parseTs("20240501T000000")

  private def http(port: Int, body: String): (Int, String) =
    HttpTest.http(port, body = body)

  /** Send samples [i0, i0+n) over one TCP connection; 10 series like the
    * functest's tag generator. */
  private def writeTcp(port: Int, i0: Int, n: Int): Unit = {
    val sock = new Socket("127.0.0.1", port)
    val sb = new java.lang.StringBuilder(n * 50)
    for (i <- i0 until i0 + n)
      sb.append(s"+test tag1=A tag2=${if (i % 10 < 5) "B" else "C"}" +
          s" tag3=${"DEFGH"(i % 5)}\r\n:")
        .append(T0 + i.toLong * DeltaNs).append("\r\n:").append(i).append("\r\n")
    sock.getOutputStream.write(sb.toString.getBytes(UTF_8))
    sock.close()
  }

  /** test_read_all: full-range backward select must return every point
    * with exact timestamps and values. */
  private def readAll(port: Int, i0: Int, n: Int): Unit = {
    val from = T0 + (i0 + n).toLong * DeltaNs
    val to = T0 + i0.toLong * DeltaNs - DeltaNs
    val (code, body) = http(port,
      s"""{"select":"test","range":{"from":"${AkuTime.formatIso(from)}",
         |"to":"${AkuTime.formatIso(to)}"},
         |"output":{"format":"csv"}}""".stripMargin)
    assert(code == 200, body.take(200))
    val lines = body.split("\r\n").toIndexedSeq.filter(_.nonEmpty)
    assert(lines.size == n, s"expected $n rows, got ${lines.size}")
    lines.zipWithIndex.foreach { case (line, k) =>
      val cols = line.split(",")
      val i = i0 + n - 1 - k // backward: newest first
      assert(AkuTime.parseTs(cols(1)) == T0 + i.toLong * DeltaNs)
      assert(cols(2).toDouble == i.toDouble)
    }
  }

  private def liveApi(spool: java.io.File): ApiHttp = {
    val api = new ApiHttp(
      () => Ingest.toStore(Ingest.respFiles(spark, spool.getAbsolutePath)),
      port = 0)
    api.start()
    api
  }

  test("data survives stop/start; reads and writes resume (test_restart)") {
    val spool = new java.io.File(TestData.freshScratch("graft-restart"))
    val n = 10000
    // --- first server lifetime: write, read all
    val srv1 = new WireIngest(spool)
    srv1.start()
    val api1 = liveApi(spool)
    try {
      writeTcp(srv1.tcpBoundPort, 0, n)
      awaitSessions(spool, 1)
      readAll(api1.boundPort, 0, n)
    } finally { api1.stop(); srv1.stop() }

    // --- restart over the same spool: all data still there
    val srv2 = new WireIngest(spool)
    srv2.start()
    val api2 = liveApi(spool)
    try {
      readAll(api2.boundPort, 0, n)
      // new writes land in the restarted server
      writeTcp(srv2.tcpBoundPort, n, n)
      awaitSessions(spool, 2)
      readAll(api2.boundPort, n, n)
      readAll(api2.boundPort, 0, 2 * n) // and the union is seamless
    } finally { api2.stop(); srv2.stop() }
  }

  test("crash mid-session keeps the validated prefix, drops the torn tail (test_kill)") {
    val spool = new java.io.File(TestData.freshScratch("graft-kill"))
    val n = 1000
    val k = 7 // complete entries in flight when the server dies
    val srv1 = new WireIngest(spool)
    srv1.start()
    val api1 = liveApi(spool)
    try {
      writeTcp(srv1.tcpBoundPort, 0, n)
      awaitSessions(spool, 1)
      // a writer mid-session when the server dies: k complete entries
      // plus one PARTIAL line (no newline) have been sent
      val torn = new Socket("127.0.0.1", srv1.tcpBoundPort)
      val sb = new java.lang.StringBuilder()
      for (i <- n until n + k)
        sb.append(s"+test tag1=A tag2=B tag3=D\r\n:")
          .append(T0 + i.toLong * DeltaNs).append("\r\n:").append(i).append("\r\n")
      sb.append("+test tag1=A tag2=B tag3=D\r\n:99") // torn mid-line
      torn.getOutputStream.write(sb.toString.getBytes(UTF_8))
      torn.getOutputStream.flush()
      Thread.sleep(200) // let the handler spool the validated prefix
      api1.stop(); srv1.stop() // crash: severs the connection
      awaitSessions(spool, 2) // handler publishes the prefix (WAL analogue)
      try torn.close() catch { case _: java.io.IOException => () }
    } catch { case _: java.io.IOException => () }

    // recovery: the published session AND the validated prefix are
    // visible; the torn line is not — reads stay gap-free (the functest's
    // require_continuous over whatever survived the kill)
    val api2 = liveApi(spool)
    try readAll(api2.boundPort, 0, n + k)
    finally api2.stop()
  }

  private def awaitSessions(dir: java.io.File, k: Int): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (dir.listFiles().count(_.getName.endsWith(".resp")) < k &&
           System.nanoTime() < deadline) Thread.sleep(20)
    assert(dir.listFiles().count(_.getName.endsWith(".resp")) >= k)
  }
}
