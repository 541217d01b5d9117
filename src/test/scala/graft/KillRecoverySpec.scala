package graft

import java.io.File
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.sources.TestData
import graft.io.{Ingest, RunLog, WireIngest}

/** The forked ingest daemon the kill test SIGKILLs: a bare WireIngest
  * (RESP TCP -> session spool) with NO Spark in-process — the reference
  * topology, where akumulid is a plain native process and the analytics
  * engine opens the store afterwards. Publishes its bound port via an
  * atomic rename so the parent never reads a torn file. */
object KillChild {
  def main(args: Array[String]): Unit = {
    val spool = new File(args(0))
    val srv = new WireIngest(spool)
    srv.start()
    val dir = spool.getParentFile
    val tmp = new File(dir, ".port.tmp")
    Files.writeString(tmp.toPath, srv.tcpBoundPort.toString)
    Files.move(tmp.toPath, new File(dir, "port").toPath,
      StandardCopyOption.ATOMIC_MOVE)
    Thread.sleep(600000) // the parent kills us long before this
  }
}

/** functests/test_kill.py parity, end-to-end across a REAL process
  * boundary: a forked JVM ingests RESP over TCP and is SIGKILLed
  * mid-stream (no shutdown hook runs, no flush — exactly a crash).
  * The store reopened afterwards must serve every acknowledged session
  * bit-exact, expose NOTHING of the torn in-flight session, and accept
  * new writes whose data unions with the recovered history (the
  * reference's restart-after-kill write check). "Acked" here = the spool
  * published the session file (the connection-close commit point, the
  * analogue of the reference's WAL ack). */
class KillRecoverySpec extends SparkFunSuite {

  private def published(spool: File): Int =
    Option(spool.listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".resp"))

  private def await(what: String, deadlineMs: Long = 30000)(ok: => Boolean)
      : Unit = {
    val deadline = System.nanoTime() + deadlineMs * 1000000L
    while (!ok && System.nanoTime() < deadline) Thread.sleep(25)
    assert(ok, s"timed out waiting for $what")
  }

  /** One complete RESP session: `n` samples of `test host=h<i>`, values
    * j + i/10 (exact in binary? no — deliberately NOT round: i/16.0
    * keeps the bit-exactness assertion honest for doubles). */
  private def session(i: Int, n: Int): String =
    (0 until n).map { j =>
      s"+test host=h$i\r\n:${1000000000L * (j + 1)}\r\n+${j + i / 16.0}\r\n"
    }.mkString

  test("SIGKILL mid-stream: acked sessions recover bit-exact, torn " +
      "session invisible, post-restart writes union in (test_kill.py)") {
    val dir = new java.io.File(TestData.freshScratch("graft-kill"))
    val spool1 = new File(dir, "spool1"); spool1.mkdirs()
    val runs = new File(dir, "runs").getAbsolutePath
    val layout = new File(dir, "layout").getAbsolutePath

    val javaBin = new File(new File(sys.props("java.home"), "bin"), "java")
      .getAbsolutePath
    val pb = new ProcessBuilder(javaBin, "-cp", sys.props("java.class.path"),
      "graft.KillChild", spool1.getAbsolutePath)
    pb.redirectErrorStream(true)
    pb.redirectOutput(new File(dir, "child.log"))
    val child = pb.start()
    try {
      val portFile = new File(dir, "port")
      await("child port file")(portFile.exists())
      val port = Files.readString(portFile.toPath).trim.toInt

      // five acked sessions: connection close is the commit point; the
      // parent only counts a session as acked once the spool publishes
      for (i <- 0 until 5) {
        val sock = new Socket("127.0.0.1", port)
        sock.getOutputStream.write(session(i, 200).getBytes(UTF_8))
        sock.close()
        await(s"session $i published")(published(spool1) == i + 1)
      }

      // a sixth connection streams and is torn by SIGKILL at an
      // arbitrary byte offset — no close, no flush discipline
      val torn = new Socket("127.0.0.1", port)
      torn.getOutputStream.write(session(5, 100).getBytes(UTF_8))
      torn.getOutputStream.flush()
      child.destroyForcibly() // SIGKILL
      child.waitFor()
      scala.util.Try(torn.close())

      assert(published(spool1) == 5,
        "the torn session must never reach the published spool")

      // reopen the store the production way: spool -> runs -> layout
      val n1 = RunLog.spoolResp(spark, spool1.getAbsolutePath, runs)
      assert(n1 == 1000L)
      RunLog.foldRuns(spark, runs, layout)

      // restart: a fresh daemon (new nonce) over a second spool; a new
      // session must land WITHOUT clobbering recovered history
      val spool2 = new File(dir, "spool2"); spool2.mkdirs()
      val srv2 = new WireIngest(spool2)
      srv2.start()
      try {
        val sock = new Socket("127.0.0.1", srv2.tcpBoundPort)
        sock.getOutputStream.write(session(9, 50).getBytes(UTF_8))
        sock.close()
        await("post-restart session")(published(spool2) == 1)
      } finally srv2.stop()
      val runs2 = new File(dir, "runs2").getAbsolutePath
      assert(RunLog.spoolResp(spark, spool2.getAbsolutePath, runs2) == 50L)

      // the live view = folded history + fresh spool, bit-exact
      val st = RunLog.liveStore(spark, layout, runs2)
      val got = st.samples
        .select(col("sname"), col("ts"), col("value"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
      val expect = (
        (for (i <- 0 until 5; j <- 0 until 200) yield
          (s"test host=h$i", 1000000000L * (j + 1), j + i / 16.0)) ++
        (for (j <- 0 until 50) yield
          (s"test host=h9", 1000000000L * (j + 1), j + 9 / 16.0))
      ).sortBy(t => (t._1, t._2))
      assert(got.length == 1050)
      // bit-exact: compare raw long bits, not fuzzy doubles
      assert(got.zip(expect).forall { case ((as, at, av), (es, et, ev)) =>
        as == es && at == et &&
          java.lang.Double.doubleToRawLongBits(av) ==
          java.lang.Double.doubleToRawLongBits(ev)
      }, "recovered samples must be bit-identical to the acked stream")
    } finally {
      if (child.isAlive) { child.destroyForcibly(); child.waitFor() }
    }
  }
}
