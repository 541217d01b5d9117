package graft

import java.net.{HttpURLConnection, Socket, URI}
import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.TestData
import graft.io.{Ingest, WireIngest}
import graft.model.AkuTime
import graft.serve.ApiHttp

/** End-to-end parity with test_continuous_queries.py / test_concurrency
  * .py: a writer pushes samples over real TCP while a reader polls
  * `/api/query` on a LIVE server (per-request store provider). The
  * functest's invariant: every response is CONTINUOUS — consecutive
  * timestamps and values with no gaps — i.e. a reader observes a clean
  * prefix of the stream, never a partially-applied write. Our transport
  * gives this by construction: sessions publish atomically on connection
  * close, so a snapshot sees whole sessions only. The final poll must
  * return every sample (completeness, the functest's points_required).
  */
class FunctestsParity5Spec extends SparkFunSuite {

  private val N = 40000
  private val Chunks = 20 // one TCP connection per chunk
  private val DeltaNs = 1000000L // 1ms, like the functest
  private val T0 = AkuTime.parseTs("20240401T000000")

  private def http(port: Int, body: String): (Int, String) =
    HttpTest.http(port, body = body)

  test("reader sees gap-free prefixes while a TCP writer streams (continuous queries)") {
    val spool = new java.io.File(TestData.freshScratch("graft-continuous"))
    val srv = new WireIngest(spool)
    srv.start()
    // live server: every query re-parses the sessions published so far
    val api = new ApiHttp(
      () => Ingest.toStore(Ingest.respFiles(spark, spool.getAbsolutePath)),
      port = 0)
    api.start()
    try {
      // at most one chunk published per reader poll: guarantees the
      // reader genuinely overlaps the writer instead of racing past it
      val paced = new java.util.concurrent.Semaphore(1)
      val writer = new Thread(() => {
        val per = N / Chunks
        for (c <- 0 until Chunks) {
          paced.acquire()
          val sock = new Socket("127.0.0.1", srv.tcpBoundPort)
          val sb = new java.lang.StringBuilder(per * 40)
          for (i <- c * per until (c + 1) * per)
            sb.append("+test tag=Foo\r\n:")
              .append(T0 + i.toLong * DeltaNs).append("\r\n:")
              .append(i).append("\r\n")
          sock.getOutputStream.write(sb.toString.getBytes(UTF_8))
          sock.close() // publish: the reader may now see this chunk
        }
      }, "parity-writer")
      writer.start()

      val query =
        s"""{"select":"test","range":{"from":"${AkuTime.formatIso(T0)}",
           |"to":"${AkuTime.formatIso(T0 + N.toLong * DeltaNs)}"},
           |"output":{"format":"csv"}}""".stripMargin
      var sawPartial = false
      var last = -1
      // the functest's require_continuous: ts and value advance by
      // exactly one delta per row, starting at the stream head
      def pollOnce(): Unit = {
        val (code, body) = http(api.boundPort, query)
        if (code == 200 && body.nonEmpty) {
          val lines = body.split("\r\n").toIndexedSeq.filter(_.nonEmpty)
          lines.zipWithIndex.foreach { case (line, k) =>
            val cols = line.split(",")
            assert(cols(0) == "test tag=Foo")
            assert(AkuTime.parseTs(cols(1)) == T0 + k.toLong * DeltaNs,
              s"gap at row $k of ${lines.size}")
            assert(cols(2).toDouble == k.toDouble)
          }
          if (lines.size < N) sawPartial = true
          last = lines.size - 1
        } else assert(code == 404 || code == 200, s"$code: ${body.take(100)}")
        // 404 = no sessions published yet (metric unknown): legal snapshot
      }
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (last < N - 1 && System.nanoTime() < deadline) {
        pollOnce()
        paced.release() // let the writer publish the next chunk
      }
      paced.release(Chunks) // reader done: unblock any remaining chunks
      writer.join()
      // authoritative final read: every chunk is published once the
      // writer has joined, so completeness must not depend on whether
      // the paced loop beat the deadline under container load (the loop
      // exits with a STALE `last` when the deadline fires mid-stream)
      if (last < N - 1) pollOnce()
      assert(last == N - 1, s"final poll incomplete: ${last + 1} of $N rows")
      assert(sawPartial, "reader never overlapped the writer — retune sizes")
    } finally { api.stop(); srv.stop() }
  }
}
