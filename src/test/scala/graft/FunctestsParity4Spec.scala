package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.sources.TestData
import graft.model.AkuTime
import graft.plan.TsStore
import graft.serve.ApiHttp

/** End-to-end parity with the reference's test_group_aggregate_join.py:
  * three metrics carrying IDENTICAL values ingested over the RESP ROW
  * protocol (dictionary ids + `*3` value arrays against a compound
  * series), then group-aggregate-join queries at several steps, forward
  * and backward, checked against the functest's own assertions — exactly
  * N rows, a strict arithmetic timestamp sequence from `begin`, five
  * columns, the `m1|m2|m3` sname prefix, and all three values equal —
  * plus closed-form value checks the reference derives implicitly.
  */
class FunctestsParity4Spec extends SparkFunSuite {

  private def http(port: Int, path: String, body: String): (Int, String) =
    HttpTest.http(port, path, body = body)

  private val Metrics = Seq("cpu.user", "cpu.system", "cpu.idle")
  private val Compound = Metrics.mkString("|")
  private val N = 86400                 // one day at 1s, like the functest
  private val SecNs = 1000000000L
  private val T0 = AkuTime.parseTs("20240301T000010") // second=10: bucket
  // anchors must track `begin`, not wall-clock minutes
  private val Tag3 = "DEFGH"

  /** series index for sample i (round-robin over the 10 tag combos). */
  private def seriesOf(i: Int): Int = i % 10
  private def tagsOf(s: Int): String =
    s"tag1=A tag2=${if (s < 5) "B" else "C"} tag3=${Tag3(s % 5)}"

  private lazy val port: Int = {
    val sb = new java.lang.StringBuilder(N * 30 + 1024)
    // dictionary prelude: 10 compound series -> ids 0..9
    sb.append('*').append(20).append("\r\n")
    for (s <- 0 until 10)
      sb.append('+').append(Compound).append(' ').append(tagsOf(s))
        .append("\r\n:").append(s).append("\r\n")
    // row protocol: one entry per sample, 3 identical values
    var i = 0
    while (i < N) {
      val ts = T0 + i.toLong * SecNs
      sb.append(':').append(seriesOf(i)).append("\r\n")
        .append(':').append(ts).append("\r\n")
        .append("*3\r\n")
      var m = 0
      while (m < 3) { sb.append(':').append(i).append("\r\n"); m += 1 }
      i += 1
    }
    val tmp = new java.io.File(TestData.freshScratch("graft_parity_gaj"))
    val wireDir = new java.io.File(tmp, "wire"); wireDir.mkdirs()
    Files.write(new java.io.File(wireDir, "session_0.resp").toPath,
      sb.toString.getBytes(UTF_8))
    val layout = new java.io.File(tmp, "layout").getPath
    graft.io.Ingest.ingestResp(spark, wireDir.getPath, layout)
    val store: TsStore = graft.io.Ingest.readLayout(spark, layout)
    val srv = new ApiHttp(store, port = 0)
    srv.start()
    sys.addShutdownHook(srv.stop())
    srv.boundPort
  }

  private def isoMicros(ns: Long): String = {
    val secPart = AkuTime.formatIso(ns).takeWhile(_ != '.')
    f"$secPart.${Math.floorMod(ns, 1000000000L) / 1000L}%06d"
  }

  /** Mirror of test_group_aggregate_join_forward/_backward: query step
    * `stepStr`, assert the functest's row/ts/value invariants, and check
    * values closed-form. The where clause pins series 5 (tag2=C tag3=D),
    * whose sample values in a bucket of `stepSec` seconds starting at
    * offset k*stepSec are {k*stepSec+5, +15, ..., +stepSec-5}. */
  private def gajCheck(stepStr: String, stepSec: Long, func: String,
                       backward: Boolean): Unit = {
    val nRows = (N / stepSec).toInt
    val stepNs = stepSec * SecNs
    val (begin, end) =
      if (backward) (T0 + N.toLong * SecNs, T0 - stepNs)
      else (T0, T0 + (N.toLong + stepSec) * SecNs)
    val (code, body) = http(port, "/api/query",
      s"""{"group-aggregate-join":{"metric":["cpu.user","cpu.system","cpu.idle"],
         |"step":"$stepStr","func":"$func"},
         |"range":{"from":"${isoMicros(begin)}","to":"${isoMicros(end)}"},
         |"where":{"tag2":"C","tag3":"D"},
         |"output":{"format":"csv"}}""".stripMargin)
    assert(code == 200, body.take(200))
    val lines = body.split("\r\n").toIndexedSeq.filter(_.nonEmpty)
      .map(_.split(",", -1))
    assert(lines.size == nRows, s"expected $nRows rows, got ${lines.size}")
    lines.zipWithIndex.foreach { case (cols, k) =>
      assert(cols.length == 5, s"expected 5 columns: ${cols.mkString(",")}")
      assert(cols(0).startsWith(Compound),
        s"sname must start with '$Compound': ${cols(0)}")
      assert(cols(0) == s"$Compound ${tagsOf(5)}")
      val expTs = if (backward) begin - k * stepNs else begin + k * stepNs
      assert(AkuTime.parseTs(cols(1)) == expTs, s"row $k ts ${cols(1)}")
      val vs = (2 to 4).map(c => cols(c).toDouble)
      assert(vs.distinct.size == 1, s"values differ: ${vs.mkString(",")}")
      // closed form for series 5: forward bucket k spans seconds
      // [k*step, (k+1)*step); backward bucket k spans (begin-(k+1)step,
      // begin-k*step] relative to T0, i.e. seconds (N-(k+1)step, N-k*step]
      val expVal = (backward, func) match {
        case (false, "min") => k * stepSec + 5.0
        case (false, "max") => (k + 1) * stepSec - 5.0
        case (true, "min")  => (N - (k + 1) * stepSec + 5).toDouble
        case (true, "max")  => (N - k * stepSec - 5).toDouble
        case other          => fail(s"unhandled config $other")
      }
      assert(vs.head == expVal, s"row $k value ${vs.head} != $expVal")
    }
  }

  test("group-aggregate-join forward, 1m/min")  { gajCheck("1m", 60, "min", backward = false) }
  test("group-aggregate-join forward, 10m/min") { gajCheck("10m", 600, "min", backward = false) }
  test("group-aggregate-join forward, 1h/max")  { gajCheck("1h", 3600, "max", backward = false) }
  test("group-aggregate-join backward, 1m/min") { gajCheck("1m", 60, "min", backward = true) }
  test("group-aggregate-join backward, 10m/max") { gajCheck("10m", 600, "max", backward = true) }
  test("group-aggregate-join backward, 1h/max") { gajCheck("1h", 3600, "max", backward = true) }
}
