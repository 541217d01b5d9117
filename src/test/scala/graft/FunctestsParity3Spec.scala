package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.sources.TestData
import graft.model.AkuTime
import graft.plan.TsStore
import graft.serve.ApiHttp

/** End-to-end parity with two more reference functest suites:
  * test_filter_query.py (value filters on select and join, component
  * filters with require all/any on group-aggregate) and test_eval.py
  * (group-aggregate-join piped through the eval expression node).
  * Method as in [[FunctestsParitySpec]]: reference generator corpus as
  * RESP wire text -> layout -> HTTP -> CSV vs closed-form expectations.
  */
class FunctestsParity3Spec extends SparkFunSuite {

  private def http(port: Int, path: String, body: String): (Int, String) =
    HttpTest.http(port, path, body = body)

  private def serve(name: String, wire: String): Int = {
    val tmp = new java.io.File(TestData.freshScratch(s"graft_parity_$name"))
    val wireDir = new java.io.File(tmp, "wire"); wireDir.mkdirs()
    Files.write(new java.io.File(wireDir, "session_0.resp").toPath,
      wire.getBytes(UTF_8))
    val layout = new java.io.File(tmp, "layout").getPath
    val seriesDim = new java.io.File(tmp, "series").getPath
    graft.io.Ingest.ingestResp(spark, wireDir.getPath, layout)
    graft.io.Ingest.writeSeriesFromLayout(spark, layout, seriesDim)
    val store: TsStore =
      graft.io.Ingest.readLayout(spark, layout, Some(seriesDim))
    val srv = new ApiHttp(store, port = 0)
    srv.start()
    sys.addShutdownHook(srv.stop())
    srv.boundPort
  }

  private def isoMicros(ns: Long): String = {
    val secPart = AkuTime.formatIso(ns).takeWhile(_ != '.')
    f"$secPart.${Math.floorMod(ns, 1000000000L) / 1000L}%06d"
  }
  private def rangeJson(from: Long, to: Long): String =
    s""""range":{"from":"${isoMicros(from)}","to":"${isoMicros(to)}"}"""
  private val csvOut = """"output":{"format":"csv"}"""
  private def csvLines(body: String): Seq[Array[String]] =
    body.split("\r\n").toIndexedSeq.filter(_.nonEmpty)
      .map(_.split(",", -1)) // keep empty tuple cells

  // ======================================================================
  // test_filter_query.py — col1+col2, values cycling [-100, 100),
  // tag2=[B,C,D] (generate_messages4)
  // ======================================================================
  private val FN = 6000
  private val FDelta = 1000000L
  private val FT0 = AkuTime.parseTs("20240701T000000")
  private val FTags = Vector("B", "C", "D")
  private def fval(i: Int): Double = (i % 200 - 100).toDouble

  private lazy val filterPort: Int = {
    val sb = new StringBuilder(FN * 120)
    for (metric <- Seq("col1", "col2"); i <- 0 until FN) {
      sb.append(s"+$metric tag1=A tag2=${FTags(i % 3)}\r\n")
        .append('+').append(isoMicros(FT0 + i.toLong * FDelta)).append("\r\n")
        .append('+').append(fval(i)).append("\r\n")
    }
    serve("filter", sb.toString)
  }

  private def filterSelect(from: Long, to: Long, extra: String = "")
      : Seq[Array[String]] = {
    val (code, body) = http(filterPort, "/api/query",
      s"""{"select":"col1",${rangeJson(from, to)},
         |"filter":{"lt":20,"gt":-20}$extra,$csvOut}""".stripMargin)
    assert(code == 200, body.take(200))
    csvLines(body)
  }

  /** Points passing the strict (gt, lt) filter, in index order. */
  private def fKept: Seq[Int] =
    (0 until FN).filter(i => fval(i) > -20 && fval(i) < 20)

  test("filter query forward and backward return exactly the passing points") {
    val fwd = filterSelect(FT0, FT0 + (FN + 1).toLong * FDelta)
    assert(fwd.size == fKept.size)
    fwd.zip(fKept).foreach { case (cols, i) =>
      assert(cols(0) == s"col1 tag1=A tag2=${FTags(i % 3)}")
      assert(AkuTime.parseTs(cols(1)) == FT0 + i.toLong * FDelta)
      assert(cols(2).toDouble == fval(i))
    }
    val bwd = filterSelect(FT0 + (FN + 1).toLong * FDelta, FT0)
    // backward range (to, from] excludes FT0 itself (point i=0)
    val keptBwd = fKept.filter(_ != 0).reverse
    assert(bwd.size == keptBwd.size)
    bwd.zip(keptBwd).foreach { case (cols, i) =>
      assert(AkuTime.parseTs(cols(1)) == FT0 + i.toLong * FDelta)
      assert(cols(2).toDouble == fval(i))
    }
  }

  test("filter query with order-by time keeps the filter") {
    val fwd = filterSelect(FT0, FT0 + (FN + 1).toLong * FDelta,
      ""","order-by":"time"""")
    assert(fwd.size == fKept.size)
    fwd.zip(fKept).foreach { case (cols, i) =>
      assert(cols(2).toDouble == fval(i))
    }
  }

  test("filter query matching nothing returns an empty response") {
    val (code, body) = http(filterPort, "/api/query",
      s"""{"select":"col1",${rangeJson(FT0, FT0 + (FN + 1).toLong * FDelta)},
         |"filter":{"lt":-1000,"gt":-2000},$csvOut}""".stripMargin)
    assert(code == 200)
    assert(body.isEmpty)
  }

  test("join with per-metric filters: outer rows, empty cells for the filtered side") {
    val (code, body) = http(filterPort, "/api/query",
      s"""{"join":["col1","col2"],${rangeJson(FT0, FT0 + (FN + 1).toLong * FDelta)},
         |"filter":{"col1":{"gt":-20,"lt":20},"col2":{"gt":40,"lt":60}},
         |$csvOut}""".stripMargin)
    assert(code == 200, body.take(200))
    val lines = csvLines(body)
    // both metrics share (ts, value); a row survives when either side
    // passes its filter, the other cell is the empty field
    val expected = (0 until FN).flatMap { i =>
      val v = fval(i)
      val c1 = v > -20 && v < 20
      val c2 = v > 40 && v < 60
      if (!c1 && !c2) None
      else Some((s"col1|col2 tag1=A tag2=${FTags(i % 3)}",
        FT0 + i.toLong * FDelta,
        if (c1) Some(v) else None, if (c2) Some(v) else None))
    }
    assert(lines.size == expected.size)
    lines.zip(expected).foreach { case (cols, (sn, ts, v1, v2)) =>
      assert(cols(0) == sn)
      assert(AkuTime.parseTs(cols(1)) == ts)
      assert(cols.length == 4)
      assert((if (cols(2).isEmpty) None else Some(cols(2).toDouble)) == v1)
      assert((if (cols(3).isEmpty) None else Some(cols(3).toDouble)) == v2)
    }
  }

  /** group-aggregate rows (sname, ts, min, max, count, sum) without a
    * filter, derived closed-form. */
  private def gaRows(step: Long): Seq[(String, Long, Double, Double, Double, Double)] =
    (0 until FN).groupBy { i =>
      (FTags(i % 3), FT0 + ((i.toLong * FDelta) / step) * step)
    }.toSeq.map { case ((t, bucket), is) =>
      val vs = is.map(fval)
      (s"col1:min|col1:max|col1:count|col1:sum tag1=A tag2=$t", bucket,
        vs.min, vs.max, vs.size.toDouble, vs.sum)
    }.sortBy { case (sn, ts, _, _, _, _) => (ts, sn) }

  private def gaFilterCheck(nsteps: Int, require: String): Unit = {
    val step = (FN.toLong * FDelta) / nsteps
    val (code, body) = http(filterPort, "/api/query",
      s"""{"group-aggregate":{"metric":"col1","step":$step,
         |"func":["min","max","count","sum"]},
         |${rangeJson(FT0, FT0 + (FN + 1).toLong * FDelta)},
         |"filter":{"min":{"gt":-80,"lt":0},"max":{"gt":-20,"lt":40},
         |"=":{"require":"$require"}},$csvOut}""".stripMargin)
    assert(code == 200, body.take(200))
    val lines = csvLines(body)
    val pred: ((String, Long, Double, Double, Double, Double)) => Boolean = {
      case (_, _, mn, mx, _, _) =>
        val fMin = mn > -80 && mn < 0
        val fMax = mx > -20 && mx < 40
        if (require == "all") fMin && fMax else fMin || fMax
    }
    val expected = gaRows(step).filter(pred)
    assert(lines.size == expected.size)
    lines.zip(expected).foreach { case (cols, (sn, ts, mn, mx, cnt, sm)) =>
      assert(cols(0) == sn)
      assert(AkuTime.parseTs(cols(1)) == ts)
      assert(cols(2).toDouble == mn); assert(cols(3).toDouble == mx)
      assert(cols(4).toDouble == cnt)
      assert(math.abs(cols(5).toDouble - sm) < 1e-5)
    }
  }

  test("group-aggregate component filter, require all, 100 steps") {
    gaFilterCheck(100, "all")
  }
  test("group-aggregate component filter, require all, 50 steps") {
    gaFilterCheck(50, "all")
  }
  test("group-aggregate component filter, require any, 100 steps") {
    gaFilterCheck(100, "any")
  }
  test("group-aggregate component filter, require any, 50 steps") {
    gaFilterCheck(50, "any")
  }

  // ======================================================================
  // test_eval.py — cpu.user/cpu.syst, 1h at 1s, value=i, tag2=[B,C],
  // tag3=[D..H]; group-aggregate-join + eval(cpu.user - cpu.syst) == 0
  // ======================================================================
  private val EN = 3600
  private val EDelta = 1000000000L // 1s
  private val ET0 = AkuTime.parseTs("20240801T000000")

  private lazy val evalPort: Int = {
    val t2 = Vector("B", "C"); val t3 = Vector("D", "E", "F", "G", "H")
    val sb = new StringBuilder(EN * 160)
    for (metric <- Seq("cpu.user", "cpu.syst"); i <- 0 until EN) {
      sb.append(s"+$metric tag1=A tag2=${t2(i % 2)} tag3=${t3(i % 5)}\r\n")
        .append('+').append(isoMicros(ET0 + i.toLong * EDelta)).append("\r\n")
        .append('+').append(i).append("\r\n")
    }
    serve("eval", sb.toString)
  }

  private def gajEvalCheck(backward: Boolean, stepStr: String, stepNs: Long,
                           aggFunc: String): Unit = {
    val nBuckets = (EN.toLong * EDelta / stepNs).toInt
    val (from, to) =
      if (backward) (ET0 + nBuckets.toLong * stepNs, ET0 - stepNs)
      else (ET0, ET0 + (EN + 1).toLong * EDelta)
    val (code, body) = http(evalPort, "/api/query",
      s"""{"group-aggregate-join":{"metric":["cpu.user","cpu.syst"],
         |"func":"$aggFunc","step":"$stepStr"},
         |${rangeJson(from, to)},
         |"where":{"tag3":"D","tag2":"C"},
         |"apply":[{"name":"eval","expr":"cpu.user - cpu.syst"}],
         |$csvOut}""".stripMargin)
    assert(code == 200, body.take(200))
    val lines = csvLines(body)
    // the (tag2=C, tag3=D) series has one sample every 10 s, so every
    // step-sized bucket is populated: exactly nBuckets rows, timestamps
    // stepping from `begin` in scan direction, every eval value zero
    assert(lines.size == nBuckets, s"got ${lines.size}, want $nBuckets")
    lines.zipWithIndex.foreach { case (cols, k) =>
      assert(cols.length == 3, cols.mkString(","))
      assert(cols(0).startsWith("cpu.user|cpu.syst"))
      val expTs = if (backward) from - k.toLong * stepNs
                  else from + k.toLong * stepNs
      assert(AkuTime.parseTs(cols(1)) == expTs)
      assert(cols(2).toDouble == 0.0)
    }
  }

  test("group-aggregate-join + eval forward, 1m/min") {
    gajEvalCheck(backward = false, "1m", 60L * 1000000000L, "min")
  }
  test("group-aggregate-join + eval forward, 10m/max") {
    gajEvalCheck(backward = false, "10m", 600L * 1000000000L, "max")
  }
  test("group-aggregate-join + eval backward, 1m/min") {
    gajEvalCheck(backward = true, "1m", 60L * 1000000000L, "min")
  }
  test("group-aggregate-join + eval backward, 10m/max") {
    gajEvalCheck(backward = true, "10m", 600L * 1000000000L, "max")
  }
}
