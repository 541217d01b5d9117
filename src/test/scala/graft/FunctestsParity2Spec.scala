package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.sources.TestData
import graft.model.AkuTime
import graft.plan.TsStore
import graft.serve.ApiHttp

/** End-to-end parity with three more reference functest suites:
  * test_join_query.py (outer exact-ts join, both orders, both
  * directions), test_events.py (select-events forward/backward), and
  * test_search_api.py (suggest metric/tag/value with prefixes, search by
  * metric/tag). Same method as [[FunctestsParitySpec]]: the reference's
  * generator corpus rendered as RESP wire text, ingested through the
  * layout, served over HTTP, checked against closed-form expectations.
  *
  * Ordering note: equal-timestamp interleaves follow canonical-name
  * order here (Planner.finish contract note); in these corpora name
  * order coincides with the reference's id-assignment order (tags are
  * first seen in sorted order), so sequences compare exactly.
  */
class FunctestsParity2Spec extends SparkFunSuite {

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
    body.split("\r\n").toIndexedSeq.filter(_.nonEmpty).map(_.split(","))

  // ======================================================================
  // test_join_query.py — corpus: col1+col2, tag1=A tag2=[B,C,D], value=i
  // ======================================================================
  private val JN = 3000
  private val JDelta = 1000000L // 1ms
  private val JT0 = AkuTime.parseTs("20240401T000000")
  private val JTags = Vector("B", "C", "D")

  private lazy val joinPort: Int = {
    val sb = new StringBuilder(JN * 120)
    for (metric <- Seq("col1", "col2"); i <- 0 until JN) {
      sb.append(s"+$metric tag1=A tag2=${JTags(i % 3)}\r\n")
        .append('+').append(isoMicros(JT0 + i.toLong * JDelta)).append("\r\n")
        .append('+').append(i).append("\r\n")
    }
    serve("join", sb.toString)
  }

  private def joinQuery(from: Long, to: Long, extra: String = ""): Seq[Array[String]] = {
    val (code, body) = http(joinPort, "/api/query",
      s"""{"join":["col1","col2"],${rangeJson(from, to)}$extra,$csvOut}""")
    assert(code == 200, body.take(200))
    csvLines(body)
  }

  test("join forward by time: aligned tuples, both columns carry the value") {
    val lines = joinQuery(JT0, JT0 + (JN + 1).toLong * JDelta)
    assert(lines.size == JN)
    lines.zipWithIndex.foreach { case (cols, i) =>
      assert(cols(0) == s"col1|col2 tag1=A tag2=${JTags(i % 3)}")
      assert(AkuTime.parseTs(cols(1)) == JT0 + i.toLong * JDelta)
      assert(cols.length == 4)
      assert(cols(2).toDouble == i.toDouble && cols(3).toDouble == i.toDouble)
    }
  }

  test("join backward by time") {
    val lines = joinQuery(JT0 + (JN - 1).toLong * JDelta, JT0 - JDelta)
    assert(lines.size == JN)
    lines.zipWithIndex.foreach { case (cols, it) =>
      val i = JN - 1 - it
      assert(cols(0).endsWith(s"tag2=${JTags(i % 3)}"))
      assert(AkuTime.parseTs(cols(1)) == JT0 + i.toLong * JDelta)
      assert(cols(2).toDouble == i.toDouble && cols(3).toDouble == i.toDouble)
    }
  }

  test("join forward by series: each series contiguous, ts ascending within") {
    val lines = joinQuery(JT0, JT0 + (JN + 1).toLong * JDelta,
      ""","order-by":"series"""")
    assert(lines.size == JN)
    // series in name order (== first-seen order here): B, C, D blocks
    val expected = for {
      t <- JTags.indices
      i <- t until JN by 3
    } yield (s"col1|col2 tag1=A tag2=${JTags(t)}", JT0 + i.toLong * JDelta, i.toDouble)
    lines.zip(expected).foreach { case (cols, (sn, ts, v)) =>
      assert(cols(0) == sn)
      assert(AkuTime.parseTs(cols(1)) == ts)
      assert(cols(2).toDouble == v && cols(3).toDouble == v)
    }
  }

  test("join backward by series: ts descending within each series block") {
    val lines = joinQuery(JT0 + (JN - 1).toLong * JDelta, JT0 - JDelta,
      ""","order-by":"series"""")
    assert(lines.size == JN)
    val expected = for {
      t <- JTags.indices
      i <- (t until JN by 3).reverse
    } yield (s"col1|col2 tag1=A tag2=${JTags(t)}", JT0 + i.toLong * JDelta, i.toDouble)
    lines.zip(expected).foreach { case (cols, (sn, ts, v)) =>
      assert(cols(0) == sn)
      assert(AkuTime.parseTs(cols(1)) == ts)
      assert(cols(2).toDouble == v && cols(3).toDouble == v)
    }
  }

  // ======================================================================
  // test_events.py — corpus: 4 '!foo' series on a shared clock, event
  // text truncated per round (test_events.py:120-140)
  // ======================================================================
  private val ERounds = 250
  private val ESnames = Vector(
    "!foo A=1 B=1", "!foo A=1 B=2", "!foo A=2 B=1", "!foo A=2 B=2")
  private val EDelta = 1000000000L // 1s
  private val ET0 = AkuTime.parseTs("20240501T000010")

  /** (ts, event text) in send order, exactly like the python generator. */
  private lazy val allEvents: IndexedSeq[(Long, String)] = {
    var cnt = 0
    var ts = ET0
    (for (round <- 0 until ERounds; sname <- ESnames) yield {
      val full = s"$cnt event $sname for +${isoMicros(ts)} generated"
      val ev = full.take(round + 1)
      cnt += 1
      val r = (ts, ev)
      ts += EDelta
      r
    }).toIndexedSeq
  }

  private lazy val eventsPort: Int = {
    var i = 0
    val sb = new StringBuilder(allEvents.size * 96)
    allEvents.foreach { case (ts, ev) =>
      sb.append('+').append(ESnames((i % ESnames.size))).append("\r\n")
        .append('+').append(isoMicros(ts)).append("\r\n")
        .append('+').append(ev).append("\r\n")
      i += 1
    }
    serve("events", sb.toString)
  }

  test("select-events forward returns every event body in time order") {
    val n = allEvents.size
    val (code, body) = http(eventsPort, "/api/query",
      s"""{"select-events":"!foo",${rangeJson(ET0, ET0 + (n + 1).toLong * EDelta)},
         |"order-by":"time",$csvOut}""".stripMargin)
    assert(code == 200, body.take(200))
    val lines = csvLines(body)
    assert(lines.size == n)
    lines.zip(allEvents).foreach { case (cols, (ts, ev)) =>
      assert(AkuTime.parseTs(cols(1)) == ts)
      assert(cols(2) == ev)
    }
  }

  test("select-events backward reverses the stream") {
    val n = allEvents.size
    val (code, body) = http(eventsPort, "/api/query",
      s"""{"select-events":"!foo",
         |${rangeJson(ET0 + (n + 1).toLong * EDelta, ET0 - EDelta)},
         |"order-by":"time",$csvOut}""".stripMargin)
    assert(code == 200, body.take(200))
    val lines = csvLines(body)
    assert(lines.size == n)
    lines.zip(allEvents.reverse).foreach { case (cols, (ts, ev)) =>
      assert(AkuTime.parseTs(cols(1)) == ts)
      assert(cols(2) == ev)
    }
  }

  // ======================================================================
  // test_search_api.py — 5 metrics x cycling tag sets; suggest + search
  // ======================================================================
  private val Metrics = Vector(
    "cpu.user", "cpu.system", "df.free", "net.tcp.in", "net.tcp.out")
  private val Hosts = (0 until 32).map(i => s"192.168.10.$i")
  private val SN = 200

  private case class STags(arch: String, team: String, azone: String, host: String) {
    def tagline = s"arch=$arch azone=$azone host=$host team=$team"
  }
  private def sTags(i: Int) = STags(
    Seq("x86", "POWER")(i % 2), Seq("Stretch", "Clench")(i % 2),
    Seq("us-east-west", "us-north-east")(i % 2), Hosts(i % Hosts.size))

  private lazy val allSeriesNames: Seq[String] =
    (for (i <- 0 until SN; m <- Metrics) yield s"$m ${sTags(i).tagline}")
      .distinct.sorted

  private lazy val searchPort: Int = {
    val t0 = AkuTime.parseTs("20240601T000000")
    val sb = new StringBuilder(SN * Metrics.size * 96)
    for (m <- Metrics; i <- 0 until SN) {
      sb.append(s"+$m ${sTags(i).tagline}\r\n")
        .append('+').append(isoMicros(t0 + i.toLong * 1000000L)).append("\r\n")
        .append('+').append(i).append("\r\n")
    }
    serve("search", sb.toString)
  }

  private def postLines(path: String, body: String): Seq[String] = {
    val (code, text) = http(searchPort, path, body)
    assert(code == 200, s"$path -> $code ${text.take(200)}")
    text.split("\r\n").toIndexedSeq.filter(_.nonEmpty)
  }

  test("suggest metric-names, with and without prefix") {
    assert(postLines("/api/suggest",
      """{"select":"metric-names"}""").toSet == Metrics.toSet)
    assert(postLines("/api/suggest",
      """{"select":"metric-names","starts-with":"net"}""").toSet ==
      Metrics.filter(_.startsWith("net")).toSet)
  }

  test("suggest tag-names, with and without prefix") {
    assert(postLines("/api/suggest",
      """{"select":"tag-names","metric":"cpu.user"}""").toSet ==
      Set("arch", "team", "azone", "host"))
    assert(postLines("/api/suggest",
      """{"select":"tag-names","metric":"cpu.user","starts-with":"a"}""").toSet ==
      Set("arch", "azone"))
  }

  test("suggest tag-values, with and without prefix") {
    assert(postLines("/api/suggest",
      """{"select":"tag-values","metric":"cpu.user","tag":"host"}""").toSet ==
      Hosts.toSet)
    assert(postLines("/api/suggest",
      """{"select":"tag-values","metric":"cpu.user","tag":"host",
        |"starts-with":"192.168.10.1"}""".stripMargin).toSet ==
      Hosts.filter(_.startsWith("192.168.10.1")).toSet)
  }

  test("search with empty select lists every series") {
    assert(postLines("/api/search",
      """{"select":"","output":{"format":"csv"}}""").toSet ==
      allSeriesNames.toSet)
  }

  test("search by metric and by metric+tag") {
    assert(postLines("/api/search", """{"select":"df.free"}""").toSet ==
      allSeriesNames.filter(_.startsWith("df.free ")).toSet)
    assert(postLines("/api/search",
      """{"select":"df.free","where":{"team":"Stretch"}}""").toSet ==
      allSeriesNames.filter(n =>
        n.startsWith("df.free ") && n.contains("team=Stretch")).toSet)
  }
}
