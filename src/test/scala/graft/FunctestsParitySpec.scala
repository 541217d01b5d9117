package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.sources.TestData
import graft.model.AkuTime
import graft.plan.TsStore
import graft.serve.ApiHttp

/** End-to-end parity with the reference's own query-language functest
  * suite (reference: functests/test_query_language.py, driven by the
  * canonical generator functests/akumulid_test_tools.py:58-125 — N points,
  * fixed step, value = index, tags cycling from small sets).
  *
  * The full reference path is exercised: RESP wire text -> protocol parse
  * -> partitioned/sorted layout -> series dimension -> HTTP server ->
  * JSON query -> CSV lines; every expectation is derived closed-form from
  * the generator definition in plain Scala (no Spark on the expectation
  * side), exactly like the python tests derive theirs.
  *
  * Reference tests NOT mirrored, deliberately:
  *  - test_paa_in_backward_direction: uses the legacy `sample`/`group-by
  *    time` PAA API, which the modern query parser no longer accepts
  *    (queryparser.cpp validate_query whitelist has no `sample` clause);
  *  - test_late_write: `-DB late write` is an ingestion-order storage
  *    policy (AKU_ELATE_WRITE, akumuli_def.h:154) — this engine's batch
  *    layout writer accepts out-of-order input by design (documented
  *    deviation, STATUS.md).
  *
  * Ordering note: the reference interleaves equal-timestamp rows (and
  * aggregate rows) in series-ID assignment order — an ingestion artifact.
  * This engine orders by canonical series NAME (Planner.finish contract
  * note), so tests that depend on id order compare result SETS/maps plus
  * our deterministic name order instead of the reference's interleave.
  */
class FunctestsParitySpec extends SparkFunSuite {

  private val N = 4000
  private val Delta = 1000000L // 1ms in ns, like the reference's timedelta
  private val T0 = AkuTime.parseTs("20240301T000000")
  private val Tag2 = Vector("B", "C")
  private val Tag3 = Vector("D", "E", "F", "G", "H")

  private case class Pt(i: Int, ts: Long, value: Double,
                        tag2: String, tag3: String) {
    def sname: String = s"test tag1=A tag2=$tag2 tag3=$tag3"
  }
  /** The canonical corpus: point i at dtstart + i*delta, value i, tags
    * cycling (generate_messages, akumulid_test_tools.py:87-94). */
  private val pts: IndexedSeq[Pt] = (0 until N).map { i =>
    Pt(i, T0 + i.toLong * Delta, i.toDouble, Tag2(i % 2), Tag3(i % 5))
  }

  /** Wire form of the corpus (att.msg: `+series\r\n+iso-ts\r\n+value\r\n`,
    * 6-digit fraction like strftime('%f')). */
  private def respText: String = {
    val sb = new StringBuilder(N * 64)
    pts.foreach { p =>
      val micros = Math.floorMod(p.ts, 1000000000L) / 1000L
      val secPart = AkuTime.formatIso(p.ts).takeWhile(_ != '.')
      sb.append('+').append(p.sname).append("\r\n")
        .append('+').append(secPart).append('.').append(f"$micros%06d")
        .append("\r\n")
        .append('+').append(p.i).append("\r\n")
    }
    sb.toString
  }

  // wire -> layout -> dimension -> store -> HTTP server, once per suite
  private lazy val port: Int = {
    val tmp = new java.io.File(TestData.freshScratch("graft_parity"))
    val wireDir = new java.io.File(tmp, "wire"); wireDir.mkdirs()
    Files.write(new java.io.File(wireDir, "session_0.resp").toPath,
      respText.getBytes(UTF_8))
    val layout = new java.io.File(tmp, "layout").getPath
    val seriesDim = new java.io.File(tmp, "series").getPath
    graft.io.Ingest.ingestResp(spark, wireDir.getPath, layout,
      flattenTags = Seq("tag2", "tag3"))
    graft.io.Ingest.writeSeriesFromLayout(spark, layout, seriesDim)
    val store: TsStore =
      graft.io.Ingest.readLayout(spark, layout, Some(seriesDim))
    val srv = new ApiHttp(store, port = 0)
    srv.start()
    sys.addShutdownHook(srv.stop())
    srv.boundPort
  }

  private def http(path: String, body: String): (Int, String) =
    HttpTest.http(port, path, body = body)

  private def csvLines(body: String): Seq[Array[String]] =
    body.split("\r\n").toIndexedSeq.filter(_.nonEmpty).map(_.split(","))

  private def iso(ns: Long): String = AkuTime.formatIso(ns)
  private def rangeJson(from: Long, to: Long): String =
    s""""range":{"from":"${iso(from)}","to":"${iso(to)}"}"""
  private val csvOut = """"output":{"format":"csv"}"""

  // --- test_read_all_in_backward_direction -------------------------------
  test("read all data in backward direction") {
    val begin = T0 + (N - 1).toLong * Delta
    val end = T0 - Delta
    val (code, body) = http("/api/query",
      s"""{"select":"test",${rangeJson(begin, end)},$csvOut}""")
    assert(code == 200)
    val lines = csvLines(body)
    assert(lines.size == N)
    lines.zipWithIndex.foreach { case (cols, it) =>
      val p = pts(N - 1 - it)
      assert(cols(0) == p.sname)
      assert(AkuTime.parseTs(cols(1)) == p.ts)
      assert(cols(2).toDouble == p.value)
      assert(cols(0).endsWith(s"tag3=${Tag3((N - it - 1) % 5)}"))
    }
  }

  // --- test_read_in_forward_direction ------------------------------------
  test("read all data in forward direction") {
    val (code, body) = http("/api/query",
      s"""{"select":"test",${rangeJson(T0, T0 + (N + 1).toLong * Delta)},$csvOut}""")
    assert(code == 200)
    val lines = csvLines(body)
    assert(lines.size == N)
    lines.zipWithIndex.foreach { case (cols, it) =>
      val p = pts(it)
      assert(cols(0) == p.sname)
      assert(AkuTime.parseTs(cols(1)) == p.ts)
      assert(cols(2).toDouble == p.value)
    }
  }

  // --- test_group_by_tag_in_backward_direction (legacy "group-by") -------
  test("group by tag in backward direction") {
    val begin = T0 + (N - 1).toLong * Delta
    val (code, body) = http("/api/query",
      s"""{"select":"test",${rangeJson(begin, T0 - Delta)},
         |"group-by":["tag3"],$csvOut}""".stripMargin)
    assert(code == 200)
    val lines = csvLines(body)
    assert(lines.size == N)
    lines.zipWithIndex.foreach { case (cols, it) =>
      val p = pts(N - 1 - it)
      // projected series name: metric + ONLY the grouped tag
      assert(cols(0) == s"test tag3=${p.tag3}")
      assert(AkuTime.parseTs(cols(1)) == p.ts)
      assert(cols(2).toDouble == p.value)
    }
  }

  // --- test_where_clause_in_backward_direction ---------------------------
  test("where clause filters by tag in backward direction") {
    val begin = T0 + (N - 1).toLong * Delta
    val (code, body) = http("/api/query",
      s"""{"select":"test",${rangeJson(begin, T0 - Delta)},
         |"where":{"tag2":["C"]},$csvOut}""".stripMargin)
    assert(code == 200)
    val lines = csvLines(body)
    val odd = pts.filter(_.tag2 == "C").reverse // tag2=C <=> odd index
    assert(lines.size == odd.size && odd.size == N / 2)
    lines.zip(odd).foreach { case (cols, p) =>
      assert(cols(0) == p.sname)
      assert(AkuTime.parseTs(cols(1)) == p.ts)
      assert(cols(2).toDouble == p.value)
    }
  }

  // --- test_where_clause_with_groupby_in_backward_direction --------------
  test("where + group-by compose") {
    val begin = T0 + (N - 1).toLong * Delta
    val (code, body) = http("/api/query",
      s"""{"select":"test",${rangeJson(begin, T0 - Delta)},
         |"group-by":["tag3"],"where":{"tag2":["C"]},$csvOut}""".stripMargin)
    assert(code == 200)
    val lines = csvLines(body)
    val odd = pts.filter(_.tag2 == "C").reverse
    assert(lines.size == odd.size)
    lines.zip(odd).foreach { case (cols, p) =>
      assert(cols(0) == s"test tag3=${p.tag3}")
      assert(cols(2).toDouble == p.value)
    }
  }

  // --- test_metadata_query -----------------------------------------------
  test("metadata query lists every series") {
    val (code, body) = http("/api/query",
      s"""{"select":"meta:names",$csvOut}""")
    assert(code == 200)
    val got = body.split("\r\n").toIndexedSeq.filter(_.nonEmpty).sorted
    val expected = (for (t2 <- Tag2; t3 <- Tag3)
      yield s"test tag1=A tag2=$t2 tag3=$t3").sorted
    assert(got == expected)
  }

  // --- test_aggregate_all ------------------------------------------------
  test("aggregate sum over the whole range") {
    val begin = T0 + (N - 1).toLong * Delta
    val (code, body) = http("/api/query",
      s"""{"aggregate":{"test":"sum"},${rangeJson(begin, T0 - Delta)},$csvOut}""")
    assert(code == 200)
    val lines = csvLines(body)
    assert(lines.size == 10)
    // each row: value = series sum, ts = the series' own _end (its latest
    // sample in range, operators/aggregate.cpp:321-323)
    val expected = pts.groupBy(_.sname).map { case (s, ps) =>
      s.replace("test ", "test:sum ") -> (ps.map(_.value).sum, ps.map(_.ts).max)
    }
    lines.foreach { cols =>
      val (sum, endTs) = expected(cols(0))
      assert(math.abs(cols(2).toDouble - sum) < 1e-5)
      assert(AkuTime.parseTs(cols(1)) == endTs)
    }
    // closed-form check like the python: series j sums to 5M^2 + (j-5)M
    val m = N / 10
    val bySeries = lines.map(c => c(0) -> c(2).toDouble).toMap
    (0 until 10).foreach { j =>
      val p = pts(j)
      assert(bySeries(p.sname.replace("test ", "test:sum ")) ==
        j.toDouble * m + 10.0 * m * (m - 1) / 2)
    }
  }

  // --- test_aggregate_last -----------------------------------------------
  test("aggregate last carries the last value AND its timestamp") {
    val (code, body) = http("/api/query",
      s"""{"aggregate":{"test":"last"},${rangeJson(T0, T0 + N.toLong * Delta)},$csvOut}""")
    assert(code == 200)
    val lines = csvLines(body)
    assert(lines.size == 10)
    // series j's last point is i = N-10+j (value N-10+j, ts accordingly)
    val expected = pts.groupBy(_.sname).map { case (s, ps) =>
      val last = ps.maxBy(_.ts)
      s.replace("test ", "test:last ") -> last
    }
    lines.foreach { cols =>
      val p = expected(cols(0))
      assert(AkuTime.parseTs(cols(1)) == p.ts)
      assert(cols(2).toDouble == p.value)
    }
  }

  // --- test_aggregate_last_timestamp (payload NONE -> 2 CSV columns) -----
  test("aggregate last_timestamp emits sname,timestamp with no value field") {
    val (code, body) = http("/api/query",
      s"""{"aggregate":{"test":"last_timestamp"},
         |${rangeJson(T0, T0 + N.toLong * Delta)},$csvOut}""".stripMargin)
    assert(code == 200)
    val lines = csvLines(body)
    assert(lines.size == 10)
    val expected = pts.groupBy(_.sname).map { case (s, ps) =>
      s.replace("test ", "test:last_timestamp ") -> ps.map(_.ts).max
    }
    lines.foreach { cols =>
      assert(cols.length == 2,
        s"payload-NONE row must have exactly 2 columns: ${cols.mkString(",")}")
      assert(AkuTime.parseTs(cols(1)) == expected(cols(0)))
    }
  }

  // --- test_aggregate_all_group_by ---------------------------------------
  test("aggregate with group-by collapses all series into one") {
    val begin = T0 + (N - 1).toLong * Delta
    val (code, body) = http("/api/query",
      s"""{"aggregate":{"test":"sum"},${rangeJson(begin, T0 - Delta)},
         |"group-by":["tag1"],$csvOut}""".stripMargin)
    assert(code == 200)
    val lines = csvLines(body)
    assert(lines.size == 1)
    assert(lines.head(0) == "test:sum tag1=A")
    assert(math.abs(lines.head(2).toDouble - 0.5 * (N.toDouble * N - N)) < 1e-5)
  }

  // --- test_aggregate_where ----------------------------------------------
  test("aggregate honors the where clause") {
    val begin = T0 + (N - 1).toLong * Delta
    val (code, body) = http("/api/query",
      s"""{"aggregate":{"test":"sum"},${rangeJson(begin, T0 - Delta)},
         |"where":{"tag3":["D","F","H"]},$csvOut}""".stripMargin)
    assert(code == 200)
    val lines = csvLines(body)
    assert(lines.size == 6) // 3 tag3 values x 2 tag2 values
    val expected = pts.filter(p => Set("D", "F", "H")(p.tag3))
      .groupBy(_.sname).map { case (s, ps) =>
        s.replace("test ", "test:sum ") -> ps.map(_.value).sum
      }
    lines.foreach { cols =>
      assert(math.abs(cols(2).toDouble - expected(cols(0))) < 1e-5)
      assert(Set("D", "F", "H").exists(t => cols(0).endsWith(s"tag3=$t")))
    }
  }

  // --- test_group_aggregate_all_forward / _backward ----------------------
  /** Expected (sname, bucket) -> (min,max,count,sum) from the corpus, with
    * the reference's begin-anchored bucketing
    * (storage_engine/operators/aggregate.cpp:171-173). */
  private def gaExpected(backward: Boolean, step: Long)
      : Map[(String, Long), (Double, Double, Double, Double)] = {
    val begin = if (backward) T0 + (N - 1).toLong * Delta else T0
    pts.groupBy { p =>
      val bucket =
        if (backward) begin - ((begin - p.ts) / step) * step
        else begin + ((p.ts - begin) / step) * step
      (p.sname, bucket)
    }.map { case (k, ps) =>
      val vs = ps.map(_.value)
      k -> (vs.min, vs.max, vs.size.toDouble, vs.sum)
    }
  }

  private def gaCheck(backward: Boolean, nsteps: Int): Unit = {
    val totalNs = N.toLong * Delta
    val step = totalNs / nsteps
    val (from, to) =
      if (backward) (T0 + (N - 1).toLong * Delta, T0 - Delta)
      else (T0, T0 + (N + 1).toLong * Delta)
    val (code, body) = http("/api/query",
      s"""{"group-aggregate":{"metric":"test","step":$step,
         |"func":["min","max","count","sum"]},
         |${rangeJson(from, to)},$csvOut}""".stripMargin)
    assert(code == 200)
    val lines = csvLines(body)
    val expected = gaExpected(backward, step)
    assert(lines.size == expected.size)
    val snameRe = "test:min\\|test:max\\|test:count\\|test:sum (.*)".r
    lines.foreach { cols =>
      val tags = cols(0) match {
        case snameRe(t) => t
        case other      => fail(s"unexpected group-aggregate sname: $other")
      }
      val key = (s"test $tags", AkuTime.parseTs(cols(1)))
      val (mn, mx, cnt, sm) = expected(key)
      assert(cols(2).toDouble == mn); assert(cols(3).toDouble == mx)
      assert(cols(4).toDouble == cnt)
      assert(math.abs(cols(5).toDouble - sm) < 1e-5)
    }
    // monotone bucket timestamps in scan direction
    val bucketTs = lines.map(c => AkuTime.parseTs(c(1)))
    assert(bucketTs == (if (backward) bucketTs.sorted.reverse else bucketTs.sorted))
  }

  test("group-aggregate forward, 10 steps")    { gaCheck(backward = false, 10) }
  test("group-aggregate forward, 100 steps")   { gaCheck(backward = false, 100) }
  test("group-aggregate forward, 1000 steps")  { gaCheck(backward = false, 1000) }
  test("group-aggregate backward, 10 steps")   { gaCheck(backward = true, 10) }
  test("group-aggregate backward, 100 steps")  { gaCheck(backward = true, 100) }

  // --- select_from_nonexistent_metric & friends --------------------------
  test("queries on a nonexistent metric return the -not found error line") {
    val r = rangeJson(T0, T0 + N.toLong * Delta)
    val queries = Seq(
      s"""{"select":"err",$r}""",
      s"""{"aggregate":{"err":"sum"},$r}""",
      s"""{"group-aggregate":{"metric":"err","func":["sum"],"step":"10ms"},$r}""",
      s"""{"join":["foo","bar"],$r}""")
    queries.foreach { q =>
      val (code, body) = http("/api/query", q)
      assert(code == 404, s"query $q -> $code $body")
      assert(body.startsWith("-not found"), s"query $q -> $body")
    }
  }

  // --- select_nonexistent_time_range & friends ---------------------------
  test("queries on an empty time range return an empty 200 response") {
    val r = rangeJson(T0 + 2L * N * Delta, T0 + 3L * N * Delta)
    val queries = Seq(
      s"""{"select":"test",$r}""",
      s"""{"aggregate":{"test":"sum"},$r}""",
      s"""{"group-aggregate":{"metric":"test","func":["sum"],"step":"10ms"},$r}""",
      s"""{"join":["test","test"],$r}""")
    queries.foreach { q =>
      val (code, body) = http("/api/query", q)
      assert(code == 200, s"query $q -> $code $body")
      assert(body.isEmpty, s"query $q expected empty, got: ${body.take(200)}")
    }
  }

  // --- check_bad_query_handling ------------------------------------------
  test("malformed queries return a single -error line") {
    val cases = Map(
      "totally empty query" -> "",
      "empty json doc" -> "{}",
      "invalid keyword" -> """{"foo": "bar"}""",
      "invalid json" ->
        """{"select": "test", "range": { "from": "20170107T120300", "to": "20170107T120300" }""",
      "invalid timestamp" ->
        """{"select":"test","range":{"from":"2017-01-07 12:03:00","to":"20170107T120300"}}""",
      "timestamp out of range" ->
        """{"select":"test","range":{"from":"20172107T120300","to":"20170107T120300"}}""",
      "bad aggregation function" ->
        """{"group-aggregate":{"metric":"test","func":"bad_func_name","step":"1s"},
          |"range":{"from":"20170107T120300","to":"20170107T120300"}}""".stripMargin,
      "bad aggregation step" ->
        """{"group-aggregate":{"metric":"test","sum":"bad_func_name","step":"1 sec."},
          |"range":{"from":"20170107T120300","to":"20170107T120300"}}""".stripMargin,
      "bad join" ->
        """{"join":"test","range":{"from":"20170107T120300","to":"20170107T120300"}}""",
      "bad aggregate" ->
        """{"aggregate":"test","range":{"from":"20170107T120300","to":"20170107T120300"}}""")
    cases.foreach { case (title, q) =>
      val (code, body) = http("/api/query", q)
      assert(code >= 400, s"$title -> $code")
      val lines = body.split("\r\n").toIndexedSeq.filter(_.nonEmpty)
      assert(lines.size == 1, s"$title -> ${lines.size} lines")
      assert(lines.head.startsWith("-"), s"$title -> ${lines.head}")
    }
  }
}
