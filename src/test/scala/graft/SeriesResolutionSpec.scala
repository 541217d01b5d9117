package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.graftio.ListenerBus

import graft.sources.TestData
import graft.ast.{QueryJson, Where}
import graft.io.{Ingest, RunLog}
import graft.plan.TsStore
import graft.serve.{Api, ApiHttp}

/** Series resolution (`Api.requireSeries`, the reference's
  * storage2.cpp:1449-1452 first-column check) on the layout path: a
  * `where` on a flattened `tag_<k>` column, on a tag only the `tags` map
  * carries, in list form, and over a live store whose series exist only
  * in not-yet-folded runs. Unknown series answer 404 `-not found`; a
  * known series outside the range answers 200 with an empty body. */
class SeriesResolutionSpec extends SparkFunSuite {
  import SparkSpec._

  private val Day = TsStore.DayNs
  private val T0 = 19000L * Day
  private val Sec = 1000000000L
  private val Region = Map("h0" -> "eu", "h1" -> "eu", "h2" -> "us", "h3" -> "us")

  /** `cpu` on hosts h0..h3 and `mem` on h0..h1, 5 samples a day on
    * days 0 and 1; `host` flattened, `region` only in the tags map; one
    * file per metric-day. */
  private lazy val layout: String = {
    val rows = for {
      (m, hosts) <- Seq("cpu" -> Seq("h0", "h1", "h2", "h3"), "mem" -> Seq("h0", "h1"))
      h <- hosts
      d <- 0 until 2
      i <- 0 until 5
    } yield Row(m, Map("host" -> h, "region" -> Region(h)), T0 + d * Day + i * Sec, i.toDouble)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), sampleSchema)
    val path = TestData.freshScratch("graft-resolve") + "/layout"
    Ingest.writeLayout(df, path, flattenTags = Seq("host"), saltBuckets = 1)
    path
  }

  private def withServer[T](st: TsStore)(f: Int => T): T = {
    val srv = new ApiHttp(st, port = 0)
    srv.start()
    try f(srv.boundPort) finally srv.stop()
  }

  private def range(from: Long, to: Long) = s""""range":{"from":$from,"to":$to}"""
  private val inRange = range(T0, T0 + 2 * Day)
  private val outOfRange = range(T0 + 5 * Day, T0 + 6 * Day)
  private val csv = """"output":{"format":"csv"}"""

  /** (status, distinct series names of the CSV body, row count). */
  private def query(port: Int, json: String): (Int, Set[String], Int) = {
    val (code, body) = HttpTest.http(port, "/api/query", body = json)
    if (code == 404) assert(body.startsWith("-not found"), s"$json -> $body")
    val lines = if (code == 200) body.split("\r\n").toSeq.filter(_.nonEmpty) else Nil
    (code, lines.map(_.split(",")(0)).toSet, lines.size)
  }

  /** In range: 200 with every sample of `series` (`rowsPer` rows each);
    * out of range: 200 and an empty body. */
  private def assertResolves(port: Int, sel: String, where: String,
                             series: Set[String], rowsPer: Int = 10): Unit = {
    assert(query(port, s"""{$sel,$where,$inRange,$csv}""") ==
      ((200, series, series.size * rowsPer)), s"$sel $where in range")
    assert(query(port, s"""{$sel,$where,$outOfRange,$csv}""") ==
      ((200, Set.empty[String], 0)), s"$sel $where out of range")
  }

  private def assertNotFound(port: Int, sel: String, where: String): Unit = {
    assert(query(port, s"""{$sel,$where,$inRange,$csv}""")._1 == 404, s"$sel $where")
    assert(query(port, s"""{$sel,$where,$outOfRange,$csv}""")._1 == 404, s"$sel $where")
  }

  test("where on a flattened tag column resolves through ApiHttp") {
    withServer(Ingest.readLayout(spark, layout)) { port =>
      assertResolves(port, """"select":"cpu"""", """"where":{"host":"h2"}""",
        Set("cpu host=h2 region=us"))
      assertResolves(port, """"select":"mem"""", """"where":{"host":["h0","h1"]}""",
        Set("mem host=h0 region=eu", "mem host=h1 region=eu"))
      assertNotFound(port, """"select":"cpu"""", """"where":{"host":"h7"}""")
      // the series exists under another metric only
      assertNotFound(port, """"select":"mem"""", """"where":{"host":"h3"}""")
    }
  }

  test("where on a tag only the tags map carries resolves through ApiHttp") {
    withServer(Ingest.readLayout(spark, layout)) { port =>
      assertResolves(port, """"select":"cpu"""", """"where":{"region":"us"}""",
        Set("cpu host=h2 region=us", "cpu host=h3 region=us"))
      assertResolves(port, """"aggregate":{"mem":"sum"}""", """"where":{"region":"eu"}""",
        Set("mem:sum host=h0 region=eu", "mem:sum host=h1 region=eu"), rowsPer = 1)
      assertNotFound(port, """"select":"cpu"""", """"where":{"region":"ap"}""")
      assertNotFound(port, """"select":"mem"""", """"where":{"region":"us"}""")
    }
  }

  test("list-form where resolves exact tag combinations through ApiHttp") {
    withServer(Ingest.readLayout(spark, layout)) { port =>
      val both = """"where":[{"host":"h1","region":"eu"},{"host":"h3","region":"us"}]"""
      assert(QueryJson.parse(s"""{"select":"cpu",$both,$inRange}""").where.isInstanceOf[Where.Enumerate])
      assertResolves(port, """"select":"cpu"""", both,
        Set("cpu host=h1 region=eu", "cpu host=h3 region=us"))
      // one existing combination is enough for the first column
      assertResolves(port, """"select":"cpu"""",
        """"where":[{"host":"h1","region":"us"},{"host":"h2","region":"us"}]""",
        Set("cpu host=h2 region=us"))
      // each tag value exists, the combination does not
      assertNotFound(port, """"select":"cpu"""", """"where":[{"host":"h1","region":"us"}]""")
    }
  }

  test("a live store resolves series that exist only in unfolded runs") {
    val dir = new java.io.File(TestData.freshScratch("graft-resolve-live"))
    val wire = new java.io.File(dir, "wire"); wire.mkdirs()
    Files.write(new java.io.File(wire, "s.resp").toPath,
      (0 until 10).flatMap(i => Seq(
        if (i % 2 == 0) "+cpu host=h9 region=ap" else "+disk host=h0 region=eu",
        s":${T0 + Day + i * Sec}", s":$i")).mkString("\n").getBytes)
    val runs = new java.io.File(dir, "runs").getPath
    RunLog.spoolResp(spark, wire.getPath, runs, Seq("host"))
    withServer(RunLog.liveStore(spark, layout, runs)) { port =>
      assertResolves(port, """"select":"cpu"""", """"where":{"host":"h9"}""",
        Set("cpu host=h9 region=ap"), rowsPer = 5)
      assertResolves(port, """"select":"cpu"""", """"where":{"region":"ap"}""",
        Set("cpu host=h9 region=ap"), rowsPer = 5)
      assertResolves(port, """"select":"disk"""", """"where":{"host":"h0"}""",
        Set("disk host=h0 region=eu"), rowsPer = 5)
      assertNotFound(port, """"select":"disk"""", """"where":{"host":"h9"}""")
    }
  }

  test("not-found semantics hold where /api/query defers the probe and where it keeps it") {
    withServer(Ingest.readLayout(spark, layout)) { port =>
      def body(json: String): (Int, String) = HttpTest.http(port, "/api/query", body = json)
      // a join keeps the eager probe of its first metric
      assert(query(port, s"""{"join":["nope","cpu"],$inRange,$csv}""")._1 == 404)
      assert(query(port, s"""{"join":["cpu","mem"],"where":{"host":"h0"},$inRange,$csv}""") ==
        ((200, Set("cpu|mem host=h0 region=eu"), 10)))
      // a request that fails at plan time: 404 for an unknown series, as
      // when the probe ran first, and 400 for a known one
      val badApply = """"apply":[{"name":"no-such-node"}]"""
      assert(query(port, s"""{"select":"nope",$badApply,$inRange,$csv}""")._1 == 404)
      assert(body(s"""{"select":"cpu",$badApply,$inRange,$csv}""")._1 == 400)
      // an offset past the last row: 200 and an empty body for a known
      // series, 404 for an unknown one
      val offset = """"offset":100"""
      assert(body(s"""{"select":"cpu","where":{"host":"h0"},$inRange,$offset,$csv}""") ==
        ((200, "")))
      assert(query(port, s"""{"select":"cpu","where":{"host":"h7"},$inRange,$offset,$csv}""")._1 == 404)
    }
  }

  private def jobsOf(f: => Unit): Int = ListenerBus.jobsOf(spark.sparkContext)(f)

  test("a resolving probe runs one Spark job; a miss at most ceil(log4 partitions)+1") {
    val st = Ingest.readLayout(spark, layout)
    def probe(json: String): Unit = Api.requireSeries(st, QueryJson.parse(json))
    assert(jobsOf(probe(s"""{"select":"cpu","where":{"host":"h0"},$inRange}""")) == 1)
    assert(jobsOf(probe(s"""{"select":"cpu","where":{"region":"eu"},$inRange}""")) == 1)
    val parts = st.samples.filter(org.apache.spark.sql.functions.col("metric") === "cpu")
      .rdd.getNumPartitions
    val bound = math.ceil(math.log(parts) / math.log(4)).toInt + 1
    val missJobs = jobsOf(intercept[Api.NotFoundException](
      probe(s"""{"select":"cpu","where":{"host":"h7"},$inRange}""")))
    assert(missJobs >= 1 && missJobs <= bound, s"$missJobs jobs over $parts partitions")
  }
}
