package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftio.ListenerBus

import graft.ast.QueryJson
import graft.functions.ChunkedScan
import graft.io.Ingest
import graft.plan.{Planner, TsStore}
import graft.serve.{ApiHttp, OutputFormat}
import graft.sources.TestData

/** The fixed costs of a small `/api/query`: a pre-sort frame whose
  * Catalyst estimate fits one advisory partition sorts in one partition
  * (no range-sampling job, no second scan), and a single-metric answer
  * with a row stands in for the existence probe. Larger inputs keep the
  * range-partitioned sort. */
class SmallQuerySpec extends SparkFunSuite {

  private val Day = TsStore.DayNs
  private val T0 = 19000L * Day
  private val Sec = 1000000000L
  private val Advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** RESP session text: `cpu` and `mem` on hosts h0..h3 and `!log`
    * events on h0..h1, 10 samples a day on days 0 and 1. */
  private val session: String = (for {
    (m, hosts) <- Seq("cpu" -> 4, "mem" -> 4, "!log" -> 2)
    h <- 0 until hosts
    d <- 0 until 2
    i <- 0 until 10
  } yield {
    val v = if (m == "!log") s"+level=${i % 3} code=1$i" else s":${i + h}"
    s"+$m host=h$h\r\n:${T0 + d * Day + i * Sec}\r\n$v\r\n"
  }).mkString

  private lazy val sessionDir: java.io.File = {
    val dir = new java.io.File(TestData.freshScratch("graft-small"), "wire")
    dir.mkdirs()
    Files.write(new java.io.File(dir, "s.resp").toPath, session.getBytes)
    dir
  }

  private lazy val layout: TsStore = {
    val path = TestData.freshScratch("graft-small-layout") + "/layout"
    Ingest.writeLayout(Ingest.respFiles(spark, sessionDir.getPath), path,
      flattenTags = Seq("host"), saltBuckets = 1)
    Ingest.readLayout(spark, path)
  }

  private val csv = """"output":{"format":"csv"}"""
  private val inRange = s""""range":{"from":$T0,"to":${T0 + 2 * Day}}"""

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def rangeSorted(st: TsStore, json: String): Boolean =
    Planner.plan(QueryJson.parse(json), st).df.queryExecution.executedPlan
      .toString.contains("rangepartitioning")

  test("a 200-sample respFiles store is sized by its session files") {
    val parsed = Ingest.respFiles(spark, sessionDir.getPath)
    assert(Planner.sizeEstimate(parsed) == BigInt(session.getBytes.length))
    val st = Ingest.toStore(parsed)
    assert(st.samples.count() == 200)
    assert(Planner.sizeEstimate(st.samples) < BigInt(1L << 20))
    assert(!ChunkedScan.eligible(st.samples))
    val ewma = s"""{"select":"cpu",$inRange,"apply":[{"name":"ewma","decay":0.5}]}"""
    def ewmaJobs(): Int = ListenerBus.jobsOf(spark.sparkContext) {
      Planner.plan(QueryJson.parse(ewma), st).df.collect()
    }
    val singlePass = ChunkedScan.routed(ChunkedScan.Route(chunked = Some(false))) {
      ewmaJobs()
    }
    assert(ewmaJobs() == singlePass)
    assert(!rangeSorted(st, s"""{"select":"cpu",$inRange}"""))
    // the OpenTSDB text reader is a file scan: sized by its files already
    val tsdb = new java.io.File(TestData.freshScratch("graft-small-tsdb"), "in.tsdb")
    Files.write(tsdb.toPath, (0 until 200).map(i =>
      s"put cpu ${T0 / Sec + i} $i host=h${i % 4}").mkString("\n").getBytes)
    val tsdbStore = Ingest.toStore(Ingest.openTsdbFiles(spark, tsdb.getPath))
    assert(Planner.sizeEstimate(tsdbStore.samples) < BigInt(1L << 20))
  }

  test("small single-metric queries run no probe job and no range-sampling job over HTTP") {
    val st = layout
    val queries = Seq(
      s"""{"select":"cpu","where":{"host":["h1","h2"]},$inRange,$csv}""",
      s"""{"select-events":"!log","filter":"code=1[0-2]$$",$inRange,$csv}""",
      s"""{"aggregate":{"cpu":["count","max"]},"where":{"host":"h3"},$inRange,$csv}""")
    val srv = new ApiHttp(st, port = 0)
    srv.start()
    try queries.foreach { json =>
      assert(!rangeSorted(st, json), json)
      var body = ""
      val httpJobs = ListenerBus.allJobsOf(spark.sparkContext) {
        val (code, b) = HttpTest.http(srv.boundPort, body = json)
        assert(code == 200, s"$json -> $b")
        body = b
      }
      assert(body.nonEmpty, json)
      // the request runs exactly the jobs of draining its own answer
      val answerJobs = ListenerBus.jobsOf(spark.sparkContext) {
        val it = OutputFormat.csv(Planner.plan(QueryJson.parse(json), st))
          .toLocalIterator()
        while (it.hasNext) it.next()
      }
      assert(httpJobs == answerJobs, json)
      // and the same lines as the range-partitioned sort
      withConf(Advisory, "1b") {
        assert(rangeSorted(st, json), json)
        assert(HttpTest.http(srv.boundPort, body = json) == ((200, body)), json)
      }
    } finally srv.stop()
  }

  test("a 2 M-row store keeps the range-partitioned sort") {
    val n = 2000000L
    val t0 = 1700000000000000000L
    val giant = new TsStore(spark.range(n).select(
      lit("bp").as("metric"),
      map(lit("host"), lit("g0")).as("tags"),
      (lit(t0) + col("id") * Sec).as("ts"),
      col("id").cast("double").as("value")))
    val json = s"""{"select":"bp","range":{"from":$t0,"to":${t0 + n * Sec}}}"""
    // the settings the backpressure spec serves this store under
    withConf(Advisory, "2m")(withConf("spark.sql.shuffle.partitions", "64") {
      assert(rangeSorted(giant, json))
    })
  }
}
