package graft

import graft.serve.Api

/** The unified serving facade (reference endpoints httpserver.cpp:43-52). */
class ApiSpec extends SparkFunSuite {
  import SparkSpec._

  private val st = store(Seq(
    ("cpu", Map("host" -> "a"), 1500000000L, 2.5),
    ("cpu", Map("host" -> "a"), 2500000000L, 3.5),
    ("mem", Map("host" -> "a"), 1500000000L, 9.0)))

  test("query returns rows without output clause") {
    Api.query(st, """{"select":"cpu","range":{"from":0,"to":10000000000}}""") match {
      case Api.Rows(df)   => assert(df.count() == 2)
      case Api.Lines(_)   => fail("expected rows")
    }
  }

  test("query with output csv/resp formats lines") {
    Api.query(st,
      """{"select":"cpu","range":{"from":0,"to":10000000000},
        |"output":{"format":"csv","timestamp":"iso"}}""".stripMargin) match {
      case Api.Lines(ds) =>
        assert(ds.collect().head == "cpu host=a,19700101T000001.500000000,2.5")
      case _ => fail("expected lines")
    }
    Api.query(st,
      """{"select":"cpu","range":{"from":0,"to":10000000000},
        |"output":{"format":"resp","timestamp":"raw"}}""".stripMargin) match {
      case Api.Lines(ds) =>
        assert(ds.collect().head == "+cpu host=a\r\n:1500000000\r\n+2.5")
      case _ => fail("expected lines")
    }
  }

  test("bad output clause rejected") {
    intercept[IllegalArgumentException](Api.query(st,
      """{"select":"cpu","range":{"from":0,"to":1},"output":{"format":"xml"}}"""))
    intercept[IllegalArgumentException](Api.query(st,
      """{"select":"cpu","range":{"from":0,"to":1},"output":{"timestamp":"maybe"}}"""))
  }

  test("a bad output clause on an unknown metric is rejected before any Spark job") {
    val jobs = org.apache.spark.sql.graftio.ListenerBus.jobsOf(spark.sparkContext) {
      intercept[IllegalArgumentException](Api.query(st,
        """{"select":"nosuch","range":{"from":0,"to":1},"output":{"format":"xml"}}"""))
    }
    assert(jobs == 0)
  }

  test("suggest/search/stats/function-names route through") {
    assert(Api.suggest(st, """{"select":"metric-names"}""")
      .collect().map(_.getString(0)).toSeq == Seq("cpu", "mem"))
    assert(Api.search(st, """{"select":"cpu"}""")
      .collect().map(_.getString(0)).toSeq == Seq("cpu host=a"))
    val s = Api.stats(st).collect().head
    assert(s.getLong(0) == 3L && s.getLong(2) == 2L)
    assert(Api.functionNames.contains("ewma"))
  }
}
