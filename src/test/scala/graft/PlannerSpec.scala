package graft

import org.apache.spark.sql.functions._

import graft.ast.QueryJson
import graft.plan.Planner

/** Query-kind semantics against closed-form fixtures (reference behaviors:
  * functests/test_query_language.py; bucket alignment
  * storage_engine/operators/aggregate.cpp:171-173). */
class PlannerSpec extends SparkFunSuite {
  import SparkSpec._

  private val T0 = 1000000000000000000L
  private val Step = 10000000000L // 10 s

  private def run(json: String, st: graft.plan.TsStore = fixture(Seq("test"), 10)) =
    Planner.plan(QueryJson.parse(json), st).df

  test("select: forward range scan is time-ordered and half-open") {
    val df = run(s"""{"select":"test","range":{"from":$T0,"to":${T0 + 5 * Step}}}""")
    val got = rows3(df)
    assert(got.map(_._3) == Seq(0.0, 1.0, 2.0, 3.0, 4.0)) // [from, to)
    assert(got.map(_._2) == (0 until 5).map(i => T0 + i * Step))
    assert(got.head._1 == "test host=A")
  }

  test("select: backward range is (to, from] with descending output") {
    val df = run(s"""{"select":"test","range":{"from":${T0 + 5 * Step},"to":$T0}}""")
    val got = rows3(df)
    assert(got.map(_._3) == Seq(5.0, 4.0, 3.0, 2.0, 1.0)) // excl. to, incl. from
  }

  test("select: where-tag OR list and value filter compose") {
    val df = run(
      s"""{"select":"test","range":{"from":$T0,"to":${T0 + 10 * Step}},
         |"where":{"host":["A","B"]},"filter":{"gt":2,"le":7}}""".stripMargin)
    val got = rows3(df)
    // values 3..7 minus host C (i%3==2 -> 5)
    assert(got.map(_._3) == Seq(3.0, 4.0, 6.0, 7.0))
  }

  test("where on a tag some/all series lack matches nothing, no error") {
    // ANSI element_at would throw on missing map keys; the engine must
    // treat an absent tag as a non-match like the reference
    val df = run(
      s"""{"select":"test","range":{"from":$T0,"to":${T0 + 5 * Step}},
         |"where":{"nosuchtag":["x"]}}""".stripMargin)
    assert(df.count() == 0)
  }

  test("select: enumerate where-form ORs exact tag combos") {
    val df = run(
      s"""{"select":"test","range":{"from":$T0,"to":${T0 + 6 * Step}},
         |"where":[{"host":"A"},{"host":"C"}]}""".stripMargin)
    assert(rows3(df).map(_._3) == Seq(0.0, 2.0, 3.0, 5.0))
  }

  test("an empty range returns 0 rows") {
    assert(run(s"""{"select":"test","range":{"from":$T0,"to":$T0}}""").count() == 0)
  }

  test("aggregate: an unknown function ('median') is rejected") {
    intercept[IllegalArgumentException](run("""{"aggregate":{"test":"median"}}"""))
  }

  test("entry: the driver-contract select returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("aggregate: all 11 functions have reference semantics") {
    // single series: host fixed
    val st = store(Seq(
      ("m", Map("host" -> "A"), 100L, 5.0),
      ("m", Map("host" -> "A"), 200L, 1.0),
      ("m", Map("host" -> "A"), 300L, 9.0),
      ("m", Map("host" -> "A"), 400L, 3.0)))
    val df = Planner.plan(QueryJson.parse(
      """{"aggregate":{"m":["min","max","sum","count","mean","first","last",
        |"min_timestamp","max_timestamp","first_timestamp","last_timestamp"]}}""".stripMargin), st).df
    // each row: (sname, output ts per reference aggregate.cpp:270-350,
    // value; *_timestamp rows carry payload NONE -> null value)
    val got = df.collect().map(r => (r.getString(0),
      (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(got("m:min host=A") == ((200L, Some(1.0))))   // ts at min value
    assert(got("m:max host=A") == ((300L, Some(9.0))))   // ts at max value
    assert(got("m:sum host=A") == ((400L, Some(18.0))))  // _end
    assert(got("m:count host=A") == ((400L, Some(4.0))))
    assert(got("m:mean host=A") == ((400L, Some(4.5))))
    assert(got("m:first host=A") == ((100L, Some(5.0)))) // value at _begin
    assert(got("m:last host=A") == ((400L, Some(3.0))))  // value at _end
    assert(got("m:min_timestamp host=A") == ((200L, Some(200.0))))
    assert(got("m:max_timestamp host=A") == ((300L, Some(300.0))))
    assert(got("m:first_timestamp host=A") == ((100L, None))) // payload NONE
    assert(got("m:last_timestamp host=A") == ((400L, None)))
  }

  test("group-aggregate: buckets anchor at query begin (not wall clock)") {
    val from = T0 + 3 * Step // deliberately unaligned anchor
    val df = run(
      s"""{"group-aggregate":{"metric":"test","step":${3 * Step},"func":"count"},
         |"range":{"from":$from,"to":${T0 + 10 * Step}},
         |"group-by-tag":["host"]}""".stripMargin)
    val got = rows3(df)
    assert(got.map(_._2) == Seq(from, from + 3 * Step, from + 6 * Step))
    assert(got.map(_._3) == Seq(3.0, 3.0, 1.0)) // 3,4,5 | 6,7,8 | 9
  }

  test("group-aggregate backward: buckets anchor at begin going down") {
    val from = T0 + 9 * Step
    val df = run(
      s"""{"group-aggregate":{"metric":"test","step":${4 * Step},"func":"count"},
         |"range":{"from":$from,"to":$T0},"group-by-tag":["host"]}""".stripMargin)
    val got = rows3(df)
    // (T0, T0+9*Step] backward: buckets [9..6],[5..2],[1]
    assert(got.map(_._2) == Seq(from, from - 4 * Step, from - 8 * Step))
    assert(got.map(_._3) == Seq(4.0, 4.0, 1.0))
  }

  test("group-aggregate: filter on non-min/max/mean func is rejected") {
    val e = intercept[IllegalArgumentException] {
      run(s"""{"group-aggregate":{"metric":"test","step":$Step,"func":["sum"]},
             |"range":{"from":$T0,"to":${T0 + 5 * Step}},
             |"filter":{"sum":{"gt":1}}}""".stripMargin)
    }
    assert(e.getMessage.contains("not supported"))
  }

  test("join: outer exact-ts alignment leaves null cells") {
    val st = store(Seq(
      ("a", Map("host" -> "X"), 100L, 1.0),
      ("a", Map("host" -> "X"), 200L, 2.0),
      ("b", Map("host" -> "X"), 200L, 20.0),
      ("b", Map("host" -> "X"), 300L, 30.0)))
    val df = Planner.plan(QueryJson.parse(
      """{"join":["a","b"],"range":{"from":0,"to":1000}}"""), st).df
    val got = df.collect().map(r => (r.getLong(1),
      Option(r.get(2)).map(_.asInstanceOf[Double]),
      Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(got.toSeq == Seq(
      (100L, Some(1.0), None),
      (200L, Some(2.0), Some(20.0)),
      (300L, None, Some(30.0))))
    assert(df.collect().head.getString(0) == "a|b host=X")
  }

  test("join: per-metric value filters apply before alignment") {
    val st = store(Seq(
      ("a", Map("h" -> "X"), 100L, 1.0),
      ("b", Map("h" -> "X"), 100L, 10.0),
      ("a", Map("h" -> "X"), 200L, 5.0),
      ("b", Map("h" -> "X"), 200L, 50.0)))
    val df = Planner.plan(QueryJson.parse(
      """{"join":["a","b"],"range":{"from":0,"to":1000},
        |"filter":{"a":{"gt":2},"b":{"lt":20}}}""".stripMargin), st).df
    val got = df.collect().map(r => (r.getLong(1),
      Option(r.get(2)).map(_.asInstanceOf[Double]),
      Option(r.get(3)).map(_.asInstanceOf[Double])))
    // a@100 filtered (1<=2), b@200 filtered (50>=20) -> null cells remain
    assert(got.toSeq == Seq(
      (100L, None, Some(10.0)),
      (200L, Some(5.0), None)))
  }

  test("group-aggregate-join: bucketed agg then align, join naming m1|m2") {
    val st = store(Seq(
      ("a", Map("h" -> "X"), 0L, 1.0), ("a", Map("h" -> "X"), 5L, 3.0),
      ("b", Map("h" -> "X"), 5L, 7.0)))
    val df = Planner.plan(QueryJson.parse(
      """{"group-aggregate-join":{"metric":["a","b"],"step":10,"func":"max"},
        |"range":{"from":0,"to":20}}""".stripMargin), st).df
    val r = df.collect().head
    assert(r.getString(0) == "a|b h=X")
    assert(r.getDouble(2) == 3.0 && r.getDouble(3) == 7.0)
  }

  test("group-aggregate-join: per-metric filter nulls cells, drops empty buckets") {
    val st = store(Seq(
      ("a", Map("h" -> "X"), 0L, 1.0), ("a", Map("h" -> "X"), 5L, 3.0),
      ("b", Map("h" -> "X"), 5L, 7.0),
      ("a", Map("h" -> "X"), 15L, 2.0))) // bucket 10: a=2 (fails), b absent
    val df = Planner.plan(QueryJson.parse(
      """{"group-aggregate-join":{"metric":["a","b"],"step":10,"func":"max"},
        |"range":{"from":0,"to":20},
        |"filter":{"a":{"gt":2.5}}}""".stripMargin), st).df
    val rows = df.collect()
    // bucket 0 survives (a=3 passes, b=7 unfiltered); bucket 10 vanishes
    // entirely (a fails -> null, b absent -> null)
    assert(rows.length == 1)
    assert(rows.head.getLong(1) == 0L)
    assert(rows.head.getDouble(2) == 3.0 && rows.head.getDouble(3) == 7.0)
    // a failing cell becomes a MISSING cell, not a dropped row, when the
    // other metric still has data in the bucket
    val df2 = Planner.plan(QueryJson.parse(
      """{"group-aggregate-join":{"metric":["a","b"],"step":10,"func":"max"},
        |"range":{"from":0,"to":20},
        |"filter":{"a":{"gt":5}}}""".stripMargin), st).df
    val r2 = df2.collect()
    assert(r2.length == 1 && r2.head.isNullAt(2) && r2.head.getDouble(3) == 7.0)
    // sum can't drive an aggregate filter (reference rejects it)
    intercept[Planner.PlanException] {
      Planner.plan(QueryJson.parse(
        """{"group-aggregate-join":{"metric":["a","b"],"step":10,"func":"sum"},
          |"range":{"from":0,"to":20},
          |"filter":{"a":{"gt":0}}}""".stripMargin), st)
    }
  }

  test("limit above Int.MaxValue means everything, not a wrapped count") {
    val df = run(
      s"""{"select":"test","range":{"from":$T0,"to":${T0 + 5 * Step}},
         |"limit":4294967297}""".stripMargin)
    assert(df.count() == 5)
  }

  test("group-aggregate-join: a repeated metric is legal, like join") {
    val st = store(Seq(
      ("a", Map("h" -> "X"), 0L, 1.0), ("a", Map("h" -> "X"), 5L, 3.0)))
    val df = Planner.plan(QueryJson.parse(
      """{"group-aggregate-join":{"metric":["a","a"],"step":10,"func":"max"},
        |"range":{"from":0,"to":20}}""".stripMargin), st).df
    val r = df.collect().head
    assert(r.getString(0) == "a|a h=X")
    // the metric aggregates once and fans out to both tuple positions
    assert(r.getDouble(2) == 3.0 && r.getDouble(3) == 3.0)
  }

  test("pivot-by-tag keeps listed tags; group-by-tag drops them") {
    val st = store(Seq(
      ("m", Map("host" -> "A", "dc" -> "east"), 100L, 1.0),
      ("m", Map("host" -> "B", "dc" -> "east"), 200L, 2.0)))
    val p = Planner.plan(QueryJson.parse(
      """{"select":"m","range":{"from":0,"to":1000},"pivot-by-tag":["dc"]}"""), st).df
    assert(p.collect().map(_.getString(0)).distinct.toSeq == Seq("m dc=east"))
    val g = Planner.plan(QueryJson.parse(
      """{"select":"m","range":{"from":0,"to":1000},"group-by-tag":["dc"]}"""), st).df
    assert(g.collect().map(_.getString(0)).distinct.sorted.toSeq ==
      Seq("m host=A", "m host=B"))
  }

  test("meta:names lists distinct series sorted") {
    val df = run("""{"select":"meta:names"}""", fixture(Seq("x", "y"), 3))
    assert(df.collect().map(_.getString(0)).toSeq == Seq(
      "x host=A", "x host=B", "x host=C",
      "y host=A", "y host=B", "y host=C"))
  }

  test("backward scan with limit takes the latest rows first") {
    val df = run(
      s"""{"select":"test","range":{"from":${T0 + 10 * Step},"to":$T0},
         |"limit":3}""".stripMargin)
    assert(rows3(df).map(_._3) == Seq(9.0, 8.0, 7.0))
  }

  test("offset beyond result size yields empty, not error") {
    val df = run(
      s"""{"select":"test","range":{"from":$T0,"to":${T0 + 3 * Step}},
         |"offset":100}""".stripMargin)
    assert(df.count() == 0)
  }

  test("group-aggregate-join honors the where clause") {
    val st = store(Seq(
      ("a", Map("h" -> "X"), 5L, 1.0), ("b", Map("h" -> "X"), 5L, 2.0),
      ("a", Map("h" -> "Y"), 5L, 9.0), ("b", Map("h" -> "Y"), 5L, 8.0)))
    val df = Planner.plan(QueryJson.parse(
      """{"group-aggregate-join":{"metric":["a","b"],"step":10,"func":"max"},
        |"range":{"from":0,"to":20},"where":{"h":["X"]}}""".stripMargin), st).df
    val got = df.collect()
    assert(got.length == 1 && got.head.getString(0) == "a|b h=X")
  }

  test("order-by series with limit/offset") {
    val df = run(
      s"""{"select":"test","range":{"from":$T0,"to":${T0 + 6 * Step}},
         |"order-by":"series","offset":1,"limit":3}""".stripMargin)
    val got = rows3(df)
    // series-major: host=A gets values 0,3 then host=B 1,4 ...
    assert(got.map(_._3) == Seq(3.0, 1.0, 4.0))
  }
}
