package graft

import graft.ast.QueryJson
import graft.functions.ChunkedScan
import graft.plan.Planner

/** Apply-pipeline node semantics (reference: the query_processing nodes;
  * sliding_window.cpp EWMA state machine; top.cpp time-weighted sum;
  * spacesaver.h emission rule). */
class PipeSpec extends SparkFunSuite {
  import SparkSpec._

  private def single(n: Int, vals: Seq[Double] = Nil) = store(
    (0 until n).map(i => ("m", Map("h" -> "X"), 100L + i * 1000000000L,
      if (vals.isEmpty) i.toDouble else vals(i))))

  private def run(apply: String, st: graft.plan.TsStore, extra: String = "") =
    Planner.plan(QueryJson.parse(
      s"""{"select":"m","range":{"from":0,"to":1000000000000000}$extra,
         |"apply":[$apply]}""".stripMargin), st).df

  test("abs and scale") {
    val st = single(3, Seq(-1.0, 2.0, -3.0))
    assert(rows3(run("""{"name":"abs"}""", st)).map(_._3) == Seq(1.0, 2.0, 3.0))
    assert(rows3(run("""{"name":"scale","weights":[2.5]}""", st)).map(_._3) ==
      Seq(-2.5, 5.0, -7.5))
  }

  test("rate: dx/dt per second with (0,0) seed") {
    val st = store(Seq(
      ("m", Map("h" -> "X"), 1000000000L, 10.0),  // dt from 0 = 1s
      ("m", Map("h" -> "X"), 3000000000L, 16.0))) // dx=6 dt=2
    assert(rows3(run("""{"name":"rate"}""", st)).map(_._3) == Seq(10.0, 3.0))
  }

  test("cusum accumulates per series") {
    assert(rows3(run("""{"name":"cusum"}""", single(4))).map(_._3) ==
      Seq(0.0, 1.0, 3.0, 6.0))
  }

  test("sma includes current sample; sma-error is the pre-add forecast error") {
    val st = single(5, Seq(2.0, 4.0, 6.0, 8.0, 10.0))
    assert(rows3(run("""{"name":"sma","window-width":2}""", st)).map(_._3) ==
      Seq(2.0, 3.0, 5.0, 7.0, 9.0))
    // error vs mean of previous window (excluding current): first has no
    // window -> 0 (coalesce to own value)
    assert(rows3(run("""{"name":"sma-error","window-width":2}""", st)).map(_._3) ==
      Seq(0.0, 2.0, 3.0, 3.0, 3.0))
  }

  test("cma is the running mean") {
    assert(rows3(run("""{"name":"cma"}""", single(4))).map(_._3) ==
      Seq(0.0, 0.5, 1.0, 1.5))
  }

  test("ewma matches the reference warmup-10 state machine") {
    val n = 13
    val st = single(n)
    val got = rows3(run("""{"name":"ewma","decay":0.5}""", st)).map(_._3)
    // replicate reference sliding_window.cpp: forecast before add;
    // first 11 samples (warmup<=10) forecast = x itself
    var warmup = 0; var value = 0.0
    val want = (0 until n).map { i =>
      val x = i.toDouble
      val f = if (warmup <= 10) x else value
      if (warmup < 10) { value += x; warmup += 1 }
      else if (warmup == 10) {
        warmup += 1; value += x; value /= 11.0; value = x * 0.5 + value * 0.5
      } else value = x * 0.5 + value * 0.5
      f
    }
    assert(got == want)
  }

  test("ewma/ewma-error rows equal the reference recurrence bit for bit") {
    // hand-written reference (sliding_window.cpp:15-110, warmup 10): the
    // forecast before the add; a missing cell passes through untouched
    def reference(xs: Seq[Option[Double]], decay: Double,
                  delta: Boolean): Seq[Option[Double]] = {
      var warmup = 0; var value = 0.0
      xs.map(_.map { x =>
        val f = if (warmup <= 10) x else value
        if (warmup < 10) { value += x; warmup += 1 }
        else if (warmup == 10) {
          warmup += 1; value += x; value /= 11.0
          value = x * decay + value * (1.0 - decay)
        } else value = x * decay + value * (1.0 - decay)
        if (delta) x - f else f
      })
    }
    // 30 samples with missing cells (some inside the warmup) and a
    // series of 7, shorter than the warmup
    val data: Map[String, Seq[Option[Double]]] = Map(
      "A" -> (0 until 30).map(i =>
        if (i % 7 == 3) None else Some(math.sin(i * 0.37) * 50 + i % 7 / 3.0)),
      "B" -> (0 until 7).map(i => if (i == 4) None else Some(i * 1.1 - 2.0)))
    val st = new graft.plan.TsStore(spark.createDataFrame(
      spark.sparkContext.parallelize(data.toSeq.flatMap { case (h, xs) =>
        xs.zipWithIndex.map { case (x, i) =>
          org.apache.spark.sql.Row("m", Map("h" -> h), 100L + i * 1000000000L,
            x.map(Double.box).orNull)
        }
      }, 2), sampleSchema))
    for (backward <- Seq(false, true); name <- Seq("ewma", "ewma-error")) {
      val range = if (backward) """{"from":1000000000000000,"to":0}"""
                  else """{"from":0,"to":1000000000000000}"""
      val got = ChunkedScan.routed(ChunkedScan.Route(chunked = Some(false))) {
        Planner.plan(QueryJson.parse(s"""{"select":"m","range":$range,
            |"apply":[{"name":"$name","decay":0.3}]}""".stripMargin), st)
          .df.collect().toSeq
      }.groupBy(_.getString(0)).map { case (sn, rows) =>
        sn -> rows.sortBy(_.getLong(1)).map(r =>
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))
      }
      data.foreach { case (h, xs) =>
        val scan = if (backward) xs.reverse else xs
        val want = reference(scan, 0.3, delta = name == "ewma-error")
        val g = got(s"m h=$h")
        // bit equality, not a tolerance: the engine runs this recurrence
        def bits(v: Seq[Option[Double]]) =
          v.map(_.map(java.lang.Double.doubleToLongBits))
        assert(bits(if (backward) g.reverse else g) == bits(want),
          s"$name backward=$backward series $h")
      }
    }
  }

  test("math folds: sum/diff/multiply/divide over join tuples") {
    val st = store(Seq(
      ("a", Map("h" -> "X"), 100L, 3.0),
      ("b", Map("h" -> "X"), 100L, 4.0),
      ("a", Map("h" -> "X"), 200L, 5.0))) // b missing at 200
    def join(apply: String) = Planner.plan(QueryJson.parse(
      s"""{"join":["a","b"],"range":{"from":0,"to":1000},"apply":[$apply]}"""), st).df
    assert(rows3(join("""{"name":"sum","ignore_missing":true}""")).map(_._3) ==
      Seq(7.0, 5.0))
    val d = rows3(join("""{"name":"sum","ignore_missing":false}""")).map(_._3)
    assert(d.head == 7.0 && d(1).isNaN) // missing -> NaN without the flag
    assert(rows3(join("""{"name":"diff","ignore_missing":true}""")).map(_._3) ==
      Seq(-7.0, -5.0)) // left fold from unit: 0 - a - b
    assert(rows3(join("""{"name":"multiply","ignore_missing":true}""")).map(_._3) ==
      Seq(12.0, 5.0))
    assert(rows3(join("""{"name":"divide","ignore_missing":true}""")).map(_._3) ==
      Seq(1.0 / 12.0, 1.0 / 5.0)) // 1 / a / b
  }

  test("eval: expression over join columns, missing reads 0, NaN dropped") {
    val st = store(Seq(
      ("a", Map("h" -> "X"), 100L, 3.0),
      ("b", Map("h" -> "X"), 100L, 4.0),
      ("a", Map("h" -> "X"), 200L, 5.0)))
    val df = Planner.plan(QueryJson.parse(
      """{"join":["a","b"],"range":{"from":0,"to":1000},
        |"apply":[{"name":"eval","expr":"a * 2 + b ^ 2"}]}""".stripMargin), st).df
    assert(rows3(df).map(_._3) == Seq(22.0, 10.0))
    // NaN dropped: 0/0 when both missing never occurs here; sqrt(-1) does
    val df2 = Planner.plan(QueryJson.parse(
      """{"join":["a","b"],"range":{"from":0,"to":1000},
        |"apply":[{"name":"eval","expr":"sqrt(b - 10)"}]}""".stripMargin), st).df
    assert(df2.count() == 0)
  }

  private def joinAB = store(Seq(
    ("a", Map("h" -> "X"), 100L, 3.0),
    ("b", Map("h" -> "X"), 100L, 4.0)))

  private def planEval(expr: String) = Planner.plan(QueryJson.parse(
    s"""{"join":["a","b"],"range":{"from":0,"to":1000},
       |"apply":[{"name":"eval","expr":"$expr"}]}""".stripMargin), joinAB)

  test("eval: an unknown variable is rejected") {
    intercept[IllegalArgumentException](planEval("a + nosuch"))
  }

  test("eval: a malformed expression is rejected") {
    intercept[IllegalArgumentException](planEval("a + * b"))
  }

  test("sax: alphabet_size 99 is rejected") {
    intercept[IllegalArgumentException](run(
      """{"name":"sax","alphabet_size":99,"window_width":4}""", single(8)))
  }

  test("frequent-items: error 0 is rejected") {
    intercept[IllegalArgumentException](run(
      """{"name":"frequent-items","error":0.0,"portion":0.1}""", single(8)))
  }

  test("top: N series by time-weighted sum, descending") {
    val st = store(Seq(
      ("m", Map("h" -> "A"), 0L, 10.0),
      ("m", Map("h" -> "A"), 2000000000L, 0.0),  // A: 10*2s = 20
      ("m", Map("h" -> "B"), 0L, 3.0),
      ("m", Map("h" -> "B"), 2000000000L, 0.0),  // B: 3*2s = 6
      ("m", Map("h" -> "C"), 0L, 1.0),
      ("m", Map("h" -> "C"), 2000000000L, 0.0))) // C: 2
    val got = rows3(run("""{"name":"top","N":2}""", st))
    assert(got.map(t => (t._1, t._3)) == Seq(
      ("m h=A", 20.0), ("m h=B", 6.0)))
  }

  test("top: backward scan ranks identically to forward") {
    val st = store(Seq(
      ("m", Map("h" -> "A"), 1000000000L, 10.0),
      ("m", Map("h" -> "A"), 3000000000L, 0.0),
      ("m", Map("h" -> "B"), 1000000000L, 3.0),
      ("m", Map("h" -> "B"), 3000000000L, 0.0)))
    // range reversed: the integral must not negate (a backward window
    // would rank bottom-N)
    val df = Planner.plan(QueryJson.parse(
      """{"select":"m","range":{"from":1000000000000000,"to":0},
        |"apply":[{"name":"top","N":1}]}""".stripMargin), st).df
    assert(rows3(df).map(t => (t._1, t._3)) == Seq(("m h=A", 20.0)))
  }

  test("rate over join tuples: a gap spans to the last present cell") {
    val st = store(Seq(
      ("a", Map("h" -> "X"), 1000000000L, 10.0),
      ("b", Map("h" -> "X"), 1000000000L, 1.0),
      ("b", Map("h" -> "X"), 2000000000L, 2.0), // a missing at t=2s
      ("a", Map("h" -> "X"), 3000000000L, 16.0),
      ("b", Map("h" -> "X"), 3000000000L, 3.0)))
    val df = Planner.plan(QueryJson.parse(
      """{"join":["a","b"],"range":{"from":0,"to":1000000000000},
        |"apply":[{"name":"rate"}]}""".stripMargin), st).df
    val rows = df.orderBy(df("ts")).collect()
    // a's rate at t=3s spans the gap: (16-10)/(3-1) = 3, not (16-0)/(3-2)
    val aAt3 = rows.find(_.getLong(1) == 3000000000L).get
    assert(aAt3.getDouble(2) == 3.0)
    // a's cell at t=2s is missing and stays missing
    assert(rows.find(_.getLong(1) == 2000000000L).get.isNullAt(2))
  }

  test("eval: unary minus binds looser than '^' (muparser precedence)") {
    val st = store(Seq(("a", Map("h" -> "X"), 100L, 3.0)))
    def eval(e: String) = Planner.plan(QueryJson.parse(
      s"""{"select":"a","range":{"from":0,"to":1000},
         |"apply":[{"name":"eval","expr":"$e"}]}""".stripMargin), st).df
    assert(rows3(eval("0 - value^2")).map(_._3) == Seq(-9.0))
    assert(rows3(eval("-value^2")).map(_._3) == Seq(-9.0)) // -(3^2), not 9
    assert(rows3(eval("value^-1")).map(_._3) == Seq(1.0 / 3.0)) // signed exp
    assert(rows3(eval("2^3^2")).map(_._3) == Seq(512.0)) // right-assoc
  }

  test("frequent-items: exact SpaceSaver emission rule and order") {
    val rows = (0 until 8).map(i => ("m", Map("h" -> "A"), 100L + i, 1.0)) ++
      (0 until 3).map(i => ("m", Map("h" -> "B"), 200L + i, 1.0)) ++
      Seq(("m", Map("h" -> "C"), 300L, 1.0))
    val df = run("""{"name":"frequent-items","error":0.01,"portion":0.2}""",
      store(rows))
    // N=12, support=2.4: A(8) and B(3) qualify, C(1) doesn't
    assert(rows3(df).map(t => (t._1, t._2, t._3)) == Seq(
      ("m h=A", 100L, 8.0), ("m h=B", 200L, 3.0)))
  }

  test("heavy-hitters weights by value") {
    val rows = Seq(
      ("m", Map("h" -> "A"), 100L, 50.0),
      ("m", Map("h" -> "B"), 200L, 30.0),
      ("m", Map("h" -> "C"), 300L, 20.0))
    val df = run("""{"name":"heavy-hitters","error":0.01,"portion":0.25}""",
      store(rows))
    assert(rows3(df).map(t => (t._1, t._3)) == Seq(
      ("m h=A", 50.0), ("m h=B", 30.0)))
  }

  test("approx:true matches exact when M >= cardinality (sketch gate)") {
    val rows = (0 until 8).map(i => ("m", Map("h" -> "A"), 100L + i, 1.0)) ++
      (0 until 3).map(i => ("m", Map("h" -> "B"), 200L + i, 1.0)) ++
      Seq(("m", Map("h" -> "C"), 300L, 1.0))
    val df = run(
      """{"name":"frequent-items","error":0.01,"portion":0.2,"approx":true}""",
      store(rows))
    assert(rows3(df).map(t => (t._1, t._2, t._3)) == Seq(
      ("m h=A", 100L, 8.0), ("m h=B", 200L, 3.0)))
  }

  test("ieeeDiv: signed zero denominators and NULL passthrough") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1).select(
      graft.functions.Pipe.ieeeDiv(lit(1.0), lit(0.0)).as("a"),
      graft.functions.Pipe.ieeeDiv(lit(1.0), lit(-0.0)).as("b"),
      graft.functions.Pipe.ieeeDiv(lit(-1.0), lit(-0.0)).as("c"),
      graft.functions.Pipe.ieeeDiv(lit(0.0), lit(0.0)).as("d"),
      graft.functions.Pipe.ieeeDiv(lit(1.0), lit(null).cast("double")).as("e"),
      graft.functions.Pipe.ieeeDiv(lit(null).cast("double"), lit(2.0)).as("f"),
      graft.functions.Pipe.ieeeDiv(lit(6.0), lit(2.0)).as("g"))
    val r = df.collect().head
    assert(r.getDouble(0).isPosInfinity)
    assert(r.getDouble(1).isNegInfinity) // C++: 1.0 / -0.0 = -inf
    assert(r.getDouble(2).isPosInfinity) // -1.0 / -0.0 = +inf
    assert(r.getDouble(3).isNaN)
    assert(r.isNullAt(4) && r.isNullAt(5)) // NULL stays NULL, not ±inf
    assert(r.getDouble(6) == 3.0)
  }

  test("SpaceSaverSketch eviction: min counter seeds newcomer with error") {
    val sk = new graft.functions.SpaceSaverSketch(2, backward = false)
    sk.put("a", 1L, 1.0); sk.put("a", 2L, 1.0) // a: count 2
    sk.put("b", 3L, 1.0)                       // b: count 1
    sk.put("c", 4L, 1.0) // evicts b (min=1): c count=2, error=1
    assert(sk.counters.size == 2)
    assert(!sk.counters.containsKey("b"))
    val c = sk.counters.get("c")
    assert(c.count == 2.0 && c.error == 1.0 && c.time == 4L)
    assert(sk.n == 4.0)
    // bounds: count - error <= true (1) <= count
    assert(c.count - c.error <= 1.0 && 1.0 <= c.count)
  }

  test("SpaceSaverSketch merge is exact when neither side overflowed") {
    val x = new graft.functions.SpaceSaverSketch(10, backward = false)
    val y = new graft.functions.SpaceSaverSketch(10, backward = false)
    x.put("a", 5L, 2.0); x.put("b", 6L, 1.0)
    y.put("a", 3L, 3.0); y.put("c", 7L, 4.0)
    val m = x.merge(y)
    assert(m.n == 10.0)
    val a = m.counters.get("a")
    assert(a.count == 5.0 && a.error == 0.0 && a.time == 3L) // min ts wins
    assert(m.counters.get("b").count == 1.0)
    assert(m.counters.get("c").count == 4.0)
    // exact: every item's bounds are tight
    m.counters.forEach((_, it) => assert(it.error == 0.0))
  }

  test("SpaceSaverSketch merge prunes to capacity and keeps bounds") {
    val x = new graft.functions.SpaceSaverSketch(2, backward = false)
    val y = new graft.functions.SpaceSaverSketch(2, backward = false)
    for (_ <- 0 until 5) x.put("a", 1L, 1.0)
    for (_ <- 0 until 4) x.put("b", 2L, 1.0)
    for (_ <- 0 until 3) y.put("a", 3L, 1.0)
    for (_ <- 0 until 2) y.put("d", 4L, 1.0)
    val m = x.merge(y)
    assert(m.counters.size <= 2)
    assert(m.n == 14.0)
    val a = m.counters.get("a")
    // true count of a = 8; upper bound holds, lower bound holds
    assert(a.count >= 8.0 && a.count - a.error <= 8.0)
  }
}
