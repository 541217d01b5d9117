package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** Tests of the benchmark's own logic (no Spark): generator determinism,
  * the closed-form checkers, the tail percentile and span self time.
  * Exits non-zero on the first failure. */
object SelfTest {
  private var n = 0
  private def ok(cond: Boolean, what: String): Unit = {
    n += 1
    if (!cond) { Console.err.println(s"FAIL: $what"); sys.exit(1) }
    println(s"ok: $what")
  }

  /** Per-series (count, sum) of rendered sessions, parsed independently. */
  private def tally(sessions: Seq[Array[Byte]]): Map[String, (Long, Double)] = {
    val acc = scala.collection.mutable.Map[String, (Long, Double)]()
    sessions.foreach { bytes =>
      val lines = new String(bytes, UTF_8).split('\n')
      val dict = scala.collection.mutable.Map[String, String]()
      val pairs = lines.head.substring(1).toInt / 2
      (0 until pairs).foreach(i => dict(lines(2 + 2 * i)) = lines(1 + 2 * i).substring(1))
      lines.drop(1 + 2 * pairs).grouped(3).foreach { case Array(id, _, v) =>
        val name = dict(id)
        val (c, s) = acc.getOrElse(name, (0L, 0.0))
        acc(name) = (c + 1, s + (if (name.startsWith("!")) 0.0 else v.substring(1).toDouble))
      }
    }
    acc.toMap
  }

  def main(args: Array[String]): Unit = {
    // -- determinism ----------------------------------------------------
    def render(seed: Long) = Gen.corpus(seed, 2, 2, 2)
    val a = render(7); val b = render(7); val c = render(8)
    ok(a.perConn.flatten.map(_._2).zip(b.perConn.flatten.map(_._2)).forall { case (x, y) => x.sameElements(y) },
      "same seed gives byte-identical sessions")
    ok(!a.perConn.flatten.map(_._2).zip(c.perConn.flatten.map(_._2)).forall { case (x, y) => x.sameElements(y) },
      "another seed gives other sessions")
    ok(Gen.queries(7, 1, 100).take(200).map(_.json).toSeq == Gen.queries(7, 1, 100).take(200).map(_.json).toSeq,
      "same seed gives the same query sequence")
    ok(Gen.queries(7, 1, 100).take(200).map(_.json).toSeq != Gen.queries(8, 1, 100).take(200).map(_.json).toSeq,
      "another seed gives another query sequence")
    ok(Gen.queries(7, 0, 100).take(400).map(_.kind).toSet ==
      Set("select", "select-events", "aggregate", "group-aggregate", "join", "group-aggregate-join", "apply"),
      "the query mix covers every kind")
    ok(Gen.sessionIdOf(new String(a.perConn(1)(1)._2.take(200), UTF_8)) == a.perConn(1)(1)._1,
      "a spool file names its session")
    val vals = Gen.values(7, 4)
    val walk = new Gen.Walk(7); (1 to 3).foreach(_ => walk.advance())
    ok((0 until Gen.NSeries).forall(s => vals(s * 4 + 3) == walk.cur(s)), "values() follows the walk")

    // -- store checker ----------------------------------------------------
    val sessions = a.perConn.flatten.map(_._2).toSeq
    val good = tally(sessions)
    ok(Check.storeDiff(good, a.expect).isEmpty, "store checker accepts a correct tiny store")
    val name0 = Gen.sname(0)
    val (c0, s0) = good(name0)
    val v0 = Gen.startValue(7, 0).toDouble
    ok(Check.storeDiff(good.updated(name0, (c0 - 1, s0 - v0)), a.expect).nonEmpty,
      "store checker rejects a dropped sample")
    ok(Check.storeDiff(good.updated(name0, (c0 + 1, s0 + v0)), a.expect).nonEmpty,
      "store checker rejects a duplicated sample")
    ok(Check.storeDiff(good - name0, a.expect).nonEmpty, "store checker rejects a lost series")

    // -- query checker ----------------------------------------------------
    val q = Gen.Q("select", Seq(1), Seq(3, 4), Seq(2), 1, 4)
    val rows = Check.expected(q, vals, 4).get
    val lines = rows.map(r => s"${r.key},${r.ts},${r.nums.head.toLong}")
    ok(rows.size == 6 && Check.check(q, lines, vals, 4).isEmpty, "query checker accepts the right answer")
    ok(Check.check(q, lines.tail, vals, 4).nonEmpty, "query checker rejects a dropped row")
    ok(Check.check(q, lines :+ lines.last, vals, 4).nonEmpty, "query checker rejects a duplicated row")
    ok(Check.check(q, lines.reverse, vals, 4).nonEmpty, "query checker rejects the wrong order")
    ok(Check.ewma(Seq.fill(12)(2.0) :+ 4.0, 0.5).last == 2.0 && Check.ewma(Seq.fill(13)(2.0) :+ 4.0, 0.5).last == 2.0,
      "ewma forecast holds the warm-up mean")

    // -- tail percentile --------------------------------------------------
    val hundred = (1 to 100).map(_.toDouble)
    ok(Stats.tail(hundred) == ((90.0, 0.9)), "p90 of 100 samples leaves 10 beyond")
    ok(Stats.tail((1 to 50).map(_.toDouble)) == ((40.0, 0.8)), "50 samples: p80, the highest with 10 beyond")
    ok(Stats.tail((1 to 1000).map(_.toDouble))._1 == 900.0, "1000 samples: p90")
    ok(Stats.tail((1 to 12).map(_.toDouble))._1 == 7.0, "12 samples: no tail with 10 beyond, the upper median")
    ok(Stats.tail(Seq(5.0)) == ((5.0, 1.0)), "one sample is its own tail")
    ok(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median of an even count")

    // -- span self time ---------------------------------------------------
    val spans = Seq(
      Span(1, 0, "serve.http", 1, 0, 100),
      Span(2, 1, "ast.parse", 1, 10, 20),
      Span(3, 1, "plan.plan", 1, 15, 40), // overlaps its sibling: covered once
      Span(4, 3, "exec.drain", 1, 30, 35),
      Span(5, 1, "exec.late", 1, 90, 130)) // clipped to the parent's end
    val self = Trace.selfTimes(spans)
    ok(self(1) == 100 - (40 - 10) - (100 - 90), "self time subtracts the union of children")
    ok(self(3) == 25 - 5 && self(4) == 5 && self(2) == 10, "self time of nested spans")
    val byLayer = Trace.selfByLayer(spans)
    ok(math.abs(byLayer("exec") - (5 + 40) / 1e9) < 1e-15, "self time summed per layer")
    println(s"$n checks passed")
  }
}
