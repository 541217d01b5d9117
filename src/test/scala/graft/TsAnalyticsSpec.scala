package graft

import org.apache.spark.sql.functions._

import graft.sources.TestData
import graft.functions.ChunkedScan
import graft.llm.Dedup
import graft.plan.TsAnalytics

/** SURVEY §2.8 scope-delta operators (distinct sketch, rollup, ranking)
  * and the Bloom membership dedup. */
class TsAnalyticsSpec extends SparkFunSuite {

  private lazy val sp = spark
  import sp.implicits._

  test("thetaDistinct: theta=1 is exact; smaller theta estimates") {
    // 97 coprime with 2: both groups see all 97 distinct items
    val df = (1 to 1000).map(i => ("m" + (i % 2), "item" + (i % 97)))
      .toDF("g", "item")
    val exact = TsAnalytics.thetaDistinct(df, Seq("g"), col("item"), 1.0)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact == Map("m0" -> 97L, "m1" -> 97L))

    val est = TsAnalytics.thetaDistinct(df, Seq("g"), col("item"), 0.3)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // unbiased-ish: each estimate within a loose band of the truth
    est.values.foreach(e => assert(e > 40 && e < 200, est))
    // deterministic: same inputs, same estimate
    val again = TsAnalytics.thetaDistinct(df, Seq("g"), col("item"), 0.3)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(est == again)
    // seed changes the kept set (different hash family member)
    val seeded = TsAnalytics.thetaDistinct(df, Seq("g"), col("item"), 0.3,
      seed = "s1").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = TsAnalytics.thetaDistinct(df, Seq("g"), col("item"), 0.3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(seeded != base)
  }

  test("rollupAgg: rollup levels, gid bitmask, cube adds the cross level") {
    val df = Seq(("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 4.0))
      .toDF("d1", "d2", "v")
    val r = TsAnalytics.rollupAgg(df,
      Seq("d1" -> col("d1"), "d2" -> col("d2")), col("v"))
      .collect()
      .map(x => (Option(x.getString(0)), Option(x.getString(1)),
        x.getLong(2) /* gid is long in Spark 4 */, x.getLong(3),
        x.getDouble(4))).toSet
    assert(r == Set(
      (Some("a"), Some("x"), 0L, 1L, 1.0),
      (Some("a"), Some("y"), 0L, 1L, 2.0),
      (Some("b"), Some("x"), 0L, 1L, 4.0),
      (Some("a"), None, 1L, 2L, 3.0),   // d2 rolled up -> low bit set
      (Some("b"), None, 1L, 1L, 4.0),
      (None, None, 3L, 3L, 7.0)))       // grand total
    val c = TsAnalytics.rollupAgg(df,
      Seq("d1" -> col("d1"), "d2" -> col("d2")), col("v"), cube = true)
      .collect()
    // cube adds the (null, d2) level: 2 extra rows here
    assert(c.length == r.size + 2)
  }

  test("topKPerGroup: rank order, tie-break on series, k cap") {
    val df = Seq(
      ("m", "s1", 1.0), ("m", "s1", 1.0),   // s1 sum 2: ties s3/s4
      ("m", "s2", 5.0),                     // s2 sum 5
      ("m", "s3", 2.0), ("m", "s4", 2.0),   // three-way tie at 2.0
      ("n", "s9", 9.0))
      .toDF("g", "s", "v")
    val top = TsAnalytics.topKPerGroup(df, "g", "s", col("v"), 2)
      .orderBy("g", "rnk").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    // tie at 2.0 broken by series name: s1 takes rank 2, s3/s4 cut by k
    assert(top.toSeq == Seq(
      ("m", "s2", 5.0, 1), ("m", "s1", 2.0, 2), ("n", "s9", 9.0, 1)))
  }

  test("lengthQuantiles: exact linear-interpolation quantiles per group") {
    import graft.llm.Text
    // group a: 1..5 -> p50 = 3, p90 = 1 + 0.9*4 = 4.6; group b: 10,20
    val df = (Seq(("a", 1), ("a", 2), ("a", 3), ("a", 4), ("a", 5),
      ("b", 10), ("b", 20))).toDF("g", "n")
    val q = Text.lengthQuantiles(df, Seq("g"), col("n"), Seq(0.5, 0.9))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(q.toSeq == Seq(("a", 5L, 3.0, 4.6), ("b", 2L, 15.0, 19.0)))
  }

  test("bucketQuantiles: integer-div buckets, exact interpolated quantiles") {
    val df = Seq(
      ("m", 0L, 1.0), ("m", 5L, 3.0),     // bucket 0: values 1, 3
      ("m", 10L, 10.0),                   // bucket 10
      ("n", 12L, 7.0))
      .toDF("g", "ts", "v")
    val q = TsAnalytics.bucketQuantiles(df, Seq("g"), "ts", "v",
        bucketNs = 10L, probs = Seq(0.5))
      .orderBy("g", "bucket").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(q.toSeq == Seq(
      ("m", 0L, 2L, 2.0), ("m", 10L, 1L, 10.0), ("n", 10L, 1L, 7.0)))
  }

  test("resampleLinear: exact hits, midpoints, span edges, dup collapse") {
    val df = Seq(
      ("a", 10L, 1.0), ("a", 20L, 3.0), ("a", 40L, 7.0),
      ("a", 40L, 5.0),                    // dup instant: max wins (7.0)
      ("b", 25L, 100.0))                  // single-sample series
      .toDF("k", "ts", "v")
    val r = TsAnalytics.resampleLinear(df, Seq("k"), "ts", "v",
        stepNs = 10L, fromNs = 0L, toNs = 60L)
      .orderBy("k", "ts").collect()
      .map(x => (x.getString(0), x.getLong(1),
        if (x.isNullAt(2)) None else Some(x.getDouble(2))))
    assert(r.filter(_._1 == "a").toSeq == Seq(
      ("a", 0L, None),                    // before first sample
      ("a", 10L, Some(1.0)),              // exact hit
      ("a", 20L, Some(3.0)),              // exact hit
      ("a", 30L, Some(5.0)),              // midpoint of (20,3)-(40,7)
      ("a", 40L, Some(7.0)),              // exact hit on collapsed max
      ("a", 50L, None)))                  // past last sample
    // single sample: only its own instant would interpolate, and 25 is
    // off-grid -> all grid points null for b
    assert(r.filter(_._1 == "b").forall(_._3.isEmpty))
  }

  test("resampleLinear matches a naive driver oracle on random series") {
    val rnd = new scala.util.Random(42)
    val data = (0 until 20).flatMap { k =>
      val n = 1 + rnd.nextInt(14)
      (0 until n).map(_ =>
        (s"s$k", rnd.nextInt(100).toLong, rnd.nextInt(1000) / 10.0))
    }
    val (step, from, to) = (7L, 0L, 100L)
    val got = TsAnalytics.resampleLinear(
        data.toDF("k", "ts", "v"), Seq("k"), "ts", "v", step, from, to)
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    val want = data.groupBy(_._1).flatMap { case (k, rows) =>
      val byTs = rows.groupBy(_._2).map { case (t, vs) =>
        t -> vs.map(_._3).max }.toSeq.sortBy(_._1)
      (from until to by step).map { t =>
        val prev = byTs.filter(_._1 <= t).lastOption
        val next = byTs.find(_._1 >= t)
        val v = (prev, next) match {
          case (Some((pt, pv)), _) if pt == t => Some(pv)
          case (Some((pt, pv)), Some((nt, nv))) =>
            Some(pv + (nv - pv) * (t - pt).toDouble / (nt - pt).toDouble)
          case _ => None
        }
        // Spark round() is BigDecimal HALF_UP — mirror it exactly
        (k, t, v.map(x => BigDecimal(x)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    }.toSet
    assert(got == want)
  }

  test("bm25Search: known corpus, hand-computed ranking") {
    import graft.llm.Text
    // 4 docs, query "cat": df=2, idf = ln(1 + 2.5/2.5) = ln 2.
    // avg len = (2+3+2+1)/4 = 2;
    // score = ln2 * tf*2.2/(tf + 1.2*(0.25 + 0.75*len/2))
    val docs = Seq(
      (1L, "cat cat"),            // tf 2, len 2
      (2L, "cat dog dog"),        // tf 1, len 3
      (3L, "dog dog"),            // no hit
      (4L, "bird"))
      .toDF("doc_id", "text")
    val r = Text.bm25Search(docs, Seq("cat"), k = 10)
      .orderBy("rank").collect()
      .map(x => (x.getLong(0), x.getDouble(1), x.getInt(2)))
    assert(r.map(_._1).toSeq == Seq(1L, 2L)) // only docs containing a term
    def score(tf: Double, len: Double) =
      math.log(2.0) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len / 2.0))
    assert(math.abs(r(0)._2 - score(2, 2)) < 1e-6)
    assert(math.abs(r(1)._2 - score(1, 3)) < 1e-6)
    // multi-term query sums per-term contributions
    val multi = Text.bm25Search(docs, Seq("cat", "bird"), k = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(multi.keySet == Set(1L, 2L, 4L))
    assert(multi(4L) > multi(2L)) // rare term outscores common term
  }

  test("hardNegatives: different-label top-k, deterministic ties") {
    import graft.llm.Embed
    // query 1 (label 0): negatives must all be label != 0, ranked by
    // cosine; vec 10 is identical to the query but labeled 1 -> rank 1
    val rows = Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(1.0f, 0.0f), 0),     // same label: never a negative
      (10L, Seq(1.0f, 0.0f), 1),    // cosine 1, different label
      (11L, Seq(0.9f, 0.1f), 1),
      (12L, Seq(0.0f, 1.0f), 2),    // orthogonal
      (13L, Seq(-1.0f, 0.0f), 1))   // opposite
    val df = rows.toDF("vec_id", "embedding", "label")
    val r = Embed.hardNegatives(df, Seq(1L), k = 3)
      .orderBy("rnk").collect()
      .map(x => (x.getLong(1), x.getInt(2), x.getLong(4)))
    assert(r.map(_._1).toSeq == Seq(10L, 11L, 12L))
    assert(r.forall(_._2 != 0))
  }

  test("m4Downsample: min/max/first/last per bucket, deterministic ties") {
    val df = Seq(
      ("m", 1L, 5.0), ("m", 3L, 1.0), ("m", 9L, 8.0),  // bucket 0
      ("m", 9L, 2.0),             // dup last instant: larger value = last
      ("m", 1L, 7.0),             // dup first instant: smaller value = first
      ("m", 10L, 4.0),            // bucket 10, single sample
      ("n", 15L, 6.0))
      .toDF("g", "ts", "v")
    val r = TsAnalytics.m4Downsample(df, Seq("g"), "ts", "v", 10L)
      .orderBy("g", "bucket").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        x.getDouble(3), x.getDouble(4), x.getLong(5), x.getDouble(6),
        x.getLong(7), x.getDouble(8)))
    assert(r.toSeq == Seq(
      ("m", 0L, 5L, 1.0, 8.0, 1L, 5.0, 9L, 8.0),
      ("m", 10L, 1L, 4.0, 4.0, 10L, 4.0, 10L, 4.0),
      ("n", 10L, 1L, 6.0, 6.0, 15L, 6.0, 15L, 6.0)))
  }

  test("seasonalDecompose: trend/seasonal/remainder reconstruct the series") {
    // clean construction: value = 10 + phase effect [0, 3, -3] over
    // period 3, 12 consecutive buckets -> interior trend == 10 exactly,
    // seasonal == the centered phase effect, remainder == 0
    val effect = Seq(0.0, 3.0, -3.0)
    val df = (0 until 12).map(i => ("m", i * 10L, 10.0 + effect(i % 3)))
      .toDF("g", "ts", "v")
    val r = TsAnalytics.seasonalDecompose(df, Seq("g"), "ts", "v",
        bucketNs = 10L, period = 3)
      .orderBy("bucket").collect()
      .map(x => (x.getLong(1), x.getDouble(2),
        if (x.isNullAt(3)) None else Some(x.getDouble(3)),
        x.getDouble(4),
        if (x.isNullAt(5)) None else Some(x.getDouble(5))))
    assert(r.length == 12)
    // edges (first and last bucket) have no full centered window
    assert(r.head._3.isEmpty && r.last._3.isEmpty)
    r.slice(1, 11).foreach { case (b, v, trend, seasonal, rem) =>
      assert(math.abs(trend.get - 10.0) < 1e-9, s"trend at $b")
      val want = effect(((b / 10) % 3).toInt)
      assert(math.abs(seasonal - want) < 1e-9, s"seasonal at $b")
      assert(math.abs(rem.get) < 1e-9, s"remainder at $b")
    }
    // a gap nulls the trend wherever the window loses a bucket
    val gappy = df.filter(col("ts") =!= 50L)
    val g = TsAnalytics.seasonalDecompose(gappy, Seq("g"), "ts", "v",
        bucketNs = 10L, period = 3)
      .collect().map(x => x.getLong(1) ->
        (if (x.isNullAt(3)) None else Some(x.getDouble(3)))).toMap
    assert(g(40L).isEmpty && g(60L).isEmpty, "neighbors of the gap")
    assert(g(70L).nonEmpty)
  }

  test("holtForecast matches the sequential recursion; chunking invariant") {
    val rnd = new scala.util.Random(7)
    val data = (0 until 3).flatMap { k =>
      (0 until 40).map(i => (s"s$k", i * 10L, rnd.nextInt(1000) / 10.0))
    } ++ Seq(("solo", 5L, 42.0)) // single-sample series: flat forecast
    val df = data.toDF("k", "ts", "v")
    val (alpha, beta) = (0.4, 0.3)
    def naive(rows: Seq[(Long, Double)]): (Double, Double, Long) = {
      val sorted = rows.groupBy(_._1).map { case (t, vs) =>
        t -> vs.map(_._2).max }.toSeq.sortBy(_._1)
      var l = 0.0; var b = 0.0; var first = true
      sorted.foreach { case (_, x) =>
        if (first) { l = x; b = 0.0; first = false }
        else {
          val l2 = alpha * x + (1 - alpha) * (l + b)
          b = beta * (l2 - l) + (1 - beta) * b; l = l2
        }
      }
      (l, b, sorted.last._1)
    }
    val want = data.groupBy(_._1).flatMap { case (k, rows) =>
      val (l, b, lastTs) = naive(rows.map(r => (r._2, r._3)))
      (1 to 4).map(i => (k, lastTs + i * 10L, l + i * b))
    }.toSet
    for (parts <- Seq(0, 3)) { // AQE-sized vs forced 3-chunk split
      ChunkedScan.routed(ChunkedScan.Route(chunks = parts)) {
        val got = TsAnalytics.holtForecast(df, Seq("k"), "ts", "v",
            alpha, beta, horizon = 4, stepNs = 10L)
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        assert(got.length == want.size)
        got.foreach { case (k, t, f) =>
          val w = want.find(x => x._1 == k && x._2 == t).get._3
          assert(math.abs(f - w) < 1e-9, s"($k, $t): $f vs $w [parts=$parts]")
        }
      }
    }
    // flat forecast for the single-sample series
    val solo = TsAnalytics.holtForecast(df.filter(col("k") === "solo"),
      Seq("k"), "ts", "v", alpha, beta, 3, 10L).collect()
    assert(solo.forall(_.getDouble(2) == 42.0))
  }

  test("holtWintersForecast matches sequential recursion; chunk invariant") {
    val rnd = new scala.util.Random(11)
    // seasonal signal (period 4) + trend + noise, 2 series; plus one
    // series SHORTER than the period (must emit nothing)
    val data = (0 until 2).flatMap { k =>
      (0 until 30).map(i => (s"s$k", i * 10L,
        50.0 + 0.5 * i + Seq(5.0, -2.0, -5.0, 2.0)(i % 4) +
          rnd.nextInt(100) / 100.0))
    } ++ Seq(("tiny", 0L, 1.0), ("tiny", 10L, 2.0))
    val df = data.toDF("k", "ts", "v")
    val (a, b, g, m) = (0.3, 0.1, 0.2, 4)
    def naive(rows: Seq[(Long, Double)]): (Array[Double], Long) = {
      val sorted = rows.sortBy(_._1)
      val l0 = sorted.take(m).map(_._2).sum / m
      val z = Array.fill(m + 2)(0.0)
      z(0) = l0
      (0 until m).foreach(i => z(2 + i) = sorted(i)._2 - l0)
      sorted.drop(m).foreach { case (_, y) =>
        val (l, tr, s0) = (z(0), z(1), z(2))
        val lp = a * (y - s0) + (1 - a) * (l + tr)
        val bp = b * (lp - l) + (1 - b) * tr
        val sn = g * (y - lp) + (1 - g) * s0
        (2 until m + 1).foreach(i => z(i) = z(i + 1))
        z(0) = lp; z(1) = bp; z(m + 1) = sn
      }
      (z, sorted.last._1)
    }
    val want = data.groupBy(_._1).filter(_._2.size >= m).flatMap {
      case (k, rows) =>
        val (z, lastTs) = naive(rows.map(r => (r._2, r._3)))
        (1 to 6).map(h =>
          (k, lastTs + h * 10L, z(0) + h * z(1) + z(2 + ((h - 1) % m))))
    }.toSet
    for (parts <- Seq(0, 4)) { // AQE-sized vs forced 4-chunk split
      ChunkedScan.routed(ChunkedScan.Route(chunks = parts)) {
        val got = TsAnalytics.holtWintersForecast(df, Seq("k"), "ts", "v",
            a, b, g, period = m, horizon = 6, stepNs = 10L)
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        assert(got.length == want.size) // 'tiny' emitted nothing
        got.foreach { case (k, t, f) =>
          val w = want.find(x => x._1 == k && x._2 == t).get._3
          assert(math.abs(f - w) < 1e-6, s"($k, $t): $f vs $w [parts=$parts]")
        }
      }
    }
  }

  test("thresholdAlerts: run grouping, minRun gate, below mode") {
    val df = Seq(
      ("s", 1L, 5.0), ("s", 2L, 15.0), ("s", 3L, 16.0),  // run of 2
      ("s", 4L, 5.0), ("s", 5L, 17.0),                   // isolated spike
      ("s", 6L, 18.0), ("s", 7L, 19.0), ("s", 8L, 20.0)) // run of 3
      .toDF("k", "ts", "v")
    val r = TsAnalytics.thresholdAlerts(df, Seq("k"), "ts", "v",
        threshold = 10.0, minRun = 2)
      .orderBy("start_ts").collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4)))
    // the isolated 5L spike is suppressed; 5L..8L? no — 5L breaches but
    // 4L does not, and 6,7,8 are consecutive WITH 5 (5,6,7,8 all > 10
    // except ts=4) -> run is 5..8 length 4
    assert(r.toSeq == Seq((1L + 1, 3L, 2L, 16.0), (5L, 8L, 4L, 20.0)))
    // below mode: dips under the threshold
    val dips = TsAnalytics.thresholdAlerts(df, Seq("k"), "ts", "v",
        threshold = 10.0, minRun = 1, above = false)
      .orderBy("start_ts").collect().map(x => (x.getLong(1), x.getLong(3)))
    assert(dips.toSeq == Seq((1L, 1L), (4L, 1L)))
  }

  test("burnRate: exact window sums, alert needs both windows hot") {
    // one key, bucket width 10; buckets 0..4 with (n, bad):
    // (4,0) (4,4) (4,4) (4,0) (4,0); slo .75 -> budget .25
    val rows = for {
      b <- 0 until 5; i <- 0 until 4
    } yield ("k", b * 10L + i, b == 1 || b == 2)
    val df = rows.toDF("k", "ts", "bad")
    val r = TsAnalytics.burnRate(df, Seq("k"), "ts", col("bad"),
        bucketNs = 10L, shortBuckets = 2, longBuckets = 4,
        slo = 0.75, factor = 1.0)
      .orderBy("bucket").collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getLong(3),
        x.getDouble(4), x.getDouble(5), x.getBoolean(6)))
    // short window (2 buckets) rates: 0, .5, 1, .5, 0 -> burns 0,2,4,2,0
    // long window (4 buckets) rates: 0, .5, 2/3, .5, .5->8/16=.5
    assert(r.toSeq == Seq(
      (0L, 4L, 0L, 0.0, 0.0, false),
      (10L, 4L, 4L, 2.0, 2.0, true),
      (20L, 4L, 4L, 4.0, 2.666667, true),
      (30L, 4L, 0L, 2.0, 2.0, true),
      (40L, 4L, 0L, 0.0, 2.0, false)))
  }

  test("cardinalityReport: active, new, growth per bucket") {
    val df = Seq(
      ("m", "s1", 5L), ("m", "s2", 7L),          // bucket 0: 2 series, new
      ("m", "s1", 12L), ("m", "s3", 13L),        // bucket 1: s3 is new
      ("m", "s1", 14L), ("m", "s1", 15L),        // extra samples, same s1
      ("m", "s4", 25L))                          // bucket 2: 1 active, new
      .toDF("g", "s", "ts")
    val r = TsAnalytics.cardinalityReport(df, Seq("g"), "s", "ts",
        bucketNs = 10L)
      .orderBy("bucket").collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4),
        if (x.isNullAt(5)) None else Some(x.getLong(5))))
    assert(r.toSeq == Seq(
      (0L, 2L, 2L, 2L, None),         // first bucket: growth null
      (10L, 2L, 4L, 1L, Some(0L)),    // s1+s3 active, s3 new
      (20L, 1L, 1L, 1L, Some(-1L))))  // shrink shows as negative growth
  }

  test("forecastBacktest: converged series scores its own continuation") {
    // linear series v = 10 + t/10: holt converges to the exact trend,
    // so post-split one-step forecasts equal the actuals -> mae 0
    val df = (0 until 60).map(i => ("s", i * 10L, 10.0 + i))
      .toDF("k", "ts", "v")
    val r = TsAnalytics.forecastBacktest(df, Seq("k"), "ts", "v",
        alpha = 0.5, beta = 0.5, splitNs = 400L, horizon = 3,
        stepNs = 10L)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
    assert(r.length == 1)
    val (_, nEval, mae) = r(0)
    assert(nEval == 3L)
    // exact-trend series: forecast error collapses to ~0
    assert(mae < 1e-3, s"mae=$mae")
  }

  test("rollup store: coarsest-divisor serve merges exactly") {
    val tmp = TestData.freshScratch("graft_ru")
    val df = Seq(
      ("m", 1L, 1.0), ("m", 2L, 5.0),     // 10-bucket 0
      ("m", 11L, 3.0),                    // 10-bucket 10
      ("m", 25L, 7.0))                    // 10-bucket 20
      .toDF("metric", "ts", "value")
      .withColumn("tags", map_from_arrays(
        array().cast("array<string>"), array().cast("array<string>")))
    graft.io.Rollup.write(df, tmp, Seq(5L, 10L))
    assert(graft.io.Rollup.storedSteps(spark, tmp) == Seq(5L, 10L))
    // step 20: both 5 and 10 divide; the 10 rollup must be picked and
    // merged two-buckets-per-row
    val r = graft.io.Rollup.serve(spark, tmp, 20L)
      .orderBy("bucket").collect()
      .map(x => (x.getLong(2), x.getLong(3), x.getDouble(4),
        x.getDouble(5), x.getDouble(6), x.getDouble(7),
        x.getDouble(8), x.getDouble(9)))
    assert(r.toSeq == Seq(
      (0L, 3L, 9.0, 1.0, 5.0, 3.0, 1.0, 3.0),   // buckets 0+10 merged
      (20L, 1L, 7.0, 7.0, 7.0, 7.0, 7.0, 7.0)))
    // step 7 divides neither stored step: loud failure, not wrong data
    intercept[IllegalArgumentException] {
      graft.io.Rollup.serve(spark, tmp, 7L)
    }
  }

  test("rollup write: chained coarser step equals a direct per-step build") {
    // r15: write() folds a coarser step from an already-written finer
    // divisor (one corpus pass per chain) — the stored summaries must
    // equal a build that aggregated the step straight from the samples
    def mk(rows: Seq[(String, Long, Double)]) =
      rows.toDF("metric", "ts", "value")
        .withColumn("tags", map_from_arrays(
          array().cast("array<string>"), array().cast("array<string>")))
    val rows = Seq(("m", 1L, 4.0), ("m", 2L, 9.0), ("m", 7L, 2.0),
      ("m", 11L, 3.0), ("n", 4L, -1.0), ("n", 25L, 7.0))
    val chained = TestData.freshScratch("graft_rch")
    val direct = TestData.freshScratch("graft_rdi")
    graft.io.Rollup.write(mk(rows), chained, Seq(5L, 10L))
    graft.io.Rollup.write(mk(rows), direct, Seq(10L))
    def at10(p: String) = graft.io.Rollup.serve(spark, p, 10L)
      .orderBy("metric", "bucket").collect().map(_.toSeq).toSeq
    assert(at10(chained) == at10(direct))
  }

  test("rollup update: incremental fold equals full rebuild") {
    def mk(rows: Seq[(String, Long, Double)]) =
      rows.toDF("metric", "ts", "value")
        .withColumn("tags", map_from_arrays(
          array().cast("array<string>"), array().cast("array<string>")))
    val first = Seq(("m", 1L, 4.0), ("m", 2L, 9.0), ("m", 11L, 3.0))
    val second = Seq(("m", 3L, 1.0),   // extends an EXISTING bucket:
                                       // min/first must flip to the new row
      ("m", 25L, 7.0))                 // and a brand-new bucket appears
    val inc = TestData.freshScratch("graft_ri")
    graft.io.Rollup.write(mk(first), inc, Seq(10L))
    graft.io.Rollup.update(mk(second), inc)
    val full = TestData.freshScratch("graft_rf")
    graft.io.Rollup.write(mk(first ++ second), full, Seq(10L))
    def served(p: String) = graft.io.Rollup.serve(spark, p, 10L)
      .orderBy("bucket").collect()
      .map(x => (x.getLong(2), x.getLong(3), x.getDouble(4),
        x.getDouble(5), x.getDouble(6), x.getDouble(7), x.getDouble(8),
        x.getDouble(9))).toSeq
    assert(served(inc) == served(full))
    // and the merged bucket is actually right: n=3, min 1.0, last 1.0
    assert(served(inc).head == ((0L, 3L, 14.0, 1.0, 9.0, 4.666667,
      4.0, 1.0)))
  }

  test("rollup update: a crashed (uncommitted) fold is invisible and " +
      "the replay lands cleanly") {
    def mk(rows: Seq[(String, Long, Double)]) =
      rows.toDF("metric", "ts", "value")
        .withColumn("tags", map_from_arrays(
          array().cast("array<string>"), array().cast("array<string>")))
    val p = TestData.freshScratch("graft_rc")
    graft.io.Rollup.write(mk(Seq(("m", 1L, 4.0), ("m", 11L, 3.0))), p,
      Seq(10L))
    val pre = graft.io.Rollup.serve(spark, p, 10L).orderBy("bucket")
      .collect().map(_.toSeq).toSeq
    // simulate update() dying BEFORE its commit marker: a partially
    // written next epoch exists, with no _COMMITTED
    val orphan = new java.io.File(p, "epoch=2/step=10")
    orphan.mkdirs()
    new java.io.File(orphan, "part-junk.parquet").createNewFile()
    // readers never see (or touch) the orphan: the current epoch serves
    assert(graft.io.Rollup.storedSteps(spark, p) == Seq(10L))
    val post = graft.io.Rollup.serve(spark, p, 10L).orderBy("bucket")
      .collect().map(_.toSeq).toSeq
    assert(post == pre)
    assert(orphan.exists) // the read did NOT mutate the store
    // the replayed update overwrites the orphan and commits atomically
    graft.io.Rollup.update(mk(Seq(("m", 25L, 7.0))), p)
    assert(graft.io.Rollup.serve(spark, p, 10L).count() == 3)
    assert(new java.io.File(p, "epoch=2/_COMMITTED").exists)
  }

  test("rollup update: replayed micro-batch ids fold exactly once") {
    def mk(rows: Seq[(String, Long, Double)]) =
      rows.toDF("metric", "ts", "value")
        .withColumn("tags", map_from_arrays(
          array().cast("array<string>"), array().cast("array<string>")))
    val p = TestData.freshScratch("graft_rb")
    // bootstrap as streaming batch 0; then batch 1 folds, and the SAME
    // batch 1 replays (foreachBatch at-least-once after a crash between
    // the fold commit and the checkpoint ack) — it must be a no-op
    graft.io.Rollup.write(mk(Seq(("m", 1L, 4.0))), p, Seq(10L), batchId = 0L)
    assert(graft.io.Rollup.lastBatch(spark, p) == 0L)
    graft.io.Rollup.update(mk(Seq(("m", 2L, 9.0))), p, batchId = 1L)
    graft.io.Rollup.update(mk(Seq(("m", 2L, 9.0))), p, batchId = 1L) // replay
    assert(graft.io.Rollup.lastBatch(spark, p) == 1L)
    val r = graft.io.Rollup.serve(spark, p, 10L).collect()
    assert(r.length == 1)
    assert(r.head.getLong(3) == 2L)           // cnt: NOT 3 (no double fold)
    assert(r.head.getDouble(4) == 13.0)       // vsum: 4 + 9, once
    // a batch BELOW the marker is also skipped; a new one folds
    graft.io.Rollup.update(mk(Seq(("m", 3L, 1.0))), p, batchId = 0L)
    assert(graft.io.Rollup.serve(spark, p, 10L).head.getLong(3) == 2L)
    graft.io.Rollup.update(mk(Seq(("m", 3L, 1.0))), p, batchId = 2L)
    assert(graft.io.Rollup.serve(spark, p, 10L).head.getLong(3) == 3L)
    // un-id'd batch callers always fold and never regress the marker
    graft.io.Rollup.update(mk(Seq(("m", 4L, 2.0))), p)
    assert(graft.io.Rollup.serve(spark, p, 10L).head.getLong(3) == 4L)
    assert(graft.io.Rollup.lastBatch(spark, p) == 2L)
  }

  test("seasonalityStrength: periodic series scores high, noise low") {
    // clean period-3 pattern on a flat base: seasonal strength ~ 1
    val effect = Seq(6.0, 0.0, -6.0)
    val periodic = (0 until 30).map(i =>
      ("p", i * 10L, 20.0 + effect(i % 3)))
    // deterministic hash noise, no period: seasonal strength low
    val rnd = new scala.util.Random(3)
    val noisy = (0 until 30).map(i =>
      ("n", i * 10L, 20.0 + rnd.nextDouble() * 12 - 6))
    val df = (periodic ++ noisy).toDF("k", "ts", "v")
    val r = TsAnalytics.seasonalityStrength(df, Seq("k"), "ts", "v",
        bucketNs = 10L, period = 3)
      .collect().map(x => (x.getString(0), x.getDouble(2))).toMap
    assert(r("p") > 0.99, s"periodic strength ${r("p")}")
    assert(r("n") < 0.6, s"noise strength ${r("n")}")
  }

  test("correlationMatrix: correlated/anti/uncorrelated pairs") {
    // x rises, y = 2x (corr 1), z = -x (corr -1), c constant (null)
    val df = (0 until 12).flatMap { i =>
      Seq(("x", i * 10L, i.toDouble), ("y", i * 10L, 2.0 * i),
        ("z", i * 10L, -i.toDouble), ("c", i * 10L, 5.0))
    }.toDF("m", "ts", "v")
    val r = TsAnalytics.correlationMatrix(df, "m", "ts", "v", 10L)
      .collect()
      .map(x => ((x.getString(0), x.getString(1)),
        if (x.isNullAt(3)) None else Some(x.getDouble(3)))).toMap
    assert(r(("x", "y")) == Some(1.0))
    assert(r(("x", "z")) == Some(-1.0))
    assert(r(("y", "z")) == Some(-1.0))
    // constant series: zero variance -> null, not NaN/throw
    assert(r(("c", "x")) == None && r(("c", "y")) == None)
    assert(r.size == 6) // all 4-choose-2 pairs present
  }

  test("eventImpact: window sides, marker exclusion, one-sided nulls") {
    val samples = Seq(
      ("u", 10L, 1.0), ("u", 20L, 3.0),   // before marker 30
      ("u", 30L, 99.0),                   // AT the marker: excluded
      ("u", 40L, 10.0), ("u", 50L, 12.0), // after
      ("u", 200L, 7.0))                   // outside any window
      .toDF("user", "ts", "v")
    val markers = Seq(("u", 30L), ("u", 190L)).toDF("user", "ts")
    val r = TsAnalytics.eventImpact(samples, markers, Seq("user"),
        "ts", "v", windowNs = 25L)
      .orderBy("marker_ts").collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getLong(3),
        if (x.isNullAt(6)) None else Some(x.getDouble(6))))
    assert(r.toSeq == Seq(
      (30L, 2L, 2L, Some(9.0)),   // (10+12)/2 - (1+3)/2 = 11 - 2
      (190L, 0L, 1L, None)))      // nothing before: delta null
  }

  test("instantRate: last two samples, reset restarts from zero") {
    val df = Seq(
      ("s", 1000000000L, 10.0), ("s", 2000000000L, 20.0),
      ("s", 4000000000L, 30.0),             // last pair: +10 over 2s
      ("r", 1000000000L, 100.0), ("r", 3000000000L, 4.0), // reset
      ("one", 5L, 1.0))                     // single sample: no row
      .toDF("k", "ts", "v")
    val r = TsAnalytics.instantRate(df, Seq("k"), "ts", "v")
      .collect().map(x => (x.getString(0),
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getBoolean(4))))
      .toMap
    assert(r("s") == ((4000000000L, 2000000000L, 5.0, false)))
    // reset: rate counts from 0 -> 4.0 over 2s = 2/s
    assert(r("r") == ((3000000000L, 2000000000L, 2.0, true)))
    assert(!r.contains("one"))
  }

  test("counterIncrease: positive deltas sum, resets count from zero") {
    // series: 10 -> 15 (+5) | bucket 1: 18 (+3), 2 (reset: +2), 7 (+5)
    val df = Seq(
      ("c", 1L, 10.0), ("c", 5L, 15.0),
      ("c", 11L, 18.0), ("c", 15L, 2.0), ("c", 18L, 7.0))
      .toDF("k", "ts", "v")
    val r = TsAnalytics.counterIncrease(df, Seq("k"), "ts", "v",
        bucketNs = 10L)
      .orderBy("bucket").collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4)))
    assert(r.toSeq == Seq(
      (0L, 1L, 0L, 5.0),     // first sample contributes nothing
      (10L, 3L, 1L, 10.0)))  // 3 + 2 (post-reset) + 5
  }

  test("seriesOverview: counts, span, max gap, percentiles") {
    val df = Seq(
      ("s", 0L, 1.0), ("s", 10L, 2.0), ("s", 40L, 3.0), ("s", 50L, 4.0),
      ("s", 50L, 0.5),                    // dup instant: max wins (4.0)
      ("one", 7L, 9.0))
      .toDF("k", "ts", "v")
    val r = TsAnalytics.seriesOverview(df, Seq("k"), "ts", "v")
      .collect().map(x => x.getString(0) -> x).toMap
    val s = r("s")
    assert(s.getLong(1) == 4L && s.getLong(2) == 0L && s.getLong(3) == 50L)
    assert(s.getLong(4) == 50L && s.getLong(5) == 30L) // gap 10->40
    assert(s.getDouble(6) == 1.0 && s.getDouble(7) == 4.0)
    assert(s.getDouble(8) == 2.5 && s.getDouble(9) == 2.5) // mean, p50
    val one = r("one")
    assert(one.getLong(1) == 1L && one.isNullAt(5)) // no gap for 1 sample
  }

  test("seasonalAnomalies: flags only the injected outlier") {
    // same clean periodic construction as the decompose spec, but one
    // bucket is knocked +50 off its pattern — after removing trend and
    // seasonality it is the ONLY large remainder
    val effect = Seq(0.0, 3.0, -3.0)
    val base = (0 until 30).map(i => ("m", i * 10L, 10.0 + effect(i % 3)))
    val data = base.updated(15, ("m", 150L, base(15)._3 + 50.0))
    val r = TsAnalytics.seasonalAnomalies(data.toDF("g", "ts", "v"),
        Seq("g"), "ts", "v", bucketNs = 10L, period = 3, nSigma = 2.0)
      .collect().map(x => x.getLong(1) ->
        (if (x.isNullAt(5)) None else Some(x.getBoolean(5)))).toMap
    assert(r(150L).contains(true), "injected outlier not flagged")
    // edges have null trend -> null flag; everything else is calm...
    assert(r(0L).isEmpty && r(290L).isEmpty)
    // ...except the outlier's neighbors, whose trend window absorbs
    // part of the spike (their remainders swing with it) — just require
    // that far-from-the-spike buckets stay unflagged
    val calm = r.collect {
      case (b, Some(f)) if math.abs(b - 150L) > 30 => f }
    assert(calm.nonEmpty && calm.forall(_ == false))
  }

  test("changePoints: finds the level shift, computes before/after means") {
    // series: 10 samples at 1.0, then 10 at 5.0 -> cusum |S| peaks at
    // the last low sample (ts 90); delta = 4
    val shift = (0 until 20).map(i =>
      ("m", i * 10L, if (i < 10) 1.0 else 5.0))
    val single = Seq(("solo", 0L, 7.0))
    val r = TsAnalytics.changePoints(
        (shift ++ single).toDF("g", "ts", "v"), Seq("g"), "ts", "v")
      .collect().map(x => x.getString(0) -> x).toMap
    val m = r("m")
    assert(m.getLong(1) == 90L, s"cp_ts ${m.getLong(1)}")
    assert(m.getLong(2) == 20L)
    assert(math.abs(m.getDouble(4) - 1.0) < 1e-9)  // before_mean
    assert(math.abs(m.getDouble(5) - 5.0) < 1e-9)  // after_mean
    assert(math.abs(m.getDouble(6) - 4.0) < 1e-9)  // delta
    // single-sample series: cp is the only sample, after side is null
    val s = r("solo")
    assert(s.getLong(1) == 0L && s.isNullAt(5) && s.isNullAt(6))
  }

  test("autocorrelation: detects the period; gaps drop pairs; flat is null") {
    // period-3 sawtooth over 30 buckets: acf(3) = acf(6) = 1 exactly,
    // acf at non-multiples is negative (pattern anti-aligns)
    val saw = (0 until 30).map(i => ("m", i * 10L, (i % 3).toDouble))
    val flat = (0 until 10).map(i => ("f", i * 10L, 5.0))
    val df = (saw ++ flat).toDF("g", "ts", "v")
    val r = TsAnalytics.autocorrelation(df, Seq("g"), "ts", "v",
        bucketNs = 10L, maxLag = 6)
      .collect().map(x => (x.getString(0), x.getLong(1)) ->
        (x.getLong(2), if (x.isNullAt(3)) None else Some(x.getDouble(3))))
      .toMap
    assert(r(("m", 3L))._2.contains(1.0))
    assert(r(("m", 6L))._2.contains(1.0))
    assert(r(("m", 1L))._2.exists(_ < 0))
    // pair counts shrink with lag: 27 pairs at lag 3, 24 at lag 6
    assert(r(("m", 3L))._1 == 27L && r(("m", 6L))._1 == 24L)
    // constant series: zero variance -> null acf at every lag
    (1L to 6L).foreach(k => assert(r(("f", k))._2.isEmpty, s"flat lag $k"))
  }

  test("phaseBands: exact per-phase quantiles") {
    val H = 10L
    // phase 0 sees 1..5 across periods -> p50 = 3, p90 = 4.6
    val df = (0 until 5).map(i => ("m", i * 2 * H, (i + 1).toDouble))
      .toDF("g", "ts", "v")
    val r = TsAnalytics.phaseBands(df, Seq("g"), "ts", "v",
        bucketNs = H, period = 2, probs = Seq(0.5, 0.9))
      .collect()
    assert(r.length == 1)
    assert(r.head.getLong(1) == 0L && r.head.getLong(2) == 5L)
    assert(r.head.getDouble(3) == 3.0 && r.head.getDouble(4) == 4.6)
  }

  test("topMovers: latest-bucket deltas ranked, k cap, tie-break") {
    val D = 10L
    val df = Seq(
      ("m", "s1", 0L, 1.0), ("m", "s1", D, 9.0),    // delta +8
      ("m", "s2", 0L, 5.0), ("m", "s2", D, 4.0),    // delta -1
      ("m", "s3", 0L, 2.0), ("m", "s3", D, 10.0),   // delta +8 (tie, s1<s3)
      ("m", "s4", 0L, 7.0))                          // single bucket: absent
      .toDF("g", "s", "ts", "v")
    val r = TsAnalytics.topMovers(df, Seq("g"), "s", "ts", "v",
        bucketNs = D, k = 2)
      .orderBy("rnk").collect()
      .map(x => (x.getString(1), x.getDouble(5), x.getLong(6)))
    assert(r.toSeq == Seq(("s1", 8.0, 1L), ("s3", 8.0, 2L)))
  }

  test("phaseAnomalies: flags only the phase-abnormal sample") {
    // phase 0 values cluster near 10, phase 1 near 100; a 100 at
    // phase 0 is anomalous even though it is normal globally
    val rnd = new scala.util.Random(3)
    val normal = (0 until 60).map { i =>
      val phase = i % 2
      val base = if (phase == 0) 10.0 else 100.0
      ("m", i * 5L, base + rnd.nextGaussian())
    }
    val data = normal :+ (("m", 300L, 100.0)) // ts 300 -> phase 0!
    val r = TsAnalytics.phaseAnomalies(data.toDF("g", "ts", "v"),
        Seq("g"), "ts", "v", bucketNs = 5L, period = 2, nSigma = 3.0)
      .collect().map(x => x.getLong(1)).toSet
    assert(r.contains(300L), s"injected phase anomaly missed: $r")
    // the injected outlier inflates phase-0 sigma; just require that
    // phase-1 rows (all normal) stay unflagged
    assert(!r.exists(t => (t / 5) % 2 == 1), s"phase-1 false positive: $r")
  }

  test("counterRate: monotonic deltas, reset handling, dup collapse") {
    val df = Seq(
      ("m", 0L, 10.0),
      ("m", 1000000000L, 30.0),   // +20 over 1s -> 20/s
      ("m", 3000000000L, 5.0),    // DROP: reset -> rate = 5 / 2s = 2.5
      ("m", 4000000000L, 5.0),    // flat -> 0
      ("m", 4000000000L, 4.0))    // dup instant: max wins (5.0 stands)
      .toDF("g", "ts", "v")
    val r = TsAnalytics.counterRate(df, Seq("g"), "ts", "v")
      .orderBy("ts").collect()
      .map(x => (x.getLong(1), x.getDouble(2)))
    assert(r.toSeq == Seq(
      (1000000000L, 20.0), (3000000000L, 2.5), (4000000000L, 0.0)))
  }

  test("phaseProfile: hour-of-day style phase buckets") {
    val H = 10L
    val df = Seq(
      ("m", 0L, 1.0), ("m", 24 * H, 3.0),   // phase 0 twice (periods apart)
      ("m", 1 * H, 5.0),                    // phase 1
      ("m", 25 * H, 7.0))                   // phase 1, next period
      .toDF("g", "ts", "v")
    val r = TsAnalytics.phaseProfile(df, Seq("g"), "ts", "v",
        bucketNs = H, period = 24)
      .orderBy("phase").collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getDouble(3),
        x.getDouble(4), x.getDouble(5)))
    assert(r.toSeq == Seq(
      (0L, 2L, 2.0, 1.0, 3.0), (1L, 2L, 6.0, 5.0, 7.0)))
  }

  test("gapReport: only over-threshold gaps; dup instants collapse") {
    val df = Seq(
      ("m", 0L), ("m", 5L), ("m", 5L), ("m", 50L), ("m", 52L), ("m", 99L),
      ("n", 0L), ("n", 100L))
      .toDF("g", "ts")
    val r = TsAnalytics.gapReport(df, Seq("g"), "ts", minGapNs = 20L)
      .orderBy("g", "gap_start").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq(
      ("m", 5L, 50L, 45L), ("m", 52L, 99L, 47L), ("n", 0L, 100L, 100L)))
  }

  test("valueHistogram: bin edges, clamping, full counts") {
    val df = Seq(("m", -5.0), ("m", 0.0), ("m", 9.9), ("m", 10.0),
      ("m", 25.0), ("m", 999.0))
      .toDF("g", "v")
    val r = TsAnalytics.valueHistogram(df, Seq("g"), "v",
        lo = 0.0, hi = 30.0, bins = 3)
      .orderBy("bin").collect()
      .map(x => (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getLong(4)))
    // bin 0: [-5 clamped, 0, 9.9]; bin 1: [10, 25... wait 25 is bin 2]
    assert(r.toSeq == Seq(
      (0L, 0.0, 10.0, 3L),    // -5 (clamped), 0.0, 9.9
      (1L, 10.0, 20.0, 1L),   // 10.0
      (2L, 20.0, 30.0, 2L)))  // 25.0, 999 (clamped)
    assert(r.map(_._4).sum == 6L) // every sample counted
  }

  test("smaCross: emits exactly the crossing buckets with direction") {
    // series: 10 low, ramp high (fast MA rises through slow), then back
    val vals = Seq.fill(10)(1.0) ++ Seq.fill(10)(10.0) ++ Seq.fill(10)(1.0)
    val df = vals.zipWithIndex.map { case (v, i) => ("m", i * 10L, v) }
      .toDF("g", "ts", "v")
    val r = TsAnalytics.smaCross(df, Seq("g"), "ts", "v",
        bucketNs = 10L, fastN = 2, slowN = 4)
      .orderBy("bucket").collect()
      .map(x => (x.getLong(1), x.getString(2)))
    // one up-cross when the ramp starts, one down-cross when it ends
    assert(r.map(_._2).toSeq == Seq("up", "down"), r.toSeq.toString)
    assert(r(0)._1 == 100L && r(1)._1 == 200L, r.toSeq.toString)
  }

  test("crossCorrelation: a shifted copy peaks at its shift") {
    // b is a 3-bucket-delayed copy of a -> ccf peaks (exactly 1) at
    // lag +3 and is weaker elsewhere; negative lags probe the reverse
    val rnd = new scala.util.Random(5)
    val base = (0 until 40).map(_ => rnd.nextInt(1000) / 10.0)
    val a = base.zipWithIndex.map { case (v, i) => (i * 10L, v) }
    val b = base.zipWithIndex.map { case (v, i) => ((i + 3) * 10L, v) }
    val r = TsAnalytics.crossCorrelation(
        a.toDF("ts", "v"), b.toDF("ts", "v"), "ts", "v",
        bucketNs = 10L, maxLag = 5)
      .collect().map(x => x.getLong(0) ->
        (if (x.isNullAt(2)) None else Some(x.getDouble(2)))).toMap
    assert(r.size == 11)
    assert(r(3L).exists(v => math.abs(v - 1.0) < 1e-9), s"lag3 ${r(3L)}")
    assert(r(0L).exists(v => v < 0.9))
    assert(r(-3L).exists(v => v < 0.9))
  }

  test("sampledQuantiles: theta=1 equals exact; sample is deterministic") {
    val df = (1 to 1000).map(i => ("g", i.toLong, i.toDouble))
      .toDF("g", "id", "v")
    val exact = TsAnalytics.sampledQuantiles(df, Seq("g"), "id", "v",
        theta = 1.0, probs = Seq(0.5)).collect().head
    assert(exact.getLong(1) == 1000L && exact.getDouble(2) == 500.5)
    val s1 = TsAnalytics.sampledQuantiles(df, Seq("g"), "id", "v",
        theta = 0.3, probs = Seq(0.5)).collect().head
    val s2 = TsAnalytics.sampledQuantiles(df, Seq("g"), "id", "v",
        theta = 0.3, probs = Seq(0.5)).collect().head
    assert(s1.getLong(1) == s2.getLong(1) &&
      s1.getDouble(2) == s2.getDouble(2))
    // ~30% of rows survive and the median estimate is in the ballpark
    assert(s1.getLong(1) > 200 && s1.getLong(1) < 400, s1.getLong(1))
    assert(math.abs(s1.getDouble(2) - 500.0) < 150.0)
  }

  test("dedupBloom: no false negatives; FP rate bounded; deterministic") {
    val seen = (0 until 200).map(i => (i.toLong, s"seen document $i"))
      .toDF("doc_id", "text")
    val fresh = (0 until 800).map(i => (1000L + i, s"fresh document $i"))
      .toDF("doc_id", "text")
    val cand = seen.unionAll(fresh)
    val kept = Dedup.dedupBloom(cand, seen, mBits = 1 << 14, kHashes = 4)
      .select("doc_id").as[Long].collect().toSet
    // every seen doc is dropped — Bloom has NO false negatives
    assert(kept.forall(_ >= 1000L))
    // false positives (fresh docs wrongly dropped) stay near the
    // (1-e^{-kn/m})^k ~ 0.6% design rate: allow < 3%
    assert(kept.size >= 776, s"kept only ${kept.size} of 800 fresh docs")
    val again = Dedup.dedupBloom(cand, seen, mBits = 1 << 14, kHashes = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == again)
  }

  test("fillForward: carry, staleness bound, dup collapse, age") {
    val df = Seq(
      ("a", 10L, 1.0), ("a", 10L, 2.0),   // dup instant: max wins (2.0)
      ("a", 25L, 5.0),
      ("b", 55L, 9.0))                    // late starter
      .toDF("k", "ts", "v")
    val r = TsAnalytics.fillForward(df, Seq("k"), "ts", "v",
        stepNs = 10L, fromNs = 0L, toNs = 70L, maxAgeNs = 20L)
      .orderBy("k", "ts").collect()
      .map(x => (x.getString(0), x.getLong(1),
        if (x.isNullAt(2)) None else Some(x.getDouble(2)),
        if (x.isNullAt(3)) None else Some(x.getLong(3))))
    assert(r.filter(_._1 == "a").toSeq == Seq(
      ("a", 0L, None, None),              // nothing to carry yet
      ("a", 10L, Some(2.0), Some(0L)),    // exact hit on collapsed max
      ("a", 20L, Some(2.0), Some(10L)),   // carried, age 10 <= 20
      ("a", 30L, Some(5.0), Some(5L)),    // newer sample takes over
      ("a", 40L, Some(5.0), Some(15L)),   // still fresh
      ("a", 50L, None, None),             // age 25 > maxAge: stale
      ("a", 60L, None, None)))
    assert(r.filter(_._1 == "b").toSeq == Seq(
      ("b", 0L, None, None), ("b", 10L, None, None),
      ("b", 20L, None, None), ("b", 30L, None, None),
      ("b", 40L, None, None), ("b", 50L, None, None),
      ("b", 60L, Some(9.0), Some(5L))))
  }

  test("bollingerBreakouts: band math, minN gate, direction") {
    // series g: 10 flat samples at 10.0 then a spike to 20.0 — the spike
    // is the only row outside mean ± 2sd once the window holds >= 4 rows
    val flat = (1L to 10L).map(t => ("g", t, 10.0))
    val df = (flat :+ (("g", 11L, 20.0)) :+ (("h", 5L, 1.0)))
      .toDF("k", "ts", "v")
    val r = TsAnalytics.bollingerBreakouts(df, Seq("k"), "ts", "v",
        windowNs = 100L, nSigma = 2.0, minN = 4)
      .collect()
      .map(x => (x.getString(0), x.getLong(1), x.getDouble(2),
        x.getDouble(3), x.getString(6)))
    // exactly the spike alerts, upward; h never reaches minN
    assert(r.toSeq == Seq(("g", 11L, 20.0, 10.909091, "up")))
    // downward spike flips direction
    val down = (flat :+ (("g", 11L, 0.0))).toDF("k", "ts", "v")
    val d = TsAnalytics.bollingerBreakouts(down, Seq("k"), "ts", "v",
        windowNs = 100L, nSigma = 2.0, minN = 4)
      .collect().map(x => (x.getLong(1), x.getString(6)))
    assert(d.toSeq == Seq((11L, "down")))
  }

  test("madOutliers: robust to the contamination that drags mean/sd") {
    // 9 inliers at ~10, one gross outlier at 1000: med=10, MAD small,
    // the outlier flags; the same outlier would inflate a sigma rule's
    // own threshold (sd ~ 297) and barely flag at 3 sigma
    val df = ((1 to 9).map(i => ("s", i.toLong, 10.0 + (i % 3) * 0.1)) :+
      (("s", 10L, 1000.0))).toDF("k", "ts", "v")
    val r = TsAnalytics.madOutliers(df, Seq("k"), "ts", "v", k = 3.0)
      .collect().map(x => (x.getLong(1), x.getDouble(2)))
    assert(r.toSeq == Seq((10L, 1000.0)))
    // constant series: MAD 0, nothing flags (no division anywhere)
    val const = (1 to 5).map(i => ("c", i.toLong, 7.0)).toDF("k", "ts", "v")
    assert(TsAnalytics.madOutliers(const, Seq("k"), "ts", "v").count() == 0)
  }

  test("saxMotifs: repeated shape found; partial window dropped") {
    // two identical up-down-up-down windows + one different + 2 leftover
    // samples (partial window, never encoded)
    val shape = Seq(1.0, 9.0, 1.0, 9.0)
    val vals = shape ++ shape ++ Seq(5.0, 5.0, 5.0, 9.0) ++ Seq(1.0, 2.0)
    val df = vals.zipWithIndex.map { case (v, i) => ("s", i.toLong, v) }
      .toDF("k", "ts", "v")
    val r = TsAnalytics.saxMotifs(df, Seq("k"), "ts", "v",
        width = 4, alphabet = 3, minCount = 2)
      .collect().map(x => (x.getString(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
    // the repeated window z-norms to low/high/low/high = a/c/a/c;
    // the flat-then-spike window appears once and is cut by minCount
    assert(r.toSeq == Seq(("acac", 2L, 0L, 4L)))
    // duplicate instants collapse to max BEFORE windowing: doubling a
    // sample row must not shift window boundaries
    val dup = (("s", 0L, 0.5) +: vals.zipWithIndex.map {
      case (v, i) => ("s", i.toLong, v) }).toDF("k", "ts", "v")
    val r2 = TsAnalytics.saxMotifs(dup, Seq("k"), "ts", "v", 4, 3, 2)
      .collect().map(_.getString(1))
    assert(r2.toSeq == Seq("acac"))
  }

  test("histogramQuantile: interpolation inside the right bin") {
    // group m, one time bucket: values 0..9 (10 samples), range [0,9],
    // 3 bins of width 3: bin0={0,1,2}, bin1={3,4,5}, bin2={6,7,8,9}
    // (9 clamps). p50: rank=5 -> bin1 (cum 3..6), est=3+(5-3)/3*3=5
    // p90: rank=9 -> bin2 (cum 6..10), est=6+(9-6)/4*3=8.25
    val df = (0 until 10).map(i => ("m", i.toLong, i.toDouble))
      .toDF("k", "ts", "v")
    val r = TsAnalytics.histogramQuantile(df, Seq("k"), "ts", "v",
        bucketNs = 100L, nBins = 3, probs = Seq(0.5, 0.9))
      .orderBy("prob").collect()
      .map(x => (x.getLong(1), x.getDouble(2), x.getLong(3), x.getDouble(4)))
    assert(r.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((0L, 0.5, 10L), (0L, 0.9, 10L)))
    // est is deliberately un-rounded (see scaladoc): compare to 1e-9
    assert(math.abs(r(0)._4 - 5.0) < 1e-9 && math.abs(r(1)._4 - 8.25) < 1e-9)
    // constant group: every quantile is the constant
    val const = (1 to 4).map(i => ("c", i.toLong, 7.0)).toDF("k", "ts", "v")
    val c = TsAnalytics.histogramQuantile(const, Seq("k"), "ts", "v",
        100L, 3, Seq(0.5)).collect().map(_.getDouble(4))
    assert(c.length == 1 && math.abs(c(0) - 7.0) < 1e-9)
    // empty bins between occupied ones: rank lands past the gap
    // correctly (values 0 and 9, 3 bins: bin0 n=1, bin2 n=1; p75 ->
    // rank 1.5 -> bin2, est = 6 + 0.5/1*3 = 7.5)
    val gap = Seq(("g", 0L, 0.0), ("g", 1L, 9.0)).toDF("k", "ts", "v")
    val g = TsAnalytics.histogramQuantile(gap, Seq("k"), "ts", "v",
        100L, 3, Seq(0.75)).collect().map(_.getDouble(4))
    assert(g.length == 1 && math.abs(g(0) - 7.5) < 1e-9)
  }

  test("downsampleLttb: endpoints kept, spike survives, flat line thins") {
    // 3 buckets over [0, 8000ns]: endpoints + the interior point with
    // the largest triangle vs neighbor-bucket averages. The interior
    // bucket holds a flat 5.0 run plus one spike to 50 — the spike must
    // be the kept point (that's the whole point of LTTB over avg/first)
    val df = Seq(
      ("s", 0L, 1.0), ("s", 1000L, 2.0),            // bucket 0
      ("s", 3000L, 5.0), ("s", 4000L, 50.0),        // bucket 1 (spike)
      ("s", 5000L, 5.0),
      ("s", 7000L, 3.0), ("s", 8000L, 4.0))         // bucket 2
      .toDF("k", "ts", "v")
    val r = TsAnalytics.downsampleLttb(df, Seq("k"), "ts", "v", buckets = 3)
      .orderBy("bucket").collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(r.toSeq == Seq(
      (0L, 0L, 1.0),        // first bucket: first sample
      (1L, 4000L, 50.0),    // interior: the spike wins the area argmax
      (2L, 8000L, 4.0)))    // last bucket: last sample
    // single-sample series: one bucket, the sample itself
    val one = Seq(("o", 42L, 9.0)).toDF("k", "ts", "v")
    val ro = TsAnalytics.downsampleLttb(one, Seq("k"), "ts", "v", 3)
      .collect().map(x => (x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(ro.toSeq == Seq((0L, 42L, 9.0)))
  }

  test("timeValueHeatmap: bin edges, top edge closed, constant group") {
    val df = Seq(
      ("m", 0L, 0.0), ("m", 1L, 4.9), ("m", 2L, 5.0), ("m", 3L, 10.0),
      ("m", 12L, 2.0),                   // second time bucket
      ("c", 0L, 7.0), ("c", 1L, 7.0))    // constant group: all bin 0
      .toDF("k", "ts", "v")
    val r = TsAnalytics.timeValueHeatmap(df, Seq("k"), "ts", "v",
        bucketNs = 10L, nBins = 2)
      .orderBy("k", "bucket", "bin").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getInt(2),
        x.getDouble(3), x.getDouble(4), x.getLong(5)))
    assert(r.toSeq == Seq(
      ("c", 0L, 0, 7.0, 7.0, 2L),        // zero span: single bin
      ("m", 0L, 0, 0.0, 5.0, 2L),        // 0.0, 4.9
      ("m", 0L, 1, 5.0, 10.0, 2L),       // 5.0 lands in upper bin; 10.0
                                         // (the max) clamps into bin 1
      ("m", 10L, 0, 0.0, 5.0, 1L)))
  }
}
