package graft

import org.apache.spark.sql.functions._

import graft.functions.ChunkedScan
import graft.plan.EventOps
import graft.llm.Sample

/** EventOps (asOf / rangeJoin / sessionize / sessionStats) and
  * Sample.takeBudget against naive driver-side oracles, including the
  * edge cases: exact-ts ties, tolerance == gap, null-valued right rows,
  * bucket-boundary rows, constant/empty priority, hot keys. */
class EventOpsSpec extends SparkFunSuite {

  private def lf(rows: Seq[(Int, Long, Option[Double])]) = {
    val sp = spark; import sp.implicits._
    rows.toDF("k", "ts", "v")
  }

  /** Run the body under the window path AND the chunked hot-key path
    * (4 pinned range partitions so entry handoff crosses boundaries). */
  private def bothPaths(body: => Unit): Unit = {
    for (chunked <- Seq(false, true))
      ChunkedScan.routed(ChunkedScan.Route(Some(chunked), chunks = 4))(body)
  }

  /** Naive as-of: most recent right ts <= left ts per key; value = max of
    * non-null values at that ts, null iff all null (the carried-row
    * contract); tolerance filters on the carried ts. */
  private def naiveAsOf(l: Seq[(Int, Long, Option[Double])],
                        r: Seq[(Int, Long, Option[Double])],
                        tol: Option[Long]) =
    l.map { case (k, ts, v) =>
      val cand = r.filter(x => x._1 == k && x._2 <= ts)
      val best = cand.map(_._2).maxOption.map { bts =>
        val vals = cand.filter(_._2 == bts).flatMap(_._3)
        (bts, if (vals.isEmpty) None else Some(vals.max))
      }.filter { case (bts, _) => tol.forall(t => ts - bts <= t) }
      (k, ts, v, best.flatMap(_._2), best.map(_._1))
    }.sortBy(x => (x._1, x._2))

  private def gotAsOf(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(col("k"), col("ts")).collect().toSeq.map(row =>
      (row.getInt(0), row.getLong(1),
        if (row.isNullAt(2)) None else Some(row.getDouble(2)),
        if (row.isNullAt(3)) None else Some(row.getDouble(3)),
        if (row.isNullAt(4)) None else Some(row.getLong(4))))

  test("asOf matches naive oracle: ties, gaps, no-match, multi-key") {
    bothPaths {
      val l = Seq(
        (1, 100L, Some(1.0)), (1, 200L, Some(2.0)), (1, 300L, Some(3.0)),
        (2, 150L, Some(4.0)), (2, 151L, Some(5.0)),
        (3, 10L, Some(6.0))) // key with no right rows at all
      val r = Seq(
        (1, 100L, Some(10.0)),           // exact-ts tie with left @100
        (1, 100L, Some(11.0)),           // duplicate right ts -> max wins
        (1, 250L, Some(12.0)),
        (2, 151L, Some(13.0)), (2, 149L, Some(14.0)))
      val got = gotAsOf(EventOps.asOf(lf(l), lf(r), Seq("k"), "ts", "v"))
      val want = naiveAsOf(l, r, None).map(x =>
        (x._1, x._2, x._3, x._4, x._5))
      assert(got == want)
      // exact-ts right row IS visible to the same-ts left row (<= contract)
      assert(got.find(x => x._1 == 1 && x._2 == 100L).get._4 == Some(11.0))
  }
  }

  test("asOf tolerance boundary is inclusive and tolerance == gap passes") {
    bothPaths {
      val l = Seq((1, 1000L, Some(1.0)), (1, 2000L, Some(2.0)))
      val r = Seq((1, 500L, Some(9.0)))
      // gap to first left = 500 (== tol: kept), to second = 1500 (> tol: null)
      val got = gotAsOf(
        EventOps.asOf(lf(l), lf(r), Seq("k"), "ts", "v",
          toleranceNs = Some(500L)))
      assert(got == naiveAsOf(l, r, Some(500L)))
      assert(got.head._4 == Some(9.0) && got.head._5 == Some(500L))
      assert(got(1)._4 == None && got(1)._5 == None)
  }
  }

  test("asOf carries a null-valued right row as one unit (value+ts together)") {
    bothPaths {
      // The two-window bug this guards against: older non-null value paired
      // with the newer null row's timestamp. Contract: the NEWEST right row
      // wins as a unit — null value AND its own timestamp.
      val l = Seq((1, 300L, Some(1.0)), (1, 500L, Some(2.0)))
      val r = Seq((1, 100L, Some(7.0)), (1, 250L, None))
      val got = gotAsOf(EventOps.asOf(lf(l), lf(r), Seq("k"), "ts", "v"))
      assert(got == naiveAsOf(l, r, None))
      // both left rows see the @250 null row, not the @100 value
      assert(got.forall(x => x._4 == None && x._5 == Some(250L)))
      // and tolerance is judged against the carried (newer) ts: gap from
      // 300 to 250 is 50 <= 60, so the null row passes tolerance; the @100
      // row must NOT sneak through even though 300-100 > 60 anyway
      val tol = gotAsOf(EventOps.asOf(lf(l), lf(r), Seq("k"), "ts", "v",
        toleranceNs = Some(60L)))
      assert(tol == naiveAsOf(l, r, Some(60L)))
      assert(tol.head._5 == Some(250L) && tol(1)._5 == None)
  }
  }

  test("asOf hot key: one key holding the whole history stays correct") {
    bothPaths {
      val l = (0 until 500).map(i => (1, i * 10L, Some(i.toDouble)))
      val r = (0 until 100).map(i => (1, i * 47L, Some(i * 2.0)))
      val got = gotAsOf(EventOps.asOf(lf(l), lf(r), Seq("k"), "ts", "v"))
      assert(got == naiveAsOf(l, r, None))
  }
  }

  private def naiveRange(l: Seq[(Int, Long, Option[Double])],
                         r: Seq[(Int, Long, Option[Double])],
                         lower: Long, upper: Long) =
    (for {
      (lk, lts, lv) <- l
      (rk, rts, rv) <- r
      if lk == rk && rts >= lts + lower && rts <= lts + upper
    } yield (lk, lts, lv.get, rts, rv.get)).sortBy(x => (x._1, x._2, x._4))

  test("rangeJoin matches a naive theta join incl. bucket-boundary rows") {
    // width = upper - lower = 100; rows sit exactly ON bucket edges
    // (multiples of 100) and exactly on window edges
    val l = Seq((1, 100L, Some(1.0)), (1, 200L, Some(2.0)),
      (1, 250L, Some(3.0)), (2, 300L, Some(4.0)))
    val r = Seq((1, 0L, Some(10.0)), (1, 100L, Some(11.0)),
      (1, 150L, Some(12.0)), (1, 199L, Some(13.0)), (1, 200L, Some(14.0)),
      (1, 301L, Some(15.0)), (2, 240L, Some(16.0)), (2, 400L, Some(17.0)))
    for ((lo, hi) <- Seq((-100L, 0L), (0L, 100L), (-50L, 50L))) {
      val got = EventOps.rangeJoin(lf(l), lf(r), Seq("k"), "ts", lo, hi,
          Seq("v")).orderBy(col("k"), col("ts"), col("ts_r"))
        .collect().toSeq.map(row => (row.getInt(0), row.getLong(1),
          row.getDouble(2), row.getLong(3), row.getDouble(4)))
      assert(got == naiveRange(l, r, lo, hi), s"window [$lo,$hi]")
    }
  }

  test("rangeJoin rejects colliding output names and tsCol in rightCols") {
    val l = lf(Seq((1, 1L, Some(1.0))))
    intercept[IllegalArgumentException] {
      EventOps.rangeJoin(l, l, Seq("k"), "ts", 0L, 10L, Seq("ts"))
    }
    intercept[IllegalArgumentException] {
      EventOps.rangeJoin(l.withColumn("ts_r", lit(0L)), l, Seq("k"), "ts",
        0L, 10L, Seq("v"))
    }
  }

  test("sessionize: strict gap boundary, ids, and sessionStats") {
    bothPaths {
      // gap == gapNs does NOT start a session; gap + 1 does
      val l = lf(Seq(
        (1, 0L, Some(1.0)), (1, 100L, Some(2.0)),   // gap 100 == gapNs
        (1, 201L, Some(3.0)),                        // gap 101 > gapNs: new
        (2, 50L, Some(4.0))))
      val sess = EventOps.sessionize(l, Seq("k"), "ts", gapNs = 100L)
      val ids = sess.orderBy(col("k"), col("ts")).collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1), r.getString(3)))
      assert(ids == Seq((1, 0L, "1#1"), (1, 100L, "1#1"), (1, 201L, "1#2"),
        (2, 50L, "2#1")))
      val stats = EventOps.sessionStats(sess, Seq("k"), "ts", "v")
        .orderBy(col("k"), col("session_start")).collect().toSeq
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5)))
      assert(stats == Seq((1, "1#1", 0L, 100L, 2L, 3.0),
        (1, "1#2", 201L, 201L, 1L, 3.0), (2, "2#1", 50L, 50L, 1L, 4.0)))
  }
  }

  private def naiveBudget(items: Seq[(Long, Long, Long)], budget: Long) = {
    // (id, cost, priority) -> ids kept by (priority desc, id asc) prefix
    var acc = 0L
    items.sortBy { case (id, _, p) => (-p, id) }.flatMap { case (id, c, _) =>
      acc += c
      if (acc <= budget) Some(id) else None
    }.sorted
  }

  test("takeBudget matches naive greedy selection across bucket counts") {
    val sp = spark; import sp.implicits._
    val items = (1L to 200L).map(id => (id, (id * 13) % 37 + 1, (id * 7) % 23))
    val df = items.toDF("doc_id", "cost", "p")
    for (budget <- Seq(0L, 500L, 1500L, 100000L); buckets <- Seq(1, 4, 64)) {
      val got = Sample.takeBudget(df, col("cost"), col("p"), budget,
          buckets = buckets)
        .select(col("doc_id")).orderBy(col("doc_id"))
        .collect().toSeq.map(_.getLong(0))
      assert(got == naiveBudget(items, budget), s"budget=$budget b=$buckets")
    }
  }

  test("takeBudget: constant priority degrades to one bucket, exact fit kept") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, 10L), (2L, 10L), (3L, 10L)).toDF("doc_id", "cost")
    // constant priority: order falls back to doc_id asc; budget 20 keeps
    // exactly rows 1,2 (cum == budget is kept)
    val got = Sample.takeBudget(df, col("cost"), lit(5), 20L)
      .select(col("doc_id")).orderBy(col("doc_id"))
      .collect().toSeq.map(_.getLong(0))
    assert(got == Seq(1L, 2L))
    // empty frame: no rows, no crash
    assert(Sample.takeBudget(df.limit(0), col("cost"), lit(5), 20L)
      .count() == 0L)
  }

  test("sessionWindowAgg: native session_window agrees with sessionize") {
    val sp = spark; import sp.implicits._
    val H = 3600L * 1000000000L // 1h in ns
    // keys with: exact-gap boundary (extends), gap+1 (splits), single
    // row, interleaved keys
    // session_window runs at µs resolution (ns div 1000), so the split
    // offset must be >= 1µs — a +1ns overshoot truncates back onto the
    // boundary and extends the session instead
    val rows = Seq(
      (1, 0L, 1.0), (1, H, 2.0),          // gap == H extends: one session
      (1, 2 * H + 1000L, 3.0),            // gap H+1µs: new session
      (2, 0L, 5.0), (2, 3 * H, 6.0),      // far apart: two sessions
      (3, 7000L, 9.0))                    // singleton
    val df = rows.toDF("k", "ts", "v")
    val got = graft.plan.EventOps.sessionWindowAgg(
        df, Seq("k"), "ts", "1 hour", col("v"))
      .orderBy(col("k"), col("session_start"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // oracle: sessionize + sessionStats (already oracle-checked above)
    val viaSessionize = graft.plan.EventOps.sessionStats(
        graft.plan.EventOps.sessionize(df, Seq("k"), "ts", gapNs = H),
        Seq("k"), "ts", "v")
      .orderBy(col("k"), col("session_start"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5)))
    assert(got == viaSessionize)
    assert(got.count(_._1 == 1) == 2) // exact-gap row merged, +1 split
  }

  test("cohortRetention: first-seen buckets, ages, ratios") {
    val sp = spark; import sp.implicits._
    // bucket width 10: users 1,2 first seen in bucket 0 (cohort 0);
    // user 3 first seen in bucket 1. user 1 active at ages 0,1,2;
    // user 2 only age 0; user 3 ages 0,1
    val df = Seq(
      (1, 0L), (1, 12L), (1, 25L),
      (2, 5L), (2, 7L),         // same bucket twice: one activity
      (3, 11L), (3, 22L))
      .toDF("u", "ts")
    val r = graft.plan.EventOps.cohortRetention(df, "u", "ts", 10L)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    assert(r((0L, 0L)) == ((2L, 2L, 1.0)))
    assert(r((0L, 1L)) == ((1L, 2L, 0.5)))
    assert(r((0L, 2L)) == ((1L, 2L, 0.5)))
    assert(r((10L, 0L)) == ((1L, 1L, 1.0)))
    assert(r((10L, 1L)) == ((1L, 1L, 1.0)))
    assert(r.size == 5)
  }

  test("funnel: strict ordering, window cutoff, greedy step times") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      // u1 completes all three in order within the window
      (1, 0L, "a"), (1, 5L, "b"), (1, 9L, "c"),
      // u2: b BEFORE a -> never reaches step 2
      (2, 10L, "b"), (2, 20L, "a"),
      // u3: b inside window, c outside (window 100 from t1)
      (3, 0L, "a"), (3, 50L, "b"), (3, 150L, "c"),
      // u4: greedy trap — the EARLIEST qualifying b (t=2) precedes c
      // at t=3, so u4 completes even though a later b (t=90) would not
      (4, 0L, "a"), (4, 2L, "b"), (4, 90L, "b"), (4, 3L, "c"))
      .toDF("u", "ts", "k")
    val r = graft.plan.EventOps.funnel(df, "u", "ts", "k",
        Seq("a", "b", "c"), windowNs = 100L)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r(1L) == 4L) // u1..u4 all have an 'a'
    assert(r(2L) == 3L) // u2 drops (b precedes a)
    assert(r(3L) == 2L, s"step 3: ${r(3L)}") // u1 and u4
  }

  test("intervalJoin: matches the naive theta join; one row per pair") {
    val sp = spark; import sp.implicits._
    // intervals chosen to hit: touching-at-instant (closed: overlap 0),
    // containment, a long interval spanning many buckets (must still
    // emit ONE row per pair), disjoint, and cross-key isolation
    val left = Seq(
      (1, 10L, 0L, 10L), (1, 11L, 20L, 25L), (1, 12L, 0L, 100L),
      (2, 20L, 0L, 10L))
      .toDF("k", "lid", "ivl_start", "ivl_end")
    val right = Seq(
      (1, 90L, 10L, 15L),   // touches lid 10 at instant 10
      (1, 91L, 21L, 22L),   // inside lid 11 and lid 12
      (1, 92L, 200L, 300L), // disjoint from everything
      (2, 93L, 5L, 6L))     // key 2 only
      .toDF("k", "rid", "ivl_start", "ivl_end")
    for (w <- Seq(3L, 7L, 1000L)) { // bucket width must not matter
      val got = EventOps.intervalJoin(left, right, Seq("k"),
          "ivl_start", "ivl_end", bucketNs = w, rightCols = Seq("rid"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(4), r.getLong(7)))
        .toSeq.sorted
      assert(got == Seq(
        (1, 10L, 90L, 0L),   // touching: overlap 0
        (1, 11L, 91L, 1L),
        (1, 12L, 90L, 5L),
        (1, 12L, 91L, 1L),
        (2, 20L, 93L, 1L)), s"width=$w")
    }
  }

  test("transitionMatrix: ordered pairs per user, share per prev") {
    val sp2 = spark
    import sp2.implicits._
    // u1: a -> b -> a ; u2: a -> b; dup instant (30, a/b) orders a
    // before b by the type tie-break
    val df = Seq(
      ("u1", 10L, "a"), ("u1", 20L, "b"), ("u1", 30L, "a"),
      ("u1", 30L, "b"),
      ("u2", 5L, "a"), ("u2", 6L, "b"))
      .toDF("u", "ts", "k")
    val r = graft.plan.EventOps.transitionMatrix(df, Seq("u"), "ts", "k")
      .orderBy("prev", "next").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getDouble(3)))
    // from a: a->b x3 (u1 10->20, u1 30->30b, u2) ; from b: b->a x1
    assert(r.toSeq == Seq(
      ("a", "b", 3L, 1.0), ("b", "a", 1L, 1.0)))
    // single-event users contribute nothing
    val solo = Seq(("s", 1L, "a")).toDF("u", "ts", "k")
    assert(graft.plan.EventOps.transitionMatrix(
      solo, Seq("u"), "ts", "k").count() == 0)
  }
}