package graft.plan

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ChunkedScan

/** Time-relational operators the reference engine lacks but that users of
  * a time-series store routinely need next to it: as-of join, bounded
  * range join, and gap-based sessionization. The reference's only join is
  * exact-timestamp alignment (reference: libakumuli/storage_engine/
  * operators/join.cpp — series merged on identical ts); these close the
  * gap Spark-first.
  *
  * Scale notes (the whole point of each shape):
  *  - `asOf` is union + keyed carry — ONE shuffle on the join key, no
  *    range explosion. A naive `l.ts >= r.ts` theta join is O(n·m) per
  *    key and unrunnable at 100 TB. Hot keys: frames whose Catalyst size
  *    estimate reaches ChunkedScan's threshold (2 GiB) take the chunked
  *    two-pass carry ((key, ts) RANGE partitioning + entry-state
  *    handoff), so one giant key's history spreads across tasks instead
  *    of pinning one window partition.
  *  - `rangeJoin` bucketizes time by the window width so each left row
  *    meets only the buckets its window can touch — an equi-join with a
  *    residual band filter, never a cross product.
  *  - `sessionize` is a single keyed window (lag + running sum).
  */
object EventOps {

  /** As-of join: for every left row, the single most recent right row with
    * `right.ts <= left.ts` on the same key (optionally within
    * `toleranceNs`). Right rows are first collapsed to one value per
    * (key, ts) via `max` so exact-ts duplicates are deterministic; a
    * null-valued right row (all values at its (key, ts) null) IS carried —
    * it is the latest observation, so the output pairs its timestamp with
    * a null value rather than resurrecting an older value.
    *
    * Output: all left columns, plus `<valueCol><suffix>` (the carried
    * right value) and `<tsCol><suffix>` (the right timestamp it came
    * from); both null when no right row qualifies.
    */
  def asOf(left: DataFrame, right: DataFrame, on: Seq[String],
           tsCol: String, valueCol: String, suffix: String = "_r",
           toleranceNs: Option[Long] = None): DataFrame = {
    require(on.nonEmpty, "asOf requires at least one key column")
    val vOut  = valueCol + suffix
    val tsOut = tsCol + suffix
    val leftCols = left.columns.toSeq
    val reserved = Seq(vOut, tsOut, "__side", "__r", "__k")
    require(reserved.forall(c => !leftCols.contains(c)),
      s"left columns collide with ${reserved.filter(leftCols.contains)}")

    val r1 = right.groupBy((on :+ tsCol).map(col): _*)
      .agg(max(col(valueCol)).as(vOut))
    // Union frame: right rows carry (vOut, tsOut) and sort BEFORE left
    // rows at the same timestamp (side 0 < 1) so an exact-ts right row
    // is visible to the left row — the `<=` contract.
    val lPart = left.select(
      (leftCols.map(col) ++ Seq(
        lit(null).cast(r1.schema(vOut).dataType).as(vOut),
        lit(null).cast("long").as(tsOut),
        lit(1).as("__side"))): _*)
    val rPart = r1.select(
      (leftCols.map(c =>
        if (on.contains(c) || c == tsCol) col(c)
        else lit(null).cast(left.schema(c).dataType).as(c)) ++ Seq(
        col(vOut),
        col(tsCol).cast("long").as(tsOut),
        lit(0).as("__side"))): _*)

    // ONE (ts, value) unit carried per right row — value and timestamp
    // always come from the same row (two independent last() windows
    // would pair an older non-null value with a newer null-valued row's
    // timestamp, and then evaluate tolerance against the wrong
    // timestamp). Output of either path: left rows with vOut/tsOut
    // filled from the latest right row (null if none).
    val unioned = lPart.unionByName(rPart)
    val carried =
      if (ChunkedScan.eligible(unioned))
        carryChunked(unioned, on, tsCol, vOut, tsOut)
      else {
        val w = Window.partitionBy(on.map(col): _*)
          .orderBy(col(tsCol).asc, col("__side").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        unioned
          .withColumn("__r", last(
            when(col("__side") === 0,
              struct(col(tsOut).as("ts"), col(vOut).as("v"))),
            ignoreNulls = true).over(w))
          .filter(col("__side") === 1)
          .withColumn(vOut, col("__r.v"))
          .withColumn(tsOut, col("__r.ts"))
      }
    val inTol = toleranceNs match {
      case Some(t) => col(tsCol).cast("long") - col(tsOut) <= t
      case None    => col(tsOut).isNotNull
    }
    carried.select(
      (leftCols.map(col) ++ Seq(
        when(inTol, col(vOut)).as(vOut),
        when(inTol, col(tsOut)).as(tsOut))): _*)
  }

  /** Serializable carried right-row unit for the chunked asOf path. */
  private final case class Carry(ts: Long, v: Any)

  /** Hot-key escape hatch for [[asOf]]: range-partition the union frame
    * on (key, ts, side), summarize each (partition, key) run as its last
    * right-row (ts, value), compose entries on the driver, and replay
    * the carry per partition — a giant key spans many tasks. Key columns
    * are concatenated with a \\u0001 separator for the range key (nulls
    * read as empty — matching rows still group together; a literal
    * \\u0001 inside a key value could alias two keys, acceptable for the
    * event-key domains this serves). */
  private def carryChunked(unioned: DataFrame, on: Seq[String],
      tsCol: String, vOut: String, tsOut: String): DataFrame = {
    val keyed = unioned.withColumn("__k",
      concat_ws("\u0001", on.map(c => col(c).cast("string")): _*))
    val schema = keyed.schema
    val sideIdx = schema.fieldIndex("__side")
    val vIdx = schema.fieldIndex(vOut)
    val tIdx = schema.fieldIndex(tsOut)
    val kIdx = schema.fieldIndex("__k")
    ChunkedScan.keyedScan[Carry, Carry](
      keyed, "__k", Seq(col(tsCol).asc, col("__side").asc),
      empty = () => null,
      absorbRow = (u, row) =>
        if (row.getInt(sideIdx) == 0) Carry(row.getLong(tIdx), row.get(vIdx))
        else u,
      init = () => null,
      advance = (s, u) => if (u != null) u else s, schema) { (entry, it) =>
      var cur: String = null
      var carry: Carry = null
      var open = false
      it.flatMap { row =>
        val k = row.getString(kIdx)
        if (!open || k != cur) {
          cur = k; open = true
          carry = entry(k)
        }
        if (row.getInt(sideIdx) == 0) {
          carry = Carry(row.getLong(tIdx), row.get(vIdx))
          Iterator.empty
        } else {
          val arr = Array.tabulate[Any](row.length)(i => row.get(i))
          if (carry != null) { arr(vIdx) = carry.v; arr(tIdx) = carry.ts }
          Iterator.single(Row.fromSeq(arr.toIndexedSeq))
        }
      }
    }.drop("__k")
  }

  /** Bounded range join: all (left, right) pairs on the same key with
    * `right.ts` in `[left.ts + lowerNs, left.ts + upperNs]`. Both sides'
    * rows land in `ts div width` buckets (width = window length), a left
    * row is exploded into the at-most-two buckets its window can touch,
    * and the equi-join on (key, bucket) carries a residual band filter —
    * never an unbounded theta join. Bucketing uses integer `div` on both
    * sides (long ns exceed 2^53, double floor() can misbucket edge rows);
    * only monotonicity + identical rounding on both sides matter, so
    * truncation-toward-zero is fine.
    *
    * Output: all left columns, plus `<tsCol><suffix>` and every
    * `rightCols` entry suffixed.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, on: Seq[String],
                tsCol: String, lowerNs: Long, upperNs: Long,
                rightCols: Seq[String], suffix: String = "_r"): DataFrame = {
    require(on.nonEmpty, "rangeJoin requires at least one key column")
    require(upperNs >= lowerNs, "upperNs must be >= lowerNs")
    require(!rightCols.contains(tsCol),
      s"rightCols must not contain '$tsCol' (its suffixed copy is emitted already)")
    val width = math.max(upperNs - lowerNs, 1L)
    val rOut = rightCols.map(_ + suffix)
    val outCols = rOut :+ (tsCol + suffix)
    val reserved = outCols ++ Seq("__rts", "__lts", "__b")
    require(reserved.forall(c => !left.columns.contains(c)),
      s"left columns collide with ${reserved.filter(left.columns.contains)}")

    val r1 = right.select(
      (on.map(col) ++ Seq(col(tsCol).cast("long").as("__rts")) ++
        rightCols.zip(rOut).map { case (c, o) => col(c).as(o) }): _*)
      .withColumn("__b", expr(s"__rts div ${width}L"))
    val l1 = left
      .withColumn("__lts", col(tsCol).cast("long"))
      .withColumn("__b", explode(expr(
        s"sequence((__lts + ${lowerNs}L) div ${width}L, " +
        s"(__lts + ${upperNs}L) div ${width}L)")))
    l1.join(r1, on :+ "__b")
      .filter(col("__rts").between(col("__lts") + lowerNs,
                                   col("__lts") + upperNs))
      .select((left.columns.toSeq.map(col) ++
        Seq(col("__rts").as(tsCol + suffix)) ++ rOut.map(col)): _*)
  }

  /** Interval overlap join: all (left, right) pairs on the same key
    * whose CLOSED intervals `[startCol, endCol]` overlap
    * (`max(starts) <= min(ends)`) — the "which sessions / outages /
    * deployments coincided" primitive ([[rangeJoin]] is its point-in-
    * band special case). Both sides explode into `bucketNs`-wide time
    * buckets covering their interval, the join is an equi-join on
    * (key, bucket), and each overlapping pair is kept exactly ONCE — at
    * the canonical bucket containing `max(starts)` — so no
    * dropDuplicates pass is needed. Bucketing is integer `div` (see
    * rangeJoin).
    *
    * Scale: explosion factor = interval length / bucketNs; pick
    * `bucketNs` near the typical interval length so each row lands in
    * O(1) buckets. A pathologically long interval costs its own
    * length/bucketNs copies — cap interval lengths upstream if the
    * domain allows it.
    *
    * Output: all left columns, then `rightCols` suffixed, then the
    * right interval bounds `<startCol><suffix>`/`<endCol><suffix>` and
    * `overlap_ns` (inclusive overlap length in ns, >= 0; 0 = touching
    * at one instant). */
  def intervalJoin(left: DataFrame, right: DataFrame, on: Seq[String],
                   startCol: String, endCol: String, bucketNs: Long,
                   rightCols: Seq[String], suffix: String = "_r"): DataFrame = {
    require(on.nonEmpty, "intervalJoin requires at least one key column")
    require(bucketNs > 0, "bucketNs must be positive")
    require(!rightCols.contains(startCol) && !rightCols.contains(endCol),
      "rightCols must not repeat the interval bounds (emitted already)")
    val rOut = rightCols.map(_ + suffix)
    val sOut = startCol + suffix; val eOut = endCol + suffix
    val reserved = rOut ++ Seq(sOut, eOut, "overlap_ns", "__b", "__ls", "__le")
    require(reserved.forall(c => !left.columns.contains(c)),
      s"left columns collide with ${reserved.filter(left.columns.contains)}")
    def buckets(sName: String, eName: String) =
      explode(sequence(expr(s"$sName div ${bucketNs}L"),
        expr(s"$eName div ${bucketNs}L")))
    val l1 = left
      .withColumn("__ls", col(startCol).cast("long"))
      .withColumn("__le", col(endCol).cast("long"))
      .withColumn("__b", buckets("__ls", "__le"))
    val r1 = right.select(
      (on.map(col) ++ Seq(col(startCol).cast("long").as(sOut),
        col(endCol).cast("long").as(eOut)) ++
        rightCols.zip(rOut).map { case (c, o) => col(c).as(o) }): _*)
      .withColumn("__b", buckets(sOut, eOut))
    l1.join(r1, on :+ "__b")
      .filter(greatest(col("__ls"), col(sOut)) <=
        least(col("__le"), col(eOut)))
      // canonical bucket: count the pair only where max(starts) lands
      .filter(col("__b") ===
        expr(s"greatest(__ls, $sOut) div ${bucketNs}L"))
      .withColumn("overlap_ns",
        least(col("__le"), col(eOut)) - greatest(col("__ls"), col(sOut)))
      .select((left.columns.toSeq.map(col) ++ rOut.map(col) ++
        Seq(col(sOut), col(eOut), col("overlap_ns"))): _*)
  }

  /** Gap-based sessionization: a new session starts at a row whose gap to
    * the key's previous row exceeds `gapNs`. Adds `session_id`
    * (`<key vals joined with '/'>#<index>`) — one keyed window, one
    * shuffle; frames whose Catalyst size estimate reaches ChunkedScan's
    * threshold take the chunked two-pass scan so a hot key spans many
    * tasks. */
  def sessionize(df: DataFrame, on: Seq[String], tsCol: String,
                 gapNs: Long): DataFrame = {
    require(on.nonEmpty, "sessionize requires at least one key column")
    require(gapNs > 0, "gapNs must be positive")
    if (ChunkedScan.eligible(df)) sessionizeChunked(df, on, tsCol, gapNs)
    else {
      val w = Window.partitionBy(on.map(col): _*).orderBy(col(tsCol).asc)
      val newSess = when(
        lag(col(tsCol), 1).over(w).isNull ||
          col(tsCol).cast("long") - lag(col(tsCol), 1).over(w).cast("long")
            > gapNs, 1L).otherwise(0L)
      df.withColumn("__new", newSess)
        .withColumn("session_id",
          concat(concat_ws("/", on.map(c => col(c).cast("string")): _*),
            lit("#"),
            sum(col("__new")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("string")))
        .drop("__new")
    }
  }

  /** Chunk summary / entry state for the chunked sessionize path. A
    * chunk's internal session starts are decided locally; whether its
    * FIRST row opens a session depends on the entry state's last ts and
    * is resolved in the driver composition. */
  private final case class SessU(firstTs: Long, lastTs: Long,
                                 internalNew: Long)
  private final case class SessS(hasPrev: Boolean, lastTs: Long, idx: Long)

  private def sessionizeChunked(df: DataFrame, on: Seq[String],
      tsCol: String, gapNs: Long): DataFrame = {
    val keyed = df
      .withColumn("__k",
        concat_ws("\u0001", on.map(c => col(c).cast("string")): _*))
      .withColumn("__kdisp",
        concat_ws("/", on.map(c => col(c).cast("string")): _*))
      .withColumn("__t", col(tsCol).cast("long"))
      .withColumn("session_id", lit(null).cast("string"))
    val schema = keyed.schema
    val kIdx  = schema.fieldIndex("__k")
    val kdIdx = schema.fieldIndex("__kdisp")
    val tIdx  = schema.fieldIndex("__t")
    val sIdx  = schema.fieldIndex("session_id")
    ChunkedScan.keyedScan[SessU, SessS](
      keyed, "__k", Seq(col("__t").asc),
      empty = () => null,
      absorbRow = (u, row) => {
        val t = row.getLong(tIdx)
        if (u == null) SessU(t, t, 0L)
        else SessU(u.firstTs, t,
          u.internalNew + (if (t - u.lastTs > gapNs) 1L else 0L))
      },
      init = () => SessS(hasPrev = false, 0L, 0L),
      advance = (s, u) => if (u == null) s else {
        val firstNew =
          if (!s.hasPrev || u.firstTs - s.lastTs > gapNs) 1L else 0L
        SessS(hasPrev = true, u.lastTs, s.idx + firstNew + u.internalNew)
      }, schema) { (entry, it) =>
      var cur: String = null
      var open = false
      var st: SessS = null
      it.map { row =>
        val k = row.getString(kIdx)
        if (!open || k != cur) {
          cur = k; open = true
          st = entry(k)
        }
        val t = row.getLong(tIdx)
        val isNew = !st.hasPrev || t - st.lastTs > gapNs
        st = SessS(hasPrev = true, t, st.idx + (if (isNew) 1L else 0L))
        val arr = Array.tabulate[Any](row.length)(i => row.get(i))
        arr(sIdx) = row.getString(kdIdx) + "#" + st.idx
        Row.fromSeq(arr.toIndexedSeq)
      }
    }.drop("__k", "__kdisp", "__t")
  }

  /** Gap-based session aggregation via Spark's NATIVE `session_window`
    * (SURVEY §2.8: the reference has no session windows). Same session
    * semantics as [[sessionize]] (a row whose gap to the previous row
    * exceeds the gap duration opens a session; a gap exactly equal
    * extends it), but expressed as one `groupBy(keys, session_window)`
    * — Catalyst's UpdatingSessionsExec merges sessions inside the
    * aggregate, so there is ONE shuffle and no window-function pass,
    * and the identical code runs under Structured Streaming with a
    * watermark for the continuous version. Use [[sessionize]] when each
    * ROW needs its session id; use this when only per-session rollups
    * are needed (it never materializes per-row ids).
    *
    * `tsCol` is ns-long; `gap` is a calendar string ("6 hours").
    * Resolution caveat: `session_window` takes a TimestampType, so the
    * gap comparison happens at µs precision (ns `div` 1000) — sub-µs
    * gap boundaries round down; [[sessionize]] keeps full ns precision.
    * Output: keys, session_start/session_end (ns of first/last event),
    * n_events, value_sum. */
  def sessionWindowAgg(df: DataFrame, on: Seq[String], tsCol: String,
                       gap: String, valueCol: Column,
                       watermark: Option[String] = None): DataFrame = {
    require(on.nonEmpty, "sessionWindowAgg requires at least one key column")
    val withT0 = df.withColumn("__t",
      timestamp_micros(expr(s"$tsCol div 1000")))
    // streaming: a watermark ("30 seconds") bounds session state and
    // finalizes sessions for Append output; identical results to batch
    // for data within the lateness bound
    val withT = watermark.fold(withT0)(d => withT0.withWatermark("__t", d))
    withT
      .groupBy((on.map(col) :+ session_window(col("__t"), gap)): _*)
      .agg(
        min(col(tsCol)).cast("long").as("session_start"),
        max(col(tsCol)).cast("long").as("session_end"),
        count(lit(1)).as("n_events"),
        sum(valueCol).as("value_sum"))
      .drop("session_window")
  }

  /** Cohort retention: group users by their first-seen time bucket (the
    * cohort), then for each cohort and age (buckets since first seen)
    * report how many of the cohort's users were active — the standard
    * "do week-1 users come back in week 3" table, unreachable with the
    * reference's per-series aggregates.
    *
    * Shape: distinct (user, bucket) activity + a per-user min-bucket
    * aggregate, joined back on the user — both frames are user-scale,
    * not event-scale, after the first map-side-combined distinct.
    * Retention is n_active / cohort size, rounded 6.
    *
    * Output: `cohort` (ns of cohort bucket), `age` (buckets since),
    * `n_active`, `n_cohort`, `retention`. Age 0 always has
    * retention 1. */
  def cohortRetention(df: DataFrame, userCol: String, tsCol: String,
                      bucketNs: Long): DataFrame = {
    require(bucketNs > 0)
    val active = df
      .select(col(userCol).as("__u"),
        expr(s"$tsCol div ${bucketNs}L").as("__b"))
      .distinct()
    val first = active.groupBy(col("__u"))
      .agg(min(col("__b")).as("__c"))
    val counts = first.groupBy(col("__c"))
      .agg(count(lit(1)).as("n_cohort"))
    active.join(first, "__u")
      .groupBy(col("__c"), (col("__b") - col("__c")).as("age"))
      .agg(count(lit(1)).as("n_active"))
      .join(counts, "__c")
      .select((col("__c") * lit(bucketNs)).as("cohort"), col("age"),
        col("n_active"), col("n_cohort"),
        round(col("n_active").cast("double") / col("n_cohort"), 6)
          .as("retention"))
  }

  /** Funnel analysis: how many users complete each prefix of an ordered
    * step sequence (e.g. signup -> click -> purchase), each step
    * STRICTLY after the previous one and the whole chain within
    * `windowNs` of step 1. Step time = the EARLIEST qualifying event
    * (min ts after the previous step's time — the standard greedy
    * funnel, which maximizes completion).
    *
    * Shape: one narrow pass per step — filter to the step's events,
    * aggregate min ts per user (map-side partial), join to the
    * previous step's user frame; every frame after the first aggregate
    * is user-scale. steps.size joins of user-scale frames, no window
    * functions, no event-scale shuffle beyond the per-step aggregate.
    *
    * Output: `step_idx` (1-based), `step`, `n_users`. */
  def funnel(df: DataFrame, userCol: String, tsCol: String,
             typeCol: String, steps: Seq[String],
             windowNs: Long): DataFrame = {
    require(steps.nonEmpty && windowNs > 0)
    val spark = df.sparkSession
    val ev = df.select(col(userCol).as("__u"),
      col(tsCol).cast("long").as("__t"), col(typeCol).as("__k"))
    var cur = ev.filter(col("__k") === steps.head)
      .groupBy(col("__u")).agg(min(col("__t")).as("__t1"))
      .withColumn("__tprev", col("__t1"))
    val counts = Vector.newBuilder[(Int, String, Long)]
    counts += ((1, steps.head, cur.count()))
    steps.zipWithIndex.drop(1).foreach { case (step, i) =>
      val nxt = ev.filter(col("__k") === step)
        .join(cur.select(col("__u"), col("__t1"), col("__tprev")), "__u")
        .filter(col("__t") > col("__tprev") &&
          col("__t") <= col("__t1") + lit(windowNs))
        .groupBy(col("__u"), col("__t1"))
        .agg(min(col("__t")).as("__tprev"))
      // barrier, not bare localCheckpoint: the checkpointed frame
      // re-enters a join INSIDE this loop, so preserved origin stats
      // would compound per step (the round-7 BigInteger stats explosion
      // class — see Lineage.barrier's scaladoc)
      cur = graft.functions.Lineage.barrier(nxt)
      counts += ((i + 1, step, cur.count()))
    }
    import spark.implicits._
    counts.result()
      .toDF("step_idx", "step", "n_users")
      .withColumn("step_idx", col("step_idx").cast("long"))
  }

  /** Per-session stats over a sessionized frame: start/end ns, row count,
    * value sum — the usual downstream of `sessionize`. */
  def sessionStats(sessioned: DataFrame, on: Seq[String], tsCol: String,
                   valueCol: String): DataFrame =
    sessioned.groupBy((on :+ "session_id").map(col): _*)
      .agg(
        min(col(tsCol)).cast("long").as("session_start"),
        max(col(tsCol)).cast("long").as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("value_sum"))

  /** Event-type transition matrix — the "what do users do next" table
    * behind every user-path / Sankey panel: per key (user), events are
    * ordered by (ts, type) and each adjacent pair contributes one
    * (prev, next) transition; output counts every pair plus each row's
    * share of all transitions leaving `prev`.
    *
    * Determinism: the order tie-break on the type column makes
    * duplicate-instant events sort identically on both engines (two
    * same-type events at one instant contribute the same self-loop
    * whichever comes first). The share divides two exact longs — the
    * same double both engines.
    *
    * Shape: ONE keyed event-scale window (lag), then a hash aggregate
    * to the |types|² matrix; the share is a window over that tiny
    * frame. Nothing after the aggregate is event-scale.
    *
    * Output: `prev`, `next`, `n`, `share` (rounded 6). */
  def transitionMatrix(df: DataFrame, on: Seq[String], tsCol: String,
                       typeCol: String): DataFrame = {
    require(on.nonEmpty)
    val w = Window.partitionBy(on.map(col): _*)
      .orderBy(col("__t").asc, col("__k").asc)
    val wPrev = Window.partitionBy(col("prev"))
    df.select((on.map(col) :+ col(tsCol).cast("long").as("__t") :+
        col(typeCol).as("__k")): _*)
      .withColumn("prev", lag(col("__k"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("__k").as("next"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        round(col("n").cast("double") / sum(col("n")).over(wPrev), 6))
  }
}
