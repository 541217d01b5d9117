package graft.functions

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.plan.{Frame, TsStore}

/** Distributed prefix scan for per-series sequential state machines
  * (SURVEY §7.4 risk 5, the giant-series escape hatch): a 10B-point
  * series must not pin one core, but `ewma`/`cusum`/`sax` outputs
  * depend on ALL earlier samples of the series.
  *
  * Shape: two passes over a FROZEN (series, ts) range partitioning.
  *  1. Each partition summarizes every (series-run, column) it holds
  *     into a small mergeable summary (an affine map for ewma, a sum
  *     for cusum, the last `width` samples for sax) — one narrow pass.
  *  2. Summaries are shuffled BY KEY (a tiny frame: nKeys +
  *     nPartitions rows) and each key's chunks are folded in partition
  *     order with the same `advance` compose, emitting each chunk's
  *     ENTRY state; entry rows are then re-partitioned by their chunk's
  *     partition id and zip-joined against the frozen frame, so pass 2
  *     runs the exact sequential machine inside every partition, seeded
  *     from its entry states. NOTHING is collected to the driver — at
  *     tens of millions of series the compose is an ordinary small
  *     shuffle, not O(nSeries) driver memory. Equality with the
  *     single-task path holds by construction — the row-level machine
  *     is identical, only its start state is precomputed — and is
  *     proven in ChunkedScanSpec.
  *
  * The partitioning MUST be identical in both passes, so the sorted
  * frame is localCheckpointed (range boundaries are sampled and would
  * otherwise drift between executions).
  */
object ChunkedScan {

  /** Per-column sequential machine with a mergeable chunk summary.
    * `AnyRef` state/summary keeps the trait monomorphic so arrays of
    * heterogeneous kernels ride one broadcast; implementations use
    * private case classes. */
  trait ScanKernel extends Serializable {
    def init: AnyRef
    /** Exact machine step: (output, next state). */
    def step(s: AnyRef, x: Double): (Double, AnyRef)
    /** Output + state for a null-valued row (default: pass the null
      * through, state untouched — Pipe.stateful's convention). */
    def onNull(s: AnyRef): (Any, AnyRef) = (null, s)
    def emptySummary: AnyRef
    def absorb(u: AnyRef, x: Double): AnyRef
    /** Advance a state across a whole summarized chunk. */
    def advance(s: AnyRef, u: AnyRef): AnyRef
  }

  /** Catalyst size estimate from which "auto" routing takes the chunked
    * path: gate- and bench-sized frames keep the cheaper single-pass
    * path, 100 TB scans get the chunked one. */
  private val ChunkedThresholdBytes: Long = 2L << 30

  /** Routing: "on" / "off" / "auto" (auto = Catalyst size estimate at
    * least [[ChunkedThresholdBytes]]). */
  def eligible(df: DataFrame): Boolean =
    df.sparkSession.conf.get("graft.scan.chunked", "auto") match {
      case "on"  => true
      case "off" => false
      case _ =>
        df.queryExecution.optimizedPlan.stats.sizeInBytes >=
          ChunkedThresholdBytes
    }

  /** Deliver entry rows to their chunk's partition: key IS the partition
    * id. Tiny payload (only boundary-spanning keys emit a row). */
  private final class PidPartitioner(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Entry states for a frozen chunked frame, pre-partitioned so that
    * partition `pid` of [[byPid]] holds exactly the (key -> entry state)
    * rows for partition `pid` of the frame. Absent key = the key starts
    * in that partition (seed with `init`). */
  final case class EntryStates[S](byPid: RDD[(Int, (String, S))]) {
    /** Run `f` over each partition of `rows` with that partition's
      * entry-state map — the pass-2 shape every ChunkedScan consumer
      * uses (zip-join by partition index; no driver map, no broadcast). */
    def mapRowsWithEntry[T: ClassTag](rows: RDD[Row])(
        f: (Int, collection.Map[String, S], Iterator[Row]) => Iterator[T])
        : RDD[T] =
      rows.zipPartitions(byPid) { (rit, eit) =>
        val pid = TaskContext.getPartitionId()
        f(pid, eit.map(_._2).toMap, rit)
      }
  }

  /** Freeze a (series, ts) range partitioning of `df`, summarize each
    * (partition, series) run with `empty`/`absorbRow`, compose entry
    * states distributively with `init`/`advance`, and return the frozen
    * frame + its per-partition entry states. */
  def seriesEntry[U: ClassTag, S: ClassTag](df: DataFrame, backward: Boolean,
      empty: () => U, absorbRow: (U, Row) => U,
      init: () => S, advance: (S, U) => S):
      (DataFrame, EntryStates[S]) = {
    import TsStore.{Sname, Ts}
    val tsOrd = if (backward) col(Ts).desc else col(Ts).asc
    keyedEntry(df, Sname, Seq(tsOrd), empty, absorbRow, init, advance)
  }

  /** Range-partition `df` on (key, order), sort within partitions, and
    * summarize each (partition, key) run in one narrow pass. Shared
    * pass-1 of [[keyedEntry]]/[[keyedFold]]. */
  private def chunkSummaries[U: ClassTag](df: DataFrame, keyCol: String,
      order: Seq[Column], freeze: Boolean,
      empty: () => U, absorbRow: (U, Row) => U)
      : (DataFrame, RDD[(Int, String, U)]) = {
    // graft.scan.chunkedPartitions > 0 pins the chunk count (an explicit
    // numPartitions also opts out of AQE coalescing); 0 = let Spark/AQE
    // size the range shuffle to the data
    val nParts = df.sparkSession.conf
      .get("graft.scan.chunkedPartitions", "0").toInt
    val exprs = col(keyCol) +: order
    val ranged =
      if (nParts > 0) df.repartitionByRange(nParts, exprs: _*)
      else df.repartitionByRange(exprs: _*)
    val within = ranged.sortWithinPartitions(exprs: _*)
    val sorted = if (freeze) within.localCheckpoint() else within
    val nameIdx = df.schema.fieldIndex(keyCol)
    val summaries = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val out = mutable.ArrayBuffer.empty[(Int, String, U)]
      var cur: String = null
      var u: U = null.asInstanceOf[U]
      var open = false
      it.foreach { row =>
        val s = row.getString(nameIdx)
        if (!open || s != cur) {
          if (open) out += ((pid, cur, u))
          cur = s; u = empty(); open = true
        }
        u = absorbRow(u, row)
      }
      if (open) out += ((pid, cur, u))
      out.iterator
    }
    (sorted, summaries)
  }

  /** The general form of [[seriesEntry]]: range-partition `df` on a
    * string key column + in-key order, summarize each (partition, key)
    * run, compose entry states DISTRIBUTIVELY: summaries shuffle by key
    * (nKeys + nPartitions tiny rows), fold in partition order with
    * `advance`, and the resulting entry rows are delivered back to their
    * chunk's partition for the zip-join pass 2. Used by the event-ops
    * hot-key escape hatch (EventOps.asOf / sessionize) as well as the
    * per-series pipeline kernels. */
  def keyedEntry[U: ClassTag, S: ClassTag](df: DataFrame, keyCol: String,
      order: Seq[Column],
      empty: () => U, absorbRow: (U, Row) => U,
      init: () => S, advance: (S, U) => S):
      (DataFrame, EntryStates[S]) = {
    val (sorted, summaries) =
      chunkSummaries(df, keyCol, order, freeze = true, empty, absorbRow)
    val nChunks = sorted.rdd.getNumPartitions
    val entries = summaries
      .map { case (pid, k, u) => (k, (pid, u)) }
      .groupByKey()
      .flatMap { case (k, chunks) =>
        val ordered = chunks.toArray.sortBy(_._1)
        var st = init()
        val out = mutable.ArrayBuffer.empty[(Int, (String, S))]
        ordered.zipWithIndex.foreach { case ((pid, u), i) =>
          if (i > 0) out += ((pid, (k, st)))
          st = advance(st, u)
        }
        out.iterator
      }
      .partitionBy(new PidPartitioner(nChunks))
    (sorted, EntryStates(entries))
  }

  /** Single-pass variant of [[keyedEntry]] for folds that only need each
    * key's FINAL state (e.g. the last (level, trend) of a forecast
    * recursion): range-partition on (key, order), summarize each
    * (partition, key) run in one narrow pass, then compose per key in an
    * ordinary by-key shuffle over the tiny summary frame — the result
    * stays DISTRIBUTED (one (key, state) row per key), so a consumer
    * fanning each state out into forecast rows never funnels nKeys
    * through the driver. There is no second pass over the facts, so the
    * partitioning needs no freezing. */
  def keyedFold[U: ClassTag, S: ClassTag](df: DataFrame, keyCol: String,
      order: Seq[Column],
      empty: () => U, absorbRow: (U, Row) => U,
      init: () => S, advance: (S, U) => S): RDD[(String, S)] = {
    val (_, summaries) =
      chunkSummaries(df, keyCol, order, freeze = false, empty, absorbRow)
    summaries
      .map { case (pid, k, u) => (k, (pid, u)) }
      .groupByKey()
      .map { case (key, chunks) =>
        key -> chunks.toArray.sortBy(_._1).foldLeft(init()) {
          case (s, (_, u)) => advance(s, u)
        }
      }
  }

  /** Chunked equivalent of Pipe.stateful: rewrite every value column in
    * place through its kernel, preserving the schema. */
  def transform(frame: Frame, mkKernels: () => Array[ScanKernel]): Frame = {
    import TsStore.Sname
    val df = frame.df
    val schema = df.schema
    val nameIdx = schema.fieldIndex(Sname)
    val vIdxs = frame.valueCols.map(schema.fieldIndex).toArray
    val kernels0 = mkKernels()
    val (sorted, entries) = seriesEntry[Array[AnyRef], Array[AnyRef]](
      df, frame.backward,
      empty = () => kernels0.map(_.emptySummary),
      absorbRow = (u, row) => {
        var j = 0
        while (j < vIdxs.length) {
          if (!row.isNullAt(vIdxs(j)))
            u(j) = kernels0(j).absorb(u(j), row.getDouble(vIdxs(j)))
          j += 1
        }
        u
      },
      init = () => kernels0.map(_.init),
      advance = (s, u) =>
        Array.tabulate(s.length)(j => kernels0(j).advance(s(j), u(j))))
    val out = entries.mapRowsWithEntry(sorted.rdd) { (_, entry, it) =>
      val kernels = mkKernels()
      var cur: String = null
      var states: Array[AnyRef] = null
      it.map { row =>
        val s = row.getString(nameIdx)
        if (states == null || s != cur) {
          cur = s
          states = entry.get(s)
            .map(_.clone()).getOrElse(kernels.map(_.init))
        }
        val arr = Array.tabulate[Any](row.length)(i => row.get(i))
        var j = 0
        while (j < vIdxs.length) {
          val vi = vIdxs(j)
          if (!row.isNullAt(vi)) {
            val (o, ns) = kernels(j).step(states(j), row.getDouble(vi))
            arr(vi) = o; states(j) = ns
          } else {
            val (o, ns) = kernels(j).onNull(states(j))
            arr(vi) = o; states(j) = ns
          }
          j += 1
        }
        Row.fromSeq(arr.toIndexedSeq)
      }
    }
    // the repartition invalidates any upstream output-order claim
    frame.copy(df = df.sparkSession.createDataFrame(out, schema),
      ordered = false)
  }
}

/** EWMA with the reference's 11-sample warmup, as a chunked kernel.
  * Summary: the chunk's first <= 11 values verbatim (they may land in
  * any warmup phase, so they are replayed exactly) + the affine map of
  * the remaining rows (y -> tailA*y + tailB; by row 12 of a chunk the
  * warmup is complete no matter the entry state, so the tail is pure
  * post-warmup EWMA and composes as an affine function). */
final class EwmaKernel(decay: Double, delta: Boolean)
    extends ChunkedScan.ScanKernel {
  private case class S(warmup: Int, value: Double)
  private case class U(count: Long, head: Vector[Double],
                       tailA: Double, tailB: Double)
  def init: AnyRef = S(0, 0.0)
  def step(s0: AnyRef, x: Double): (Double, AnyRef) = {
    val s = s0.asInstanceOf[S]
    val forecast = if (s.warmup <= 10) x else s.value
    val next =
      if (s.warmup < 10) S(s.warmup + 1, s.value + x)
      else if (s.warmup == 10) {
        val v = (s.value + x) / 11.0
        S(11, x * decay + v * (1.0 - decay))
      } else S(11, x * decay + s.value * (1.0 - decay))
    (if (delta) x - forecast else forecast, next)
  }
  def emptySummary: AnyRef = U(0L, Vector.empty, 1.0, 0.0)
  def absorb(u0: AnyRef, x: Double): AnyRef = {
    val u = u0.asInstanceOf[U]
    if (u.head.size < 11) U(u.count + 1, u.head :+ x, u.tailA, u.tailB)
    else U(u.count + 1, u.head,
      (1.0 - decay) * u.tailA, (1.0 - decay) * u.tailB + decay * x)
  }
  def advance(s0: AnyRef, u0: AnyRef): AnyRef = {
    val u = u0.asInstanceOf[U]
    var st = s0.asInstanceOf[S]
    u.head.foreach { x => st = step(st, x)._2.asInstanceOf[S] }
    if (u.count > u.head.size) // tail exists => warmup is complete
      S(st.warmup, u.tailA * st.value + u.tailB)
    else st
  }
}

/** Running sum as a chunked kernel, replicating the Catalyst window
  * `when(isNotNull, sum over (unboundedPreceding..current))` semantics
  * Pipe uses for `accumulate`/`cusum`: null rows output null (the
  * default onNull) and add nothing. State and summary are both plain
  * sums; composition is addition. */
final class CusumKernel extends ChunkedScan.ScanKernel {
  def init: AnyRef = java.lang.Double.valueOf(0.0)
  def step(s0: AnyRef, x: Double): (Double, AnyRef) = {
    val ns = s0.asInstanceOf[java.lang.Double].doubleValue + x
    (ns, java.lang.Double.valueOf(ns))
  }
  def emptySummary: AnyRef = java.lang.Double.valueOf(0.0)
  def absorb(u0: AnyRef, x: Double): AnyRef =
    java.lang.Double.valueOf(u0.asInstanceOf[java.lang.Double].doubleValue + x)
  def advance(s0: AnyRef, u0: AnyRef): AnyRef =
    java.lang.Double.valueOf(s0.asInstanceOf[java.lang.Double].doubleValue
      + u0.asInstanceOf[java.lang.Double].doubleValue)
}
