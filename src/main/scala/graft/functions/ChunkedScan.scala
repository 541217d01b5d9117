package graft.functions

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.plan.{Frame, Planner, TsStore}

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
  *     single-task path holds by construction — the row machine and the
  *     row loop ([[Pipe.scanRows]]) are the same code, only the start
  *     state is precomputed — and is proven in ChunkedScanSpec.
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
    /** The exact row machine, seeded from state `s`: [[init]] on the
      * single-pass path, a chunk's entry state in the chunked pass 2. */
    def machine(s: AnyRef): ColState
    def emptySummary: AnyRef
    def absorb(u: AnyRef, x: Double): AnyRef
    /** Advance a state across a whole summarized chunk. */
    def advance(s: AnyRef, u: AnyRef): AnyRef
  }

  /** Catalyst size estimate from which the chunked path is taken:
    * gate- and bench-sized frames keep the cheaper single-pass path,
    * 100 TB scans get the chunked one. */
  private val ChunkedThresholdBytes: Long = 2L << 30

  /** A routing override for the calling thread: `chunked` forces a path
    * (None = the size rule), `chunks` pins the range partition count
    * (0 = Spark's own range partitioning). Specs use it to run both paths
    * on test-sized frames and to make entry states cross partition
    * boundaries; no engine code sets one. */
  private[graft] final case class Route(chunked: Option[Boolean] = None,
                                        chunks: Int = 0)
  private val route = ThreadLocal.withInitial[Route](() => Route())

  private[graft] def routed[T](r: Route)(body: => T): T = {
    val prev = route.get
    route.set(r)
    try body finally route.set(prev)
  }

  /** Routing: the chunked path iff the Catalyst size estimate is at least
    * [[ChunkedThresholdBytes]]. */
  def eligible(df: DataFrame): Boolean =
    route.get.chunked.getOrElse(
      Planner.sizeEstimate(df) >= ChunkedThresholdBytes)

  /** Deliver entry rows to their chunk's partition: key IS the partition
    * id. Tiny payload (only boundary-spanning keys emit a row). */
  private final class PidPartitioner(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Range-partition `df` on (key, order), sort within partitions, and
    * summarize each (partition, key) run in one narrow pass. Shared
    * pass-1 of [[keyedScan]]/[[keyedFold]]. */
  private def chunkSummaries[U: ClassTag](df: DataFrame, keyCol: String,
      order: Seq[Column], freeze: Boolean,
      empty: () => U, absorbRow: (U, Row) => U)
      : (DataFrame, RDD[(Int, String, U)]) = {
    // Spark/AQE size the range shuffle to the data unless a Route pins it
    val nParts = route.get.chunks
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

  /** Range-partition `df` on a string key column + in-key order (a
    * series scan: (sname, ts)), summarize each (partition, key) run, and
    * compose entry states DISTRIBUTIVELY: summaries shuffle by key
    * (nKeys + nPartitions tiny rows), fold in partition order with
    * `advance`, and the resulting entry rows are delivered back to their
    * chunk's partition. Pass 2 then runs `pass2` over each partition of
    * the frozen frame (a zip-join by partition index; no driver map, no
    * broadcast), given each key's entry state — `init()` for a key that
    * starts in that partition — and its rows form a `outSchema` frame.
    * Used by the event-ops hot-key escape hatch (EventOps.asOf /
    * sessionize), Sax and [[transform]]. */
  def keyedScan[U: ClassTag, S: ClassTag](df: DataFrame, keyCol: String,
      order: Seq[Column],
      empty: () => U, absorbRow: (U, Row) => U,
      init: () => S, advance: (S, U) => S, outSchema: StructType)(
      pass2: (String => S, Iterator[Row]) => Iterator[Row]): DataFrame = {
    val (sorted, summaries) =
      chunkSummaries(df, keyCol, order, freeze = true, empty, absorbRow)
    val entries = summaries
      .map { case (pid, k, u) => (k, (pid, u)) }
      .groupByKey()
      .flatMap { case (k, chunks) =>
        // chunk i enters with the first i chunks folded in; chunk 0 at init
        val ordered = chunks.toArray.sortBy(_._1)
        ordered.iterator.zip(ordered.iterator.map(_._2).scanLeft(init())(advance))
          .drop(1).map { case ((pid, _), st) => (pid, (k, st)) }
      }
      .partitionBy(new PidPartitioner(sorted.rdd.getNumPartitions))
    df.sparkSession.createDataFrame(
      sorted.rdd.zipPartitions(entries) { (rows, es) =>
        val entry = es.map(_._2).toMap
        pass2(entry.getOrElse(_, init()), rows)
      }, outSchema)
  }

  /** Single-pass variant of [[keyedScan]] for folds that only need each
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
        key -> chunks.toArray.sortBy(_._1).map(_._2).foldLeft(init())(advance)
      }
  }

  /** Chunked equivalent of Pipe.stateful: rewrite every value column in
    * place through its kernel, preserving the schema. Pass 2 runs
    * [[Pipe.scanRows]] with each series' machines seeded from its entry
    * states. */
  def transform(frame: Frame, kernels: Array[ScanKernel]): Frame = {
    import TsStore.{Sname, Ts}
    val df = frame.df
    val schema = df.schema
    val nameIdx = schema.fieldIndex(Sname)
    val vIdxs = frame.valueCols.map(schema.fieldIndex).toArray
    val tsOrd = if (frame.backward) col(Ts).desc else col(Ts).asc
    val out = keyedScan[Array[AnyRef], Array[AnyRef]](
      df, Sname, Seq(tsOrd),
      empty = () => kernels.map(_.emptySummary),
      absorbRow = (u, row) => {
        var j = 0
        while (j < vIdxs.length) {
          if (!row.isNullAt(vIdxs(j)))
            u(j) = kernels(j).absorb(u(j), row.getDouble(vIdxs(j)))
          j += 1
        }
        u
      },
      init = () => kernels.map(_.init),
      advance = (s, u) =>
        Array.tabulate(s.length)(j => kernels(j).advance(s(j), u(j))),
      schema) { (entry, it) =>
      Pipe.scanRows(it, nameIdx, vIdxs, { s =>
        val seed = entry(s)
        Array.tabulate[ColState](kernels.length)(j => kernels(j).machine(seed(j)))
      })
    }
    // the repartition invalidates any upstream output-order claim
    frame.copy(df = out, ordered = false)
  }
}

/** EWMA forecast, the faithful port of the reference state machine
  * (reference: sliding_window.cpp:15-110; EWMA_WARMUP = 10) and the only
  * EWMA in the engine: Pipe's single-pass and chunked `ewma`/`ewma-error`
  * and `StreamIngest.streamingEwma` all run [[machine]]. Output is the
  * forecast BEFORE absorbing the current sample (`delta`: the sample
  * minus it); during warmup the forecast is the sample itself.
  *
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
  private final class Machine(private var warmup: Int,
                              private var value: Double) extends ColState {
    def step(x: Double): Double = {
      val forecast = if (warmup <= 10) x else value
      if (warmup < 10) { value += x; warmup += 1 }
      else if (warmup == 10) {
        warmup = 11
        value = x * decay + (value + x) / 11.0 * (1.0 - decay)
      } else value = x * decay + value * (1.0 - decay)
      if (delta) x - forecast else forecast
    }
    def state: S = S(warmup, value)
  }
  def init: AnyRef = S(0, 0.0)
  def machine(s0: AnyRef): ColState = {
    val s = s0.asInstanceOf[S]
    new Machine(s.warmup, s.value)
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
    val s = s0.asInstanceOf[S]
    val m = new Machine(s.warmup, s.value)
    u.head.foreach(m.step)
    val st = m.state
    if (u.count > u.head.size) // tail exists => warmup is complete
      S(st.warmup, u.tailA * st.value + u.tailB)
    else st
  }
}

/** Running sum as a chunked kernel, replicating the Catalyst window
  * `when(isNotNull, sum over (unboundedPreceding..current))` semantics
  * Pipe uses for `accumulate`/`cusum`: null rows output null and add
  * nothing. State and summary are both plain sums; composition is
  * addition. */
final class CusumKernel extends ChunkedScan.ScanKernel {
  def init: AnyRef = java.lang.Double.valueOf(0.0)
  def machine(s0: AnyRef): ColState = new ColState {
    private var sum = s0.asInstanceOf[java.lang.Double].doubleValue
    def step(x: Double): Double = { sum += x; sum }
  }
  def emptySummary: AnyRef = java.lang.Double.valueOf(0.0)
  def absorb(u0: AnyRef, x: Double): AnyRef =
    java.lang.Double.valueOf(u0.asInstanceOf[java.lang.Double].doubleValue + x)
  def advance(s0: AnyRef, u0: AnyRef): AnyRef =
    java.lang.Double.valueOf(s0.asInstanceOf[java.lang.Double].doubleValue
      + u0.asInstanceOf[java.lang.Double].doubleValue)
}
