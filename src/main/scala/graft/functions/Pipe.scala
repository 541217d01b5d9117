package graft.functions

import org.apache.spark.sql.{Column, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ast.Apply
import graft.plan.{Frame, TsStore}

/** The `apply` post-processing pipeline: each node is a
  * `Frame => Frame` transform, the declarative analogue of the reference's
  * streaming `Node::put(MutableSample)` chain (reference:
  * libakumuli/queryprocessor_framework.h:216-241; registry
  * queryprocessor_framework.cpp:9-42). Per-series state keyed by
  * `(series, tuple_index)` becomes a window partitioned by series name.
  */
object Pipe {
  import TsStore.{Sname, Ts}

  final case class PipeException(msg: String) extends IllegalArgumentException(msg)
  private def fail(msg: String): Nothing = throw PipeException(msg)

  /** IEEE-754 division like the reference's C++ doubles: x/0 = ±inf
    * (sign of the result = XOR of operand signs, so a -0.0 denominator
    * flips it), 0/0 and NaN/0 = NaN — Spark 4's ANSI mode would throw
    * instead. NULL operands stay NULL (SQL semantics; C++ has no NULL).
    * The -0.0 check reads the sign off the string cast ("-0.0"), which
    * stays inside codegen and only evaluates on the zero branch. */
  def ieeeDiv(num: Column, den: Column): Column = {
    val negZeroDen = den.cast("string").startsWith("-")
    when(num.isNull || den.isNull, lit(null).cast("double"))
      .when(den =!= 0.0, num / den)
      .when(num === 0.0 || isnan(num), lit(Double.NaN))
      .when((num > 0) =!= negZeroDen, lit(Double.PositiveInfinity))
      .otherwise(lit(Double.NegativeInfinity))
  }

  def applyAll(steps: Seq[Apply], frame: Frame): Frame =
    steps.foldLeft(frame)((f, s) => applyStep(f, s))

  /** Window in scan order: the reference's nodes observe samples in query
    * direction, so backward scans feed nodes descending timestamps. */
  private def scanWindow(frame: Frame) =
    Window.partitionBy(Sname)
      .orderBy(if (frame.backward) col(Ts).desc else col(Ts).asc)

  private def mapValues(frame: Frame)(f: Column => Column): Frame =
    frame.copy(df = frame.valueCols.foldLeft(frame.df) { (d, vc) =>
      d.withColumn(vc, f(col(vc)))
    })

  def applyStep(frame: Frame, step: Apply): Frame = step.name match {

    // abs(value) per tuple element (reference: query_processing/absolute.cpp:1-45)
    case "abs" => mapValues(frame)(abs)

    // value[i] *= weights[i] (reference: query_processing/scale.cpp:1-53)
    case "scale" =>
      val ws = step.params.get("weights") match {
        case Some(xs: Seq[_]) => xs.map(anyToDouble)
        case Some(x)          => Seq(anyToDouble(x))
        case None             => fail("scale requires 'weights'")
      }
      frame.copy(df = frame.valueCols.zip(ws).foldLeft(frame.df) {
        case (d, (vc, w)) => d.withColumn(vc, col(vc) * lit(w))
      })

    // rate = dx/dt per second; the first point's predecessor is (t=0, x=0),
    // matching the reference exactly (reference: rate.cpp:25-48). The
    // predecessor is the last PRESENT cell, not the previous row: the
    // reference's per-(series, index) state skips missing tuple cells
    // without updating (rate.cpp:30 `if (pval)`), so a gap in a joined
    // column spans to the prior value/ts, never to an implicit 0.
    case "rate" =>
      val w = scanWindow(frame).rowsBetween(Window.unboundedPreceding, -1)
      mapValues2(frame) { vc =>
        val prevV  = last(col(vc), ignoreNulls = true).over(w)
        val prevTs = last(when(col(vc).isNotNull, col(Ts)),
          ignoreNulls = true).over(w)
        ieeeDiv(
          col(vc) - coalesce(prevV, lit(0.0)),
          (col(Ts) - coalesce(prevTs, lit(0L))) / lit(1e9))
      }

    // running sum per series (reference: rate.cpp:63-105, tokens
    // "accumulate"/"cusum"); missing tuple cells stay missing and add
    // nothing (the window sum already skips nulls). Giant frames route
    // to the chunked two-pass scan so one series never pins one task.
    case "accumulate" | "cusum" if ChunkedScan.eligible(frame.df) =>
      ChunkedScan.transform(frame,
        Array.fill(frame.valueCols.size)(new CusumKernel))
    case "accumulate" | "cusum" =>
      val w = scanWindow(frame).rowsBetween(Window.unboundedPreceding, 0)
      mapValues2(frame)(vc =>
        when(col(vc).isNotNull, sum(col(vc)).over(w)))

    // Simple moving average over the trailing `window-width` samples
    // (reference: sliding_window.h:62-100). NOTE the reference's circular-
    // buffer update (sliding_window.cpp SMA::add) degenerates to width 1 —
    // a bug; we implement the intended trailing-window mean, inclusive of
    // the current sample. INTENTIONAL contract: `sma` is the smoothed
    // series (includes current), while `sma-error` below is the FORECAST
    // error x - sma(previous window, excluding current) matching the
    // reference's pre-add semantics (`exp = sma.get(); sma.add(*value)`).
    // The two deliberately use different windows.
    case "sma" =>
      val n = intParam(step, "window-width")
      val w = scanWindow(frame).rowsBetween(-(n - 1), 0)
      mapValues2(frame)(vc => avg(col(vc)).over(w))

    // sma-error: x - sma(previous window), the forecast-error variant
    // (reference: sliding_window.cpp SMAPredictionError).
    case "sma-error" =>
      val n = intParam(step, "window-width")
      val w = scanWindow(frame).rowsBetween(-n, -1)
      mapValues2(frame)(vc =>
        col(vc) - coalesce(avg(col(vc)).over(w), col(vc)))

    // Cumulative moving average (reference: sliding_window.h:102-113; the
    // reference's state update double-counts — bug — we implement the
    // intended running mean).
    case "cma" =>
      val w = scanWindow(frame).rowsBetween(Window.unboundedPreceding, 0)
      mapValues2(frame)(vc => avg(col(vc)).over(w))

    // EWMA forecast with 10-sample warmup (reference:
    // sliding_window.cpp:15-110, param "decay"): EwmaKernel's machine,
    // single-pass, or through the chunked two-pass scan for frames past
    // the ChunkedScan.eligible threshold (head-replay + affine-tail
    // summaries).
    case "ewma" | "ewma-error" =>
      val k = new EwmaKernel(doubleParam(step, "decay"),
        delta = step.name == "ewma-error")
      if (ChunkedScan.eligible(frame.df))
        ChunkedScan.transform(frame, Array.fill(frame.valueCols.size)(k))
      else stateful(frame)(() => k.machine(k.init))

    // Fold the tuple into a scalar (reference: math.cpp — note `diff` is
    // unit-minus-each, i.e. -(x1+x2+...), and `divide` is 1/(x1*x2*...),
    // exactly as the reference's left fold from the unit element).
    case "sum" | "diff" | "multiply" | "divide" =>
      val ignoreMissing = step.params.get("ignore_missing") match {
        case Some(b: Boolean) => b
        case Some(s: String)  => s.toBoolean
        case None             => false
        case other            => fail(s"bad ignore_missing: $other")
      }
      val (unit, op): (Double, (Column, Column) => Column) = step.name match {
        case "sum"      => (0.0, _ + _)
        case "diff"     => (0.0, _ - _)
        case "multiply" => (1.0, _ * _)
        case "divide"   => (1.0, ieeeDiv)
      }
      val terms = frame.valueCols.map { vc =>
        if (ignoreMissing) coalesce(col(vc), lit(unit))
        else coalesce(col(vc), lit(Double.NaN))
      }
      val folded = terms.foldLeft(lit(unit): Column)(op)
      val keep = frame.df.columns.filterNot(frame.valueCols.contains).map(col)
      frame.copy(
        df = frame.df.select(keep :+ folded.as(TsStore.Value): _*),
        valueCols = Seq(TsStore.Value))

    // top-N series by time-weighted sum (reference: top.cpp:1-86; weight of
    // each interval is the value at its left edge). The reference's first
    // sample never seeds the state (Context{} zero-init) — a quirk we do
    // not copy: here the first interval is weighted by the first value.
    case "top" =>
      val n = intParam(step, "N")
      if (frame.valueCols.size != 1) fail("top requires a scalar stream")
      val vc = frame.valueCols.head
      // the time-weighted integral is direction-independent: integrate in
      // ascending ts even on a backward scan. A backward window would
      // negate every interval and rank bottom-N; the reference's u64
      // delta (top.cpp:65) underflows to garbage there — not a behavior
      // worth copying.
      val w = Window.partitionBy(Sname).orderBy(col(Ts).asc)
      val contrib =
        ((col(Ts) - lag(col(Ts), 1).over(w)) / lit(1e9)) *
          lag(col(vc), 1).over(w)
      val lastTs = if (frame.backward) min(col(Ts)) else max(col(Ts))
      val df = frame.df
        .withColumn("__c", contrib)
        .groupBy(col(Sname))
        .agg(lastTs.as(Ts), sum(col("__c")).as(vc))
        .withColumn(vc, coalesce(col(vc), lit(0.0)))
        .orderBy(col(vc).desc, col(Sname).asc)
        .limit(n)
      frame.copy(df = df, ordered = true)

    // Arbitrary arithmetic over the tuple columns; variables are metric
    // names, missing cells read 0.0, NaN results are dropped, and the
    // tuple collapses to a scalar (reference: eval.cpp:145-160
    // MuparserEvalImpl::put + MutableSample::collapse).
    case "eval" =>
      val exprStr = step.params.get("expr") match {
        case Some(s: String) => s
        case _               => fail("'expr' field required")
      }
      // Column -> variable name: metric prefix up to ' ' or ':' — the same
      // rule as buildNameToIndexMapping (reference: eval.cpp:14-33). The
      // full column name is also bound so funcs (`group-aggregate` frames)
      // stay addressable.
      val vars = frame.valueCols.flatMap { vc =>
        val short = vc.takeWhile(c => c != ' ' && c != ':')
        val c = coalesce(col(s"`$vc`"), lit(0.0))
        Seq(vc -> c, short -> c)
      }.toMap
      val folded = EvalExpr.compile(exprStr, vars)
      val keep = frame.df.columns.filterNot(frame.valueCols.contains).map(col)
      val df = frame.df
        .select((keep :+ folded.as(TsStore.Value)): _*)
        .filter(!isnan(col(TsStore.Value)))
      frame.copy(df = df, valueCols = Seq(TsStore.Value))

    // SpaceSaver frequent-items / heavy-hitters (reference:
    // spacesaver.h:1-153): series whose (weighted) frequency exceeds
    // portion*N, count desc. Default plan computes the EXACT counts with
    // a single shuffle agg (map-side partial combine) — with
    // M = ceil(1/error) >= series cardinality the reference's sketch is
    // exact too, so the answers coincide there and the exact plan is
    // strictly more accurate below it. `"approx": true` runs the actual
    // bounded-memory sketch (SpaceSaverAgg, one O(M) summary per
    // partition, merged) for reference sketch parity at cardinalities
    // where exact per-key state would not fit. Emitted ts is the
    // first-seen timestamp in scan order (spacesaver.h:137).
    case "frequent-items" | "heavy-hitters" =>
      val err = doubleParam(step, "error")
      if (err == 0.0) fail("`error` can't be 0.")
      val portion = doubleParam(step, "portion")
      if (portion < 0.0) fail("`portion` can't be negative")
      if (portion > 1.0) fail("`portion` can't be greater then 1.")
      if (frame.valueCols.size != 1) fail(s"${step.name} requires a scalar stream")
      val vc = frame.valueCols.head
      val weighted = step.name == "heavy-hitters"
      val w = if (weighted) col(vc) else lit(1.0)
      val approx = step.params.get("approx").exists {
        case b: Boolean => b
        case s: String  => s.equalsIgnoreCase("true")
        case _          => false
      }
      if (approx) {
        val m = math.ceil(1.0 / err).toLong
          .min(Int.MaxValue.toLong).toInt // M = ceil(1/error), spacesaver.h:36
        val agg = udaf(new SpaceSaverAgg(m, portion, frame.backward),
          Encoders.product[SpaceSaverAgg.In])
        val df = frame.df
          .select(agg(col(Sname), col(Ts), w.cast("double")).as("__items"))
          .select(explode(col("__items")).as("__it"))
          .select(col("__it.sname").as(Sname), col("__it.ts").as(Ts),
            col("__it.value").as(vc))
          .orderBy(col(vc).desc, col(Sname).asc)
        frame.copy(df = df, valueCols = Seq(vc), ordered = true)
      } else {
        val firstTs = if (frame.backward) max(col(Ts)) else min(col(Ts))
        val counted = frame.df
          .groupBy(col(Sname))
          .agg(sum(w).as("__count"), firstTs.as(Ts))
        // support = N*P where N = total weight of the whole stream; kept
        // lazy as a broadcast 1-row cross join (no driver-side action).
        val totalDf = counted.agg(sum(col("__count")).as("__total"))
        val df = counted
          .crossJoin(broadcast(totalDf))
          .filter(col("__count") > col("__total") * lit(portion))
          .select(col(Sname), col(Ts), col("__count").as(vc))
          .orderBy(col(vc).desc, col(Sname).asc)
        frame.copy(df = df, valueCols = Seq(vc), ordered = true)
      }

    // SAX symbolic encoding (reference: sax.cpp:1-91, saxencoder.cpp):
    // sliding window z-norm -> alphabet buckets -> word per point, with
    // numerosity reduction (emit only when the word changes).
    case "sax" =>
      val alphabet = intParam(step, "alphabet_size")
      val width = intParam(step, "window_width")
      if (alphabet > 20 || alphabet < 1)
        fail("`alphabet_size` should be in [1, 20] range")
      if (width > 100 || width < 4)
        fail("`window_width` should be in [4, 100] range")
      if (frame.valueCols.size != 1) fail("sax works only with scalars")
      Sax.node(frame, alphabet, width)

    // Forecast-based anomaly detection (revived; reference anomaly.cpp)
    case "anomaly" => Anomaly.node(frame, step.params)

    case other => fail(s"unknown pipeline node '$other'")
  }

  /** Run a sequential per-series state machine over a COPY of `src`,
    * leaving the original column intact — `dst` receives the state
    * output (used by the anomaly node for forecasts). */
  private[functions] def statefulColumn(frame: Frame, src: String,
      dst: String, mk: () => ColState): org.apache.spark.sql.DataFrame = {
    val tmp = frame.copy(
      df = frame.df.withColumn(dst, col(src)), valueCols = Seq(dst))
    stateful(tmp)(mk).df
  }

  /** withColumn over all value columns where the new value depends on old
    * columns — computed in one select so self-references see OLD values.
    * The window functions the callers pass reshuffle the frame, so an
    * upstream `ordered` claim (top/frequent-items output order) no longer
    * holds afterwards — cleared, or finish() would skip its sort and emit
    * partition-hash order. */
  private def mapValues2(frame: Frame)(f: String => Column): Frame = {
    val cols = frame.df.columns.map { c =>
      if (frame.valueCols.contains(c)) f(c).as(c) else col(c)
    }
    frame.copy(df = frame.df.select(cols.toSeq: _*), ordered = false)
  }

  /** Per-(series, column) sequential state machine: repartition by series,
    * sort within partitions in scan order, single pass — distributed across
    * series, no driver collection (SURVEY §7.4 risk 5). */
  private def stateful(frame: Frame)(mk: () => ColState): Frame = {
    val df = frame.df
    val schema = df.schema
    val tsOrd = if (frame.backward) col(Ts).desc else col(Ts).asc
    val sorted = df.repartition(col(Sname))
      .sortWithinPartitions(col(Sname), tsOrd)
    val nameIdx = schema.fieldIndex(Sname)
    val vIdxs = frame.valueCols.map(schema.fieldIndex).toArray
    val out = sorted.mapPartitions(
      scanRows(_, nameIdx, vIdxs, _ => Array.fill(vIdxs.length)(mk()))
    )(Encoders.row(schema))
    // the repartition invalidates any upstream output-order claim
    frame.copy(df = out, ordered = false)
  }

  /** The row loop of every sequential per-series machine, over rows sorted
    * by (series, scan order) — [[stateful]]'s single pass and
    * ChunkedScan.transform's pass 2. On a series change it takes
    * `fresh(series)`'s machines (one per value column); each row is
    * copied with every non-null value cell replaced by its machine's
    * step. Null cells pass through and leave the machine untouched. */
  private[functions] def scanRows(it: Iterator[Row], nameIdx: Int,
      vIdxs: Array[Int], fresh: String => Array[ColState]): Iterator[Row] = {
    var cur: String = null
    var states: Array[ColState] = null
    it.map { row =>
      val s = row.getString(nameIdx)
      if (states == null || s != cur) {
        cur = s
        states = fresh(s)
      }
      val arr = Array.tabulate[Any](row.length)(row.get)
      var j = 0
      while (j < vIdxs.length) {
        val vi = vIdxs(j)
        if (!row.isNullAt(vi))
          arr(vi) = states(j).step(row.getDouble(vi))
        j += 1
      }
      Row.fromSeq(arr.toIndexedSeq)
    }
  }

  private def intParam(step: Apply, key: String): Int =
    step.params.get(key).map(anyToDouble(_).toInt)
      .getOrElse(fail(s"${step.name} requires '$key'"))
  private def doubleParam(step: Apply, key: String): Double =
    step.params.get(key).map(anyToDouble)
      .getOrElse(fail(s"${step.name} requires '$key'"))
  private[functions] def anyToDouble(a: Any): Double = a match {
    case d: Double => d
    case l: Long   => l.toDouble
    case i: Int    => i.toDouble
    case s: String => s.toDouble
    case other     => fail(s"expected number, got $other")
  }
}

/** Sequential per-(series, column) state. */
trait ColState extends Serializable {
  /** Consume one sample, return the transformed value. */
  def step(x: Double): Double
}
