package graft.plan

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ast._
import graft.functions.Pipe

/** Query AST -> DataFrame plan. The declarative analogue of the reference's
  * two-tier plan builder (reference:
  * libakumuli/query_processing/queryplan.cpp:800-830,1407-1428): tier-1
  * per-series scans become a filtered parquet scan (partition pruning +
  * predicate pushdown do the NB+tree's range/value skipping), tier-2
  * merge/combine materializers become groupBy/orderBy — Catalyst and
  * Tungsten pick the physical strategy.
  */
object Planner {
  import TsStore._

  final case class PlanException(msg: String) extends IllegalArgumentException(msg)
  private def fail(msg: String): Nothing = throw PlanException(msg)

  /** Aggregation function -> Column (reference enum:
    * storage_engine/operators/operator.h:20-32; string mapping
    * queryprocessor_framework.h:48-101). `first`/`last` are value-at-
    * first/last-timestamp; `min`/`max_timestamp` are timestamp-at-extreme-
    * value. Struct orderings make ties deterministic. */
  def aggFunc(func: String): Column = func match {
    case "min"             => min(col(Value))
    case "max"             => max(col(Value))
    case "sum"             => sum(col(Value))
    case "count" | "cnt"   => count(col(Value)).cast("double")
    case "mean"            => avg(col(Value))
    case "first"           => min_by(col(Value), struct(col(Ts), col(Value)))
    case "last"            => max_by(col(Value), struct(col(Ts), col(Value)))
    case "min_timestamp"   => min_by(col(Ts), struct(col(Value), col(Ts))).cast("double")
    case "max_timestamp"   => max_by(col(Ts), struct(col(Value), col(Ts))).cast("double")
    case "first_timestamp" => min(col(Ts)).cast("double")
    case "last_timestamp"  => max(col(Ts)).cast("double")
    case other             => fail(s"unknown aggregation function '$other'")
  }
  val KnownAggFuncs: Set[String] = Set("min", "max", "sum", "count", "cnt",
    "mean", "first", "last", "min_timestamp", "max_timestamp",
    "first_timestamp", "last_timestamp")

  /** Output timestamp of an `aggregate` row (reference:
    * operators/aggregate.cpp:270-350 — min family carries mints, max
    * family maxts, first `_begin` = earliest sample ts, everything else
    * `_end` = latest sample ts; `_begin`/`_end` are direction-independent
    * after combine, operator.cpp:88-94). Extreme-value ties: earliest ts
    * at the min, latest at the max (deterministic struct order; the
    * reference's pick is scan-order-dependent under ties). */
  private def aggOutputTs(func: String): Column = func match {
    case "min" | "min_timestamp"     => min_by(col(Ts), struct(col(Value), col(Ts)))
    case "max" | "max_timestamp"     => max_by(col(Ts), struct(col(Value), col(Ts)))
    case "first" | "first_timestamp" => min(col(Ts))
    case _                           => max(col(Ts))
  }

  /** Funcs whose aggregate rows carry NO value payload — the result IS the
    * timestamp (reference: aggregate.cpp:341-347, AKU_PAYLOAD_NONE: the
    * CSV/RESP line is just `sname,timestamp`). */
  val NoPayloadFuncs: Set[String] = Set("first_timestamp", "last_timestamp")

  /** Semi-open scan range: forward `[from, to)`, backward `(to, from]`
    * (reference: storage_engine/operators/operator.h:77-104). */
  private def rangePred(r: TimeRange): Column =
    if (!r.backward) col(Ts) >= r.from && col(Ts) < r.to
    else col(Ts) <= r.from && col(Ts) > r.to

  /** Tag predicate (reference: queryparser.cpp:692-750 — OR within a tag,
    * AND across tags; list form enumerates exact combinations). */
  def wherePred(w: Where): Column = wherePredOver(w, _ => None)

  /** Rows of `frame` that belong to series of `metrics` under `w` — the
    * one series-resolution predicate, shared by every scan
    * ([[baseScan]]) and the existence probe (Api.requireSeries), so the
    * two never disagree about which series a `where` names. A tag the
    * frame carries as a flattened top-level `tag_<k>` column (the
    * layout's pushdown contract, Ingest.writeLayout) is matched on THAT
    * column: a filter on the reconstructed `tags` map evaluates
    * str_to_map over the sname per row and never reaches the parquet
    * scan, while the flat column lands in PushedFilters and skips row
    * groups via min/max stats. Same null semantics either way (absent
    * tag -> null -> predicate false). */
  def seriesPred(frame: DataFrame, metrics: Seq[String], w: Where): Column = {
    val cols = frame.columns.toSet
    col(Metric).isin(metrics: _*) &&
      wherePredOver(w, t => Some(s"tag_$t").filter(cols).map(col))
  }

  private def wherePredOver(w: Where, tagCol: String => Option[Column]): Column = {
    def tc(t: String): Column =
      tagCol(t).getOrElse(try_element_at(col(Tags), lit(t)))
    w match {
      case Where.All => lit(true)
      case Where.TagMap(m) =>
        m.map { case (t, vs) => tc(t).isin(vs: _*) }
          .reduceOption(_ && _).getOrElse(lit(true))
      case Where.Enumerate(rows) =>
        rows.map { r =>
          r.map { case (t, v) => tc(t) === v }
            .reduceOption(_ && _).getOrElse(lit(true))
        }.reduceOption(_ || _).getOrElse(lit(true))
    }
  }

  private def vfPred(c: Column, f: ValueFilter): Column =
    Seq(f.gt.map(c > _), f.ge.map(c >= _), f.lt.map(c < _), f.le.map(c <= _))
      .flatten.reduceOption(_ && _).getOrElse(lit(true))

  /** group-by-tag / pivot-by-tag re-keying: project the tag map onto (or
    * off of) the listed tags; colliding series merge downstream
    * (reference: index/seriesparser.cpp:624-700 `GroupByTag` /
    * `filter_tags`; applied queryplan.cpp:1123-1135). */
  private def rekeyTags(tags: Column, g: Option[GroupByTag]): Column = g match {
    case None => tags
    case Some(GroupByTag(GroupOp.Pivot, ks)) =>
      map_filter(tags, (k, _) => k.isin(ks: _*))
    case Some(GroupByTag(GroupOp.Group, ks)) =>
      map_filter(tags, (k, _) => !k.isin(ks: _*))
  }

  /** The keying step of every data query: re-key the tag map for
    * group-by/pivot-by-tag, then derive `tagstr`, the series key the
    * output `sname` and every grouping use. */
  private def seriesKeyed(df: DataFrame, g: Option[GroupByTag]): DataFrame =
    df.withColumn(Tags, rekeyTags(col(Tags), g))
      .withColumn("tagstr", tagStr(col(Tags)))

  /** Bucket anchor timestamp: `begin + k*step` forward, `begin - k*step`
    * backward — anchored at the query's own `begin`, NOT wall clock, which
    * is why this is integer `div` arithmetic and not `window()`
    * (reference: storage_engine/operators/aggregate.cpp:171-173). */
  private def bucketCol(r: TimeRange, step: Long): Column =
    if (!r.backward)
      lit(r.from) + expr(s"(($Ts - ${r.from}L) div ${step}L) * ${step}L")
    else
      lit(r.from) - expr(s"((${r.from}L - $Ts) div ${step}L) * ${step}L")

  private def baseScan(store: TsStore, q: Query, metrics: Seq[String]): DataFrame = {
    // Redundant day-partition bounds (superset of the exact ts range) let
    // the layout's directory partitioning prune; the exact rangePred still
    // applies row-level. No-op for frames without the day column.
    val dayPred =
      if (store.samples.columns.contains(DayCol))
        q.range.map { r =>
          // the exclusive endpoint must not widen the bound: a
          // boundary-aligned [d, d+1day) query reads ONE day directory,
          // not two (forward excludes `to`, backward excludes `to` below)
          val (loIncl, hiIncl) =
            if (!r.backward) (r.from, r.to - 1) else (r.to + 1, r.from)
          // the store carries the layout's actual bucket width: pruning
          // with a hardcoded day divisor would silently drop rows from
          // layouts written with a non-default bucketNs
          col(DayCol) >= lit(loIncl / store.bucketNs) &&
            col(DayCol) <= lit(hiIncl / store.bucketNs)
        }
      else None
    // series last: a tag-map `where` (str_to_map per row) only runs on
    // rows the cheap range bound keeps
    val preds = Seq(
      q.range.map(rangePred),
      dayPred,
      Some(seriesPred(store.samples, metrics, q.where))).flatten.reduce(_ && _)
    store.samples.filter(preds)
  }

  private def snameExpr: Column = snameOf(col(Metric), col("tagstr"))

  /** limit/offset arrive as JSON longs; a blind .toInt would WRAP values
    * over Int.MaxValue (4294967297 -> limit 1: silent truncation). Counts
    * beyond Int.MaxValue mean "everything" — clamp. */
  private def clampCount(n: Long): Int =
    if (n > Int.MaxValue) Int.MaxValue
    else if (n < 0) fail(s"negative limit/offset $n")
    else n.toInt

  def plan(q: Query, store: TsStore): Frame = {
    val bw = q.backward
    val frame: Frame = q.kind match {

      // ---- select: range scan of one metric ------------------------------
      // (reference: queryparser.cpp:1275-1355; plan queryplan.cpp:1084-1147)
      case QueryKind.Select(m) =>
        var df = baseScan(store, q, Seq(m))
        for (fc <- q.filter; vf <- fc.byKey.get(m))
          df = df.filter(vfPred(col(Value), vf))
        df = seriesKeyed(df, q.groupBy)
        Frame(df.select(snameExpr.as(Sname), col(Ts), col(Value)),
          Seq(Value), bw)

      // ---- select-events: string payloads + optional body regex ----------
      // (reference: queryparser.cpp:1357-1445; plan queryplan.cpp:1149-1207)
      case QueryKind.SelectEvents(m, regex) =>
        var df = baseScan(store, q, Seq(m))
        for (re <- regex) df = df.filter(col(Event).rlike(re))
        df = seriesKeyed(df, q.groupBy)
        Frame(df.select(snameExpr.as(Sname), col(Ts), col(Event)),
          Seq(Event), bw)

      // ---- aggregate: whole-range aggregates per series ------------------
      // (reference: queryparser.cpp:1474-1586; plan queryplan.cpp:1209-1249)
      // Single scan + single shuffle agg for ALL (metric, func) pairs, then
      // a cheap explode fans the agg row out into one output row per pair —
      // renamed `metric:func tags` (reference: queryparser.cpp:1450-1472).
      case QueryKind.Aggregate(pairs) =>
        val metrics = pairs.map(_._1).distinct
        val funcs   = pairs.map(_._2).distinct
        funcs.foreach(f => if (!KnownAggFuncs(f)) fail(s"unknown func '$f'"))
        val base = seriesKeyed(baseScan(store, q, metrics), q.groupBy)
        val aggCols = funcs.flatMap(f =>
          Seq(aggFunc(f).as(s"__$f"), aggOutputTs(f).as(s"__ts_$f")))
        val grouped = base.groupBy(col(Metric), col("tagstr"))
          .agg(aggCols.head, aggCols.tail: _*)
        val fanout = array(pairs.map { case (m, f) =>
          val v = if (NoPayloadFuncs(f)) lit(null).cast("double")
                  else col(s"__$f").cast("double")
          when(col(Metric) === m,
            struct(lit(f).as("func"), col(s"__ts_$f").as(Ts), v.as(Value)))
        }: _*)
        val df = grouped
          .select(col(Metric), col("tagstr"), explode(fanout).as("pf"))
          .filter(col("pf").isNotNull)
          .select(
            snameOf(concat(col(Metric), lit(":"), col("pf.func")),
              col("tagstr")).as(Sname),
            col("pf.ts").as(Ts),
            col("pf.value").as(Value))
        Frame(df, Seq(Value), bw, seriesOrder = true, omitNullValue = true)

      // ---- group-aggregate: time-bucketed aggregate tuples ---------------
      // (reference: queryparser.cpp:1666-1777; plan queryplan.cpp:1341-1405)
      case QueryKind.GroupAggregate(metrics, step, funcs) =>
        if (step <= 0) fail("step must be positive")
        if (funcs.isEmpty) fail("at least one func required")
        funcs.foreach(f => if (!KnownAggFuncs(f)) fail(s"unknown func '$f'"))
        val r = q.range.getOrElse(fail("group-aggregate requires range"))
        val base = seriesKeyed(baseScan(store, q, metrics), q.groupBy)
        val aggCols = funcs.map(f => aggFunc(f).as(f))
        var df = base
          .groupBy(col(Metric), col("tagstr"), bucketCol(r, step).as(Ts))
          .agg(aggCols.head, aggCols.tail: _*)
        // `filter` keys are FUNCTION names here; only min/max/mean may be
        // filtered on (reference: queryparser.cpp:758-870 +
        // queryplan.cpp:884-912 rejects the rest).
        for (fc <- q.filter) {
          val preds = fc.byKey.toSeq.map { case (f, vf) =>
            if (!Set("min", "max", "mean").contains(f))
              fail(s"filtering on '$f' is not supported in group-aggregate")
            if (!funcs.contains(f)) fail(s"filter func '$f' not in func list")
            vfPred(col(f), vf)
          }
          if (preds.nonEmpty)
            df = df.filter(
              if (fc.requireAll) preds.reduce(_ && _) else preds.reduce(_ || _))
        }
        // Output series renamed `metric:f1|metric:f2 tags`
        // (reference: queryparser.cpp:1588-1664).
        val named = funcs.map(f => concat(col(Metric), lit(":"), lit(f)))
        val df2 = df.select(
          (snameOf(concat_ws("|", named: _*), col("tagstr")).as(Sname) +:
            col(Ts) +: funcs.map(col)): _*)
        Frame(df2, funcs, bw)

      // ---- join: align metrics on exact timestamp within equal tag-sets --
      // (reference: queryparser.cpp:1935-2022; plan queryplan.cpp:1251-1339)
      // An outer "as-of-exact" join: groupBy(tags, ts) + pivot(metric) —
      // missing cells surface as nulls (the reference's presence bitmap,
      // query_results_pooler.cpp:165-191).
      case QueryKind.Join(metrics) =>
        if (metrics.size < 2) fail("join requires at least two metrics")
        var base = baseScan(store, q, metrics)
        // Per-metric value filters are applied to each input column BEFORE
        // the join, like the reference's per-column filtered scans.
        for (fc <- q.filter) {
          val cond = metrics.map { m =>
            fc.byKey.get(m) match {
              case Some(vf) => col(Metric) === m && vfPred(col(Value), vf)
              case None     => col(Metric) === m
            }
          }.reduce(_ || _)
          base = base.filter(cond)
        }
        val keyed = seriesKeyed(base, q.groupBy)
        // Conditional aggregation instead of .pivot: ONE shuffle on
        // (tagstr, ts) with map-side partial agg, not pivot's two.
        // Duplicate samples at the same (series, ts) collapse via max —
        // documented deviation; the reference materializer emits one row
        // per input sample (join.cpp:1-109), legal only when ingestion
        // guarantees unique (series, ts).
        // A repeated metric (legal: the reference joins a metric with
        // itself, functests make_join_query(["test","test"])) aggregates
        // once and fans out to one column per requested position.
        val distinctMs = metrics.distinct
        val aggs = distinctMs.map(m =>
          max(when(col(Metric) === m, col(Value))).as(m))
        val outNames =
          if (distinctMs.size == metrics.size) metrics
          else metrics.zipWithIndex.map { case (m, i) => s"$m#$i" }
        val df = keyed.groupBy(col("tagstr"), col(Ts))
          .agg(aggs.head, aggs.tail: _*)
          .select(
            (snameOf(lit(metrics.mkString("|")), col("tagstr")).as(Sname) +:
              col(Ts) +:
              metrics.zip(outNames).map { case (m, o) => col(s"`$m`").as(o) }): _*)
        Frame(df, outNames, bw)

      // ---- group-aggregate-join: bucketed agg per metric, then align -----
      // (reference: queryparser.cpp:1819-1933; plan queryplan.cpp:1296-1338)
      case QueryKind.GroupAggregateJoin(metrics, step, func) =>
        if (!KnownAggFuncs(func)) fail(s"unknown func '$func'")
        val r = q.range.getOrElse(fail("group-aggregate-join requires range"))
        val base = seriesKeyed(baseScan(store, q, metrics), q.groupBy)
        // Output series named `m1|m2|... tags` — the JOIN naming, WITHOUT
        // per-column `:func` suffixes (reference: init_matcher_in_join_query
        // queryparser.cpp:1792-1812, shared by join and group-aggregate-join;
        // functests/test_eval.py asserts the "cpu.user|cpu.syst" prefix).
        // A repeated metric (legal, same as Join) pivots once per distinct
        // metric and fans out to one column per requested position —
        // pivoting on the raw list would emit duplicate columns and the
        // output select would hit an ambiguous reference.
        val distinctMs = metrics.distinct
        val outNames =
          if (distinctMs.size == metrics.size) metrics
          else metrics.zipWithIndex.map { case (m, i) => s"$m#$i" }
        val pivoted = base
          .groupBy(col("tagstr"), bucketCol(r, step).as(Ts))
          .pivot(Metric, distinctMs)
          .agg(aggFunc(func))
        // Per-metric `filter` on the bucket aggregates, BEFORE the align:
        // a filtered-out bucket becomes a missing cell (null) in the
        // joined tuple, and a bucket no metric emits disappears
        // (reference: layout_aggregate_join_filters +
        // GroupAggregateFilterProcessingStep, queryplan.cpp:1044-1082,
        // 1296-1318). Only min/max/mean may drive the filter
        // (convert_aggregate_filter rejects the rest); with require:any,
        // an UN-filtered metric's empty AggregateFilter matches nothing
        // (AggregateFilter::match, operator.cpp:233-263) — mirrored here.
        val filtered = q.filter match {
          case None => pivoted
          case Some(fc) =>
            if (!Set("min", "max", "mean").contains(func))
              fail(s"aggregation function '$func' can't be used with the filter")
            val cells = distinctMs.map { m =>
              fc.byKey.get(m) match {
                case Some(vf) =>
                  when(vfPred(col(s"`$m`"), vf), col(s"`$m`")).as(m)
                case None =>
                  (if (fc.requireAll) col(s"`$m`")
                   else lit(null).cast("double")).as(m)
              }
            }
            pivoted.select((col("tagstr") +: col(Ts) +: cells): _*)
              .filter(distinctMs.map(m => col(s"`$m`").isNotNull)
                .reduce(_ || _))
        }
        val df = filtered
          .select(
            (snameOf(lit(metrics.mkString("|")),
              col("tagstr")).as(Sname) +:
              col(Ts) +:
              metrics.zip(outNames).map { case (m, o) =>
                col(s"`$m`").as(o) }): _*)
        Frame(df, outNames, bw)

      // ---- meta:names: series listing (dimension-table query) ------------
      // (reference: queryparser.cpp:987-1022; queryprocessor.cpp:78-110)
      case QueryKind.MetaNames(pattern) =>
        var df = store.series.filter(wherePred(q.where))
        for (p <- pattern) df = df.filter(col(Metric) === p)
        val named = df
          .withColumn("tagstr", tagStr(col(Tags)))
          .select(snameExpr.as(Sname))
        return finishMeta(Frame(named, Nil, backward = false), q)
    }

    val piped = Pipe.applyAll(q.pipeline, frame)
    finish(piped, q)
  }

  /** Final ordering + limit/offset (reference: merge comparators
    * storage_engine/operators/merge.h:14-79; Limiter
    * query_processing/limiter.cpp:6-39). Time order: ts-major with series
    * tiebreak; series order: series-major with ts within. Backward scans
    * reverse the ts direction only.
    *
    * CONTRACT NOTE: the reference tiebreaks equal timestamps on numeric
    * series id (assignment order); ids are an ingestion artifact with no
    * meaning to clients, so this engine tiebreaks on the canonical series
    * NAME — deterministic across runs and clusters, which id order is
    * not. Orders differ only when two series share an exact ns timestamp. */
  private def finish(frame: Frame, q: Query): Frame = {
    var df = frame.df
    if (!frame.ordered) {
      // `aggregate` frames are one row per (series, func); the reference
      // ignores any explicit order-by there and emits series-major
      // (queryparser.cpp parse_aggregate_query) — sort by sname only.
      if (frame.seriesOrder || !df.columns.contains(Ts)) {
        df = sorted(df, q, col(Sname).asc)
      } else {
        val tsCol = if (frame.backward) col(Ts).desc else col(Ts).asc
        df = q.orderBy match {
          case OrderBy.Time   => sorted(df, q, tsCol, col(Sname).asc)
          case OrderBy.Series => sorted(df, q, col(Sname).asc, tsCol)
        }
      }
    }
    // NOTE intentional deviation: the reference's parse_limit_offset has a
    // copy-paste bug (queryparser.cpp:627 assigns `limit = offset`), so
    // offset never actually works there. We implement the documented
    // intent: skip `offset` rows, then emit up to `limit`.
    for (o <- q.offset) df = df.offset(clampCount(o))
    for (l <- q.limit) df = df.limit(clampCount(l))
    frame.copy(df = df)
  }

  private def finishMeta(frame: Frame, q: Query): Frame = {
    var df = sorted(frame.df.distinct(), q, col(Sname).asc)
    for (o <- q.offset) df = df.offset(clampCount(o))
    for (l <- q.limit) df = df.limit(clampCount(l))
    frame.copy(df = df, ordered = true)
  }

  /** The final global sort, routed by size. A pre-sort frame whose
    * Catalyst estimate is at most one advisory partition
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`, the size AQE
    * coalesces every result partition to anyway) is sorted in ONE
    * partition: a single-partition child needs no range exchange, so
    * neither the range-sampling job nor the second scan of the input
    * that feeds the sorted shuffle runs. Larger frames keep the
    * range-partitioned sort, whose result partitions `toLocalIterator`
    * pulls one at a time. A `limit` plans the sort as a top-k
    * (TakeOrderedAndProject), which samples no ranges either, so it
    * takes neither route. */
  private def sorted(df: DataFrame, q: Query, order: Column*): DataFrame = {
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      df.sparkSession.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    val onePartition = q.limit.isEmpty && sizeEstimate(df) <= advisory
    (if (onePartition) df.repartition(1) else df).orderBy(order: _*)
  }

  /** The Catalyst size estimate of `df`'s optimized plan, the one size
    * read behind every size-routed choice (the final sort here, the
    * chunked scan's routing). A leaf without statistics, such as a frame
    * over an unsized RDD, reads as `spark.sql.defaultSizeInBytes`
    * (Long.MaxValue). */
  def sizeEstimate(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes
}
