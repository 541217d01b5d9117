package graft.plan

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The logical "storage" a query runs against: a distributed sample frame
  * with schema
  * `(metric: string, tags: map<string,string>, ts: long /*ns*/,
  *   value: double [, event: string])`.
  *
  * This replaces the reference's column-per-series NB+tree
  * (reference: libakumuli/storage_engine/column_store.h:50-67) with a
  * partition-pruned columnar scan: at scale the frame should be backed by
  * parquet partitioned by `(metric, time_bucket)` and sorted within
  * partitions by `(series, ts)` so Catalyst gets partition pruning,
  * row-group min/max skipping, and predicate pushdown on every query.
  */
final class TsStore(val samples: DataFrame,
                    val seriesDim: Option[DataFrame] = None,
                    val bucketNs: Long = TsStore.DayNs) {
  import TsStore._

  /** The series dimension (one row per distinct series) — the analogue of
    * the reference's inverted series index
    * (reference: libakumuli/index/seriesparser.h:74-140). Small next to
    * the fact table; broadcast-joinable. When a maintained dimension is
    * attached (Ingest.writeSeriesFromLayout), metadata queries are
    * O(series); the derive-from-samples fallback is for ad-hoc frames
    * only — at 100 TB it would be a full scan to answer an autocomplete. */
  def series: DataFrame = seriesDim.getOrElse(
    samples
      .select(col(Metric), col(Tags), tagStr(col(Tags)).as("tagstr"))
      .dropDuplicates(Metric, "tagstr")) // map cols can't key a set-op;
                                         // canonical tagstr is the key
}

object TsStore {
  val Metric = "metric"
  val Tags   = "tags"
  val Ts     = "ts"
  val Value  = "value"
  val Event  = "event"
  val Sname  = "sname"
  /** Time-partition column of the persistent layout (Ingest.writeLayout):
    * `day = ts div DayNs`. When present, the planner adds redundant day
    * bounds to every range scan so the parquet reader prunes whole
    * partition directories, not just row groups. */
  val DayCol = "day"
  val DayNs: Long = 86400L * 1000000000L

  /** Canonical `tag1=v1 tag2=v2` string: tags sorted by name, single-space
    * separated (reference: libakumuli/index/seriesparser.cpp:389). Pure
    * built-in expressions — stays inside whole-stage codegen. */
  def tagStr(tags: Column): Column =
    array_join(
      transform(
        array_sort(map_entries(tags)),
        e => concat(e.getField("key"), lit("="), e.getField("value"))),
      " ")

  /** Canonical series name `metric tag1=v1 ...` from a metric column and a
    * pre-computed tagStr column. */
  def snameOf(metric: Column, tagstr: Column): Column =
    when(length(tagstr) > lit(0), concat(metric, lit(" "), tagstr))
      .otherwise(metric)

  /** The canonical `sname` of a frame carrying [[Metric]] and the [[Tags]]
    * map: [[snameOf]] over [[tagStr]]. */
  def canonicalSname: Column = snameOf(col(Metric), tagStr(col(Tags)))

  /** Tags map of a canonical series name — the exact inverse of
    * [[snameOf]] over [[tagStr]]: the space-separated `k=v` pairs after
    * the metric, each split at its first '=' (str_to_map splits a pair
    * with limit 2, like SeriesKey.parse); an empty map for a bare
    * metric. */
  def tagsOf(sname: Column): Column =
    when(instr(sname, " ") > 0,
      str_to_map(call_function("substring", sname, instr(sname, " ") + 1),
        lit(" "), lit("=")))
      .otherwise(map().cast("map<string,string>"))
}
