package graft.plan

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.ast.{QueryJson, Where}

/** The metadata endpoints `/api/suggest` and `/api/search` — pure
  * dimension-table queries over the series index, never a fact scan
  * (reference: suggest parser queryparser.cpp:1139-1273, exec
  * storage2.cpp:1468-1499; search parser queryparser.cpp:1026-1076, exec
  * storage2.cpp:1501-1530; behaviors in functests/test_search_api.py).
  *
  * At 100 TB the series dimension must be a maintained table (the
  * reference's SeriesMatcher is exactly this): `Ingest.writeSeriesFromLayout`
  * persists it alongside the fact table so these queries stay O(series),
  * not O(samples). `TsStore.series` derives it from samples only for
  * ad-hoc frames with no dimension attached.
  */
object Meta {

  final case class MetaException(msg: String) extends IllegalArgumentException(msg)
  private def fail(msg: String): Nothing = throw MetaException(msg)

  /** `{"select":"metric-names","starts-with":...}` — all metric names with
    * the prefix, sorted. */
  def metricNames(store: TsStore, startsWith: String = ""): DataFrame =
    store.series
      .select(col(TsStore.Metric).as("name"))
      .filter(col("name").startsWith(startsWith))
      .distinct()
      .orderBy(col("name"))

  /** `{"select":"tag-names","metric":m,"starts-with":...}` — tag names
    * used by the metric's series. */
  def tagNames(store: TsStore, metric: String, startsWith: String = ""): DataFrame =
    store.series
      .filter(col(TsStore.Metric) === metric)
      .select(explode(map_keys(col(TsStore.Tags))).as("name"))
      .filter(col("name").startsWith(startsWith))
      .distinct()
      .orderBy(col("name"))

  /** `{"select":"tag-values","metric":m,"tag":t,"starts-with":...}`. */
  def tagValues(store: TsStore, metric: String, tag: String,
                startsWith: String = ""): DataFrame =
    store.series
      .filter(col(TsStore.Metric) === metric)
      .select(try_element_at(col(TsStore.Tags), lit(tag)).as("name"))
      .filter(col("name").isNotNull && col("name").startsWith(startsWith))
      .distinct()
      .orderBy(col("name"))

  /** `/api/search`: series names matching metric + where clause. */
  def search(store: TsStore, metric: Option[String],
             where: Where = Where.All): DataFrame = {
    var df = store.series
    for (m <- metric) df = df.filter(col(TsStore.Metric) === m)
    df = df.filter(Planner.wherePred(where))
    df.select(
        TsStore.snameOf(col(TsStore.Metric), col("tagstr")).as(TsStore.Sname))
      .distinct()
      .orderBy(col(TsStore.Sname))
  }

  /** Regex series search over canonical series names — the analogue of
    * the reference's `PlainSeriesMatcher::regex_match`
    * (libakumuli/index/seriesparser.h:149-201, seriesparser.cpp:462-480:
    * the pattern runs over the flat series-name table and every match is
    * returned). Dimension-only scan, never touches facts. */
  def searchRegex(store: TsStore, pattern: String): DataFrame = {
    // fail fast on a bad pattern (driver-side), like the reference's
    // regex constructor throwing before any matching starts
    try java.util.regex.Pattern.compile(pattern)
    catch { case e: java.util.regex.PatternSyntaxException =>
      fail(s"invalid regex: ${e.getMessage.linesIterator.next()}") }
    store.series
      .select(
        TsStore.snameOf(col(TsStore.Metric), col("tagstr")).as(TsStore.Sname))
      .filter(col(TsStore.Sname).rlike(pattern))
      .distinct()
      .orderBy(col(TsStore.Sname))
  }

  /** JSON entry for `/api/suggest` (reference: queryparser.cpp:1139-1273). */
  def suggest(store: TsStore, json: String): DataFrame = {
    val obj = JsonMethods.parse(json)
    def strOpt(field: String): Option[String] = (obj \ field) match {
      case JString(s) => Some(s)
      case JNothing   => None
      case _          => fail(s"Query object has invalid `$field` field, single value expected")
    }
    val sw = strOpt("starts-with").getOrElse("")
    strOpt("select") match {
      case Some("metric-names") => metricNames(store, sw)
      case Some("tag-names") =>
        tagNames(store, strOpt("metric").getOrElse(fail("Metric name expected")), sw)
      case Some("tag-values") =>
        tagValues(store, strOpt("metric").getOrElse(fail("Metric name expected")),
          strOpt("tag").getOrElse(fail("Tag name expected")), sw)
      case Some(other) =>
        fail(s"Query object has invalid `select` field, unknown target $other")
      case None => fail("Query object missing `select` field")
    }
  }

  /** `/api/function-names`: the pipeline-node registry listing
    * (reference: list_query_registry, queryprocessor_framework.cpp:17-23). */
  val functionNames: Seq[String] = Seq(
    "abs", "accumulate", "anomaly", "cma", "cusum", "diff", "divide",
    "eval", "ewma", "ewma-error", "frequent-items", "heavy-hitters",
    "multiply", "rate", "sax", "scale", "sma", "sma-error", "sum", "top")

  /** `/api/stats`-style summary: row/series/metric counts plus the time
    * span, one aggregate pass (reference: httpserver.cpp:123-152 serves
    * storage counters; here they derive from the data). */
  def stats(store: TsStore): DataFrame = {
    // layout-backed frames carry the stored canonical sname: counting on
    // it directly keeps this a plain column scan. Rebuilding it via the
    // lazily-reconstructed tags map (str_to_map + sort + concat per row)
    // would dominate the pass on a large fact table.
    val snameCol =
      if (store.samples.columns.contains(TsStore.Sname)) col(TsStore.Sname)
      else TsStore.canonicalSname
    store.samples.agg(
      count(lit(1)).as("n_samples"),
      approx_count_distinct(snameCol).as("n_series_approx"),
      countDistinct(col(TsStore.Metric)).as("n_metrics"),
      min(col(TsStore.Ts)).as("min_ts"),
      max(col(TsStore.Ts)).as("max_ts"))
  }

  /** JSON entry for `/api/search` (reference: queryparser.cpp:1026-1076).
    * An empty or missing `select` lists every series — SeriesRetreiver's
    * no-metric case returns all ids (queryparser.cpp:100-105;
    * functests/test_search_api.py test_search_all_names). */
  def searchJson(store: TsStore, json: String): DataFrame = {
    val obj = JsonMethods.parse(json)
    // `regex` searches canonical names (PlainSeriesMatcher::regex_match);
    // the reference exposes the capability on the matcher, not the HTTP
    // parser — here it composes with neither select nor where by design
    (obj \ "regex") match {
      case JString(p) => return searchRegex(store, p)
      case JNothing   => ()
      case _          => fail("bad regex field")
    }
    val metric = (obj \ "select") match {
      case JString(m) => Some(m).filter(_.nonEmpty)
      case JNothing   => None
      case _          => fail("bad select field")
    }
    search(store, metric, QueryJson.parseWhere(obj \ "where"))
  }
}
