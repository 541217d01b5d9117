package graft.serve

import org.apache.spark.sql.{DataFrame, Dataset}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.ast.QueryJson
import graft.plan.{Frame, Meta, Planner, TsStore}

/** The single serving entry point — the library analogue of the
  * reference's HTTP endpoints (reference: akumulid/httpserver.cpp:43-52:
  * `/api/query`, `/api/search`, `/api/suggest`, `/api/stats`,
  * `/api/function-names`). A server runtime would wrap these in routes;
  * everything below is transport-agnostic.
  *
  * `query` honors the `output` clause (reference:
  * query_results_pooler.cpp:31-380): `{"output":{"format":"csv"|"resp",
  * "timestamp":"iso"|"raw"}}` -> formatted lines; without it, the raw
  * DataFrame is returned for programmatic use.
  */
object Api {

  sealed trait QueryResult
  final case class Rows(df: DataFrame) extends QueryResult
  final case class Lines(ds: Dataset[String]) extends QueryResult

  /** A data query whose series resolution is empty — the reference's
    * `AKU_ENOT_FOUND` (`-not found` line, HTTP 404). */
  final case class NotFoundException(msg: String = "not found")
      extends RuntimeException(msg)

  /** Series resolution: throws [[NotFoundException]] when the FIRST
    * select column resolves to zero series. The reference returns
    * `-not found` in that case (storage2.cpp:1449-1452: checks
    * `columns.at(0).ids.empty()`), while an existing series with an empty
    * time range streams an empty result — so the probe ignores the
    * range. Metadata queries bypass the check (SELECT_META branch,
    * storage2.cpp:1407-1424). Resolution = first metric + where-clause
    * (the inverted-matcher lookup, queryparser.cpp:86-140), built by
    * [[Planner.seriesPred]] — the predicate every scan uses — over the
    * maintained series dimension when attached, otherwise over the FACT
    * table (the derived `store.series` view would put a whole-corpus
    * dropDuplicates shuffle in front of every request).
    *
    * It runs before planning, except for a single-metric kind on
    * `/api/query`, where it runs only when the answer cannot prove the
    * series exist ([[planRequest]]).
    *
    * The probe projects `metric` and asks `take(1)`, which plans as
    * CollectLimitExec: `executeTake` reads one partition and stops at
    * the first row, so a resolving probe is usually ONE small job
    * (`Dataset.isEmpty` would plan a second stage). A not-found answer
    * must read every partition of the metric: each empty round tries 4x
    * the partitions read so far (`spark.sql.limit.scaleUpFactor`), so it
    * takes up to ⌈log₄ partitions⌉+1 sequential small jobs, where a
    * count is one parallel scan. */
  def requireSeries(store: TsStore, q: graft.ast.Query): Unit = {
    import graft.ast.QueryKind._
    val firstMetric = q.kind match {
      case Select(m)                      => Some(m)
      case SelectEvents(m, _)             => Some(m)
      case Aggregate(pairs)               => pairs.headOption.map(_._1)
      case GroupAggregate(ms, _, _)       => ms.headOption
      case Join(ms)                       => ms.headOption
      case GroupAggregateJoin(ms, _, _)   => ms.headOption
      case MetaNames(_)                   => None
    }
    for (m <- firstMetric) {
      val base = store.seriesDim.getOrElse(store.samples)
      val hit = base.filter(Planner.seriesPred(base, Seq(m), q.where))
        .select(TsStore.Metric).take(1)
      if (hit.isEmpty) throw NotFoundException()
    }
  }

  /** Kinds whose every output row comes from a series of the first
    * metric, so a non-empty answer proves the series exist. */
  private def singleMetric(kind: graft.ast.QueryKind): Boolean = {
    import graft.ast.QueryKind._
    kind match {
      case Select(_) | SelectEvents(_, _) => true
      case Aggregate(pairs)               => pairs.map(_._1).distinct.size == 1
      case GroupAggregate(ms, _, _)       => ms.distinct.size == 1
      case _                              => false
    }
  }

  /** One request path for every entry point: parse and validate the
    * whole request (the `output` clause included), then plan. A
    * malformed request is rejected before any Spark job runs, whether
    * or not its series exist. A new validation step added here reaches
    * the library AND the HTTP shapes.
    *
    * The existence probe ([[requireSeries]]) runs before planning unless
    * `defer` is set and the kind is single-metric. Then planning comes
    * first, a planning failure still runs the probe (an unknown series
    * is a 404 whatever else is wrong with the request), and the probe is
    * returned for the caller to run when the answer turns out empty or
    * fails before its first row. Otherwise the returned probe is a no-op. */
  private def planRequest(store: TsStore, json: String, defer: Boolean)
      : (Option[(String, Boolean)], Frame, () => Unit) = {
    val root = JsonMethods.parse(json)
    val q = QueryJson.fromJValue(root)
    val output = outputSpec(root)
    val probe = () => requireSeries(store, q)
    if (defer && singleMetric(q.kind)) {
      val frame = try Planner.plan(q, store)
        catch { case e: Exception => probe(); throw e }
      (output, frame, probe)
    } else {
      probe()
      (output, Planner.plan(q, store), () => ())
    }
  }

  /** `/api/query` with optional output formatting. */
  def query(store: TsStore, json: String): QueryResult = {
    val (output, frame, _) = planRequest(store, json, defer = false)
    output match {
      case None             => Rows(frame.df)
      case Some((fmt, iso)) => Lines(format(frame, fmt, iso))
    }
  }

  /** `/api/query` as formatted wire lines — the HTTP serving shape, with
    * the existence probe run first. The reference's default output
    * format is RESP (query_results_pooler.cpp:367-380). */
  def queryLines(store: TsStore, json: String): Dataset[String] =
    serveLines(store, json, defer = false)._1

  /** [[queryLines]], and the existence probe still owed (see
    * [[planRequest]]), which `/api/query` runs when the lines turn out
    * empty or fail before their first row. */
  private[serve] def serveLines(store: TsStore, json: String, defer: Boolean)
      : (Dataset[String], () => Unit) = {
    val (output, frame, probe) = planRequest(store, json, defer)
    val (fmt, iso) = output.getOrElse(("resp", true))
    (format(frame, fmt, iso), probe)
  }

  /** `fmt` is one of [[OutputFormats]] ([[outputSpec]] checked it). */
  private def format(frame: Frame, fmt: String, iso: Boolean): Dataset[String] =
    if (fmt == "csv") OutputFormat.csv(frame, iso)
    else OutputFormat.resp(frame, iso)

  private val OutputFormats = Set("csv", "resp")

  /** The validated `output` clause: (format, iso timestamps). */
  private def outputSpec(root: JValue): Option[(String, Boolean)] =
    (root \ "output") match {
      case JNothing => None
      case o =>
        val fmt = (o \ "format") match {
          case JString(f) if OutputFormats(f) => f
          case JString(other) =>
            throw QueryJson.QueryParseException(s"bad output.format '$other'")
          case JNothing     => "csv"
          case _            => throw QueryJson.QueryParseException("bad output.format")
        }
        val iso = (o \ "timestamp") match {
          case JString("iso") | JNothing => true
          case JString("raw")            => false
          case JString(other) =>
            throw QueryJson.QueryParseException(s"bad output.timestamp '$other'")
          case _ => throw QueryJson.QueryParseException("bad output.timestamp")
        }
        Some((fmt, iso))
    }

  /** `/api/suggest`. */
  def suggest(store: TsStore, json: String): DataFrame = Meta.suggest(store, json)

  /** `/api/search`. */
  def search(store: TsStore, json: String): DataFrame = Meta.searchJson(store, json)

  /** `/api/stats`. */
  def stats(store: TsStore): DataFrame = Meta.stats(store)

  /** `/api/function-names`. */
  def functionNames: Seq[String] = Meta.functionNames
}
