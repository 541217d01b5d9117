package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftio.ListenerBus
import org.apache.spark.sql.types.LongType

import graft.ast.QueryJson
import graft.plan.{Planner, TsStore}
import graft.sources.TestData

/** `TestData.events` serves the `ts_*` gates from the engine's own layout.
  * It must answer exactly what the JSON tag-map adapter it replaced
  * answered (kept inline below as the reference), push `where` on a tag
  * into the scan, leave the caller's session conf alone, and build once
  * per corpus however many threads ask. The other corpus tables open
  * once per session too. */
class TestDataSpec extends SparkFunSuite {
  private val Sf = "/root/testdata/sf0.001"
  private val TzKey = "spark.sql.session.timeZone"
  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** The replaced adapter, verbatim: `props` re-parsed and the tag map
    * rebuilt on every scan, in a session pinned to UTC + nanosAsLong. */
  private lazy val refSession: SparkSession = {
    val s = spark.newSession()
    s.conf.set(NanosKey, "true")
    s.conf.set(TzKey, "UTC")
    s
  }
  private def reference(sfDir: String): TsStore = {
    val raw = refSession.read.parquet(s"$sfDir/events.parquet")
    val tsNs = raw.schema("ts").dataType match {
      case LongType => expr("(ts div 1000) * 1000")
      case _ => unix_micros(col("ts").cast("timestamp")) * lit(1000L)
    }
    new TsStore(raw.withColumn("ts", tsNs.cast("long")).select(
      col("event_type").as(TsStore.Metric),
      map(
        lit("user"), col("user_id").cast("string"),
        lit("k"), (get_json_object(col("props"), "$.k").cast("int") % 10)
          .cast("string")
      ).as(TsStore.Tags),
      col("ts").as(TsStore.Ts),
      col("value").as(TsStore.Value)))
  }

  private def sampleRows(st: TsStore): Seq[String] =
    st.samples.select(col("metric"), TsStore.tagStr(col("tags")),
      col("ts"), col("value")).collect().map(_.toString).toSeq.sorted

  private def plan(json: String, st: TsStore): DataFrame =
    Planner.plan(QueryJson.parse(json), st).df

  private def strings(df: DataFrame): Seq[String] =
    df.collect().map(_.getString(0)).toSeq

  /** A private copy of the corpus's events table: a directory no other
    * test has built, so its first caller pays the build. */
  private def corpusCopy(): String = {
    val dir = java.nio.file.Paths.get(TestData.freshScratch("graft-testdata"))
    Files.copy(Paths.get(Sf, "events.parquet"), dir.resolve("events.parquet"))
    dir.toString
  }

  test("events rows and meta names equal the JSON tag-map adapter's") {
    val st = TestData.events(spark, Sf)
    val ref = reference(Sf)
    val rows = sampleRows(st)
    assert(rows.size == 1000)
    assert(rows == sampleRows(ref))
    Seq("""{"select":"meta:names"}""",
        """{"select":"meta:names","where":{"user":["7","8"]}}""",
        """{"select":"meta:names:purchase"}""").foreach { q =>
      val names = strings(plan(q, st))
      assert(names.nonEmpty, q)
      assert(names.sorted == strings(plan(q, ref)).sorted, q)
    }
  }

  test("a where on user is pushed into the layout scan, no JSON parse") {
    val q = plan("""{"select":"click","range":{"from":"20240101T000000",
      |"to":"20240201T000000"},"where":{"user":["3","7"]}}""".stripMargin,
      TestData.events(spark, Sf))
    val p = q.queryExecution.executedPlan.toString
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushed.exists(_.matches(".*PushedFilters: \\[[^\\]]*tag_user.*")), p)
    assert(!p.contains("get_json_object"), p)
    assert(q.count() > 0)
  }

  test("a non-UTC session without nanosAsLong keeps its conf and gets UTC ns") {
    val sf = corpusCopy()
    val s = spark.newSession()
    s.conf.set(TzKey, "America/Los_Angeles")
    s.conf.unset(NanosKey)
    val before = (s.conf.getOption(TzKey), s.conf.getOption(NanosKey))
    val refTs = reference(sf).samples.agg(min("ts"), max("ts")).head()
    def span(df: DataFrame): Row = df.agg(min("ts"), max("ts")).head()
    assert(span(TestData.events(s, sf).samples) == refTs)
    assert(span(TestData.eventsRaw(s, sf)) == refTs)
    assert(span(TestData.eventStore(s, sf).samples) == refTs)
    assert((s.conf.getOption(TzKey), s.conf.getOption(NanosKey)) == before)
    assert(before._1.contains("America/Los_Angeles") && !before._2.contains("true"))
  }

  test("concurrent first callers build once; a later call runs no job") {
    val sc = spark.sparkContext
    val one = corpusCopy()
    val oneBuild = ListenerBus.jobsOf(sc)(TestData.events(spark, one))
    assert(oneBuild > 0)
    val two = corpusCopy()
    val got = new java.util.concurrent.ConcurrentLinkedQueue[TsStore]()
    val jobs = ListenerBus.jobsOf(sc) {
      val ts = Seq.fill(2)(new Thread(() => got.add(TestData.events(spark, two))))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    assert(got.size == 2)
    val Seq(a, b) = got.toArray(Array.empty[TsStore]).toSeq
    assert(a eq b)
    assert(jobs == oneBuild)
    assert(ListenerBus.jobsOf(sc) {
      TestData.events(spark, two); TestData.eventsRaw(spark, two)
      TestData.eventStore(spark, two)
    } == 0)
  }

  test("a corpus table opens once per session: a second call runs no job") {
    val first = TestData.table(spark, Sf, "documents")
    var again: DataFrame = null
    assert(ListenerBus.jobsOf(spark.sparkContext) {
      again = TestData.table(spark, Sf, "documents")
    } == 0)
    assert(again eq first)
    assert(again.count() == spark.read.parquet(s"$Sf/documents.parquet").count())
  }
}
