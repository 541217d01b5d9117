package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Ingest
import graft.plan.TsStore

/** Adapters mapping the driver-generated parquet tables
  * (`/root/testdata/sf{N}`, see TESTDATA.md) into the engine's sample
  * frame. The `events` table plays the role of the reference's ingested
  * series: `metric := event_type`, tags derived from `user_id` and the
  * `props` JSON, `ts` as ns since epoch, `value` as the sample. It is
  * ingested once per process into the engine's own layout and served
  * through [[Ingest.readLayout]], like any deployment's store.
  */
object TestData {

  private val procToken = ProcessHandle.current().pid().toString

  private val atExit = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  sys.addShutdownHook(atExit.forEach(p =>
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))))

  /** `path`, deleted with everything under it when the JVM exits. */
  private[graft] def deleteAtExit(path: String): String =
    { atExit.add(path); path }

  /** A new temporary directory on every call (streaming checkpoints must
    * start fresh), deleted at exit. */
  private[graft] def freshScratch(prefix: String): String =
    deleteAtExit(java.nio.file.Files.createTempDirectory(prefix).toString)

  /** Per-process scratch path, keyed by dataset dir AND pid: concurrent
    * processes over the same sf (a verify beside a bench, the plan audit
    * re-invoking a gate fn) must never race on one directory (the
    * retention gates `require()` on their layout's pre-eviction state).
    * Within a process each gate rewrites its path, deleted at exit. */
  private[graft] def scratch(prefix: String, sfDir: String): String =
    deleteAtExit(
      s"/tmp/${prefix}_p${procToken}_${sfDir.replaceAll("[^0-9a-zA-Z]", "_")}")

  /** Reads `events.parquet` and normalizes `ts` to the engine's native
    * timestamp unit: ns-since-epoch LongType (reference:
    * include/akumuli_def.h:36). The driver has shipped two physical
    * schemas for `ts`, so this branches on what it actually reads:
    *  - parquet `timestamp[us]` (current testdata; surfaces as
    *    TIMESTAMP_NTZ or TIMESTAMP) → `unix_micros * 1000`. µs data needs
    *    no truncation, and the result matches the DuckDB oracle's
    *    `epoch_ns(ts)` exactly. NTZ wall times are naive-UTC, so the
    *    session timezone must be UTC to make the NTZ→LTZ cast the
    *    identity on the stored micros.
    *  - INT64 TIMESTAMP(NANOS) via `nanosAsLong` (rounds 1–3 testdata) →
    *    truncate ns to µs resolution (`(ts div 1000) * 1000`), because
    *    the oracle reads that parquet at µs precision.
    * Only [[build]]'s own session carries those two confs. */
  private def readEvents(spark: SparkSession, sfDir: String) = {
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val tsNs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("(ts div 1000) * 1000")
      case _ => // TimestampType | TimestampNTZType
        unix_micros(col("ts").cast("timestamp")) * lit(1000L)
    }
    raw.withColumn("ts", tsNs.cast("long"))
  }

  /** Writes, in a child session (the caller's conf is never touched),
    * the normalized table to `dir/events`, the metric-series layout to
    * `dir/layout` and its series dimension to `dir/series`. Tags: `user`
    * = user_id, `k` = json props.k mod 10 (a second, coarser tag so
    * group/pivot-by-tag queries are non-trivial), both flattened. The
    * shape is derived from the corpus: one salt and one time bucket of
    * the ts span rounded up to whole days, so a small corpus lands in a
    * file or two per metric, not one per metric, day and salt. Its wall
    * is reported once, on stderr: it is ingest, no query's cost. */
  private def build(spark: SparkSession, sfDir: String, dir: String): Unit = {
    val t0 = System.nanoTime()
    val b = spark.newSession()
    b.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    b.conf.set("spark.sql.session.timeZone", "UTC")
    readEvents(b, sfDir).write.mode("overwrite").parquet(s"$dir/events")
    val ev = b.read.parquet(s"$dir/events")
    val span = ev.agg(coalesce(max(col("ts")) - min(col("ts")), lit(0L)))
      .head().getLong(0)
    Ingest.writeLayout(ev.select(
        col("event_type").as(TsStore.Metric),
        map(
          lit("user"), col("user_id").cast("string"),
          lit("k"), (get_json_object(col("props"), "$.k").cast("int") % 10)
            .cast("string")
        ).as(TsStore.Tags),
        col("ts").as(TsStore.Ts),
        col("value").as(TsStore.Value),
        lit(null).cast("string").as(TsStore.Event)),
      s"$dir/layout", flattenTags = Seq("k", "user"),
      bucketNs = (span / Ingest.DayNs + 1) * Ingest.DayNs, saltBuckets = 1)
    Ingest.writeSeriesFromLayout(b, s"$dir/layout", s"$dir/series")
    Console.err.println(f"[testdata] $sfDir events layout build " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  private val built = scala.collection.mutable.Set[String]()
  private val opened =
    scala.collection.mutable.Map[(SparkSession, String), AnyRef]()

  /** What `open` makes of `path`, once per session: a later call runs no
    * Spark job (not even a parquet schema read). */
  private def memo[T <: AnyRef](spark: SparkSession, path: String)(
      open: => T): T = synchronized {
    opened.getOrElseUpdate((spark, path), open).asInstanceOf[T]
  }

  /** (normalized table, series store) of `sfDir`: built once per process
    * (concurrent first callers wait for the one build) and opened once
    * per session. */
  private def open(spark: SparkSession, sfDir: String) = {
    val dir = scratch("graft_testdata", sfDir)
    memo(spark, dir) {
      if (!built(sfDir)) { build(spark, sfDir, dir); built += sfDir }
      (spark.read.parquet(s"$dir/events"),
        Ingest.readLayout(spark, s"$dir/layout", Some(s"$dir/series")))
    }
  }

  /** Metric-series store over `events.parquet`, with its series dimension
    * attached: metadata queries plan O(series), never a fact scan. */
  def events(spark: SparkSession, sfDir: String): TsStore =
    open(spark, sfDir)._2

  /** Event-series store (string payloads): `!event_type` series whose body
    * is the raw `props` JSON — the analogue of the reference's `!`-prefixed
    * event series (reference: queryparser.cpp:308-336). */
  def eventStore(spark: SparkSession, sfDir: String): TsStore =
    new TsStore(eventsRaw(spark, sfDir).select(
      concat(lit("!"), col("event_type")).as(TsStore.Metric),
      map(lit("user"), col("user_id").cast("string")).as(TsStore.Tags),
      col("ts").as(TsStore.Ts),
      lit(null).cast("double").as(TsStore.Value),
      col("props").as(TsStore.Event)))

  /** The raw events table with `ts` normalized to ns-long — the input
    * frame for the event-relational operators (EventOps gates). */
  def eventsRaw(spark: SparkSession, sfDir: String): DataFrame =
    open(spark, sfDir)._1

  /** The corpus table `name` (`documents`, `embeddings`, …), opened once
    * per session. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    memo(spark, s"$sfDir/$name.parquet")(
      spark.read.parquet(s"$sfDir/$name.parquet"))
}
