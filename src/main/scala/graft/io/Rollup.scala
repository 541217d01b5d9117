package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plan.TsStore

/** Multi-resolution rollup store — materialized continuous aggregates
  * (the "1m/1h/1d rollup tables" every production TSDB deployment keeps;
  * the reference can only re-scan raw samples for every aggregate
  * query, `group-aggregate` has no materialization path).
  *
  * Each rollup step stores, per (metric, series, bucket), the FULL
  * mergeable summary for SURVEY §2.6's aggregate set: count, sum,
  * min, max, and argmin/argmax-by-time (first/last with the
  * (ts, value)-struct tie-break every downsampler here uses). All six
  * re-aggregate associatively, so a query at ANY step that is a
  * multiple of a stored step is served from the stored rollup with one
  * summary-scale aggregate — never a raw scan. mean/avg derives as
  * sum/count at serve time (it does not merge; the parts do).
  *
  * == Layout: epoch MVCC ==
  *
  * `path/epoch=<n>/step=<ns>/` parquet per step, plus a per-epoch
  * `_COMMITTED` marker (written last, via tmp+rename, carrying the
  * last-folded micro-batch id). Readers resolve the max COMMITTED epoch
  * and only ever read inside it; writers build the next epoch fully out
  * of place and publish it with the single marker rename — so a fold is
  * visible for ALL steps or NONE (no per-step swap window), a crash at
  * any point leaves an ignorable uncommitted orphan that the replay
  * overwrites, and no read path ever mutates the store (the round-8
  * advice hazard: a reader "repairing" mid-swap deleted a live writer's
  * merge output). The previous epoch is retained until the NEXT commit,
  * so an in-flight reader keeps a full update-cycle grace period.
  *
  * == Idempotence ==
  *
  * `update`/`write` accept the caller's micro-batch id (Structured
  * Streaming `foreachBatch` is at-least-once: a batch whose fold
  * committed but whose checkpoint ack was lost WILL replay). The id is
  * committed atomically with the fold inside the marker; a replayed
  * batch (`batchId <= lastBatch`) is skipped, so the fold is
  * effectively-once even across crash-replay — double-counting
  * `cnt`/`vsum` is structurally impossible. Batch (non-streaming)
  * callers omit the id (-1 = always fold). The store is bound to ONE
  * checkpoint lineage: restarting a stream with a fresh checkpoint
  * directory resets batch ids to 0 and those batches would be skipped —
  * pair a new checkpoint with a new store (or a full [[write]] rebuild).
  *
  * Concurrency contract: one writer at a time (the streaming sink is
  * single-threaded per query; two concurrent folds would race the same
  * next-epoch directory). Readers are lock-free and unlimited.
  *
  * Coarser steps are built from the raw frame too — at 100 TB build
  * them from the next-finer rollup instead; the merge algebra is
  * exactly what makes that legal. Serving picks the COARSEST stored
  * step dividing the query step: fewest rows read, and epoch+step
  * scoped reads never touch other resolutions.
  */
object Rollup {

  private val Marker = "_COMMITTED"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def epochDir(path: String, n: Long) = s"$path/epoch=$n"
  private def stepDir(epoch: String, stepNs: Long) = s"$epoch/step=$stepNs"

  /** Max committed epoch number, or None for an empty/uninitialized
    * store. Pure read — never mutates (crash orphans are uncommitted
    * directories the next writer overwrites). */
  private def currentEpoch(fs: FileSystem, path: String): Option[Long] = {
    val hp = new Path(path)
    if (!fs.exists(hp)) return None
    val ns = fs.listStatus(hp).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("epoch=") &&
          n.drop(6).nonEmpty && n.drop(6).forall(_.isDigit) => n.drop(6).toLong }
    ns.filter(n => fs.exists(new Path(epochDir(path, n), Marker)))
      .sorted.lastOption
  }

  /** The committed marker's last-folded batch id (-1 when the store was
    * built without one). */
  def lastBatch(spark: SparkSession, path: String): Long = {
    val fs = fsOf(spark, path)
    currentEpoch(fs, path).map { n =>
      readMarker(fs, new Path(epochDir(path, n), Marker))
    }.getOrElse(-1L)
  }

  private def readMarker(fs: FileSystem, p: Path): Long = {
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](64)
      val k = in.read(buf)
      val s = new String(buf, 0, math.max(k, 0), "UTF-8").trim
      if (s.isEmpty) -1L else s.toLong
    } finally in.close()
  }

  /** Commit an epoch: write the marker out of place, rename in — the
    * single atomic publish point for every step the epoch holds. */
  private def commit(fs: FileSystem, epoch: String, batch: Long): Unit = {
    val tmp = new Path(epoch, s"$Marker.tmp")
    val out = fs.create(tmp, true)
    try out.write(batch.toString.getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, new Path(epoch, Marker)),
      s"commit rename failed for $epoch")
  }

  /** Drop every epoch older than `keepFrom` (committed or orphaned) —
    * called by the WRITER after a commit; readers never delete. */
  private def prune(fs: FileSystem, path: String, keepFrom: Long): Unit = {
    val hp = new Path(path)
    if (!fs.exists(hp)) return
    fs.listStatus(hp).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith("epoch=") && n.drop(6).forall(_.isDigit) &&
          n.drop(6).nonEmpty && n.drop(6).toLong < keepFrom
      }
      .foreach(p => fs.delete(p, true))
  }

  /** Per-step summary of a sample batch (the mergeable form). */
  private def stepAgg(samples: DataFrame, step: Long): DataFrame = {
    val base = samples
      .filter(col("value").isNotNull)
      .select(col("metric"),
        TsStore.canonicalSname.as("sname"),
        col("ts").cast("long").as("ts"),
        col("value").cast("double").as("value"))
    base
      .groupBy(col("metric"), col("sname"),
        (expr(s"ts div ${step}L") * step).as("bucket"))
      .agg(count(col("value")).as("cnt"),
        sum(col("value")).as("vsum"),
        min(col("value")).as("vmin"),
        max(col("value")).as("vmax"),
        min(struct(col("ts").as("t"), col("value").as("v"))).as("__f"),
        max(struct(col("ts").as("t"), col("value").as("v"))).as("__l"))
      .select(col("metric"), col("sname"), col("bucket"), col("cnt"),
        col("vsum"), col("vmin"), col("vmax"),
        col("__f.t").as("first_ts"), col("__f.v").as("first_v"),
        col("__l.t").as("last_ts"), col("__l.v").as("last_v"))
  }

  /** Merge summary rows sharing a (metric, sname, bucket) key — the
    * associative algebra every serve/update path reuses. */
  private def mergeSummaries(df: DataFrame): DataFrame =
    df.groupBy(col("metric"), col("sname"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("vsum")).as("vsum"),
        min(col("vmin")).as("vmin"),
        max(col("vmax")).as("vmax"),
        min(struct(col("first_ts").as("t"), col("first_v").as("v")))
          .as("__f"),
        max(struct(col("last_ts").as("t"), col("last_v").as("v")))
          .as("__l"))
      .select(col("metric"), col("sname"), col("bucket"), col("cnt"),
        col("vsum"), col("vmin"), col("vmax"),
        col("__f.t").as("first_ts"), col("__f.v").as("first_v"),
        col("__l.t").as("last_ts"), col("__l.v").as("last_v"))

  /** Build (or fully rebuild) the store at each step. Input: the engine
    * sample frame (metric, tags, ts, value). `batchId` seeds the
    * idempotence marker when the bootstrap IS a streaming micro-batch
    * (a replayed bootstrap must not fold twice); batch callers omit it. */
  def write(samples: DataFrame, path: String, steps: Seq[Long],
            batchId: Long = -1L): Unit = {
    require(steps.nonEmpty && steps.forall(_ > 0), "steps must be positive")
    val spark = samples.sparkSession
    val fs = fsOf(spark, path)
    val next = currentEpoch(fs, path).getOrElse(0L) + 1
    val epoch = epochDir(path, next)
    fs.delete(new Path(epoch), true) // stale orphan from a prior crash
    // CHAINED build (r15): a coarser step whose span is a multiple of an
    // already-written finer step folds from THAT step's summaries (read
    // back from the just-written parquet — summary-scale) instead of
    // re-scanning the raw samples: one corpus pass per divisor CHAIN,
    // not per step. Exact by the same mergeable algebra `update` relies
    // on (bit-for-bit up to fp addition order in `vsum`, which every
    // serve-side consumer rounds at 6).
    val written = scala.collection.mutable.Map.empty[Long, String]
    steps.sorted.foreach { step =>
      val dir = stepDir(epoch, step)
      val src = written.keys.filter(f => f != step && step % f == 0)
      val agg =
        if (src.isEmpty) stepAgg(samples, step)
        else mergeSummaries(spark.read.parquet(written(src.max))
          .withColumn("bucket", (expr(s"bucket div ${step}L") * step)))
      agg.write.mode("overwrite").parquet(dir)
      written(step) = dir
    }
    commit(fs, epoch, batchId)
    prune(fs, path, next)
  }

  /** Incrementally fold a NEW sample batch into every stored rollup —
    * the maintenance path a continuous ingest runs per batch: summarize
    * the batch at each stored step, merge with the stored summaries
    * (the mergeable algebra makes this EXACT, not approximate — the
    * result is bit-for-bit what a full rebuild over old+new would
    * produce, up to fp addition order in `vsum`), land as the next
    * epoch, publish with one marker rename covering ALL steps. Cost is
    * batch-scale + touched-summary-scale; the raw history is never
    * rescanned.
    *
    * `batchId >= 0` makes the fold idempotent: a batch at or below the
    * committed marker is a replay and is skipped (see the class doc's
    * idempotence section). A crash anywhere before the marker rename
    * leaves the current epoch untouched and the replay folds cleanly. */
  def update(samples: DataFrame, path: String, batchId: Long = -1L): Unit = {
    val spark = samples.sparkSession
    val fs = fsOf(spark, path)
    val cur = currentEpoch(fs, path)
    require(cur.nonEmpty, s"no rollup store at $path")
    val curEpoch = epochDir(path, cur.get)
    val last = readMarker(fs, new Path(curEpoch, Marker))
    if (batchId >= 0 && batchId <= last) return // replayed batch: folded
    val steps = listSteps(fs, curEpoch)
    require(steps.nonEmpty, s"committed epoch $curEpoch holds no steps")
    val next = epochDir(path, cur.get + 1)
    fs.delete(new Path(next), true) // stale orphan from a prior crash
    steps.foreach { step =>
      mergeSummaries(
        spark.read.parquet(stepDir(curEpoch, step))
          .unionByName(stepAgg(samples, step)))
        .write.mode("overwrite").parquet(stepDir(next, step))
    }
    commit(fs, next, math.max(last, batchId))
    // keep the just-superseded epoch as reader grace; drop older ones
    prune(fs, path, cur.get)
  }

  private def listSteps(fs: FileSystem, epoch: String): Seq[Long] =
    fs.listStatus(new Path(epoch)).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("step=") &&
          n.drop(5).nonEmpty && n.drop(5).forall(_.isDigit) => n.drop(5).toLong }
      .sorted

  /** Stored steps of the current committed epoch (empty for no store).
    * Pure read — crash orphans are invisible here by construction, so
    * there is nothing to repair and nothing a reader can break. */
  def storedSteps(spark: SparkSession, path: String): Seq[Long] = {
    val fs = fsOf(spark, path)
    currentEpoch(fs, path) match {
      case None => Seq.empty
      case Some(n) => listSteps(fs, epochDir(path, n))
    }
  }

  /** Serve a group-aggregate at `stepNs` from the coarsest stored
    * rollup whose step divides it — one summary-scale merge aggregate,
    * no raw-sample scan. Output: metric, sname, bucket, cnt, vsum,
    * vmin, vmax, mean (rounded 6), first_v, last_v. */
  def serve(spark: SparkSession, path: String, stepNs: Long): DataFrame = {
    val fs = fsOf(spark, path)
    val cur = currentEpoch(fs, path)
    require(cur.nonEmpty, s"no rollup store at $path")
    val epoch = epochDir(path, cur.get)
    val stored = listSteps(fs, epoch)
    val usable = stored.filter(s => stepNs % s == 0)
    require(usable.nonEmpty,
      s"no stored rollup step divides ${stepNs}ns " +
        s"(stored: ${stored.mkString(",")})")
    val best = usable.max
    // read the epoch root with `step` as a discovered partition column
    // and prune via the filter (1 of K step dirs) rather than by path
    // construction: byte-identical scan, but the pruning is now visible
    // to the plan audit's parts_read/parts_total evidence
    spark.read.option("basePath", epoch).parquet(epoch)
      .filter(col("step") === best)
      .groupBy(col("metric"), col("sname"),
        (expr(s"bucket div ${stepNs}L") * stepNs).as("bucket"))
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("vsum")).as("vsum"),
        min(col("vmin")).as("vmin"),
        max(col("vmax")).as("vmax"),
        min(struct(col("first_ts").as("t"), col("first_v").as("v")))
          .as("__f"),
        max(struct(col("last_ts").as("t"), col("last_v").as("v")))
          .as("__l"))
      .select(col("metric"), col("sname"), col("bucket"), col("cnt"),
        round(col("vsum"), 6).as("vsum"), col("vmin"), col("vmax"),
        round(col("vsum") / col("cnt"), 6).as("mean"),
        col("__f.v").as("first_v"), col("__l.v").as("last_v"))
  }
}
