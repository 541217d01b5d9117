package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.SeriesKey
import graft.plan.TsStore

/** Spark entry points for batch ingestion and the persistent table layout.
  *
  * Layout contract (the Spark analogue of the reference's
  * column-per-series NB+tree, column_store.h:50-67): ONE flat schema,
  * `(metric, sname, ts, value, event, tag_<k>…, day)`, parquet
  * partitioned by `(metric, day bucket)` and sorted within files by
  * `(sname, ts)`. The canonical `sname` carries the full tag set (the
  * reference's series-id model, seriesparser.cpp:389); the listed tag
  * keys are ALSO lifted into `tag_<k>` string columns so `where`
  * predicates push into the scan instead of evaluating a map lookup per
  * row. Every writer produces exactly this schema: [[writeLayout]],
  * [[ingestResp]], [[compactLayout]], `RunLog`'s compaction and fold,
  * and the streaming sink `StreamIngest.writeLayoutStream`. That gives
  * every query the reference's pruning for free:
  *  - metric + time range -> partition pruning (directories skipped)
  *  - value filters       -> parquet row-group min/max skipping
  *  - per-series locality -> in-file sort (merge/window ops don't shuffle
  *    already-clustered data)
  */
object Ingest {
  import org.apache.spark.sql.Encoders

  private val sampleEnc = Encoders.product[LineProtocol.ParsedSample]

  /** Whole-session file contents, one String per file, via the raw
    * Hadoop FS API ([[org.apache.spark.sql.graftio.HadoopFiles]]):
    * driver lists the files, tasks open + `readFully` + decode. The
    * `binaryFiles` input-format machinery (CombineFileInputFormat splits
    * + PortableDataStream) measured up to 17x slower for the same bytes
    * on the ingest bench; `new String(bytes, UTF_8)` keeps the JDK's
    * compact-string ASCII fast path. HDFS/S3 work unchanged through the
    * FS API. Files spread over the cluster parallelism — a low split
    * count would funnel every session through few tasks regardless of
    * core count. */
  def sessionFiles(spark: SparkSession, path: String)
      : org.apache.spark.rdd.RDD[String] = sizedSessionFiles(spark, path)._1

  /** [[sessionFiles]] and the session files' total bytes. */
  private def sizedSessionFiles(spark: SparkSession, path: String)
      : (org.apache.spark.rdd.RDD[String], Long) =
    org.apache.spark.sql.graftio.HadoopFiles.wholeFiles(spark, path,
      spark.sparkContext.defaultParallelism)

  /** Parse RESP session files: one file = one session (dictionary scope),
    * parallel across files. The frame's Catalyst size estimate is the
    * session files' bytes, as `RunLog.readRunFiles` reports its runs'. */
  def respFiles(spark: SparkSession, path: String): DataFrame = {
    val (files, bytes) = sizedSessionFiles(spark, path)
    val enc = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[LineProtocol.ParsedSample]()
    val rows = files.mapPartitions { it =>
      val toRow = enc.createSerializer()
      it.flatMap(LineProtocol.parseRespText).map(s => toRow(s).copy())
    }
    org.apache.spark.sql.graftio.InternalRows.toDF(spark, rows, enc.schema,
      Some(BigInt(bytes)))
  }

  /** The flat layout row before partitioning:
    * `(metric, sname, ts, value, event, tag_<k>...)`. */
  private def flatSchema(tagKeys: Seq[String]): StructType = StructType(
    Seq(StructField("metric", StringType), StructField("sname", StringType),
      StructField("ts", LongType), StructField("value", DoubleType),
      StructField("event", StringType)) ++
    tagKeys.map(t => StructField(s"tag_$t", StringType)))

  /** Emits flat layout rows as catalyst `UnsafeRow`s through one reused
    * `UnsafeRowWriter` + `copy()`: no `SerializeFromObject` encoder stage,
    * no Object[] + boxed ts/value per sample (the GenericInternalRow
    * variant measured 2.2x slower through the same pipeline, the
    * object-encoder one 4x). `series` holds the per-series strings,
    * converted to `UTF8String` ONCE per series: metric, canonical sname,
    * then one value per flattened tag key (null = tag absent). One writer
    * per task; not thread-safe. */
  private[io] final class FlatRowWriter(nTags: Int) {
    private val w = new UnsafeRowWriter(5 + nTags)

    def row(series: Array[UTF8String], ts: Long, value: Double,
            event: UTF8String): InternalRow = {
      w.reset()
      w.zeroOutNullBytes()
      w.write(0, series(0)); w.write(1, series(1)); w.write(2, ts)
      w.write(3, value)
      if (event == null) w.setNullAt(4) else w.write(4, event)
      var i = 0
      while (i < nTags) {
        if (series(2 + i) == null) w.setNullAt(5 + i)
        else w.write(5 + i, series(2 + i))
        i += 1
      }
      w.getRow.copy()
    }
  }

  /** [[FlatRowWriter]] output as a DataFrame of the flat schema (via
    * [[org.apache.spark.sql.graftio.InternalRows]]), sized
    * `sizeInBytes` for Catalyst when the caller knows its input bytes. */
  private[io] def flatFrame(spark: SparkSession,
                            rows: org.apache.spark.rdd.RDD[InternalRow],
                            tagKeys: Seq[String],
                            sizeInBytes: Option[BigInt] = None): DataFrame =
    org.apache.spark.sql.graftio.InternalRows.toDF(spark, rows,
      flatSchema(tagKeys), sizeInBytes)

  /** RESP sessions parsed straight to the flat layout schema — the ingest
    * fast path. The parser emits rows through [[FlatRowWriter]]. */
  def respFilesFlat(spark: SparkSession, path: String,
                    flattenTags: Seq[String] = Nil): DataFrame = {
    val tagKeys = flattenTags.toArray
    val rdd = sessionFiles(spark, path).flatMap { content =>
      // identity cache: dictionary sessions reuse one SeriesKey instance
      // per series; bounded so a dictionary-less session can't grow it
      val cache = new java.util.IdentityHashMap[SeriesKey, Array[UTF8String]]()
      val w = new FlatRowWriter(tagKeys.length)
      LineProtocol.parseRespWith[InternalRow](content, (k, ts, v, ev) => {
        var d = cache.get(k)
        if (d == null) {
          if (cache.size > 100000) cache.clear()
          d = (Iterator(k.metric, k.canonical) ++
            tagKeys.iterator.map(k.tags.get(_).orNull))
            .map(UTF8String.fromString).toArray
          cache.put(k, d)
        }
        w.row(d, ts, v, UTF8String.fromString(ev))
      })
    }
    flatFrame(spark, rdd, tagKeys)
  }

  /** Parse OpenTSDB telnet put lines (stateless -> line-parallel). */
  def openTsdbFiles(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.textFile(path).flatMap(l =>
      LineProtocol.parseOpenTsdb(l))(sampleEnc).toDF()
  }

  /** Parsed samples -> engine sample frame. */
  def toStore(parsed: DataFrame): TsStore =
    new TsStore(parsed.select(
      col("metric"), col("tags"), col("ts"),
      when(col("event").isNull, col("value")).as("value"),
      col("event")))

  val DayNs: Long = TsStore.DayNs

  /** Series-hash salts per (metric, day) bucket ([[writePrepared]]). */
  private[io] val SaltBuckets = 32

  /** Layout compression: LZ4 (raw frame) — measured both faster to
    * encode AND smaller than snappy on the sorted-run layout (the
    * reference's storage codec family too, compression.cpp LZ4 blocks).
    * zstd trades ~20% size for encode speed. */
  private val DefaultCodec = "lz4_raw"

  /** Write the partitioned/sorted layout. `flattenTags` lifts the listed
    * tag keys into `tag_<k>` string columns for predicate pushdown. */
  def writeLayout(samples: DataFrame, path: String,
                  flattenTags: Seq[String] = Nil,
                  bucketNs: Long = DayNs,
                  saltBuckets: Int = SaltBuckets): Unit =
    writePrepared(flattenTagMap(samples, flattenTags), path, bucketNs,
      Some(saltBuckets))

  /** The flat layout schema of a frame carrying the `tags` map: the
    * listed tag keys lifted into `tag_<k>` columns, the canonical `sname`
    * derived, the map dropped. The `tags` map is NOT stored: `sname`
    * carries the full tag set (the reference's series-id model,
    * seriesparser.cpp:389), so the shuffle payload and the parquet schema
    * stay flat — map<string,string> encoding was the most expensive part
    * of both. readLayout reconstructs the map lazily; flattened `tag_<k>`
    * columns carry the pushdown-relevant tags as real columns. Stateless
    * per row, so the streaming sink writes through it too. */
  private[graft] def flattenTagMap(df: DataFrame, flattenTags: Seq[String])
      : DataFrame =
    flattenTags
      .foldLeft(df) { (d, k) =>
        d.withColumn(s"tag_$k", try_element_at(col("tags"), lit(k)))
      }
      .withColumn("sname", TsStore.canonicalSname)
      .drop("tags")

  /** Parse RESP session files and write a fresh [[DayNs]] layout in one
    * pipeline — the full wire-to-storage ingest path (the analogue of the
    * reference's TCP server -> NB+tree write path). Uses the flat parse
    * ([[respFilesFlat]]): sname derived in the parser, no map column ever
    * materialized, and no salt: each task writes its own sorted runs. */
  def ingestResp(spark: SparkSession, inPath: String, outPath: String,
                 flattenTags: Seq[String] = Nil): Unit =
    writePrepared(respFilesFlat(spark, inPath, flattenTags), outPath,
      DayNs, None)

  /** Sidecar recording the layout's bucket width. Underscore-prefixed so
    * parquet directory listings skip it. The planner prunes `day=`
    * directories with `ts div bucketNs` — reading a layout with a
    * DIFFERENT width than it was written with silently drops rows, so
    * the width is persisted inside the layout (like `_ivf_centroids.txt`)
    * and [[readLayout]] picks it up by default. */
  private def bucketNsFile(path: String) = s"$path/_graft_bucket_ns"

  private[graft] def writeBucketNs(spark: SparkSession, path: String,
                                   bucketNs: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(bucketNsFile(path))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(bucketNs.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The persisted bucket width, or None for a fresh path or a layout
    * predating the sidecar (then [[DayNs]], the only width that existed). */
  def readBucketNs(spark: SparkSession, path: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(bucketNsFile(path))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
      Some(text.trim.toLong)
    }
  }

  /** Shared write tail: input already carries
    * `(metric, sname, ts, value [, event, tag_*])`.
    *
    * Two modes, both ending in per-file `(sname, ts)` sorted runs:
    *
    *  - `saltBuckets = Some(n)` (writeLayout, compactLayout and RunLog's
    *    compaction and fold): hash
    *    partitioning on (metric, day) + a series salt: write parallelism
    *    is NOT capped at the distinct (metric, day) count — a hot
    *    metric-day splits across `saltBuckets` tasks by series hash —
    *    with no range-sampling job, and each task writes contiguous
    *    sorted series runs into its partition dirs. One file per
    *    (metric, day, salt): the fully-clustered layout.
    *
    *  - `saltBuckets = None` ([[ingestResp]], the wire-ingest path): NO
    *    shuffle — each parse task sorts ITS slice and writes one sorted
    *    run per (metric, day) it touched. Parse -> sort -> parquet fuse
    *    into a single stage; the 8M-sample exchange (serialize + spill + read
    *    back, ~25% of the write wall) disappears. This is the LSM shape
    *    and the honest analogue of the reference's ingest (per-series
    *    append, no global sort at write time, input_log.cpp): sessions
    *    arrive partitioned by connection, runs land sorted, and
    *    [[compactLayout]] (the tree-maintenance analogue) re-clusters
    *    runs into the salted layout. File count = tasks x touched
    *    partitions, bounded at scale by routing/compaction cadence, not
    *    by the writer. */
  private[io] def writePrepared(df: DataFrame, path: String, bucketNs: Long,
                                saltBuckets: Option[Int]): Unit = {
    val withDay =
      df.withColumn("day", expr(s"ts div ${bucketNs}L")) // exact integer div:
      // double division would round ts (> 2^53) near bucket boundaries
    saltBuckets
      .fold(withDay)(n => withDay.repartition(col("metric"), col("day"),
        pmod(xxhash64(col("sname")), lit(n))))
      .sortWithinPartitions(col("metric"), col("day"), col("sname"), col("ts"))
      .write
      .partitionBy("metric", "day")
      .option("compression", DefaultCodec)
      // v2 data pages: DELTA_BINARY_PACKED for the sorted ts column —
      // both faster to encode and far smaller than v1's
      // dictionary-attempt-then-plain on high-cardinality longs
      .option("parquet.writer.version", "v2")
      // no dictionary pass: ~25% faster encode at IDENTICAL size on this
      // layout — sorted runs make v2's delta encodings (DELTA_BYTE_ARRAY
      // snames, DELTA_BINARY_PACKED ts) strictly better than a dict
      // attempt that gets abandoned per page; row-group min/max stats
      // (the pruning the reads rely on) don't involve the dictionary
      .option("parquet.enable.dictionary", "false")
      .mode("overwrite")
      .parquet(path)
    // written after the parquet commit (overwrite clears the directory),
    // like writeIvf's centroids: reader and writer can never disagree on
    // the bucket width
    writeBucketNs(df.sparkSession, path, bucketNs)
  }

  /** A layout directory as the flat frame its writers produced. Anything
    * else — a plain parquet directory, a layout in another schema — fails
    * here, naming the path, instead of deep inside a query plan. */
  private def readFlat(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    require(raw.columns.contains("sname"),
      s"$path is not a graft layout: no sname column " +
      s"(columns: ${raw.columns.mkString(", ")})")
    raw
  }

  /** The TsStore projection of a flat frame, shared by the layout
    * ([[readLayout]]) and the spooled runs (`RunLog.toStore`). Tags are
    * reconstructed from the canonical sname; queries that never touch
    * `tags` (flattened-tag filters, aggregates) prune the projection away
    * entirely. The stored sname rides along for consumers that need the
    * series identity (stats' distinct count), and so do the flattened
    * `tag_<k>` columns: the planner routes `where` predicates to them
    * (parquet pushdown) instead of the reconstructed map. `day` is kept
    * where the frame has it (the layout's partition column). */
  private[io] def storeFrame(flat: DataFrame): DataFrame = {
    val cols = flat.columns
    val eventCol =
      if (cols.contains("event")) col("event")
      else lit(null).cast("string").as("event")
    flat.select(Seq(col("metric"), TsStore.tagsOf(col("sname")).as("tags"),
      col("ts"), col("value"), eventCol) ++
      cols.filter(_ == TsStore.DayCol).map(col) ++
      Seq(col("sname")) ++
      cols.filter(_.startsWith("tag_")).map(col): _*)
  }

  /** The flattened tag keys of a flat frame's `tag_<k>` columns. */
  private[io] def tagKeysOf(columns: Seq[String]): Seq[String] =
    columns.filter(_.startsWith("tag_")).map(_.stripPrefix("tag_"))

  /** Read the layout back as a TsStore (partition pruning on
    * metric/day happens automatically from query predicates), bucketed
    * with the width its writer persisted ([[DayNs]] for layouts predating
    * the sidecar). Pass `seriesPath` (from [[writeSeriesFromLayout]]) to
    * serve metadata queries from the maintained dimension instead of the
    * fact table. */
  def readLayout(spark: SparkSession, path: String,
                 seriesPath: Option[String] = None): TsStore =
    new TsStore(storeFrame(readFlat(spark, path)),
      seriesPath.map(spark.read.parquet),
      readBucketNs(spark, path).getOrElse(DayNs))

  /** Compact an existing layout in place-shape: re-reads the flat files
    * and rewrites them salted + sorted, keeping the layout's persisted
    * bucket width and its `tag_<k>` columns. The streaming sink
    * (`StreamIngest.writeLayoutStream`) appends one small file per
    * micro-batch per partition with no cross-file clustering — over time
    * a day directory accumulates hundreds of files and per-series scans
    * lose their in-file locality. Compaction restores the batch layout
    * contract (salt-bucketed files, `(sname, ts)` sorted runs, v2 data
    * pages) — the analogue of the reference's tree maintenance. The
    * output goes to `outPath`; swap directories (or point readers at the
    * new path) after it commits, like any immutable-layout compactor. */
  def compactLayout(spark: SparkSession, inPath: String, outPath: String,
                    saltBuckets: Int = SaltBuckets): Unit =
    writePrepared(readFlat(spark, inPath).drop(TsStore.DayCol), outPath,
      readBucketNs(spark, inPath).getOrElse(DayNs), Some(saltBuckets))

  /** The `metric=…/day=…` partition directories under `root`, listed
    * lazily: a caller that needs one lists only the first directories. */
  private def dayDirs(fs: org.apache.hadoop.fs.FileSystem,
                      root: org.apache.hadoop.fs.Path)
      : Iterator[org.apache.hadoop.fs.FileStatus] = {
    def dirs(p: org.apache.hadoop.fs.Path, prefix: String) =
      fs.listStatus(p).iterator
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
    dirs(root, "metric=").flatMap(m => dirs(m.getPath, "day="))
  }

  /** The data files under `root`'s partition directories, listed lazily. */
  private[graft] def layoutDataFiles(fs: org.apache.hadoop.fs.FileSystem,
                                  root: org.apache.hadoop.fs.Path)
      : Iterator[org.apache.hadoop.fs.FileStatus] =
    dayDirs(fs, root).flatMap(d => fs.listStatus(d.getPath).iterator)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))

  /** Fails unless `keys` (what `whose` names) are the flattened tag keys
    * of the layout at `path`, if it has data. The layout's keys come from
    * its first data file's footer (a few listings, no Spark job): every
    * writer keeps one key set per layout. */
  private[graft] def requireTagKeys(spark: SparkSession, path: String,
                                    keys: Seq[String], whose: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    if (fs.exists(root)) layoutDataFiles(fs, root).nextOption().foreach { f =>
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      val schema = try footer.getFileMetaData.getSchema finally footer.close()
      val layoutKeys =
        tagKeysOf((0 until schema.getFieldCount).map(schema.getFieldName))
      require(layoutKeys.sorted == keys.sorted, s"layout $path has " +
        s"flattened tags ${layoutKeys.mkString("[", ",", "]")}, $whose " +
        keys.mkString("[", ",", "]"))
    }
  }

  /** Every `metric=…` / `day=…` partition directory of the layout:
    * (day id, path, bytes), via the Hadoop FS API so HDFS/S3 layouts
    * work unchanged. Listing cost is O(partition directories) — pure
    * namenode/metadata calls, no data read. */
  private def listDayDirs(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem,
         Seq[(Long, org.apache.hadoop.fs.Path, Long)]) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = dayDirs(fs, root).toSeq
      .map { s =>
        val day = s.getPath.getName.stripPrefix("day=").toLong
        (day, s.getPath, fs.getContentSummary(s.getPath).getLength)
      }
    (fs, dirs)
  }

  /** Per-day byte footprint of a layout, oldest day first — the store's
    * capacity ledger (one metadata listing, no data read). Lets callers
    * pick a byte budget with known consequences ("evicting day D frees
    * B bytes") the way the reference sizes its volume ring up front. */
  def layoutDayBytes(spark: SparkSession, path: String): Seq[(Long, Long)] = {
    val (_, dayDirs) = listDayDirs(spark, path)
    dayDirs.groupBy(_._1).toSeq
      .map { case (day, ds) => (day, ds.map(_._3).sum) }
      .sortBy(_._1)
  }

  /** Size-based retention over layout + write-head spool — "keep at most
    * `maxBytes` ON DISK, whatever is oldest goes first". The spool (WAL /
    * run files awaiting a fold) is the write head: its bytes COUNT toward
    * the cap but are never deleted, mirroring the reference's volume ring
    * where the WAL and the active volume are always retained and only
    * sealed volumes recycle (libakumuli/storage_engine/blockstore.cpp,
    * functests/test_volume_overflow.py). */
  def enforceRetention(spark: SparkSession, path: String, maxBytes: Long,
                       spoolPath: String): Seq[Long] = {
    val sp = new org.apache.hadoop.fs.Path(spoolPath)
    val fs = sp.getFileSystem(spark.sessionState.newHadoopConf())
    val spoolBytes =
      if (fs.exists(sp)) fs.getContentSummary(sp).getLength else 0L
    enforceRetention(spark, path, math.max(0L, maxBytes - spoolBytes))
  }

  /** Retention enforcement — the Spark analogue of the reference's
    * fixed-volume rotation (test_database_overflow.py: when volumes
    * fill, the OLDEST data disappears and reads return a contiguous
    * recent suffix). Drops whole `day=` partition directories, oldest
    * day first across all metrics, until the layout fits `maxBytes`.
    * Day granularity mirrors volume granularity: a reader never sees a
    * torn day, and queries keep partition-pruning against the surviving
    * directories. Uses the Hadoop FS API, so HDFS/S3 layouts work
    * unchanged. Returns the dropped day ids (oldest first). */
  def enforceRetention(spark: SparkSession, path: String,
                       maxBytes: Long): Seq[Long] = {
    val (fs, dayDirs) = listDayDirs(spark, path)
    val byDay = dayDirs.groupBy(_._1).toSeq.sortBy(_._1) // oldest first
    var excess = dayDirs.map(_._3).sum - maxBytes
    val dropped = scala.collection.mutable.ArrayBuffer[Long]()
    val it = byDay.iterator
    while (excess > 0 && it.hasNext) {
      val (day, dirs) = it.next()
      // never drop the newest remaining day, however large: the
      // reference's circular volumes always retain the write head
      if (it.hasNext) {
        dirs.foreach { case (_, p, _) => fs.delete(p, true) }
        excess -= dirs.map(_._3).sum
        dropped += day
      }
    }
    dropped.toSeq
  }

  /** Time-based retention — "keep the last N days": drops every bucket
    * partition whose ENTIRE time range lies before `cutoffNs`. The
    * bucket containing the cutoff survives whole (same never-a-torn-day
    * rule as [[enforceRetention]]); with a cutoff on a bucket boundary
    * the surviving data is exactly `ts >= cutoffNs`. The bucket width
    * comes from the layout's own persisted sidecar, so non-default
    * widths evict on their own boundaries. Complements the size-based
    * variant the way the reference pairs volume count with volume size
    * (test_volume_overflow.py drives the same oldest-first reclaim).
    * Returns the dropped bucket ids (oldest first). */
  def enforceRetentionBefore(spark: SparkSession, path: String,
                             cutoffNs: Long): Seq[Long] = {
    val width = readBucketNs(spark, path).getOrElse(DayNs)
    // floorDiv: a pre-epoch cutoff must round DOWN to its bucket
    val cutoffDay = Math.floorDiv(cutoffNs, width)
    val (fs, dayDirs) = listDayDirs(spark, path)
    val doomed = dayDirs.filter(_._1 < cutoffDay).sortBy(_._1)
    doomed.foreach { case (_, p, _) => fs.delete(p, true) }
    doomed.map(_._1).distinct
  }

  /** The series dimension table `(metric, tags, tagstr)`, persisted
    * alongside the facts so suggest/search/meta queries are O(series) not
    * O(samples) (reference SeriesMatcher, seriesparser.h:74-140), derived
    * from an already-written layout: reads only the (metric, sname)
    * columns — a column-pruned scan, far cheaper than re-parsing the wire
    * input — and reconstructs the tag map from the canonical sname.
    * Distributed: dropDuplicates shuffles on the key and each reducer
    * writes its slice — no single-task bottleneck at 10^8 series. */
  def writeSeriesFromLayout(spark: SparkSession, layoutPath: String,
                            seriesPath: String): Unit = {
    val tagstr = when(instr(col("sname"), " ") > 0,
      expr("substring(sname, instr(sname, ' ') + 1)")).otherwise(lit(""))
    spark.read.parquet(layoutPath)
      .select(col("metric"), col("sname"))
      .dropDuplicates("sname")
      .select(col("metric"), TsStore.tagsOf(col("sname")).as("tags"),
        tagstr.as("tagstr"))
      .write.mode("overwrite").parquet(seriesPath)
  }
}
