package graft.io

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.SeriesKey
import graft.plan.TsStore

/** Delta-encoded binary run log — the ingest-side WAL analogue of the
  * reference's input log (akumulid/storage_engine/input_log.cpp: per-shard
  * LZ4-framed logs of (id, ts, value) entries with series-name frames,
  * replayed into the tree by storage maintenance). This is the fast half
  * of the reference's WAL-then-tree write architecture re-expressed for
  * Spark:
  *
  *  - [[spoolResp]] parses RESP sessions and lands the samples in
  *    per-task run files at near-parse speed — no shuffle, no sort, no
  *    columnar encode on the hot path. Each run file is self-describing
  *    (series dictionary frames interleaved with delta-encoded samples)
  *    and atomically published, the same validated-prefix contract as the
  *    wire spool.
  *  - [[readRuns]] decodes runs back to the flat layout frame through
  *    [[Ingest]]'s one flat schema and row writer, the ones
  *    [[Ingest.respFilesFlat]] parses into.
  *  - [[compactRuns]] (full rebuild) and [[foldRuns]] (incremental,
  *    crash-safe) re-cluster runs into the partitioned/sorted query
  *    layout through [[Ingest]]'s write tail — the tree-maintenance
  *    analogue, run on whatever cadence the deployment wants.
  *  - [[toStore]] serves queries over not-yet-compacted runs with the
  *    same TsStore projection as [[Ingest.readLayout]]; [[liveStore]]
  *    unions it with the layout's store for the live view.
  *
  * Runs carry their tag keys (header) and a layout its width (sidecar):
  * reads, folds and recovery take the shape from the files.
  *
  * Format (all integers var-length except raw double bits):
  * `GRUN1` magic, varint tag-key count + tag keys; then frames:
  * 0x01 series: varint sid, metric, sname, per-key nullable tag values;
  * 0x02 sample: varint sid, zigzag ts-delta (per series), raw double bits;
  * 0x03 event:  varint sid, zigzag ts-delta, UTF-8 body.
  * Per-series ts deltas make timestamps ~2 bytes at typical cadences
  * (the reference's input log stores raw u64s and leans on LZ4; varint
  * deltas are smaller before compression even starts).
  */
object RunLog {

  private val Magic = Array[Byte]('G', 'R', 'U', 'N', '1')

  // ---- varint codec ------------------------------------------------------

  private[graft] def writeVarLong(out: DataOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) {
      out.writeByte(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.writeByte(v.toInt)
  }

  private[graft] def readVarLong(in: DataInputStream): Long = {
    var shift = 0; var acc = 0L
    var b = in.readUnsignedByte()
    while ((b & 0x80) != 0) {
      acc |= (b & 0x7fL) << shift; shift += 7
      b = in.readUnsignedByte()
    }
    acc | (b.toLong << shift)
  }

  private[graft] def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  private[graft] def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1)

  private def writeStr(out: DataOutputStream, s: String): Unit = {
    val bs = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    writeVarLong(out, bs.length.toLong)
    out.write(bs)
  }

  private def readStr(in: DataInputStream): String = {
    val len = readVarLong(in).toInt
    val bs = new Array[Byte](len)
    in.readFully(bs)
    new String(bs, java.nio.charset.StandardCharsets.UTF_8)
  }

  // ---- write -------------------------------------------------------------

  /** Parse RESP session files and spool the samples into run files under
    * `outDir`, one file per task, written through the Hadoop FS API
    * (HDFS/S3/local unchanged) and atomically published (`.tmp.` prefix
    * until closed — the wire spool's validated-prefix discipline).
    * Returns the sample count. This is the timed ingest write path:
    * everything downstream (salting, sorting, columnar encode) belongs to
    * [[compactRuns]], exactly like the reference's 16.1M/s number pays
    * for the input log + in-memory tree but not for volume flushes. */
  def spoolResp(spark: SparkSession, inPath: String, outDir: String,
                flattenTags: Seq[String] = Nil): Long = {
    val tagKeys = flattenTags.toArray
    val sconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // Run nonce generated ONCE on the driver: every attempt of a
    // partition publishes to the SAME final name, so a task retry or
    // speculative duplicate re-publishes identical bytes instead of
    // adding a second file — a per-attempt nonce would silently
    // double-count the partition in readRuns. Distinct spoolResp calls
    // into one directory still get distinct names via the nonce.
    val runNonce = java.lang.Long.toHexString(
      System.currentTimeMillis() ^ System.nanoTime())
    val counts = Ingest.sessionFiles(spark, inPath)
      .mapPartitionsWithIndex { (pid, it) =>
        if (it.isEmpty) Iterator.single(0L)
        else {
          val attempt = java.util.UUID.randomUUID().toString.take(8)
          val dir = new org.apache.hadoop.fs.Path(outDir)
          val fs = dir.getFileSystem(sconf.value)
          val tmp = new org.apache.hadoop.fs.Path(dir,
            s".tmp.run-$runNonce-$pid-$attempt")
          val fin = new org.apache.hadoop.fs.Path(dir,
            s"run-$runNonce-$pid.grun")
          val out = new DataOutputStream(new BufferedOutputStream(
            fs.create(tmp, true), 1 << 20))
          var n = 0L
          try {
            out.write(Magic)
            writeVarLong(out, tagKeys.length.toLong)
            tagKeys.foreach(writeStr(out, _))
            // identity cache like respFilesFlat: dictionary sessions reuse
            // one SeriesKey instance per series; state = (sid, lastTs)
            val sids = new java.util.IdentityHashMap[SeriesKey, Array[Long]]()
            var nextSid = 0L
            it.foreach { content =>
              LineProtocol.parseRespWith[Unit](content, (k, ts, v, ev) => {
                var st = sids.get(k)
                if (st == null) {
                  if (sids.size > 100000) sids.clear()
                  st = Array(nextSid, 0L); nextSid += 1
                  sids.put(k, st)
                  out.writeByte(0x01)
                  writeVarLong(out, st(0))
                  writeStr(out, k.metric)
                  writeStr(out, k.canonical)
                  var i = 0
                  while (i < tagKeys.length) {
                    k.tags.get(tagKeys(i)) match {
                      case Some(tv) => out.writeByte(1); writeStr(out, tv)
                      case None     => out.writeByte(0)
                    }
                    i += 1
                  }
                }
                if (ev == null) {
                  out.writeByte(0x02)
                  writeVarLong(out, st(0))
                  writeVarLong(out, zigzag(ts - st(1)))
                  out.writeLong(java.lang.Double.doubleToRawLongBits(v))
                } else {
                  // events carry their value bits too (the parser emits
                  // NaN there): the run must be BIT-identical to the
                  // direct parse, not merely equivalent
                  out.writeByte(0x03)
                  writeVarLong(out, st(0))
                  writeVarLong(out, zigzag(ts - st(1)))
                  out.writeLong(java.lang.Double.doubleToRawLongBits(v))
                  writeStr(out, ev)
                }
                st(1) = ts
                n += 1
              }).foreach(_ => ())
            }
          } finally out.close()
          // first attempt to rename wins; a losing attempt's target was
          // already published with identical content (same partition,
          // deterministic encoding) — drop the temp and succeed
          if (!fs.rename(tmp, fin)) {
            if (!fs.exists(fin))
              throw new java.io.IOException(s"run publish failed: $tmp -> $fin")
            fs.delete(tmp, false)
          }
          Iterator.single(n)
        }
      }.sum().toLong
    counts
  }

  // ---- read --------------------------------------------------------------

  /** Decode the servable runs back into the flat layout frame
    * `(metric, sname, ts, value, event, tag_<k>...)` — the schema and row
    * writer [[Ingest.respFilesFlat]] uses, so the result feeds
    * [[Ingest]]'s write tail or a [[TsStore]] directly. Tag keys come
    * from the run headers ([[readRunFiles]]). */
  def readRuns(spark: SparkSession, path: String): DataFrame =
    readRunFiles(spark, listServableRuns(spark, path))

  /** Every run a READER should see: the published spool plus any runs
    * staged under `.folding/` by an in-flight (or crashed) fold — those
    * stay visible until the fold retires them, so serving never has a
    * gap while a fold's Spark job runs. The fold itself snapshots
    * [[listRuns]] (top level only): staged files belong to their own
    * fold, never to a new one. */
  def listServableRuns(spark: SparkSession, path: String): Seq[FileStatus] = {
    val base = new org.apache.hadoop.fs.Path(s"$path/.folding")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged =
      if (!fs.exists(base)) Seq.empty
      else fs.listStatus(base).toSeq.filter(_.isDirectory)
        .flatMap(d => runFilesIn(fs, d.getPath))
    (listRuns(spark, path) ++ staged).sortBy(_.getPath.toString)
  }

  /** Snapshot of the published run files under `path`, sorted. The
    * snapshot is the unit of the fold protocol: [[foldRuns]] compacts
    * and retires exactly one snapshot, so runs published concurrently
    * are untouched and picked up by the next cycle. */
  def listRuns(spark: SparkSession, path: String): Seq[FileStatus] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    // a MISSING spool directory throws (a typo'd path must not read as
    // "zero runs" — compactRuns would overwrite a layout with nothing);
    // an existing-but-empty one is a legitimate drained spool
    runFilesIn(hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  /** The run files directly under `dir`, sorted by path; their statuses
    * carry the lengths [[readRunFiles]] sizes its frame by. */
  private def runFilesIn(fs: org.apache.hadoop.fs.FileSystem,
                         dir: org.apache.hadoop.fs.Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".grun"))
      .sortBy(_.getPath.toString)

  /** A run's header: the magic, then the tag keys it was spooled with. */
  private def readHeader(in: DataInputStream, p: String): Seq[String] = {
    val magic = new Array[Byte](Magic.length)
    in.readFully(magic)
    require(java.util.Arrays.equals(magic, Magic), s"bad run magic: $p")
    Seq.fill(readVarLong(in).toInt)(readStr(in))
  }

  /** The tag keys of the run file `p` (one small open). */
  private def runTagKeys(spark: SparkSession, p: String): Seq[String] = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val in = new DataInputStream(new BufferedInputStream(
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).open(hp)))
    try readHeader(in, p) finally in.close()
  }

  /** Decode an explicit run-file snapshot (see [[readRuns]]), one task
    * per file up to the cluster parallelism, with the first file's tag
    * keys: a file spooled with others fails, naming it. The frame's
    * Catalyst size estimate is the files' bytes on disk, as listed. */
  def readRunFiles(spark: SparkSession, runs: Seq[FileStatus]): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val runFiles = runs.map(_.getPath.toString)
    val tagKeys = runFiles.headOption.fold(Seq.empty[String])(runTagKeys(spark, _))
    val bytes = runs.iterator.map(_.getLen).sum
    val nTags = tagKeys.length
    val sconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val rdd = spark.sparkContext
      .parallelize(runFiles, math.max(1,
        math.min(spark.sparkContext.defaultParallelism, runFiles.size)))
      .flatMap[InternalRow] { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(sconf.value)
        val in = new DataInputStream(new BufferedInputStream(
          fs.open(hp), 1 << 20))
        // a downstream limit() can abandon the iterator mid-file: close
        // with the task, not only at EOF (double-close is a no-op)
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit](_ => in.close())
        val fileTagKeys = readHeader(in, p)
        require(fileTagKeys == tagKeys,
          s"run $p spooled with tag keys [${fileTagKeys.mkString(",")}], " +
          s"its snapshot with [${tagKeys.mkString(",")}]")
        // sid -> (interned strings, lastTs)
        val dict = new java.util.HashMap[Long, (Array[UTF8String], Array[Long])]()
        val w = new Ingest.FlatRowWriter(nTags)
        new Iterator[InternalRow] {
          private var nextRow: InternalRow = _
          private var done = false
          private def advance(): Unit = try {
            while (nextRow == null && !done) {
              val tag = in.read()
              if (tag < 0) { done = true; in.close() }
              else tag match {
                case 0x01 =>
                  val sid = readVarLong(in)
                  val d = new Array[UTF8String](2 + nTags)
                  d(0) = UTF8String.fromString(readStr(in))
                  d(1) = UTF8String.fromString(readStr(in))
                  var i = 0
                  while (i < nTags) {
                    d(2 + i) =
                      if (in.readByte() == 1) UTF8String.fromString(readStr(in))
                      else null
                    i += 1
                  }
                  dict.put(sid, (d, Array(0L)))
                case 0x02 | 0x03 =>
                  val sid = readVarLong(in)
                  val st = dict.get(sid)
                  require(st != null, s"run $p: sample before series $sid")
                  val ts = st._2(0) + unzigzag(readVarLong(in))
                  st._2(0) = ts
                  val v = java.lang.Double.longBitsToDouble(in.readLong())
                  nextRow = w.row(st._1, ts, v,
                    if (tag == 0x02) null
                    else UTF8String.fromString(readStr(in)))
                case other =>
                  in.close()
                  throw new IllegalStateException(s"run $p: bad frame $other")
              }
            }
          } catch {
            // publish is atomic, so a mid-frame EOF means real corruption
            // — fail loudly WITH the file path, not a bare EOFException
            case _: EOFException =>
              in.close()
              throw new IllegalStateException(
                s"corrupt run file (truncated mid-frame): $p")
          }
          def hasNext: Boolean = { advance(); nextRow != null }
          def next(): InternalRow = {
            advance()
            if (nextRow == null) throw new NoSuchElementException
            val r = nextRow; nextRow = null; r
          }
        }
      }
    Ingest.flatFrame(spark, rdd, tagKeys, Some(BigInt(bytes)))
  }

  /** Rebuild spooled runs into a fresh [[Ingest.DayNs]] query layout —
    * the tree-maintenance half of the WAL-then-tree shape. Same output as
    * [[Ingest.ingestResp]] over the original wire input. */
  def compactRuns(spark: SparkSession, runsPath: String,
                  layoutPath: String): Unit = {
    val snapshot = listRuns(spark, runsPath)
    // this is a REBUILD (overwrite): compacting an empty spool would
    // replace the target layout with nothing — refuse instead
    require(snapshot.nonEmpty,
      s"no run files under $runsPath — refusing to overwrite $layoutPath " +
      "with an empty layout (use foldRuns for incremental maintenance)")
    Ingest.writePrepared(readRunFiles(spark, snapshot), layoutPath,
      Ingest.DayNs, Some(Ingest.SaltBuckets))
  }

  /** Incremental compaction with retirement — the recurring maintenance
    * cycle of the WAL-then-tree shape, CRASH-SAFE at every step
    * (reference: test_kill.py / test_wal_recovery.py — a SIGKILL at any
    * point must cost zero samples and create zero permanent duplicates).
    *
    * Protocol (each step leaves a durable breadcrumb the next call can
    * resume from — see [[recoverFolds]]):
    *   1. atomically MOVE the snapshot into `runs/.folding/<foldId>/`
    *      (staged runs stay servable — [[listServableRuns]] — so readers
    *      never see a gap mid-fold);
    *   2. write the fold's parquet to `layout/.foldout/<foldId>` in
    *      OVERWRITE mode (re-runnable after any crash);
    *   3. record every landing target in `_folds/<foldId>.inflight`
    *      BEFORE moving anything (a retry rolls the partial landing back
    *      by exactly this list, then regenerates);
    *   4. land each file by rename under its `fold-<foldId>-` name;
    *   5. create the `_folds/<foldId>` done-marker (the commit point);
    *   6. retire: delete foldout, staging, marker.
    * A crash before 5 ⇒ recovery rolls back and redoes (the layout never
    * double-counts); after 5 ⇒ recovery just retires. The only reader-
    * visible anomaly is the historical transient one: a query executing
    * across steps 4-6 can see folded samples twice (the reference has
    * the same window when the input log recycles into the tree).
    *
    * Tag keys come from the run headers and the width from the layout
    * ([[Ingest.DayNs]] for a fresh one). `flattenTags` must equal the
    * runs' keys, and those the layout's; both are checked before
    * anything is staged.
    *
    * Runs published while the fold is writing are untouched and served
    * live until the next cycle. Returns the retired files. */
  def foldRuns(spark: SparkSession, runsPath: String, layoutPath: String,
               flattenTags: Seq[String] = Nil): Seq[String] = {
    // finish any interrupted fold FIRST: its staged runs land before the
    // new snapshot, preserving fold ordering
    recoverFolds(spark, runsPath, layoutPath)
    val snapshot = listRuns(spark, runsPath)
    if (snapshot.nonEmpty) {
      val fs = new org.apache.hadoop.fs.Path(runsPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // tag-key agreement: appended files with different tag_ columns
      // would read as all-NULL tags for every folded row (no mergeSchema
      // on the read side)
      val keys = runTagKeys(spark, snapshot.head.getPath.toString)
      require(keys.sorted == flattenTags.sorted,
        s"runs under $runsPath spooled with tag keys [${keys.mkString(",")}]" +
        s", fold called with [${flattenTags.mkString(",")}]")
      Ingest.requireTagKeys(spark, layoutPath, keys,
        s"runs under $runsPath spooled with")
      // sortable id: recovery processes crashed folds oldest-first
      val foldId = f"${System.currentTimeMillis()}%013d-" +
        java.lang.Long.toHexString(System.nanoTime())
      val staging =
        new org.apache.hadoop.fs.Path(s"$runsPath/.folding/$foldId")
      fs.mkdirs(staging)
      snapshot.map(_.getPath).foreach { p =>
        if (!fs.rename(p,
            new org.apache.hadoop.fs.Path(staging, p.getName)) &&
            fs.exists(p))
          throw new java.io.IOException(s"failed to stage run file $p")
      }
      runFold(spark, staging, layoutPath)
    }
    snapshot.map(_.getPath.toString)
  }

  /** Resume every fold a crashed process left under `runs/.folding/`,
    * oldest first: committed folds (done-marker present) are retired,
    * uncommitted ones are rolled back by their inflight manifest and
    * redone. [[foldRuns]] calls this automatically; call it directly on
    * service start to drain crash debris before the first query. Like
    * the fold, the redo takes its shape from the staged runs and the
    * layout. Both refuse a layout a stream sink writes (it holds
    * `_spark_metadata`). Returns the recovered fold ids. */
  def recoverFolds(spark: SparkSession, runsPath: String,
                   layoutPath: String): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(s"$runsPath/.folding")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a stream sink's log is the only listing readers of its path use:
    // files a fold lands there would never be read
    val sinkLog = new org.apache.hadoop.fs.Path(layoutPath,
      org.apache.spark.sql.execution.streaming.sinks.FileStreamSink.metadataDir)
    require(!sinkLog.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(sinkLog), s"layout $layoutPath is a stream sink's " +
      s"output ($sinkLog): folded files would be hidden from every read")
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.filter(_.isDirectory)
      .sortBy(_.getPath.getName).map { d =>
        runFold(spark, d.getPath, layoutPath)
        d.getPath.getName
      }
  }

  /** Steps 2-6 of the fold protocol over one staged snapshot; safe to
    * re-run after a crash at ANY point (see [[foldRuns]]). */
  private def runFold(spark: SparkSession,
                      staging: org.apache.hadoop.fs.Path,
                      layoutPath: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val foldId = staging.getName
    val marker = new Path(s"$layoutPath/_folds/$foldId")
    val manifest = new Path(s"$layoutPath/_folds/$foldId.inflight")
    val outDir = new Path(s"$layoutPath/.foldout/$foldId")
    val staged = runFilesIn(fs, staging)
    if (!fs.exists(marker) && staged.nonEmpty) {
      // roll back a previous attempt's partial landing — exactly the
      // files its manifest promised, no layout-wide scan
      if (fs.exists(manifest)) {
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          fs.open(manifest), java.nio.charset.StandardCharsets.UTF_8))
        try Iterator.continually(in.readLine()).takeWhile(_ != null)
          .filter(_.nonEmpty)
          .foreach(t => fs.delete(new Path(t), false))
        finally in.close()
        fs.delete(manifest, false)
      }
      // regenerate the fold output (overwrite mode — re-runnable)
      val width = Ingest.readBucketNs(spark, layoutPath)
      Ingest.writePrepared(readRunFiles(spark, staged), outDir.toString,
        width.getOrElse(Ingest.DayNs), Some(Ingest.SaltBuckets))
      // plan the landing and persist it BEFORE moving anything
      val moves = Ingest.layoutDataFiles(fs, outDir).map { f =>
        val day = f.getPath.getParent
        (f.getPath, new Path(s"$layoutPath/${day.getParent.getName}/" +
          s"${day.getName}/fold-$foldId-${f.getPath.getName}"))
      }.toSeq
      val mo = fs.create(manifest, true)
      try mo.write(moves.map(_._2.toString).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally mo.close()
      // land: per-file renames under deterministic fold-scoped names
      moves.foreach { case (src, dst) =>
        fs.mkdirs(dst.getParent)
        if (!fs.rename(src, dst) && !fs.exists(dst))
          throw new java.io.IOException(
            s"failed to land fold file $src -> $dst")
      }
      // first fold into a fresh layout: stamp the width sidecar
      if (width.isEmpty) Ingest.writeBucketNs(spark, layoutPath, Ingest.DayNs)
      fs.create(marker, true).close() // the commit point
      fs.delete(manifest, false)
    }
    // retire — after this the staged runs stop being served and the
    // transient double-visibility window closes
    fs.delete(outDir, true)
    fs.delete(staging, true)
    fs.delete(marker, false) // fold ids are never reused; stale-safe
  }

  /** The complete live view: compacted layout UNION not-yet-compacted
    * runs — the serving shape of the reference's tree + input-log pair
    * (reads see spooled data immediately; compaction later folds it into
    * the clustered layout with no visible change). The runs side derives
    * its `day` column with the LAYOUT's persisted bucket width and must
    * carry the layout's tag keys, so both legs plan identically; the
    * series dimension is derived from the union (a maintained dimension
    * would not know about spooled-only series). */
  def liveStore(spark: SparkSession, layoutPath: String,
                runsPath: String): TsStore = {
    val base = Ingest.readLayout(spark, layoutPath)
    val runFiles = listServableRuns(spark, runsPath)
    if (runFiles.isEmpty) base
    else {
      val runs = readRunFiles(spark, runFiles)
      val runKeys = Ingest.tagKeysOf(runs.columns.toSeq).sorted
      val layoutKeys = Ingest.tagKeysOf(base.samples.columns.toSeq).sorted
      require(runKeys == layoutKeys, s"runs under $runsPath have tag keys" +
        s" [${runKeys.mkString(",")}], layout $layoutPath has " +
        layoutKeys.mkString("[", ",", "]"))
      new TsStore(base.samples.unionByName(Ingest.storeFrame(runs)
        .withColumn(TsStore.DayCol, expr(s"ts div ${base.bucketNs}L"))),
        None, base.bucketNs)
    }
  }

  /** Query view over not-yet-compacted runs: the live-serving analogue of
    * the reference's in-memory tree (data is queryable the moment the
    * spool publishes, before any compaction). Union with the compacted
    * layout's store for the full view ([[liveStore]]). */
  def toStore(spark: SparkSession, runsPath: String): TsStore =
    new TsStore(Ingest.storeFrame(readRuns(spark, runsPath)))
}
