package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, map}
import org.apache.spark.sql.streaming.OutputMode

import graft.sources.TestData
import graft.streaming.StreamIngest

/** Structured Streaming ingest + continuous aggregation
  * (reference behaviors: functests/test_continuous_queries.py). */
class StreamingSpec extends SparkFunSuite {

  test("streaming OpenTSDB parse + continuous group-aggregate") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val input = MemoryStream[String]
    val parsed = StreamIngest.parseOpenTsdbStream(input.toDS())
    val agg = StreamIngest.continuousGroupAggregate(parsed,
      stepNs = 10L * 1000000000L)
    val query = agg.writeStream
      .format("memory").queryName("cga")
      .outputMode(OutputMode.Update)
      .start()
    try {
      // 4 points in bucket [1418197420s,1418197430s), 1 bad line dropped
      input.addData(
        "put cpu 1418197421 1.0 host=a",
        "put cpu 1418197423 3.0 host=a",
        "put cpu 1418197425 5.0 host=a",
        "put cpu 1418197429 7.0 host=a",
        "not a put line at all")
      query.processAllAvailable()
      val got = spark.sql(
        "SELECT sname, bucket_ts, min, max, sum, count FROM cga").collect()
      assert(got.length == 1)
      val r = got.head
      assert(r.getString(0) == "cpu host=a")
      assert(r.getLong(1) == 1418197420L * 1000000000L)
      assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 7.0)
      assert(r.getDouble(4) == 16.0 && r.getDouble(5) == 4.0)
    } finally query.stop()
  }

  test("checkpointed layout sink survives restart without duplicates") {
    import java.nio.file.Files
    val dir = new java.io.File(TestData.freshScratch("graft-stream"))
    val in = new java.io.File(dir, "in"); in.mkdirs()
    val out = new java.io.File(dir, "out").getAbsolutePath
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    def writeBatch(name: String, lines: Seq[String]): Unit =
      Files.write(new java.io.File(in, name).toPath, lines.mkString("\n").getBytes)
    def startQuery() = {
      val lines = spark.readStream.textFile(in.getAbsolutePath)
      val parsed = StreamIngest.parseOpenTsdbStream(lines)
      StreamIngest.writeLayoutStream(parsed, out, ckpt).start()
    }
    writeBatch("b1.txt", (0 until 5).map(i => s"put cpu ${1000 + i} $i.0 host=a"))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).count() == 5)
    // restart from the same checkpoint; only the new file is processed
    writeBatch("b2.txt", (5 until 8).map(i => s"put cpu ${1000 + i} $i.0 host=a"))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.parquet(out)
    assert(rows.count() == 8) // exactly once: no replay of batch 1
    assert(rows.select("ts").distinct().count() == 8)
  }

  test("RESP session stream: dictionary scope, restart without duplicates") {
    import java.nio.file.Files
    val dir = new java.io.File(TestData.freshScratch("graft-resp-stream"))
    val in = new java.io.File(dir, "in"); in.mkdirs()
    val out = new java.io.File(dir, "out").getAbsolutePath
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    def session(name: String, ids: Range): Unit = {
      // per-session dictionary, then :id data points (the reference's
      // high-throughput wire shape)
      val dict = Seq("*2", "+cpu host=a", ":7")
      val points = ids.flatMap(i =>
        Seq(":7", s":${1000000000L * i}", s"+$i.5"))
      Files.write(new java.io.File(in, name).toPath,
        (dict ++ points).mkString("\n").getBytes)
    }
    def startQuery() = StreamIngest.writeLayoutStream(
      StreamIngest.respFileStream(spark, in.getAbsolutePath), out, ckpt).start()
    session("s1.resp", 0 until 5)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).count() == 5)
    // restart on the same checkpoint: only the new session is processed
    session("s2.resp", 5 until 8)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.parquet(out)
    assert(rows.count() == 8)
    assert(rows.select("ts").distinct().count() == 8)
    val vals = rows.select("value").collect().map(_.getDouble(0)).sorted
    assert(vals.toSeq == (0 until 8).map(_ + 0.5))
  }

  test("live TCP wire feeds the streaming layout sink end-to-end") {
    // the full production topology: sockets -> WireIngest spool (atomic
    // session publish) -> file-source RESP stream -> checkpointed layout
    import java.nio.file.Files
    val dir = new java.io.File(TestData.freshScratch("graft-wire-stream"))
    val spool = new java.io.File(dir, "spool")
    val out = new java.io.File(dir, "out").getAbsolutePath
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    val srv = new graft.io.WireIngest(spool)
    srv.start()
    try {
      def send(ids: Range): Unit = {
        val sock = new java.net.Socket("127.0.0.1", srv.tcpBoundPort)
        val body = ids.map(i =>
          s"+cpu host=h${i % 2}\r\n:${1000000000L * i}\r\n:$i\r\n").mkString
        sock.getOutputStream.write(
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        sock.close()
      }
      send(0 until 6)
      send(6 until 10)
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (spool.listFiles().count(_.getName.endsWith(".resp")) < 2 &&
             System.nanoTime() < deadline) Thread.sleep(20)
      val q = StreamIngest.writeLayoutStream(
        StreamIngest.respFileStream(spark, spool.getAbsolutePath), out, ckpt)
        .start()
      try {
        q.processAllAvailable()
        assert(spark.read.parquet(out).count() == 10)
        send(10 until 13) // live tail while the query runs
        val d2 = System.nanoTime() + 10L * 1000000000L
        while (spool.listFiles().count(_.getName.endsWith(".resp")) < 3 &&
               System.nanoTime() < d2) Thread.sleep(20)
        q.processAllAvailable()
        val rows = spark.read.parquet(out)
        assert(rows.count() == 13)
        assert(rows.select("value").collect().map(_.getDouble(0)).sorted.toSeq
          == (0 until 13).map(_.toDouble))
      } finally q.stop()
    } finally srv.stop()
  }

  test("compaction collapses micro-batch files into the sorted batch layout") {
    import java.nio.file.Files
    val dir = new java.io.File(TestData.freshScratch("graft-compact"))
    val in = new java.io.File(dir, "in"); in.mkdirs()
    val out = new java.io.File(dir, "out").getAbsolutePath
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    val compacted = new java.io.File(dir, "compacted").getAbsolutePath
    def session(name: String, ids: Range): Unit =
      Files.write(new java.io.File(in, name).toPath,
        ids.flatMap(i => Seq(s"+cpu host=h${i % 2}",
          s":${1000000000L * i}", s":$i")).mkString("\n").getBytes)
    // several micro-batches -> several small files per partition dir
    val q = StreamIngest.writeLayoutStream(
      StreamIngest.respFileStream(spark, in.getAbsolutePath), out, ckpt,
      flattenTags = Seq("host")).start()
    try {
      for (b <- 0 until 4) {
        session(s"s$b.resp", b * 10 until (b + 1) * 10)
        q.processAllAvailable()
      }
    } finally q.stop()
    def parquetFiles(p: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
      walk(new java.io.File(p)).count(_.getName.endsWith(".parquet"))
    }
    val before = parquetFiles(out)
    assert(before >= 4, s"expected one file per micro-batch, saw $before")
    graft.io.Ingest.compactLayout(spark, out, compacted, saltBuckets = 1)
    assert(parquetFiles(compacted) < before)
    // identical sample set through the normal read path, flat schema
    val st = graft.io.Ingest.readLayout(spark, compacted)
    assert(st.samples.count() == 40)
    assert(st.samples.selectExpr("sum(value)").head.getDouble(0) ==
      (0 until 40).sum.toDouble)
    assert(spark.read.parquet(compacted).columns.contains("tag_host"))
  }

  test("the streaming sink refuses a batch layout, keeps an empty one's width") {
    import java.nio.file.Files
    val dir = new java.io.File(TestData.freshScratch("graft-stream-hourly"))
    val in = new java.io.File(dir, "in"); in.mkdirs()
    val batch = new java.io.File(dir, "batch").getAbsolutePath
    val hour = 3600L * 1000000000L
    def rows(n: Int) = spark.range(n).select(lit("cpu").as("metric"),
      map(lit("host"), lit("h0")).as("tags"), (col("id") * hour).as("ts"),
      col("id").cast("double").as("value"),
      lit(null).cast("string").as("event"))
    graft.io.Ingest.writeLayout(rows(4), batch, flattenTags = Seq("host"),
      bucketNs = hour, saltBuckets = 1)
    Files.write(new java.io.File(in, "s.resp").toPath,
      (0 until 10).flatMap(i => Seq("+cpu host=h1",
        s":${5 * hour + i * 1000000000L}", s":${100 + i}"))
        .mkString("\n").getBytes)
    def stream(layout: String, tags: Seq[String]) =
      StreamIngest.writeLayoutStream(
        StreamIngest.respFileStream(spark, in.getAbsolutePath), layout,
        new java.io.File(dir, "ckpt").getAbsolutePath, tags)
    // other tag keys than the layout's files carry: refused up front
    val e = intercept[IllegalArgumentException](stream(batch, Seq("dc")))
    assert(e.getMessage.contains("[host]") && e.getMessage.contains("[dc]"),
      e.getMessage)
    // the sink's log would become the layout's listing and hide the
    // batch rows: refused before starting, naming the path
    val e2 = intercept[IllegalArgumentException](stream(batch, Seq("host")))
    assert(e2.getMessage.contains(s"layout $batch holds"), e2.getMessage)
    assert(!new java.io.File(batch, "_spark_metadata").exists())
    assert(graft.io.Ingest.readLayout(spark, batch).samples.count() == 4)
    // an empty hourly layout holds only its width sidecar: the stream
    // appends in that width
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    graft.io.Ingest.writeLayout(rows(0), layout, flattenTags = Seq("host"),
      bucketNs = hour, saltBuckets = 1)
    val q = stream(layout, Seq("host")).start()
    try q.processAllAvailable() finally q.stop()
    assert(graft.io.Ingest.readBucketNs(spark, layout).contains(hour))
    // hour pruning finds the streamed rows: they landed in hour ids
    val got = graft.plan.Planner.plan(graft.ast.QueryJson.parse(
        s"""{"select":"cpu","range":{"from":${5 * hour},"to":${6 * hour}}}"""),
      graft.io.Ingest.readLayout(spark, layout)).df
      .collect().map(_.getDouble(2)).sorted.toSeq
    assert(got == (100 until 110).map(_.toDouble))
    assert(new java.io.File(layout, "metric=cpu/day=5").isDirectory)
    // a restart of the same stream is not refused: its log lists its files
    val q2 = stream(layout, Seq("host")).start()
    try q2.processAllAvailable() finally q2.stop()
    assert(graft.io.Ingest.readLayout(spark, layout).samples.count() == 10)
    // a batch that crashed before its log commit leaves a part file the
    // log does not list: the sink still restarts and reads skip the file
    val dayDir = new java.io.File(layout, "metric=cpu/day=5")
    val part = dayDir.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath,
      new java.io.File(dayDir, "part-99999-stray.c000.snappy.parquet").toPath)
    val q3 = stream(layout, Seq("host")).start()
    try q3.processAllAvailable() finally q3.stop()
    assert(graft.io.Ingest.readLayout(spark, layout).samples
      .collect().map(_.getAs[Double]("value")).sorted.toSeq ==
      (100 until 110).map(_.toDouble))
  }

  test("a fold into a stream sink's layout is refused before staging") {
    import java.nio.file.Files
    val dir = new java.io.File(TestData.freshScratch("graft-stream-fold"))
    val in = new java.io.File(dir, "in"); in.mkdirs()
    Files.write(new java.io.File(in, "s.resp").toPath,
      (0 until 5).flatMap(i => Seq("+cpu host=h1",
        s":${i * 1000000000L}", s":$i")).mkString("\n").getBytes)
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    val q = StreamIngest.writeLayoutStream(
      StreamIngest.respFileStream(spark, in.getAbsolutePath), layout,
      new java.io.File(dir, "ckpt").getAbsolutePath, Seq("host")).start()
    try q.processAllAvailable() finally q.stop()
    val runs = new java.io.File(dir, "runs").getAbsolutePath
    graft.io.RunLog.spoolResp(spark, in.getAbsolutePath, runs, Seq("host"))
    val pending = graft.io.RunLog.listRuns(spark, runs)
    val e = intercept[IllegalArgumentException](
      graft.io.RunLog.foldRuns(spark, runs, layout, Seq("host")))
    assert(e.getMessage.contains(s"layout $layout is a stream sink"),
      e.getMessage)
    intercept[IllegalArgumentException](
      graft.io.RunLog.recoverFolds(spark, runs, layout))
    // nothing staged, nothing landed: runs servable, the sink's view whole
    assert(graft.io.RunLog.listRuns(spark, runs) == pending && pending.nonEmpty)
    assert(!new java.io.File(runs, ".folding").exists())
    assert(graft.io.Ingest.readLayout(spark, layout).samples.count() == 5)
  }

  test("a stream on withStatePartitions' session leaves the caller's conf") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val child = StreamIngest.withStatePartitions(spark, srcRows = 10L)
    assert(child.conf.get(key) == "1" && before != "1")
    // one child per (session, count): repeated streams reuse it
    assert(StreamIngest.withStatePartitions(spark, srcRows = 20L) eq child)
    import java.nio.file.Files
    val dir = new java.io.File(TestData.freshScratch("graft-stream-parts"))
    val in = new java.io.File(dir, "in"); in.mkdirs()
    Files.write(new java.io.File(in, "s.resp").toPath,
      (0 until 5).flatMap(i => Seq("+cpu host=h1",
        s":${i * 1000000000L}", s":$i")).mkString("\n").getBytes)
    val q = StreamIngest.streamingEwma(
        StreamIngest.respFileStream(child, in.getAbsolutePath), decay = 0.5)
      .writeStream.format("memory").queryName("state_parts_ewma")
      .option("checkpointLocation",
        new java.io.File(dir, "ckpt").getAbsolutePath)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.conf.get(key) == before)
      assert(child.table("state_parts_ewma").count() == 5)
    } finally q.stop()
    assert(spark.conf.get(key) == before)
  }

  test("the streaming sink writes the batch layout schema, read-identical") {
    import java.nio.file.Files
    val dir = new java.io.File(TestData.freshScratch("graft-stream-schema"))
    val tsdbIn = new java.io.File(dir, "tsdb"); tsdbIn.mkdirs()
    val respIn = new java.io.File(dir, "resp"); respIn.mkdirs()
    Files.write(new java.io.File(tsdbIn, "b1.txt").toPath,
      (0 until 6).map(i => s"put cpu ${1000 + i} $i.0 host=h${i % 2} dc=d${i % 3}")
        .mkString("\n").getBytes)
    Files.write(new java.io.File(respIn, "s1.resp").toPath,
      (0 until 6).flatMap(i => Seq(s"+mem host=h${i % 2}",
        s":${1000000000L * i}", s"+$i.5")).mkString("\n").getBytes)
    val tags = Seq("host")
    def viaStream(name: String, parsed: org.apache.spark.sql.DataFrame): String = {
      val out = new java.io.File(dir, s"$name-stream").getAbsolutePath
      val q = StreamIngest.writeLayoutStream(parsed, out,
        new java.io.File(dir, s"$name-ckpt").getAbsolutePath, tags).start()
      try q.processAllAvailable() finally q.stop()
      out
    }
    def viaBatch(name: String, parsed: org.apache.spark.sql.DataFrame): String = {
      val out = new java.io.File(dir, s"$name-batch").getAbsolutePath
      graft.io.Ingest.writeLayout(parsed, out, tags)
      out
    }
    def rows(path: String) = graft.io.Ingest.readLayout(spark, path).samples
      .collect().map(_.toString).sorted.toSeq
    for ((name, stream, batch) <- Seq(
        ("tsdb",
          StreamIngest.parseOpenTsdbStream(
            spark.readStream.textFile(tsdbIn.getAbsolutePath)),
          graft.io.Ingest.openTsdbFiles(spark, tsdbIn.getAbsolutePath)),
        ("resp",
          StreamIngest.respFileStream(spark, respIn.getAbsolutePath),
          graft.io.Ingest.respFiles(spark, respIn.getAbsolutePath)))) {
      val s = viaStream(name, stream)
      val b = viaBatch(name, batch)
      assert(spark.read.parquet(s).columns.toSet ==
        spark.read.parquet(b).columns.toSet, name)
      assert(spark.read.parquet(s).columns.toSet ==
        Set("metric", "sname", "ts", "value", "event", "tag_host", "day"), name)
      assert(rows(s) == rows(b), name)
      assert(rows(s).size == 6, name)
    }
  }

  test("malformed RESP session truncates at the error, keeps prior samples") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val input = MemoryStream[String]
    val parsed = StreamIngest.parseRespStream(input.toDS())
    val query = parsed.writeStream
      .format("memory").queryName("resptrunc")
      .outputMode(OutputMode.Append)
      .start()
    try {
      input.addData(
        "+cpu host=a\n:1000\n:1\n+cpu host=a\n:2000\n:2\n*BROKEN\n:junk")
      query.processAllAvailable()
      val got = spark.sql("SELECT ts, value FROM resptrunc ORDER BY ts").collect()
      assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        Seq((1000L, 1.0), (2000L, 2.0)))
    } finally query.stop()
  }

  test("continuous aggregate with anchor matches batch Q4 buckets exactly") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    // T0 NOT a multiple of the step: epoch anchoring would misplace every
    // bucket; begin anchoring must reproduce batch Q4's bucket_ts
    val t0s = 1418197421L
    val t0 = t0s * 1000000000L
    val step = 10L * 1000000000L
    val offsets = Seq(0L, 3L, 9L, 12L, 17L, 25L)
    val input = MemoryStream[String]
    val parsed = StreamIngest.parseOpenTsdbStream(input.toDS())
    val agg = StreamIngest.continuousGroupAggregate(parsed, stepNs = step,
      anchorNs = t0)
    val query = agg.writeStream
      .format("memory").queryName("cga_anchor")
      .outputMode(OutputMode.Update)
      .start()
    try {
      input.addData(offsets.map(o =>
        s"put cpu ${t0s + o} ${o.toDouble} host=a"): _*)
      query.processAllAvailable()
      val streamRows = spark.sql(
        """SELECT bucket_ts, min, max, sum, count FROM cga_anchor""")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4).toLong)).sortBy(_._1)
      // batch Q4 over the same samples, range beginning at T0
      val st = SparkSpec.store(offsets.map(o =>
        ("cpu", Map("host" -> "a"), t0 + o * 1000000000L, o.toDouble)))
      val batch = graft.plan.Planner.plan(graft.ast.QueryJson.parse(
        s"""{"group-aggregate":{"metric":"cpu","step":"10s",
           |"func":["min","max","sum","count"]},
           |"range":{"from":$t0,"to":${t0 + 30L * 1000000000L}}}""".stripMargin),
        st).df
      val batchRows = batch
        .select("ts", "min", "max", "sum", "count")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4).toLong)).sortBy(_._1)
      assert(batchRows.nonEmpty)
      assert(streamRows.toSeq == batchRows.toSeq)
      // and every bucket is begin-anchored, not epoch-anchored
      assert(streamRows.forall { case (b, _, _, _, _) => (b - t0) % step == 0 })
    } finally query.stop()
  }

  test("streaming EWMA keeps per-series state across micro-batches") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val input = MemoryStream[String]
    val parsed = StreamIngest.parseOpenTsdbStream(input.toDS())
    val ewma = StreamIngest.streamingEwma(parsed, decay = 0.5)
    val query = ewma.toDF("sname", "ts", "forecast").writeStream
      .format("memory").queryName("sewma")
      .outputMode(OutputMode.Append)
      .start()
    try {
      // warmup < 10 samples: forecast equals the current value, one
      // emission PER SAMPLE like the batch node
      input.addData((1 to 3).map(i => s"put m $i $i.0 host=a"): _*)
      query.processAllAvailable()
      val b1 = spark.sql("SELECT forecast FROM sewma ORDER BY ts").collect()
      assert(b1.map(_.getDouble(0)).toSeq == Seq(1.0, 2.0, 3.0))
      input.addData("put m 4 9.0 host=a")
      query.processAllAvailable()
      // state persisted across micro-batches: still in warmup
      val b2 = spark.sql("SELECT forecast FROM sewma ORDER BY ts").collect()
      assert(b2.map(_.getDouble(0)).toSeq == Seq(1.0, 2.0, 3.0, 9.0))
    } finally query.stop()
  }

  test("streaming anomaly: spike flags after warmup, state spans batches") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val input = MemoryStream[String]
    val parsed = StreamIngest.parseOpenTsdbStream(input.toDS())
    val alerts = StreamIngest.streamingAnomaly(parsed, decay = 0.3,
      k = 2.5, warmup = 4)
    val query = alerts.toDF("sname", "ts", "value", "ewma", "sigma")
      .writeStream.format("memory").queryName("sanom")
      .outputMode(OutputMode.Append)
      .start()
    try {
      // alternating 10/12 keeps sigma small; nothing alerts in warmup
      input.addData((1 to 6).map(i =>
        s"put m $i ${if (i % 2 == 0) 12.0 else 10.0} host=a"): _*)
      query.processAllAvailable()
      assert(spark.sql("SELECT * FROM sanom").count() == 0)
      // the spike arrives in a LATER batch: state carried across
      input.addData("put m 7 50.0 host=a", "put m 8 11.0 host=a")
      query.processAllAvailable()
      val a = spark.sql("SELECT ts, value FROM sanom ORDER BY ts").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(a.length == 1 && a(0)._2 == 50.0)
    } finally query.stop()
  }

  test("continuous aggregate buckets exactly on ns steps (not ms-aligned)") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val input = MemoryStream[(String, Long, Double)]
    val samples = input.toDF().toDF("metric", "ts", "value")
      .withColumn("tags", map(lit("h"), lit("a")))
    // 1.5 ms step: impossible for a ms-aligned event-time window — one
    // ns bucket would straddle two windows and emit partial rows
    val agg = StreamIngest.continuousGroupAggregate(samples,
      stepNs = 1500000L)
    val q = agg.writeStream.format("memory").queryName("cgans")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(("m", 100000L, 1.0), ("m", 1400000L, 3.0),
        ("m", 1600000L, 5.0))
      q.processAllAvailable()
      val rows = sp.sql(
        "SELECT bucket_ts, `count`, `max` FROM cgans ORDER BY bucket_ts")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((0L, 2.0, 3.0), (1500000L, 1.0, 5.0)))
    } finally q.stop()
  }

  test("streaming exact dedup drops repeats across micro-batches") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val input = MemoryStream[(Long, Long, String)] // (doc_id, sec, text)
    val docs = input.toDF().toDF("doc_id", "sec", "text")
      .withColumn("event_time", col("sec").cast("timestamp"))
    val deduped = StreamIngest.streamingDedupDocs(docs, "event_time", "1 hour")
    val q = deduped.writeStream.format("memory").queryName("sdedup")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((0L, 100L, "alpha  beta"), (1L, 101L, "gamma"))
      q.processAllAvailable()
      // doc 2 repeats doc 0's normalized content in a LATER micro-batch;
      // the fingerprint state must survive the batch boundary
      input.addData((2L, 102L, "alpha beta"), (3L, 103L, "delta"))
      q.processAllAvailable()
      val ids = sp.sql("SELECT doc_id FROM sdedup").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(0L, 1L, 3L))
    } finally q.stop()
  }

  test("streaming session windows finalize on watermark (Append mode)") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val S = 1000000000L // 1s in ns
    val input = MemoryStream[(Long, Long, Double)] // (user, tsNs, v)
    val events = input.toDF().toDF("user_id", "ts", "v")
    val sessions = graft.plan.EventOps.sessionWindowAgg(
      events, Seq("user_id"), "ts", "10 seconds", col("v"),
      watermark = Some("0 seconds"))
    val q = sessions.writeStream.format("memory").queryName("ssess")
      .outputMode(OutputMode.Append).start()
    try {
      // session A: 0s, 5s (one session); later event at 60s advances the
      // watermark past A's close (15s) so Append emits it finalized
      input.addData((1L, 0L, 1.0), (1L, 5 * S, 2.0))
      q.processAllAvailable()
      input.addData((1L, 60 * S, 4.0))
      q.processAllAvailable()
      val got = sp.sql(
        "SELECT user_id, session_start, session_end, n_events, value_sum" +
          " FROM ssess").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSeq
      assert(got == Seq((1L, 0L, 5 * S, 2L, 3.0)))
      // the 60s session is still open (nothing advanced the watermark
      // past it) — Append correctly withholds it
    } finally q.stop()
  }

  test("continuous M4 matches the batch downsample tile-for-tile") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val input = MemoryStream[(String, Long, Double)]
    val samples = input.toDF().toDF("metric", "ts", "value")
      .withColumn("tags", map(lit("h"), lit("a")))
    val step = 10L * 1000000000L
    val q = StreamIngest.continuousM4(samples, stepNs = step)
      .writeStream.format("memory").queryName("cm4")
      .outputMode(OutputMode.Update).start()
    try {
      val t0 = 1700000000L * 1000000000L
      val data = Seq(
        ("m", t0 + 1L, 5.0), ("m", t0 + 3L, 1.0), ("m", t0 + 9L, 8.0),
        ("m", t0 + 9L, 2.0), // dup instant: larger value = last
        ("m", t0 + step + 4L, 4.0))
      input.addData(data: _*)
      q.processAllAvailable()
      val got = sp.sql(
        """SELECT bucket_ts, n, v_min, v_max, ts_first, v_first,
          |  ts_last, v_last FROM cm4 ORDER BY bucket_ts""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getLong(4), r.getDouble(5), r.getLong(6),
          r.getDouble(7)))
      val want = graft.plan.TsAnalytics.m4Downsample(
          data.toDF("metric", "ts", "value"), Seq("metric"), "ts",
          "value", step)
        .orderBy("bucket")
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4), r.getLong(5), r.getDouble(6), r.getLong(7),
          r.getDouble(8)))
      assert(got.toSeq == want.toSeq)
    } finally q.stop()
  }

  test("continuous rollup fold equals a full rebuild across batches") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val root = TestData.freshScratch("graft-cr")
    val input = MemoryStream[(String, Long, Double)]
    val samples = input.toDF().toDF("metric", "ts", "value")
      .withColumn("tags", map(lit("h"), lit("a")))
    val day = 86400L * 1000000000L
    val q = StreamIngest.continuousRollup(samples, s"$root/store",
      Seq(day), s"$root/ckpt").start()
    val b1 = Seq(("m", 1L, 5.0), ("m", day + 3L, 1.0), ("n", 9L, 8.0))
    val b2 = Seq(("m", 5L, 2.0), ("m", day + 7L, 9.0), ("n", 2 * day, 4.0))
    try {
      input.addData(b1: _*) // bootstraps the store
      q.processAllAvailable()
      input.addData(b2: _*) // folds via Rollup.update
      q.processAllAvailable()
    } finally q.stop()
    val served = graft.io.Rollup.serve(sp, s"$root/store", day)
      .orderBy("metric", "sname", "bucket").collect().toSeq
    val rebuilt = s"$root/rebuilt"
    graft.io.Rollup.write((b1 ++ b2).toDF("metric", "ts", "value")
      .withColumn("tags", map(lit("h"), lit("a"))), rebuilt, Seq(day))
    val want = graft.io.Rollup.serve(sp, rebuilt, day)
      .orderBy("metric", "sname", "bucket").collect().toSeq
    assert(served == want)
    assert(served.size == 4) // m: day0,day1 + n: day0,day2
  }

  test("streaming near-dup candidates: cross-batch owners, exact recall") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val cands = StreamIngest.streamingNearDupCandidates(docs,
      n = 2, bands = 4, rowsPerBand = 4)
    val q = cands.toDF("owner", "dup", "band").writeStream
      .format("memory").queryName("snd")
      .outputMode(OutputMode.Append)
      .start()
    try {
      val textA = "the quick brown fox jumps over the lazy dog again"
      val textC = "completely different content with no shared word grams"
      input.addData((1L, textA), (5L, textC))
      q.processAllAvailable()
      // batch 1: both docs claim their buckets, nothing collides
      assert(sp.sql("SELECT * FROM snd").count() == 0)
      // batch 2: an exact duplicate of A arrives -> shares EVERY band
      // bucket with owner 1 (deterministic recall for exact dups)
      input.addData((9L, textA))
      q.processAllAvailable()
      val hits = sp.sql("SELECT owner, dup, band FROM snd").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(hits.length == 4, s"expected 4 band hits, got ${hits.toSeq}")
      assert(hits.forall { case (o, d, _) => o == 1L && d == 9L })
      assert(hits.map(_._3).sorted.toSeq == Seq(0, 1, 2, 3))
      // batch 3: another copy -> still owned by doc 1, not doc 9
      input.addData((12L, textA))
      q.processAllAvailable()
      val later = sp.sql("SELECT owner, dup FROM snd WHERE dup = 12")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(later.length == 4 && later.forall(_._1 == 1L))
    } finally q.stop()
  }

  test("one micro-batch of streaming near-dup candidates equals the " +
      "batch star edges over the same bands") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    // three near-dup families (one word changed per copy) plus loners:
    // buckets with 1, 2 and 4 members across 8 bands
    val base = Seq(
      "the quick brown fox jumps over the lazy dog by the river bank",
      "a stitch in time saves nine and a penny saved is a penny earned",
      "all work and no play makes jack a dull boy on a rainy afternoon")
    val docs = base.zipWithIndex.flatMap { case (t, f) =>
      (0 until 4).map(c => (f * 10L + c + 1,
        t.split(" ").updated(c * 3, s"w$c").mkString(" ")))
    } ++ Seq((90L, "nothing here resembles any other text at all"),
      (91L, "one"))
    val (n, bands, rowsPerBand) = (2, 8, 2)
    val input = MemoryStream[(Long, String)]
    val q = StreamIngest.streamingNearDupCandidates(
        input.toDF().toDF("doc_id", "text"), n, bands, rowsPerBand)
      .toDF("owner", "dup", "band").writeStream
      .format("memory").queryName("snd_batch")
      .outputMode(OutputMode.Append)
      .start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = sp.sql("SELECT DISTINCT owner, dup FROM snd_batch")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // threshold 0 keeps every hub edge: the star candidate set itself
      val batch = graft.llm.Dedup.minhashLshStar(docs.toDF("doc_id", "text"),
          n, bands, rowsPerBand, threshold = 0.0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }
}
