package graft

import java.nio.file.Files

import graft.sources.TestData
import graft.ast.QueryJson
import graft.io.{Ingest, LineProtocol}
import graft.plan.Planner

/** Ingestion protocols + layout round-trip (reference:
  * protocolparser.h:133-268, functests/roundtrip.sh spirit). */
class IngestSpec extends SparkFunSuite {

  test("RESP data-point protocol: str/int timestamps and values") {
    val pdu =
      """+balancers.memusage host=machine1 region=NW
        |+20141210T074343.999999999
        |:31
        |+cpu.real host=machine1
        |:1418197423000000000
        |+3.12""".stripMargin
    val got = LineProtocol.parseResp(pdu.linesIterator).toSeq
    assert(got.size == 2)
    assert(got.head.metric == "balancers.memusage")
    assert(got.head.tags == Map("host" -> "machine1", "region" -> "NW"))
    assert(got.head.value == 31.0)
    assert(got(1).value == 3.12 && got(1).ts == 1418197423000000000L)
  }

  test("RESP row protocol expands compound series positionally") {
    val pdu =
      """+cpu.real|cpu.user|cpu.sys host=machine1 region=NW
        |+20141210T074343
        |*3
        |+3.12
        |+8.11
        |+12.6""".stripMargin
    val got = LineProtocol.parseResp(pdu.linesIterator).toSeq
    assert(got.map(_.metric) == Seq("cpu.real", "cpu.user", "cpu.sys"))
    assert(got.map(_.value) == Seq(3.12, 8.11, 12.6))
    assert(got.forall(_.tags == Map("host" -> "machine1", "region" -> "NW")))
  }

  test("RESP session dictionary substitutes :ids for names") {
    val pdu =
      """*4
        |+m host=a
        |:1
        |+m host=b
        |:2
        |:1
        |+20141210T074343
        |:10
        |:2
        |+20141210T074343
        |+12.5""".stripMargin
    val got = LineProtocol.parseResp(pdu.linesIterator).toSeq
    assert(got.map(s => (s.tags("host"), s.value)) ==
      Seq(("a", 10.0), ("b", 12.5)))
  }

  test("RESP events carry string bodies on !series") {
    val pdu =
      """+!deploy host=a
        |:1000
        |+version 2.1 rolled out""".stripMargin
    val got = LineProtocol.parseResp(pdu.linesIterator).toSeq
    assert(got.head.metric == "!deploy" && got.head.event == "version 2.1 rolled out")
  }

  test("RESP errors: unknown dict id, bad width, dict after data") {
    intercept[IllegalArgumentException](
      LineProtocol.parseResp(Seq(":9", "+20141210T074343", ":1").iterator).toSeq)
    intercept[IllegalArgumentException](LineProtocol.parseResp(
      """+a|b host=x
        |+20141210T074343
        |*3
        |+1
        |+2
        |+3""".stripMargin.linesIterator).toSeq)
  }

  test("RESP integer overflow is a protocol error, never a silent wrap") {
    // u64-max timestamp would wrap to ts = -1 under i64 arithmetic
    intercept[IllegalArgumentException](LineProtocol.parseResp(
      Seq("+m host=x", ":18446744073709551615", ":1").iterator).toSeq)
    // a 2^33 dictionary header must not truncate to 0 and leak the
    // entries into the data section
    intercept[IllegalArgumentException](LineProtocol.parseResp(
      Seq("*8589934592", "+m host=x", ":9").iterator).toSeq)
    // a 2^33+2 row header must not truncate into a matching width
    intercept[IllegalArgumentException](LineProtocol.parseResp(
      Seq("+a|b host=x", ":100", "*8589934594", "+1", "+2").iterator).toSeq)
  }

  test("OpenTSDB put: unix-seconds vs ns timestamps") {
    val s = LineProtocol.parseOpenTsdb(
      "put cpu.real 1418197423 3.12 host=machine1 region=NW").head
    assert(s.metric == "cpu.real" && s.ts == 1418197423000000000L)
    assert(s.tags == Map("host" -> "machine1", "region" -> "NW"))
    val ns = LineProtocol.parseOpenTsdb(
      "put cpu.real 1418197423999999999 3.12 host=m").head
    assert(ns.ts == 1418197423999999999L)
    val iso = LineProtocol.parseOpenTsdb(
      "put cpu.real 20141210T074343 3.12 host=m").head
    assert(iso.ts == 1418197423000000000L)
    intercept[IllegalArgumentException](
      LineProtocol.parseOpenTsdb("put cpu.real 123"))
    intercept[IllegalArgumentException](
      LineProtocol.parseOpenTsdb("get cpu.real 123 1 h=a"))
  }

  // the shuffle-free ingest write (ingestResp's sorted runs) and the
  // salted exchange write (the compaction of spooled runs) are the same
  // layout to every reader: identical rows, per-file (sname, ts) sorted
  // runs, same partition directories
  test("sorted-run write is read-identical to the salted exchange write") {
    val dir = new java.io.File(TestData.freshScratch("graft-sortedrun"))
    val respFile = new java.io.File(dir, "session1.resp")
    val day = Ingest.DayNs
    val lines = (0 until 200).flatMap { i =>
      Seq(s"+m${i % 2} host=h${i % 5}", s":${i * (day / 50)}", s":$i")
    }
    Files.write(respFile.toPath, lines.mkString("\n").getBytes)
    val runs = new java.io.File(dir, "runs").getAbsolutePath
    val salted = new java.io.File(dir, "salted").getAbsolutePath
    val spool = new java.io.File(dir, "spool").getAbsolutePath
    Ingest.ingestResp(spark, respFile.getAbsolutePath, runs,
      flattenTags = Seq("host"))
    graft.io.RunLog.spoolResp(spark, respFile.getAbsolutePath, spool,
      Seq("host"))
    graft.io.RunLog.compactRuns(spark, spool, salted)
    def snap(p: String) = Ingest.readLayout(spark, p).samples
      .select("metric", "ts", "value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    assert(snap(runs).toSeq == snap(salted).toSeq)
    // same partition dirs (metric=/day=) either way
    def dirs(p: String) = new java.io.File(p).listFiles
      .filter(_.isDirectory).flatMap(m => m.listFiles.filter(_.isDirectory)
        .map(d => s"${m.getName}/${d.getName}")).sorted.toSeq
    assert(dirs(runs) == dirs(salted))
    // every file in the run layout is internally (sname, ts)-sorted
    val files = spark.read.parquet(runs)
      .select(org.apache.spark.sql.functions.input_file_name().as("f"),
        org.apache.spark.sql.functions.col("sname"),
        org.apache.spark.sql.functions.col("ts"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    files.groupBy(_._1).foreach { case (_, rows) =>
      val keys = rows.map(r => (r._2, r._3)).toSeq
      assert(keys == keys.sorted, "file not (sname, ts)-sorted")
    }
  }

  test("meta queries with a maintained dimension never scan the facts") {
    val dir = new java.io.File(TestData.freshScratch("graft-seriesdim"))
    val respFile = new java.io.File(dir, "session1.resp")
    val lines = (0 until 30).flatMap { i =>
      Seq(s"+cpu host=h${i % 3} dc=d${i % 2}", s":${1000000000L * i}", s":$i")
    }
    Files.write(respFile.toPath, lines.mkString("\n").getBytes)
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    val seriesP = new java.io.File(dir, "series").getAbsolutePath
    Ingest.ingestResp(spark, respFile.getAbsolutePath, layout,
      flattenTags = Seq("host"))
    Ingest.writeSeriesFromLayout(spark, layout, seriesP)
    val st = Ingest.readLayout(spark, layout, Some(seriesP))
    // full ingest flow: the flat parse derived the dimension of 6 distinct
    // series, canonical tag order
    val meta = Planner.plan(QueryJson.parse(
      """{"select":"meta:names","where":{"dc":["d0"]}}"""), st).df
    assert(meta.collect().map(_.getString(0)).toSeq ==
      Seq("cpu dc=d0 host=h0", "cpu dc=d0 host=h1", "cpu dc=d0 host=h2"))
    // the plan must read ONLY the dimension parquet — a fact scan here is
    // the 100TB-autocomplete-does-a-table-scan bug
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec        => scans(q.plan)
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString).toSeq
      case other => other.children.flatMap(scans)
    }
    val scanned = scans(meta.queryExecution.executedPlan)
    assert(scanned.nonEmpty && scanned.forall(_.contains("series")),
      s"meta query scanned fact paths: ${scanned.mkString(",")}")
    // suggest endpoints ride the same dimension
    val tv = graft.plan.Meta.tagValues(st, "cpu", "host")
    assert(tv.collect().map(_.getString(0)).toSeq == Seq("h0", "h1", "h2"))
  }

  // functests/test_database_overflow.py spirit: when the layout exceeds
  // its budget the OLDEST days vanish whole; reads return a contiguous
  // recent suffix and queries keep pruning the surviving directories
  test("retention drops oldest days whole; reads return the recent suffix") {
    import org.apache.spark.sql.functions._
    val dir = new java.io.File(TestData.freshScratch("graft-retention"))
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    val day = Ingest.DayNs
    val samples = spark.range(300).select(
      lit("temp").as("metric"),
      map(lit("host"), lit("h0")).as("tags"),
      (col("id") / 100).cast("long") * day + (col("id") % 100) * 1000000000L,
      col("id").cast("double").as("value"),
      lit(null).cast("string").as("event"))
      .toDF("metric", "tags", "ts", "value", "event")
    Ingest.writeLayout(samples, layout)
    def dirSize(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.map(dirSize).sum).getOrElse(0L)
    val total = dirSize(new java.io.File(layout))
    // budget forces out at least the oldest day but keeps the newest
    val dropped = Ingest.enforceRetention(spark, layout, total / 2)
    assert(dropped.nonEmpty && dropped == dropped.sorted)
    assert(!dropped.contains(2L), "the newest day must survive")
    val st = Ingest.readLayout(spark, layout)
    val got = st.samples.select("value").collect().map(_.getDouble(0)).sorted
    // a contiguous suffix: exactly the rows of the surviving days
    val expect = (0 until 300).filterNot(i => dropped.contains(i / 100))
      .map(_.toDouble)
    assert(got.toSeq == expect)
    // idempotent when already under budget
    assert(Ingest.enforceRetention(spark, layout, Long.MaxValue).isEmpty)
  }

  // functests/test_volume_overflow.py spirit: the cap is BYTES over the
  // whole store — layout AND the write-head spool. Spool bytes consume
  // budget (forcing older sealed days out sooner) but are never deleted,
  // like the reference's WAL + active volume
  test("size retention counts spool bytes against the cap, never deletes them") {
    import org.apache.spark.sql.functions._
    val dir = new java.io.File(TestData.freshScratch("graft-retention-b"))
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    val spool = new java.io.File(dir, "spool")
    spool.mkdirs()
    val day = Ingest.DayNs
    val samples = spark.range(300).select(
      lit("temp").as("metric"),
      map(lit("host"), lit("h0")).as("tags"),
      (col("id") / 100).cast("long") * day + (col("id") % 100) * 1000000000L,
      col("id").cast("double").as("value"),
      lit(null).cast("string").as("event"))
      .toDF("metric", "tags", "ts", "value", "event")
    Ingest.writeLayout(samples, layout)
    val byDay = Ingest.layoutDayBytes(spark, layout)
    assert(byDay.map(_._1) == Seq(0L, 1L, 2L))
    val total = byDay.map(_._2).sum
    // budget that fits the whole layout exactly — nothing evicts...
    assert(Ingest.enforceRetention(spark, layout, total,
      spool.getAbsolutePath).isEmpty)
    // ...until a spool file eats into it: day 0 must now go
    val wal = new java.io.File(spool, "run-1.grun")
    java.nio.file.Files.write(wal.toPath, new Array[Byte](byDay.head._2.toInt))
    assert(Ingest.enforceRetention(spark, layout, total,
      spool.getAbsolutePath) == Seq(0L))
    assert(wal.exists, "the spool is the write head — never evicted")
    val got = Ingest.readLayout(spark, layout)
      .samples.select("value").collect().map(_.getDouble(0)).sorted
    assert(got.toSeq == (100 until 300).map(_.toDouble))
  }

  test("time retention drops whole buckets before the cutoff only") {
    import org.apache.spark.sql.functions._
    val dir = new java.io.File(TestData.freshScratch("graft-retention-t"))
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    val day = Ingest.DayNs
    val samples = spark.range(300).select(
      lit("temp").as("metric"),
      map(lit("host"), lit("h0")).as("tags"),
      (col("id") / 100).cast("long") * day + (col("id") % 100) * 1000000000L,
      col("id").cast("double").as("value"),
      lit(null).cast("string").as("event"))
      .toDF("metric", "tags", "ts", "value", "event")
    Ingest.writeLayout(samples, layout)
    // cutoff INSIDE day 1: day 0 goes, day 1 survives whole (no torn day)
    assert(Ingest.enforceRetentionBefore(spark, layout, day + 50L) == Seq(0L))
    val got = Ingest.readLayout(spark, layout)
      .samples.select("value").collect().map(_.getDouble(0)).sorted
    assert(got.toSeq == (100 until 300).map(_.toDouble))
    // boundary cutoff: exact suffix semantics; idempotent re-run
    assert(Ingest.enforceRetentionBefore(spark, layout, 2 * day) == Seq(1L))
    assert(Ingest.enforceRetentionBefore(spark, layout, 2 * day).isEmpty)
    val left = Ingest.readLayout(spark, layout)
      .samples.select("value").collect().map(_.getDouble(0)).sorted
    assert(left.toSeq == (200 until 300).map(_.toDouble))
  }

  test("non-default bucketNs round-trips: pruning uses the layout's width") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    val layout = TestData.freshScratch("graft_hourly")
    val hour = 3600L * 1000000000L
    // 48 hourly points spanning 2 days — hourly buckets make `day` hold
    // hour indices; a day-divisor prune would drop nearly everything
    val samples = sp.range(48).select(
      lit("temp").as("metric"),
      map(lit("host"), lit("h0")).as("tags"),
      (col("id") * hour).as("ts"),
      col("id").cast("double").as("value"),
      lit(null).cast("string").as("event"))
      .toDF("metric", "tags", "ts", "value", "event")
    Ingest.writeLayout(samples, layout, bucketNs = hour)
    // the width is persisted inside the layout and the read picks it up
    // — a caller cannot silently lose rows by repeating the writer's
    // width wrongly
    assert(Ingest.readBucketNs(sp, layout).contains(hour))
    val auto = Ingest.readLayout(sp, layout)
    assert(auto.bucketNs == hour)
    val df2 = graft.plan.Planner.plan(graft.ast.QueryJson.parse(
      s"""{"select":"temp","range":{"from":0,"to":${48 * hour}}}"""), auto).df
    assert(df2.count() == 48)
  }

  test("readLayout rejects a parquet directory with no sname column") {
    import org.apache.spark.sql.functions._
    // a plain sample table (tags MAP, no sname) is not a layout: the read
    // fails up front, naming the path
    val layout = TestData.freshScratch("graft-nosname")
    spark.range(10).select(
      lit("cpu").as("metric"),
      map(lit("host"), lit("h0")).as("tags"),
      (col("id") * 1000000000L).as("ts"),
      col("id").cast("double").as("value"),
      expr(s"id * 1000000000 div ${Ingest.DayNs}L").as("day"))
      .write.mode("overwrite").partitionBy("metric", "day").parquet(layout)
    val e = intercept[IllegalArgumentException](Ingest.readLayout(spark, layout))
    assert(e.getMessage.contains(layout) && e.getMessage.contains("no sname"))
  }

  // functests/test_high_cardinality.py spirit: the series dimension
  // answers metadata completely at high cardinality, without the fact
  // scan that would make autocomplete a table scan at 10^8 series
  test("series dimension serves meta queries at 100k-series cardinality") {
    import org.apache.spark.sql.functions._
    val dir = new java.io.File(TestData.freshScratch("graft-highcard"))
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    val seriesP = new java.io.File(dir, "series").getAbsolutePath
    val nSeries = 100000
    val samples = spark.range(nSeries.toLong).select(
      lit("test").as("metric"),
      map(lit("tag1"), lit("A"), lit("tag2"), col("id").cast("string"))
        .as("tags"),
      (col("id") * 1000000L).as("ts"),
      col("id").cast("double").as("value"),
      lit(null).cast("string").as("event"))
    Ingest.writeLayout(samples, layout)
    Ingest.writeSeriesFromLayout(spark, layout, seriesP)
    val st = Ingest.readLayout(spark, layout, Some(seriesP))
    val meta = Planner.plan(
      QueryJson.parse("""{"select":"meta:names"}"""), st).df
    assert(meta.count() == nSeries)
    // suggest rides the dimension: tag2 values with prefix "123" are
    // "123", "1230".."1239", "12300".."12399"
    val tv = graft.plan.Meta.tagValues(st, "test", "tag2", "123")
    assert(tv.count() == 111)
  }

  test("day-range queries prune layout partition directories") {
    val dir = new java.io.File(TestData.freshScratch("graft-prune"))
    val respFile = new java.io.File(dir, "s.resp")
    // 3 days x 4 points; day = ts div DayNs
    val day = 86400L * 1000000000L
    val lines = (0 until 12).flatMap { i =>
      Seq("+cpu host=h0", s":${(i / 4) * day + (i % 4) * 1000000000L}", s":$i")
    }
    Files.write(respFile.toPath, lines.mkString("\n").getBytes)
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    Ingest.ingestResp(spark, respFile.getAbsolutePath, layout)
    val st = Ingest.readLayout(spark, layout)
    // query only day 1
    val df = Planner.plan(QueryJson.parse(
      s"""{"select":"cpu","range":{"from":$day,"to":${2 * day}}}"""), st).df
    assert(df.collect().map(_.getDouble(2)).sorted.toSeq ==
      Seq(4.0, 5.0, 6.0, 7.0))
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec        => scans(q.plan)
      case f: FileSourceScanExec    => Seq(f)
      case other                    => other.children.flatMap(scans)
    }
    val scan = scans(df.queryExecution.executedPlan).head
    // of the 3 day directories, only day=1 is read
    assert(scan.metrics("numPartitions").value == 1,
      s"expected 1 day partition read, got ${scan.metrics("numPartitions").value}")
  }

  test("where filters on flattened tags reach the parquet scan as pushed filters") {
    val dir = new java.io.File(TestData.freshScratch("graft-pushdown"))
    val respFile = new java.io.File(dir, "s.resp")
    val lines = (0 until 20).flatMap { i =>
      Seq(s"+cpu host=h${i % 4}", s":${1000000000L * i}", s":$i")
    }
    Files.write(respFile.toPath, lines.mkString("\n").getBytes)
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    Ingest.ingestResp(spark, respFile.getAbsolutePath, layout,
      flattenTags = Seq("host"))
    val st = Ingest.readLayout(spark, layout)
    val df = Planner.plan(QueryJson.parse(
      s"""{"select":"cpu","range":{"from":0,"to":${1000000000L * 30}},
         |"where":{"host":["h1","h2"]}}""".stripMargin), st).df
    assert(df.collect().map(_.getDouble(2)).sorted.toSeq ==
      Seq(1.0, 2.0, 5.0, 6.0, 9.0, 10.0, 13.0, 14.0, 17.0, 18.0))
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec        => scans(q.plan)
      case f: FileSourceScanExec    => Seq(f)
      case other                    => other.children.flatMap(scans)
    }
    val scan = scans(df.queryExecution.executedPlan).head
    // the tag predicate must hit the scan as a data filter on the flat
    // tag_host column (row-group min/max skipping), not evaluate on the
    // reconstructed tags map post-scan
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("tag_host"),
      s"tag filter not pushed into the scan: PushedFilters=$pushed")
  }

  test("round-trip: RESP text -> layout write -> read -> query") {
    val dir = new java.io.File(TestData.freshScratch("graft-ingest"))
    val respFile = new java.io.File(dir, "session1.resp")
    val lines = (0 until 20).flatMap { i =>
      Seq(s"+cpu host=h${i % 2}", s":${1000000000L * i}", s":$i")
    }
    Files.write(respFile.toPath, lines.mkString("\n").getBytes)
    val parsed = Ingest.respFiles(spark, respFile.getAbsolutePath)
    assert(parsed.count() == 20)
    val layout = new java.io.File(dir, "layout").getAbsolutePath
    Ingest.writeLayout(parsed, layout, flattenTags = Seq("host"))
    val st = Ingest.readLayout(spark, layout)
    val df = Planner.plan(QueryJson.parse(
      s"""{"select":"cpu","range":{"from":0,"to":${1000000000L * 30}},
         |"where":{"host":["h0"]}}""".stripMargin), st).df
    val got = rows3(df)
    assert(got.map(_._3) == (0 until 20 by 2).map(_.toDouble))
    assert(got.forall(_._1 == "cpu host=h0"))
  }

  test("roundtrip golden: RESP and OpenTSDB ingests serve identical CSV") {
    // functests/roundtrip.sh analogue at spec scale: the SAME dataset
    // rendered in both wire formats (the script's RESP and OpenTSDB
    // input variants), each ingested through its own parser into its own
    // layout, must answer the same queries with byte-identical reference
    // CSV. 10s step, values = point index, tags cycling — the canonical
    // functest generator shape (akumulid_test_tools.py:58-125).
    val dir = new java.io.File(TestData.freshScratch("graft-roundtrip"))
    val nSeries = 10; val perSeries = 120
    val t0 = 1418000000000000000L; val stepNs = 10L * 1000000000L
    val samples = for {
      s <- 0 until nSeries
      i <- 0 until perSeries
    } yield (s"host=h$s region=${if (s % 2 == 0) "NW" else "SE"}",
             t0 + i.toLong * nSeries * stepNs + s * stepNs,
             (i * nSeries + s).toDouble)
    val respText = samples.map { case (tags, ts, v) =>
      s"+cpu $tags\n:$ts\n+$v\n"
    }.mkString
    val tsdbText = samples.map { case (tags, ts, v) =>
      s"put cpu $ts $v $tags\n"
    }.mkString
    val respIn = new java.io.File(dir, "in.resp")
    val tsdbIn = new java.io.File(dir, "in.tsdb")
    Files.write(respIn.toPath, respText.getBytes)
    Files.write(tsdbIn.toPath, tsdbText.getBytes)

    val respLayout = new java.io.File(dir, "layout-resp").getAbsolutePath
    val tsdbLayout = new java.io.File(dir, "layout-tsdb").getAbsolutePath
    Ingest.writeLayout(Ingest.respFiles(spark, respIn.getAbsolutePath),
      respLayout, flattenTags = Seq("host"))
    Ingest.writeLayout(Ingest.openTsdbFiles(spark, tsdbIn.getAbsolutePath),
      tsdbLayout, flattenTags = Seq("host"))
    val stResp = Ingest.readLayout(spark, respLayout)
    val stTsdb = Ingest.readLayout(spark, tsdbLayout)

    val tEnd = t0 + perSeries.toLong * nSeries * stepNs
    val queries = Seq(
      // forward scan, ISO-timestamp CSV (the script's read-back diff)
      s"""{"select":"cpu","range":{"from":$t0,"to":$tEnd},
         |"order-by":"time","output":{"format":"csv"}}""".stripMargin,
      // tag-filtered backward scan
      s"""{"select":"cpu","range":{"from":$tEnd,"to":$t0},
         |"where":{"region":["NW"]},"output":{"format":"csv"}}""".stripMargin,
      // whole-range aggregate per series
      s"""{"aggregate":{"cpu":"sum"},"output":{"format":"csv"}}""")
    for (q <- queries) {
      val a = graft.serve.Api.queryLines(stResp, q).collect().toSeq
      val b = graft.serve.Api.queryLines(stTsdb, q).collect().toSeq
      assert(a.nonEmpty && a == b, s"roundtrip divergence for $q")
    }
    // spot-check content against the closed-form generator, like the
    // script's diff against expected output: first CSV line of the scan
    val first = graft.serve.Api.queryLines(stResp, queries.head).head()
    assert(first == s"cpu host=h0 region=NW,20141208T005320.000000000,0")
  }
}
