package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ast.QueryJson
import graft.functions.ChunkedScan
import graft.plan.{Planner, TsStore}

/** The chunked two-pass scan (ChunkedScan + EwmaKernel/CusumKernel/Sax
  * entry handoff) must produce the same output as the single-task
  * sequential path — including warmup windows, nulls, and numerosity
  * reduction straddling partition boundaries — while actually splitting
  * a giant series across tasks. */
class ChunkedScanSpec extends SparkFunSuite {
  import SparkSpec.sampleSchema

  private def mkStore(rows: Seq[(String, Long, Any)]): TsStore =
    new TsStore(spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (m, ts, v) =>
          Row(m, Map("h" -> "X"), ts, v)
        }, 4), sampleSchema))

  /** Run `body` on the chunked or the single-pass path; 4 pinned chunks
    * so entry-state handoff genuinely crosses boundaries (AQE would
    * coalesce a test-sized shuffle to one partition). */
  private def onPath[T](chunked: Boolean)(body: => T): T =
    ChunkedScan.routed(ChunkedScan.Route(Some(chunked), chunks = 4))(body)

  private def runQ(apply: String, st: TsStore, chunked: Boolean) =
    onPath(chunked) {
      Planner.plan(QueryJson.parse(
        s"""{"select":"m","range":{"from":0,"to":4000000000000000000},
           |"apply":[$apply]}""".stripMargin), st).df
        .orderBy(col("sname"), col("ts"))
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.get(2)))
    }

  private def assertSame(a: Seq[(String, Long, Any)],
                         b: Seq[(String, Long, Any)]): Unit = {
    assert(a.size == b.size, s"row counts differ: ${a.size} != ${b.size}")
    a.zip(b).foreach { case ((s1, t1, v1), (s2, t2, v2)) =>
      assert(s1 == s2 && t1 == t2, s"key mismatch: ($s1,$t1) vs ($s2,$t2)")
      (v1, v2) match {
        case (x: Double, y: Double) =>
          // the affine-tail composition reorders float ops; demand
          // 1e-9 relative agreement, not bit equality
          assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)),
            s"value mismatch at ($s1,$t1): $x vs $y")
        case _ => assert(v1 == v2, s"value mismatch at ($s1,$t1): $v1 vs $v2")
      }
    }
  }

  // 3 series x 1200 points with interspersed nulls; series "m" is the
  // "giant" one the range partitioner splits by ts
  private lazy val mixed: TsStore = mkStore(
    (0 until 1200).flatMap { i =>
      val ts = 1000000000L + i * 1000000000L
      Seq(
        ("m", ts, if (i % 97 == 13) null else math.sin(i * 0.37) * 50 + i % 7),
        ("m2", ts, (i % 31).toDouble),
        ("m3", ts, if (i % 5 == 0) null else i.toDouble))
    })

  test("a single series splits across >1 range partition (the handoff exists)") {
    val df = mixed.samples.filter(col("metric") === "m")
      .withColumn("sname", col("metric"))
    // explicit numPartitions (what a Route's `chunks` pins, and
    // what AQE converges to once the data is big enough to matter)
    val parts = df.repartitionByRange(4, col("sname"), col("ts").asc)
      .rdd.mapPartitionsWithIndex((i, it) =>
        Iterator.single(i -> it.size)).collect()
    assert(parts.count(_._2 > 0) > 1,
      s"range partitioning left the series in one task: ${parts.toSeq}")
  }

  test("ewma: chunked == sequential incl. warmup split across chunks") {
    val q = """{"name":"ewma","decay":0.2}"""
    assertSame(runQ(q, mixed, chunked = true), runQ(q, mixed, chunked = false))
  }

  test("ewma-error: chunked == sequential") {
    val q = """{"name":"ewma-error","decay":0.4}"""
    assertSame(runQ(q, mixed, chunked = true), runQ(q, mixed, chunked = false))
  }

  test("ewma: series shorter than the warmup, straddling a boundary") {
    val tiny = mkStore((0 until 8).map(i =>
      ("m", 1000000000L + i * 1000000000L, (i * 3).toDouble)))
    val q = """{"name":"ewma","decay":0.3}"""
    assertSame(runQ(q, tiny, chunked = true), runQ(q, tiny, chunked = false))
  }

  test("cusum: chunked == sequential incl. null rows") {
    val q = """{"name":"cusum"}"""
    assertSame(runQ(q, mixed, chunked = true), runQ(q, mixed, chunked = false))
  }

  test("sax: chunked == sequential incl. cross-boundary numerosity") {
    val q = """{"name":"sax","alphabet_size":5,"window_width":4}"""
    assertSame(runQ(q, mixed, chunked = true), runQ(q, mixed, chunked = false))
  }

  test("sax: constant giant series emits exactly one word either way") {
    val const = mkStore((0 until 3000).map(i =>
      ("m", 1000000000L + i * 1000000000L, 42.0)))
    val q = """{"name":"sax","alphabet_size":4,"window_width":4}"""
    val chunked = runQ(q, const, chunked = true)
    val serial = runQ(q, const, chunked = false)
    assertSame(chunked, serial)
    assert(chunked.size == 1, s"numerosity reduction broke: ${chunked.size}")
  }

  test("high series cardinality: entry compose is distributed, " +
      "results identical (50k series, no driver-side summary map)") {
    // 50k single-sample series + one spanning series: the entry-state
    // compose runs as a by-key shuffle over the summary frame and a
    // zip-join back by partition id — the old driver collect would hold
    // one summary per (partition, series); now the driver holds nothing.
    // Correctness: every singleton series' ewma == its own value (warmup
    // forecast), and the spanning series matches the sequential run.
    val rows = (0 until 50000).map(i =>
      (f"s$i%05d", 1000000000L + (i % 977) * 1000000000L,
        (i % 101).toDouble: Any)) ++
      (0 until 2000).map(i => ("zz", 1000000000L + i * 1000000000L,
        (math.cos(i * 0.23) * 10 + i % 5): Any))
    // series identity lives in the TAGS — one metric, 50k+1 tag values
    val st = new TsStore(spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (sid, ts, v) => Row("m", Map("h" -> sid), ts, v) },
        8), sampleSchema))
    val q = """{"name":"ewma","decay":0.3}"""
    val chunked = runQ(q, st, chunked = true)
    val serial = runQ(q, st, chunked = false)
    assertSame(chunked, serial)
    assert(chunked.size == 52000)
  }

  test("backward scan: chunked == sequential") {
    def run(chunked: Boolean) = onPath(chunked) {
      Planner.plan(QueryJson.parse(
        """{"select":"m","range":{"from":4000000000000000000,"to":0},
          |"apply":[{"name":"ewma","decay":0.2}]}""".stripMargin), mixed).df
        .orderBy(col("sname"), col("ts")).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.get(2)))
    }
    assertSame(run(chunked = true), run(chunked = false))
  }
}
