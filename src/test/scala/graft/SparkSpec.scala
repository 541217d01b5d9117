package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.plan.TsStore

/** Shared local SparkSession + closed-form fixtures in the reference's
  * functest style (reference: functests/akumulid_test_tools.py:58-125 —
  * N points, fixed step, value = index, tags cycling from small sets). */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    // as in `Bench.session`, the one builder of every main: udaf
    // Aggregators stay in the ObjectHashAggregate hash regime instead
    // of sort-falling-back at 128 keys. The specs keep their own
    // builder because the RocksDB state-store specs need the
    // checksummed LocalFileSystem that `Bench.session` swaps out.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "65536")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sampleSchema: StructType = StructType(Seq(
    StructField("metric", StringType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("ts", LongType),
    StructField("value", DoubleType)))

  /** N points per metric: ts = t0 + i*step, value = i, tag `host` cycling
    * over `hosts`. */
  def fixture(metrics: Seq[String], n: Int, t0: Long = 1000000000000000000L,
              step: Long = 10000000000L, hosts: Seq[String] = Seq("A", "B", "C")): TsStore = {
    val rows = for {
      m <- metrics
      i <- 0 until n
    } yield Row(m, Map("host" -> hosts(i % hosts.size)), t0 + i * step, i.toDouble)
    new TsStore(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), sampleSchema))
  }

  def store(rows: Seq[(String, Map[String, String], Long, Double)]): TsStore =
    new TsStore(spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (m, t, ts, v) => Row(m, t, ts, v) }, 2), sampleSchema))
}

abstract class SparkFunSuite extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark

  /** Collect (sname, ts, value) triples in result order. */
  def rows3(df: DataFrame): Seq[(String, Long, Double)] =
    df.collect().toIndexedSeq.map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2)))
}

/** The one HTTP client the ApiHttp suites share — connection setup, error
  * stream selection, and charset handling live here, not in seven copies. */
object HttpTest {
  def http(port: Int, path: String = "/api/query", method: String = "POST",
           body: String = ""): (Int, String) = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val conn = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod(method)
    if (method == "POST") {
      conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes(utf8))
    }
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text = new String(is.readAllBytes(), utf8)
    conn.disconnect()
    (code, text)
  }
}
