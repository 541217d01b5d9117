package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark set-up with every setting fixed in code, so no environment default
  * reaches the measurement. */
object Env {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def spark(root: File): SparkSession = {
    val local = new File(root, "spark-local"); local.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the gate bench's threshold: keep typed aggregates on the hash path
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(root, "hadoop").getPath)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use right after a full collection, in MB: what the program
    * still holds at that point, without its garbage. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Time this JVM has spent in garbage collection so far, in ms. */
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    else f.length()

  /** One `/api/query` exchange as the client sees it. */
  final case class Reply(code: Int, lines: Seq[String], bytes: Long, start: Long,
                         firstByte: Long, end: Long) {
    def ms: Double = (end - start) / 1e6
    /** An in-band `-error` line (CSV rows start with a series name). */
    def inBandError: Option[String] = lines.find(_.startsWith("-"))
  }

  def post(port: Int, body: String): Reply = {
    val t0 = System.nanoTime()
    val c = new URL(s"http://127.0.0.1:$port/api/query").openConnection()
      .asInstanceOf[HttpURLConnection]
    try {
      c.setDoOutput(true)
      c.setRequestMethod("POST")
      c.setConnectTimeout(10000)
      c.setReadTimeout(120000)
      val out = c.getOutputStream
      out.write(body.getBytes(UTF_8)); out.close()
      val code = c.getResponseCode
      val t1 = System.nanoTime()
      val in = if (code == 200) c.getInputStream else c.getErrorStream
      val data = if (in == null) Array.emptyByteArray else in.readAllBytes()
      val t2 = System.nanoTime()
      val text = new String(data, UTF_8)
      val lines = if (text.isEmpty) Nil else text.split("\r\n", -1).toSeq.filter(_.nonEmpty)
      Reply(code, lines, data.length.toLong, t0, t1, t2)
    } finally c.disconnect()
  }
}

/** Spark execution seen from a listener the benchmark registers: jobs,
  * stages, tasks, task busy time, scheduler delay, shuffle and spill
  * bytes, and per-stage task-time skew. `snapshot()` differences give
  * the numbers of one phase. */
object ExecListener {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, busyMs: Long,
                        shuffleRead: Long, shuffleWrite: Long, spill: Long,
                        delays: Int, skews: Int)
}

final class ExecListener extends SparkListener {
  import ExecListener.Snap
  private var jobs, stages, tasks, busyMs, shRead, shWrite, spill = 0L
  private val delays = ArrayBuffer[Double]()
  private val skews = ArrayBuffer[Double]()
  private val stageTasks = scala.collection.mutable.Map[(Int, Int), ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    stageTasks.remove(key).foreach { ds =>
      if (ds.size >= 4) {
        val med = Stats.median(ds.map(_.toDouble).toSeq)
        skews += ds.max / math.max(med, 1.0)
      }
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      busyMs += m.executorRunTime
      shRead += m.shuffleReadMetrics.totalBytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      val i = e.taskInfo
      delays += math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime).toDouble
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer()) += i.duration
    }
  }

  def snapshot(): Snap = synchronized {
    Snap(jobs, stages, tasks, busyMs, shRead, shWrite, spill, delays.size, skews.size)
  }
  def delaysSince(s: Snap): Seq[Double] = synchronized { delays.drop(s.delays).toSeq }
  def skewsSince(s: Snap): Seq[Double] = synchronized { skews.drop(s.skews).toSeq }
}
