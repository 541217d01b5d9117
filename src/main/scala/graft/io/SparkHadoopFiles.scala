package org.apache.spark.sql.graftio

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Whole-file reads over the raw Hadoop `FileSystem` API (hence this
  * package: `SerializableConfiguration` is `private[spark]`).
  *
  * `sc.binaryFiles` wraps every file in a `CombineFileInputFormat` split
  * plus a `PortableDataStream` indirection; measured end-to-end on the
  * RESP parse stage that machinery costs up to 17x over simply
  * opening the file and `readFully`-ing it. Since the driver lists the
  * files anyway, this does exactly that: list on the driver, parallelize
  * the (path, length) pairs, open via the Hadoop FS API in each task —
  * so HDFS/S3/local all work unchanged, with none of the input-format
  * overhead. Files must fit a byte array (2 GB), same bound binaryFiles
  * has.
  */
object HadoopFiles {

  /** List `path` (a file, a directory, or a glob) non-recursively,
    * skipping hidden `.`/`_` entries — the FileInputFormat listing
    * contract binaryFiles callers expect. */
  private def list(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(hp)).map(_.toSeq) match {
      case Some(ms) if ms.nonEmpty => ms
      case _                       => Seq(fs.getFileStatus(hp)) // throws like binaryFiles on a missing path
    }
    matched
      .flatMap { s =>
        if (s.isDirectory) fs.listStatus(s.getPath).toSeq.filter(_.isFile)
        else Seq(s)
      }
      .filter { s =>
        val n = s.getPath.getName
        !(n.startsWith(".") || n.startsWith("_"))
      }
      .map(s => (s.getPath.toString, s.getLen))
      .sortBy(_._1)
  }

  /** One UTF-8 decoded String per file under `path`, and the listed
    * files' total bytes. */
  def wholeFiles(spark: SparkSession, path: String,
                 minPartitions: Int): (RDD[String], Long) = {
    val files = list(spark, path)
    val slices = math.max(1, math.min(minPartitions, math.max(files.size, 1)))
    val sconf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val contents = spark.sparkContext.parallelize(files, slices).map { case (p, len) =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(sconf.value)
      require(len <= Int.MaxValue, s"file too large for a single read: $p")
      val buf = new Array[Byte](len.toInt)
      val in = fs.open(hp)
      try in.readFully(0, buf) finally in.close()
      new String(buf, java.nio.charset.StandardCharsets.UTF_8)
    }
    (contents, files.iterator.map(_._2).sum)
  }
}
