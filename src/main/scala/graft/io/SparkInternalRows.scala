package org.apache.spark.sql.graftio

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Bridge to `LogicalRDD` (`private[sql]`, hence this package). Lets a
  * parser emit catalyst `InternalRow`s directly — skipping the object->row
  * encoder (`SerializeFromObject`) that re-encodes every string of every
  * sample. The ingest hot path caches one `UTF8String` per series-level
  * value, so per-sample work drops to an array fill; see
  * `graft.io.Ingest`. `sizeInBytes` (the decoded files' bytes, as a
  * parquet scan reports) is the Catalyst size estimate; without it an RDD
  * frame reads as `spark.sql.defaultSizeInBytes` (Long.MaxValue) to every
  * size-based choice, such as the chunked-scan routing. */
object InternalRows {
  def toDF(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType,
           sizeInBytes: Option[BigInt] = None): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session,
      LogicalRDD(DataTypeUtils.toAttributes(schema), rdd)(
        session, sizeInBytes.map(b => Statistics(sizeInBytes = b))))
  }
}
