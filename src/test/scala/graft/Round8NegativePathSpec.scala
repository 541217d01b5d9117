package graft


import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.TestData
import graft.llm.{CorpusIo, Dedup, Sample}

/** Negative paths + API contracts for the round-8 family: bad
  * parameters fail fast with clear messages, and persisted-index
  * parameters are PINNED (appends can never band/window differently
  * from the stored layout). */
class Round8NegativePathSpec extends SparkFunSuite {

  private lazy val sp = spark
  import sp.implicits._

  private def docs2 = Seq((1L, "a b c d e f"), (2L, "g h i j k l"))
    .toDF("doc_id", "text")

  test("parameter validation fails fast") {
    intercept[IllegalArgumentException] {
      CorpusIo.shardId(lit(1L), 0)
    }
    intercept[IllegalArgumentException] {
      Dedup.trimDuplicateSpans(docs2, k = 1)
    }
    intercept[IllegalArgumentException] {
      Dedup.writeSpanIndex(docs2, "/tmp/nope", k = 1)
    }
    intercept[IllegalArgumentException] {
      Sample.interleave(docs2.withColumn("s", lit("x")), "s",
        Map("x" -> 0.0))
    }
    intercept[IllegalArgumentException] {
      Sample.interleave(docs2.withColumn("s", lit("x")), "s",
        Map.empty[String, Double])
    }
    intercept[IllegalArgumentException] {
      CorpusIo.parseJsonl(docs2.select($"text".as("value")),
        StructType.fromDDL("__corrupt STRING"))
    }
  }

  test("probing a missing index fails with a missing-file error, " +
      "never a silent empty result") {
    val gone = TestData.freshScratch("graft-neg") + "/absent"
    val e1 = intercept[Exception] {
      Dedup.trimAgainstIndex(docs2, gone).collect()
    }
    assert(e1.getMessage != null)
    val e2 = intercept[Exception] {
      Dedup.neardupAgainstIndex(docs2, gone).collect()
    }
    assert(e2.getMessage != null)
  }

  test("appendLshIndex bands with the layout's PINNED parameters, " +
      "not the caller's defaults") {
    val tmp = TestData.freshScratch("graft-neg-lsh")
    // non-default parameters at write time
    Dedup.writeLshIndex(docs2, tmp, n = 2, bands = 8, rowsPerBand = 4)
    Dedup.appendLshIndex(
      Seq((10L, "m n o p q r")).toDF("doc_id", "text"), tmp)
    val bands = sp.read.parquet(s"$tmp/bands")
    // every id (original + appended) has exactly the pinned 8 bands
    val counts = bands.groupBy($"id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 8L, 2L -> 8L, 10L -> 8L))
    assert(bands.agg(max($"band")).head().getInt(0) == 7)
  }

  test("writeSpanIndex pins k: a batch trimmed after an append uses " +
      "the stored k, not the default") {
    val tmp = TestData.freshScratch("graft-neg-span")
    // k = 3 (default is 10): with default-k windowing the 4-token
    // shared run below would produce NO windows and nothing would trim
    Dedup.writeSpanIndex(Seq((1L, "a b c d")).toDF("doc_id", "text"),
      tmp, k = 3)
    val r = Dedup.trimAgainstIndex(
      Seq((5L, "x a b c y")).toDF("doc_id", "text"), tmp)
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(5L) == "x y") // "a b c" window (k=3) found in the index
  }
}
