package graft


import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.TestData
import graft.llm.CorpusIo

/** Round-8 additions: sharded training export + manifest, JSONL
  * ingestion with corrupt-line quarantine. */
class CorpusIoSpec extends SparkFunSuite {

  private lazy val sp = spark
  import sp.implicits._

  private def docs(n: Int) = (0 until n).map(i =>
    (i.toLong, s"document number $i body", s"s${i % 3}"))
    .toDF("doc_id", "text", "source")

  test("writeShards: deterministic membership, complete, pruned reads") {
    val d = docs(200)
    val tmp = TestData.freshScratch("graft-shards")
    CorpusIo.writeShards(d, tmp, nShards = 8)
    val back = sp.read.parquet(tmp)
    assert(back.count() == 200)
    // re-export to a second path: identical membership (resumability)
    val tmp2 = TestData.freshScratch("graft-shards2")
    CorpusIo.writeShards(d, tmp2, nShards = 8)
    val m1 = back.select($"doc_id", $"shard".cast("int")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val m2 = sp.read.parquet(tmp2).select($"doc_id", $"shard".cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(m1 == m2)
    assert(m1.values.toSet.size == 8) // every shard non-empty at n=200
    // a single-shard read is partition-pruned to one directory
    val one = back.filter($"shard" === 3)
    val scanned = one.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(one.count() == m1.values.count(_ == 3))
    assert(scanned.contains("shard"), "shard filter not at the scan")
  }

  test("writeShards shuffled: within-shard order is the salted hash " +
      "order, deterministic across exports") {
    val d = docs(300)
    val tmp = TestData.freshScratch("graft-shuf")
    CorpusIo.writeShards(d, tmp, nShards = 2, shuffled = true)
    def fileOrder(p: String): Seq[Long] = {
      val dir = new java.io.File(p).listFiles()
        .filter(_.getName.startsWith("shard=0")).head
      // single-file-per-shard read preserves row order within the file
      val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1) // repartition(shard) -> one file
      sp.read.parquet(files.head.getAbsolutePath)
        .select($"doc_id").collect().map(_.getLong(0)).toSeq
    }
    val order = fileOrder(tmp)
    assert(order.length > 50)
    assert(order != order.sorted, "shuffle left ids in natural order")
    val tmp2 = TestData.freshScratch("graft-shuf2")
    CorpusIo.writeShards(d, tmp2, nShards = 2, shuffled = true)
    assert(fileOrder(tmp2) == order) // deterministic replay
  }

  test("shardManifest: counts, char mass, id ranges match the data") {
    val d = docs(100)
    val tmp = TestData.freshScratch("graft-shards3")
    CorpusIo.writeShards(d, tmp, nShards = 4)
    val man = CorpusIo.shardManifest(sp, tmp).collect()
    assert(man.map(_.getLong(1)).sum == 100)
    val byShard = sp.read.parquet(tmp)
      .groupBy($"shard".cast("int").as("shard"))
      .agg(sum(length($"text")).as("c"), min($"doc_id").as("lo"),
        max($"doc_id").as("hi"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    man.foreach { r =>
      val (c, lo, hi) = byShard(r.getInt(0))
      assert(r.getLong(2) == c && r.getLong(3) == lo && r.getLong(4) == hi)
    }
  }

  test("readJsonl: clean rows parsed, corrupt lines quarantined") {
    val tmp = TestData.freshScratch("graft-jsonl")
    val lines = Seq(
      """{"doc_id": 1, "text": "hello world", "source": "a"}""",
      """{"doc_id": 2, "text": "tab\tand \"quote\" and\nnewline", "source": "b"}""",
      """not json at all""",
      """garbage before {"doc_id": 4, "text": "ok", "source": "c"}""",
      """{"doc_id": 41, "text": "truncat""",
      // trailing content after a complete object is ACCEPTED (Jackson
      // stops at the first complete value) — documented leniency
      """{"doc_id": 5, "text": "fine", "source": "d"} trailing""")
    lines.toDF("value").coalesce(1).write.mode("overwrite").text(tmp)
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING, source STRING")
    val clean = CorpusIo.readJsonl(sp, tmp, schema)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clean.keySet == Set(1L, 2L, 5L))
    assert(clean(2L) == "tab\tand \"quote\" and\nnewline") // escapes survive
    val quarantined = CorpusIo.readJsonlQuarantine(sp, tmp, schema)
      .collect().map(_.getString(0)).toSet
    assert(quarantined == Set(lines(2), lines(3), lines(4)))
  }

  test("readJsonl: to_json round-trip of real text is lossless") {
    val d = docs(50).withColumn("text",
      concat($"text", lit(" with \"quotes\" and\nnewlines\tand tabs")))
    val tmp = TestData.freshScratch("graft-jsonl2")
    d.select(to_json(struct($"doc_id", $"text", $"source")).as("value"))
      .write.mode("overwrite").text(tmp)
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING, source STRING")
    val back = CorpusIo.readJsonl(sp, tmp, schema)
    assert(back.count() == 50)
    val joined = d.alias("l").join(back.alias("r"), "doc_id")
      .filter($"l.text" =!= $"r.text" || $"l.source" =!= $"r.source")
    assert(joined.count() == 0)
  }
}
