package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.TestData
import graft.llm.{Dedup, Embed}

/** Round-11: retry-idempotence for the append-index writers. A bare
  * parquet append is at-most-once per CALL; these tests replay the same
  * batch through each writer with a `batchId` and prove the index row
  * set is unchanged — the driver-retry analogue of RunLog's task-retry
  * nonce discipline. */
class IdempotentBatchSpec extends SparkFunSuite {

  private lazy val sp = spark
  import sp.implicits._

  private def vecs(lo: Int, hi: Int) = (lo until hi).map { i =>
    (i.toLong, Array.tabulate(4)(d => (if (i % 2 == 0) 1.0f else -1.0f) *
      (d + 1) + i * 0.01f))
  }.toDF("vec_id", "embedding")

  test("ivfUpdate(batchId): a replayed batch lands exactly once") {
    val tmp = TestData.freshScratch("graft-idem-ivf")
    Embed.writeIvf(vecs(0, 20), tmp, nCentroids = 4)
    Embed.ivfUpdate(vecs(20, 30), tmp, batchId = Some("b1"))
    val n1 = sp.read.parquet(tmp).count()
    Embed.ivfUpdate(vecs(20, 30), tmp, batchId = Some("b1")) // driver retry
    assert(sp.read.parquet(tmp).count() == n1, "replay changed the row set")
    assert(sp.read.parquet(tmp).groupBy($"vec_id").count()
      .filter($"count" =!= 1).count() == 0, "replay duplicated vectors")
    // a DIFFERENT batch still appends
    Embed.ivfUpdate(vecs(30, 35), tmp, batchId = Some("b2"))
    assert(sp.read.parquet(tmp).count() == n1 + 5)
    // the un-named path is a plain append — re-running it double-counts,
    // which is exactly the hazard the handle removes
    Embed.ivfUpdate(vecs(35, 36), tmp)
    Embed.ivfUpdate(vecs(35, 36), tmp)
    assert(sp.read.parquet(tmp).filter($"vec_id" === 35L).count() == 2L)
  }

  test("ivfUpdate(batchId): a replay repairs a partial previous landing") {
    val tmp = TestData.freshScratch("graft-idem-part")
    Embed.writeIvf(vecs(0, 20), tmp, nCentroids = 4)
    Embed.ivfUpdate(vecs(20, 30), tmp, batchId = Some("bx"))
    val expect = sp.read.parquet(tmp).orderBy($"vec_id")
      .collect().map(_.getLong(0)).toSeq
    // simulate a partial earlier attempt with a DIFFERENT part split:
    // plant an extra data file carrying the batch's name in a cell dir
    val cellDir = new java.io.File(tmp).listFiles()
      .filter(_.getName.startsWith("ivf_cell=")).head
    val src = cellDir.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(src.toPath,
      new java.io.File(cellDir, "batch-bx-99.parquet").toPath)
    assert(sp.read.parquet(tmp).count() > expect.size) // the corrupted view
    Embed.ivfUpdate(vecs(20, 30), tmp, batchId = Some("bx")) // replay heals
    assert(sp.read.parquet(tmp).orderBy($"vec_id")
      .collect().map(_.getLong(0)).toSeq == expect)
  }

  test("appendLshIndex(batchId): replayed batch leaves sets/bands unchanged") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq((1L, base),
      (2L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val tmp = TestData.freshScratch("graft-idem-lsh")
    Dedup.writeLshIndex(corpus, tmp, n = 3, bands = 16, rowsPerBand = 2)
    val batch = Seq((10L, base + " mu"), (11L, base + " mu nu"))
      .toDF("doc_id", "text")
    Dedup.appendLshIndex(batch, tmp, batchId = Some("snap-2026-08-15"))
    val sets1 = sp.read.parquet(s"$tmp/sets").count()
    val bands1 = sp.read.parquet(s"$tmp/bands").count()
    Dedup.appendLshIndex(batch, tmp, batchId = Some("snap-2026-08-15"))
    assert(sp.read.parquet(s"$tmp/sets").count() == sets1)
    assert(sp.read.parquet(s"$tmp/bands").count() == bands1)
    // and the probe still reports each incremental pair exactly once
    val pairs = Dedup.neardupAgainstIndex(
      Seq((20L, base + " mu nu xi")).toDF("doc_id", "text"),
      tmp, threshold = 0.5)
    assert(pairs.groupBy($"a", $"b").count()
      .filter($"count" =!= 1).count() == 0)
    assert(pairs.count() >= 2) // 10 and 11 are both near-dups of 20
  }

  test("appendSpanIndex(batchId): replayed batch does not bloat the index") {
    def words(n: Int, off: Int) =
      (0 until n).map(i => s"w${i + off}").mkString(" ")
    val tmp = TestData.freshScratch("graft-idem-span")
    Dedup.writeSpanIndex(Seq((1L, words(30, 0))).toDF("doc_id", "text"),
      tmp, k = 5)
    val batch = Seq((2L, words(30, 100))).toDF("doc_id", "text")
    Dedup.appendSpanIndex(batch, tmp, batchId = Some("b1"))
    val n1 = sp.read.parquet(s"$tmp/wh").count()
    Dedup.appendSpanIndex(batch, tmp, batchId = Some("b1"))
    assert(sp.read.parquet(s"$tmp/wh").count() == n1)
    // plain append: same batch lands again (results unchanged — span
    // membership is idempotent — but the on-disk hash set grows)
    Dedup.appendSpanIndex(batch, tmp)
    assert(sp.read.parquet(s"$tmp/wh").count() > n1)
  }

  test("replaying batch 'b1' must not clear batch 'b1-retry' " +
      "(hyphenated ids are the documented convention)") {
    // the landed-file clear matches batch-<id>-<index>.parquet EXACTLY;
    // a prefix test would see "batch-b1-retry-0.parquet".startsWith(
    // "batch-b1-") and silently drop b1-retry's rows on a b1 replay
    def words(n: Int, off: Int) =
      (0 until n).map(i => s"w${i + off}").mkString(" ")
    val tmp = TestData.freshScratch("graft-idem-hyphen")
    Dedup.writeSpanIndex(Seq((1L, words(30, 0))).toDF("doc_id", "text"),
      tmp, k = 5)
    Dedup.appendSpanIndex(Seq((2L, words(30, 100))).toDF("doc_id", "text"),
      tmp, batchId = Some("b1"))
    Dedup.appendSpanIndex(Seq((3L, words(30, 200))).toDF("doc_id", "text"),
      tmp, batchId = Some("b1-retry"))
    val full = sp.read.parquet(s"$tmp/wh").count()
    // replay b1: b1's own rows replaced, b1-retry's rows untouched
    Dedup.appendSpanIndex(Seq((2L, words(30, 100))).toDF("doc_id", "text"),
      tmp, batchId = Some("b1"))
    assert(sp.read.parquet(s"$tmp/wh").count() == full,
      "b1 replay dropped another batch's rows")
  }
}
