package graft


import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.TestData
import graft.llm.{CorpusIo, Dedup}

/** Cross-operator invariants for the round-8 incremental/export family,
  * on a seeded pseudo-random corpus large enough to exercise the
  * interesting collisions. */
class Round8InvariantsSpec extends SparkFunSuite {

  private lazy val sp = spark
  import sp.implicits._

  /** 400 docs over a tiny vocabulary so shingle/window collisions are
    * common; deterministic (seeded). */
  private def corpus(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    (0 until 400).map { i =>
      val n = 4 + rnd.nextInt(12)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("writeShards partitions the corpus: union = input, shard = " +
      "recomputed key, no duplicates") {
    val d = corpus(1)
    val tmp = TestData.freshScratch("graft-inv-shards")
    CorpusIo.writeShards(d, tmp, nShards = 16)
    val back = sp.read.parquet(tmp)
    assert(back.count() == 400)
    assert(back.select($"doc_id").distinct().count() == 400)
    val bad = back.filter(
      $"shard".cast("int") =!= CorpusIo.shardId($"doc_id", 16))
    assert(bad.count() == 0, "stored shard disagrees with the key")
  }

  test("trimDuplicateSpans conserves tokens and erases full duplicates") {
    // duplicate every 5th doc verbatim under a fresh id: the copy's
    // windows are all owned by the original, so (when long enough for
    // one window) the copy must trim to EMPTY
    val base = corpus(2)
    val copies = base.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 10000).as("doc_id"), $"text")
    val k = 4
    val input = base.unionByName(copies)
    val r = Dedup.trimDuplicateSpans(input, k = k)
    // token conservation: tokens(after) + n_removed == tokens(before)
    def nTok(t: org.apache.spark.sql.Column) =
      when(length(trim(t)) === 0, 0)
        .otherwise(size(split(trim(t), "\\s+")))
    val viol = r.select($"doc_id", (nTok($"text") + $"n_removed").as("got"))
      .join(input.select($"doc_id", nTok($"text").as("want")), "doc_id")
      .filter($"got" =!= $"want")
    assert(viol.count() == 0, "token conservation violated")
    val copied = r.filter($"doc_id" >= 10000).collect()
    copied.foreach { row =>
      val nTok = row.getString(1).split("\\s+").count(_.nonEmpty)
      assert(nTok == 0 || row.getInt(2) == 0 && nTok < k,
        s"verbatim copy ${row.getLong(0)} kept $nTok tokens " +
          s"(removed ${row.getInt(2)})")
    }
    // at least some copies were long enough to be fully erased
    assert(copied.count(_.getString(1).isEmpty) > 50)
  }

  test("incremental LSH near-dup == full-corpus LSH restricted to " +
      "new-sided pairs (same banding parameters)") {
    val all = corpus(3)
    val old = all.filter($"doc_id" % 3 =!= 0)
    val batch = all.filter($"doc_id" % 3 === 0)
    val tmp = TestData.freshScratch("graft-inv-lsh")
    Dedup.writeLshIndex(old, tmp, n = 2, bands = 16, rowsPerBand = 2)
    val inc = Dedup.neardupAgainstIndex(batch, tmp, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashLsh(all, n = 2, bands = 16, rowsPerBand = 2,
      threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => p._1 % 3 == 0 || p._2 % 3 == 0).toSet
    assert(inc == full,
      s"incremental differs: extra=${inc -- full} missing=${full -- inc}")
    assert(inc.nonEmpty, "degenerate corpus: no near-dup pairs at all")
  }

  test("readJsonl + quarantine partition the input lines exactly") {
    val d = corpus(4)
    val tmp = TestData.freshScratch("graft-inv-jsonl")
    val js = to_json(struct($"doc_id", $"text"))
    d.select(when($"doc_id" % 11 === 0, concat(lit("broken "), js))
      .otherwise(js).as("value"))
      .write.mode("overwrite").text(tmp)
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    val clean = CorpusIo.readJsonl(sp, tmp, schema)
    val quar = CorpusIo.readJsonlQuarantine(sp, tmp, schema)
    assert(clean.count() + quar.count() == 400)
    assert(clean.count() == d.filter($"doc_id" % 11 =!= 0).count())
    // clean side round-trips content exactly
    val diff = clean.alias("r").join(d.alias("l"), "doc_id")
      .filter($"l.text" =!= $"r.text")
    assert(diff.count() == 0)
  }
}
