package graft

import org.apache.spark.sql.functions._

import graft.llm.Embed
import graft.sources.TestData

/** The shared stages of the k-NN products in `Embed`: a probe picks the
  * cell its layout's assignment fills, the cell-probed forms equal their
  * brute-force twins when every cell is probed, a single query equals
  * the batch form over a one-row query frame, and the per-query top-k
  * keeps Catalyst's group limit. */
class KnnEngineSpec extends SparkFunSuite {

  private lazy val sp = spark
  import sp.implicits._

  private def randVecs(n: Int, dim: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat).toSeq,
        i % 3)
    }.toDF("vec_id", "embedding", "label")
  }

  test("a vector whose centroid is sampled twice is probed in the larger " +
      "duplicate cell: its exact match comes first at nProbe = 1") {
    // ids 0 and 1 carry the same vector and, with every row sampled as a
    // centroid, both become centroids: every assignment puts the two
    // rows in the LARGER of the tied cells and leaves the smaller empty
    val a = Seq(1.0f, 0.2f, 0.0f, 0.0f)
    val corpus = Seq(a, a, Seq(0.0f, 1.0f, 0.3f, 0.0f),
        Seq(0.0f, 0.0f, 1.0f, 0.1f), Seq(0.1f, 0.0f, 0.0f, 1.0f))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val q = a.map(_.toDouble)
    val dups = Set(0L, 1L)
    def firstIsDup(rows: Array[org.apache.spark.sql.Row], what: String) =
      assert(rows.nonEmpty && dups(rows.head.getAs[Long]("vec_id")),
        s"$what probed the empty duplicate cell: ${rows.toSeq}")

    val ivf = Embed.topKIvf(corpus, q, k = 2, nCentroids = 5, nProbe = 1)
      .collect()
    firstIsDup(ivf, "topKIvf")
    assert(ivf.head.getAs[Double]("score") == 1.0)

    val pq = TestData.freshScratch("graft-knn-dup-pq")
    Embed.writeIvfPq(corpus, pq, nCentroids = 5, m = 2, k = 4, iters = 1)
    firstIsDup(Embed.topKIvfPqStored(sp.read.parquet(pq), q, k = 2,
      nProbe = 1, cents = Embed.readIvfCentroids(sp, pq),
      books = Embed.readPqBooks(sp, pq)).collect(), "topKIvfPqStored")

    val layout = TestData.freshScratch("graft-knn-dup-ivf")
    Embed.writeIvf(corpus, layout, nCentroids = 5)
    val batch = Embed.topKBatchIvf(
        corpus.filter($"vec_id" === 0)
          .select($"vec_id".as("query_id"), $"embedding"),
        sp.read.parquet(layout), k = 2,
        centroids = Embed.readIvfCentroids(sp, layout), nProbe = 1)
      .orderBy($"score".desc, $"vec_id").collect()
    firstIsDup(batch, "topKBatchIvf")
    assert(batch.head.getAs[Double]("score") == 1.0)
  }

  test("knnClassifyCells probing every cell is bit-identical to " +
      "knnClassify") {
    val all = randVecs(120, 6, 5).localCheckpoint()
    val labeled = all.filter($"vec_id" % 4 =!= 0)
    val queries = all.filter($"vec_id" % 4 === 0)
    val cents = Embed.sampleCentroids(labeled, 5)
    val brute = Embed.knnClassify(labeled, queries, k = 5)
    val celled = Embed.knnClassifyCells(labeled, queries, k = 5, cents,
      probes = cents.size)
    assert(brute.count() == queries.count())
    assert(brute.exceptAll(celled).count() == 0 &&
      celled.exceptAll(brute).count() == 0)
  }

  test("a single query equals the batch form over a one-row query frame " +
      "(exact and IVF)") {
    val corpus = randVecs(80, 8, 9).select($"vec_id", $"embedding")
      .localCheckpoint()
    val layout = TestData.freshScratch("graft-knn-single")
    Embed.writeIvf(corpus, layout, nCentroids = 6, rounded = true)
    val stored = sp.read.parquet(layout)
    val cents = Embed.readIvfCentroids(sp, layout)
    for (qid <- Seq(3L, 41L, 77L)) {
      val one = corpus.filter($"vec_id" === qid)
        .select($"vec_id".as("query_id"), $"embedding")
      val q = one.head().getSeq[Float](1).map(_.toDouble)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select($"vec_id", $"score").orderBy($"score".desc, $"vec_id")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val exact = rows(Embed.topK(corpus, q, k = 7))
      assert(exact.size == 7)
      assert(exact == rows(Embed.topKBatch(one, corpus, k = 7)),
        s"topK vs topKBatch, query $qid")
      val ivf = rows(Embed.topKIvfStored(stored, q, k = 7, nCentroids = 6,
        nProbe = 2, trained = Some(cents)))
      assert(ivf.nonEmpty && ivf.head == ((qid, 1.0)))
      assert(ivf == rows(Embed.topKBatchIvf(one, stored, k = 7, cents,
        nProbe = 2)), s"topKIvfStored vs topKBatchIvf, query $qid")
    }
  }

  test("the per-query top-k keeps its group limit; a single query keeps " +
      "its TakeOrderedAndProject") {
    val corpus = randVecs(40, 4, 13).select($"vec_id", $"embedding")
    assert(PlanAudit.groupLimits(Embed.knnGraph(corpus, k = 3)) > 0)
    assert(PlanAudit.groupLimits(Embed.topKBatch(
      corpus.select($"vec_id".as("query_id"), $"embedding"), corpus,
      k = 3)) > 0)
    val single = Embed.topK(corpus, Seq(1.0, 0.0, 0.0, 0.0), k = 3)
    assert(PlanAudit.groupLimits(single) == 0)
    assert(single.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
  }
}
