package graft


import org.apache.spark.sql.functions._

import graft.sources.TestData
import graft.llm.{Embed, Text}

/** Round-8 additions: batch ANN retrieval (one corpus pass serves a
  * whole query batch) and the Zipf vocabulary-health report. */
class BatchRetrievalSpec extends SparkFunSuite {

  private lazy val sp = spark
  import sp.implicits._

  private def vecs(n: Int) = (0 until n).map { i =>
    (i.toLong, Array.tabulate(4)(d =>
      (if (i % 2 == 0) 1.0f else -1.0f) * (d + 1) + i * 0.01f))
  }.toDF("vec_id", "embedding")

  test("topKBatch: per-query results equal single-query topK") {
    val corpus = vecs(30)
    val queries = corpus.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    val got = Embed.topKBatch(queries, corpus, k = 4)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(-_.getDouble(2)).map(_.getLong(1)).toSeq }
    for (q <- Seq(0L, 10L, 20L)) {
      val single = Embed.topK(corpus,
        corpus.filter($"vec_id" === q).head().getSeq[Float](1)
          .map(_.toDouble), k = 4)
        .collect().map(_.getLong(0)).toSeq
      assert(got(q) == single, s"query $q")
    }
  }

  test("topKBatchIvf exhaustive probe equals brute batch; partial probe " +
      "reads only probed cells") {
    val corpus = vecs(40)
    val tmp = TestData.freshScratch("graft-bivf")
    Embed.writeIvf(corpus, tmp, nCentroids = 4)
    val stored = sp.read.parquet(tmp)
    val cents = Embed.readIvfCentroids(sp, tmp)
    val queries = corpus.filter($"vec_id" % 13 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    val brute = Embed.topKBatch(queries, corpus, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Embed.topKBatchIvf(queries, stored, k = 3,
      centroids = cents, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == brute)
    // nProbe=1: every result must come from the query's own top cell
    val one = Embed.topKBatchIvf(queries, stored, k = 3,
      centroids = cents, nProbe = 1).collect()
    assert(one.nonEmpty)
    val cellOf = stored.select($"vec_id", $"ivf_cell".cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val qCell = queries.select($"query_id",
      element_at(graft.functions.VecMath.centroidTopCells($"embedding",
        cents, 1, rounded = false), 1).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // probe-cell choice rounds the cosine; allow equality with the
    // unrounded assignment's cell only when they agree (they do here)
    one.foreach { r =>
      assert(cellOf(r.getLong(1)) == qCell(r.getLong(0)),
        s"query ${r.getLong(0)} leaked outside its probed cell")
    }
  }

  test("zipfReport: exact slope/intercept on a constructed corpus") {
    // counts 8,4,2,1 over ranks 1..4 -> ln2 * (3,2,1,0) vs ln(1..4):
    // perfect line has slope ln is not linear in ln(rank); just assert
    // against a directly computed least-squares fit
    val words = Seq.fill(8)("alpha") ++ Seq.fill(4)("beta") ++
      Seq.fill(2)("gamma") ++ Seq("delta")
    val docs = Seq((1L, "s", words.mkString(" "))).toDF("doc_id", "source", "text")
    val r = Text.zipfReport(docs, Seq("source"), topN = 10).collect()(0)
    assert(r.getString(0) == "s" && r.getLong(1) == 4L)
    val xs = (1 to 4).map(x => math.log(x))
    val ys = Seq(8, 4, 2, 1).map(y => math.log(y))
    val xb = xs.sum / 4; val yb = ys.sum / 4
    val slope = xs.zip(ys).map { case (x, y) => (x - xb) * (y - yb) }.sum /
      xs.map(x => (x - xb) * (x - xb)).sum
    val icept = yb - slope * xb
    assert(math.abs(r.getDouble(2) - slope) < 1e-5, s"slope ${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - icept) < 1e-5)
  }

  test("zipfReport: punctuation stripped, case folded, groups separate") {
    val docs = Seq(
      (1L, "a", "The the THE. the, cat"),
      (2L, "b", "dog dog bird")).toDF("doc_id", "source", "text")
    val r = Text.zipfReport(docs, Seq("source"), topN = 10)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("a" -> 2L, "b" -> 2L)) // {the, cat}, {dog, bird}
  }
}
