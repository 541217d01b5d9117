package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.TestData
import graft.llm.{Dedup, Embed, Multimodal, Text}

/** LLM-pipeline operators: text analysis, dedup family, similarity
  * search, multimodal plumbing. */
class LlmSpec extends SparkFunSuite {

  private def docs(texts: Seq[String]) = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 2), schema)
  }

  test("langId detects real languages and CJK") {
    val d = docs(Seq(
      "the cat sat on the mat and it was happy with the sun",
      "der Hund ist nicht mit der Katze in dem Haus und das ist gut",
      "le chat est dans la maison et il est content de la vie",
      "el perro es un animal que vive en la casa de su amigo",
      "这是一个中文句子没有空格但是有很多汉字在里面"))
    val got = d.select(col("doc_id"), Text.langId(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0) == "en"); assert(got(1) == "de"); assert(got(2) == "fr")
    assert(got(3) == "es"); assert(got(4) == "zh")
  }

  test("token counts and fingerprints are whitespace-normalization stable") {
    val d = docs(Seq("a  b\tc", "a b c", "a b d"))
    val got = d.select(Text.tokenCount(col("text")),
      Text.fingerprint(col("text"))).collect()
    assert(got.forall(_.getInt(0) == 3))
    assert(got(0).getString(1) == got(1).getString(1)) // whitespace-insensitive
    assert(got(0).getString(1) != got(2).getString(1))
  }

  test("exact dedup groups identical normalized content") {
    val d = docs(Seq("same text here", "same  text\there", "different"))
    val got = Dedup.exact(d).collect()
      .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._2)
    assert(got.toSeq == Seq((2L, 0L), (1L, 2L))) // group of 2 keeps doc 0
  }

  test("deduplicate keeps one survivor per exact and near-dup group") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = docs(Seq(
      base,
      base,                   // exact dup of 0 -> dropped
      base + " lambda",       // near-dup of 0 -> dropped at threshold 0.3
      "entirely different content with no overlap at all whatsoever here"))
    val exactOnly = Dedup.deduplicate(d)
    assert(exactOnly.count() == 3) // drops doc 1
    val near = Dedup.deduplicate(d, nearDupThreshold = Some(0.3))
    assert(near.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 3L))
  }

  test("deduplicate maxBucket: over-cap near-dup family survives at a " +
      "tiny cap, Int.MaxValue (true disable) restores full dedup") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // distinct texts (no exact dups), all near-dups of each other:
    // with the default banding their buckets hold 4 > maxBucket = 1
    val d = docs(Seq(base, base + " lambda", base + " mu", base + " nu"))
    val capped = Dedup.deduplicate(d, nearDupThreshold = Some(0.3),
      maxBucket = 1)
    // the valve drops every over-cap bucket: no pairs, all 4 survive —
    // the DOCUMENTED posture, not a silent guarantee of dedup
    assert(capped.count() == 4)
    val uncapped = Dedup.deduplicate(d, nearDupThreshold = Some(0.3),
      maxBucket = Int.MaxValue)
    assert(uncapped.select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(0L))
    // and the sentinel path produces the same result as an effectively
    // large finite cap (the gate-corpus equivalence)
    val bigCap = Dedup.deduplicate(d, nearDupThreshold = Some(0.3),
      maxBucket = 1000)
    assert(bigCap.select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(0L))
  }

  test("ngramJaccard finds planted near-dups exactly") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = docs(Seq(
      base,
      base + " lambda",                       // high overlap with 0
      "totally different words entirely here unrelated content now yes"))
    val got = Dedup.ngramJaccard(d, n = 3, threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((0L, 1L)))
  }

  test("minhashLsh agrees with exact ngramJaccard on planted dups") {
    val base = "one two three four five six seven eight nine ten eleven twelve"
    val d = docs(Seq(
      base, base + " thirteen",
      "completely other content with no shared phrases at all in it",
      base.replace("five", "FIVE")))
    val exact = Dedup.ngramJaccard(d, n = 3, threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(d, n = 3, bands = 64, rowsPerBand = 2,
      threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && lsh == exact)
  }

  test("simhash: identical texts collide, unrelated texts do not") {
    val d = docs(Seq(
      "shared words make shared hashes in this document about spark",
      "shared words make shared hashes in this document about spark",
      "an entirely distinct topic concerning databases and storage engines"))
    val got = Dedup.simhashNearDup(d, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == Seq((0L, 1L, 0)))
  }

  test("winnowing: shared long runs share fingerprints, disjoint texts don't") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val d = docs(Seq(
      base,
      "prefix words here " + base,              // shares a 30-token run
      (101 to 130).map(i => s"tok$i").mkString(" "))) // disjoint
    val fps = d.select(col("doc_id"), Text.winnow(col("text")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(0L) & fps(1L)).nonEmpty)  // guaranteed shared fingerprint
    assert((fps(0L) & fps(2L)).isEmpty)
    // selection: far fewer fingerprints than grams
    assert(fps(0L).size < 26)
  }

  test("piiStats counts and redactPii replaces typed spans") {
    val d = docs(Seq(
      "contact bob@example.com or alice@test.org at 10.0.0.1 " +
        "or call +1 (555) 123-4567 now",
      "no pii in this clean document at all"))
    val stats = Text.piiStats(d).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(stats(0L) == ((2, 1, 1)))
    assert(stats(1L) == ((0, 0, 0)))
    val red = d.select(col("doc_id"), Text.redactPii(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(0L).contains("<EMAIL>") && red(0L).contains("<IP>") &&
      red(0L).contains("<PHONE>"))
    assert(!red(0L).contains("example.com") && !red(0L).contains("10.0.0.1"))
    assert(red(1L) == "no pii in this clean document at all")
  }

  test("chunk splits into overlapping token windows") {
    val d = docs(Seq((1 to 10).map(i => s"w$i").mkString(" "), "one"))
    val got = Text.chunk(d, maxTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(t => (t._1, t._2))
    assert(got.filter(_._1 == 0L).map(_._3).toSeq == Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(got.filter(_._1 == 1L).map(_._3).toSeq == Seq("one"))
  }

  test("repetitionRatio flags duplicated tokens") {
    val d = docs(Seq("a b c d", "a a a a"))
    val got = d.select(Text.repetitionRatio(col("text"))).collect()
      .map(_.getDouble(0))
    assert(got(0) == 0.0 && got(1) == 0.75)
  }

  private def vecs(vs: Seq[Seq[Double]]) = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        vs.zipWithIndex.map { case (v, i) =>
          Row(i.toLong, v.map(_.toFloat)) }, 2), schema)
  }

  test("brute-force topK ranks by cosine") {
    val corpus = vecs(Seq(
      Seq(1.0, 0.0, 0.0),
      Seq(0.9, 0.1, 0.0),
      Seq(0.0, 1.0, 0.0),
      Seq(-1.0, 0.0, 0.0)))
    val got = Embed.topK(corpus, Seq(1.0, 0.0, 0.0), k = 2).collect()
      .map(_.getLong(0))
    assert(got.toSeq == Seq(0L, 1L))
  }

  test("LSH topK finds the true neighbor set on separated clusters") {
    val cluster1 = (0 until 5).map(i => Seq(1.0, 0.01 * i, 0.0, 0.0))
    val cluster2 = (0 until 5).map(i => Seq(0.0, 0.0, 1.0, 0.01 * i))
    val corpus = vecs(cluster1 ++ cluster2)
    val exact = Embed.topK(corpus, Seq(1.0, 0.0, 0.0, 0.0), 3)
      .collect().map(_.getLong(0)).toSet
    val lsh = Embed.topKLsh(corpus, Seq(1.0, 0.0, 0.0, 0.0), 3,
      nPlanes = 4, tables = 8).collect().map(_.getLong(0)).toSet
    assert(lsh == exact)
  }

  test("IVF topK finds the true neighbors when probing their cell") {
    val cluster1 = (0 until 8).map(i => Seq(1.0, 0.02 * i, 0.0, 0.0))
    val cluster2 = (0 until 8).map(i => Seq(0.0, 0.0, 1.0, 0.02 * i))
    val corpus = vecs(cluster1 ++ cluster2)
    val exact = Embed.topK(corpus, Seq(1.0, 0.0, 0.0, 0.0), 3)
      .collect().map(_.getLong(0)).toSet
    // probe half the cells: with two tight clusters, the query's cells
    // cover its own cluster
    val ivf = Embed.topKIvf(corpus, Seq(1.0, 0.0, 0.0, 0.0), 3,
      nCentroids = 4, nProbe = 2).collect().map(_.getLong(0)).toSet
    assert(ivf == exact)
  }

  test("stored IVF partial probe reads only probed cell directories") {
    val cluster1 = (0 until 8).map(i => Seq(1.0, 0.02 * i, 0.0, 0.0))
    val cluster2 = (0 until 8).map(i => Seq(0.0, 0.0, 1.0, 0.02 * i))
    val corpus = vecs(cluster1 ++ cluster2)
    val path = "/tmp/graft_ivf_spec"
    Embed.writeIvf(corpus, path, nCentroids = 4)
    val stored = spark.read.parquet(path)
    val probe = Embed.topKIvfStored(stored, Seq(1.0, 0.0, 0.0, 0.0), 3,
      nCentroids = 4, nProbe = 2)
    val got = probe.collect().map(_.getLong(0)).toSet
    // pruning: the executed scan read at most 2 of the 4 cell partitions
    // (inputFiles ignores pruning; the scan's runtime metric does not)
    val scan = probe.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val partsRead = scan.metrics("numPartitions").value
    assert(partsRead <= 2, s"expected <=2 probed cell dirs, read $partsRead")
    // ranking within the probed cells is the exact brute force
    val exact = Embed.topK(corpus, Seq(1.0, 0.0, 0.0, 0.0), 3)
      .collect().map(_.getLong(0)).toSet
    assert(got == exact)
  }

  test("stored IVF probe under DUPLICATE centroids lands on the cell " +
      "the assignment kernel filled (tie direction, r14 1000x reveal)") {
    // 5 duplicate centroids of the data's own direction + 1 decoy:
    // the kernel assigns every matching vector to the LARGEST tied
    // cell id; a probe breaking ties to the LOWER id would spend all
    // nProbe=2 probes on empty duplicate cells and return 0 rows —
    // exactly what embed_ivf_update did at the identical-replica 1000x
    // ScaleCheck (6400 sampled centroids over 2000 distinct vectors)
    val corpus = vecs((0 until 8).map(i => Seq(1.0, 0.02 * i, 0.0, 0.0)))
    val path = "/tmp/graft_ivf_dup_spec"
    val dup = Seq(1.0, 0.0, 0.0, 0.0)
    val cents = Seq(Seq(0.0, 0.0, 1.0, 0.0)) ++ Seq.fill(5)(dup)
    Embed.writeIvf(corpus, path, nCentroids = 6, centroids = Some(cents))
    val got = Embed.topKIvfStored(spark.read.parquet(path), dup, 3,
        nCentroids = 6, nProbe = 2,
        trained = Some(Embed.readIvfCentroids(spark, path)))
      .collect().map(_.getLong(0)).toSet
    val exact = Embed.topK(corpus, dup, 3)
      .collect().map(_.getLong(0)).toSet
    assert(got == exact,
      s"probe missed the populated duplicate cell: $got vs $exact")
  }

  test("PQ: codes are valid, ADC recovers brute-force order on clusters") {
    // two tight clusters in 4d, m=2 subspaces of 2 dims, k=2 codewords
    val cluster1 = (0 until 6).map(i => Seq(1.0, 0.02 * i, 0.0, 0.0))
    val cluster2 = (0 until 6).map(i => Seq(0.0, 0.0, 1.0, 0.02 * i))
    val corpus = vecs(cluster1 ++ cluster2)
    val books = Embed.pqTrain(corpus, m = 2, k = 2, iters = 3)
    assert(books.size == 2 && books.forall(_.size == 2) &&
      books.forall(_.forall(_.size == 2)))
    val codes = Embed.pqEncode(corpus, books).collect()
    assert(codes.length == 12)
    assert(codes.forall(_.getSeq[Int](1).forall(c => c >= 0 && c < 2)))
    // ADC top-6 for a cluster-1 query = exactly cluster 1 (inter-cluster
    // gap >> quantization error; within-cluster order may shuffle)
    val got = Embed.pqTopKAdc(Embed.pqEncode(corpus, books), books,
      Seq(1.0, 0.0, 0.0, 0.0), k = 6).collect().map(_.getLong(0)).toSet
    assert(got == (0L until 6L).toSet)
    // ADC scores approximate the true cosine within quantization error
    val scores = Embed.pqTopKAdc(Embed.pqEncode(corpus, books), books,
      Seq(1.0, 0.0, 0.0, 0.0), k = 12).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores.filterKeys(_ < 6).values.forall(s => s > 0.99))
    assert(scores.filterKeys(_ >= 6).values.forall(s => s < 0.1))
  }

  test("IVF-PQ layout: no vector column, pruned probe, ADC parity") {
    val cluster1 = (0 until 6).map(i => Seq(1.0, 0.02 * i, 0.0, 0.0))
    val cluster2 = (0 until 6).map(i => Seq(0.0, 0.0, 1.0, 0.02 * i))
    val corpus = vecs(cluster1 ++ cluster2)
    val cents = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0, 0.0),
      Seq(0.0, 1.0, 0.0, 0.0), Seq(0.0, 0.0, 0.0, 1.0))
    val books = Embed.pqTrain(corpus, m = 2, k = 2, iters = 2)
    val path = TestData.freshScratch("ivfpq")
    Embed.writeIvfPq(corpus, path, nCentroids = 4, m = 2, k = 2,
      centroids = Some(cents), books = Some(books))
    val stored = spark.read.parquet(path)
    // the layout stores ONLY (id, codes, cell) — no vector data at rest
    assert(stored.columns.sorted.toSeq == Seq("codes", "ivf_cell", "vec_id"))
    // sidecar quantizers round-trip exactly
    assert(Embed.readIvfCentroids(spark, path) == cents)
    assert(Embed.readPqBooks(spark, path) == books)
    // partial probe: the executed scan reads only the probed cell dirs
    val probe = Embed.topKIvfPqStored(stored, Seq(1.0, 0.0, 0.0, 0.0), 6,
      nProbe = 1, cents = cents, books = books)
    val scan = probe.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    probe.collect()
    assert(scan.metrics("numPartitions").value <= 1)
    // the probed cell is cluster 1; ADC ranks its 6 members on top
    assert(probe.collect().map(_.getLong(0)).toSet == (0L until 6L).toSet)
    // full probe == pqTopKAdc over pqEncode (same books, same scores)
    val full = Embed.topKIvfPqStored(stored, Seq(1.0, 0.0, 0.0, 0.0), 12,
      nProbe = 4, cents = cents, books = books)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = Embed.pqTopKAdc(Embed.pqEncode(corpus, books), books,
      Seq(1.0, 0.0, 0.0, 0.0), 12)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == direct)
  }

  test("PQ rerank: exact rescoring of the ADC shortlist recovers order") {
    val cluster1 = (0 until 6).map(i => Seq(1.0, 0.02 * i, 0.0, 0.0))
    val cluster2 = (0 until 6).map(i => Seq(0.0, 0.0, 1.0, 0.02 * i))
    val corpus = vecs(cluster1 ++ cluster2)
    val books = Embed.pqTrain(corpus, m = 2, k = 2, iters = 3)
    val codes = Embed.pqEncode(corpus, books)
    val q = Seq(1.0, 0.01, 0.0, 0.0)
    // overscan covering the whole corpus: rerank == brute force EXACTLY
    // (ADC ties within a cluster are broken by the exact stage)
    val rr = Embed.pqTopKRerank(codes, corpus, books, q, k = 6,
        overscan = 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = Embed.topK(corpus, q, 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rr == exact)
    // tight shortlist (k x 1): still exactly the right cluster on top
    val tight = Embed.pqTopKRerank(codes, corpus, books, q, k = 6,
      overscan = 1).collect().map(_.getLong(0)).toSet
    assert(tight == (0L until 6L).toSet)
  }

  test("PQ: a codeword that loses all members keeps its previous value") {
    val corpus = vecs(Seq(Seq(1.0, 0.0), Seq(0.9, 0.1)))
    // k=2 init, second codeword deliberately far from every vector
    val init = Seq(Seq(Seq(1.0, 0.0), Seq(-1.0, -1.0)),
      Seq(Seq(0.0, 1.0), Seq(-1.0, -1.0))) // m=2 subspaces of 1 dim
    val books = Embed.pqTrain(corpus, m = 2, k = 2, iters = 2,
      init = Some(init.map(_.map(_.take(1)))))
    // the orphaned code (index 1) keeps the init codeword verbatim
    assert(books(0)(1) == Seq(-1.0) && books(1)(1) == Seq(-1.0))
  }

  test("semDedup: within-cluster pairs only, one survivor per dup group") {
    // cluster A: three near-copies + one distinct; cluster B: two copies
    val a = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.999, 0.01, 0.0, 0.0),
      Seq(0.998, 0.02, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0))
    val b = Seq(Seq(0.0, 0.0, 1.0, 0.0), Seq(0.0, 0.0, 0.999, 0.01))
    val corpus = vecs(a ++ b)
    val cents = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0, 0.0))
    val pairs = Embed.semDedupPairs(corpus, cents, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ids 0,1,2 co-cluster and are mutual near-dups; 4,5 likewise; id 3
    // ties 0.0/0.0 against both centroids so the tie-break (larger cid
    // wins) puts it in cell 1 with ids 4,5 — where it scores ~0 against
    // both, below threshold either way
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L), (4L, 5L)))
    val survivors = Embed.semDedup(corpus, cents, threshold = 0.95)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(survivors == Set(0L, 3L, 4L))
    // cross-cluster near-dups are NOT candidates (the SemDeDup contract):
    // a clone of id 0 assigned to cluster B would pair with nothing in A
    val pairsHigh = Embed.semDedupPairs(corpus, cents, threshold = 0.99999)
      .collect()
    assert(pairsHigh.isEmpty)
  }

  test("semDedup: maxCell excludes a degenerate cell from pairing") {
    val clones = (0 until 8).map(_ => Seq(1.0, 0.0))
    val corpus = vecs(clones :+ Seq(0.0, 1.0))
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val capped = Embed.semDedupPairs(corpus, cents, threshold = 0.9,
      maxCell = 4L).collect()
    assert(capped.isEmpty) // the 8-clone cell is over the cap, excluded
    val full = Embed.semDedupPairs(corpus, cents, threshold = 0.9)
      .collect()
    assert(full.length == 8 * 7 / 2)
    // capped semDedup keeps everything (no pairs -> no losers)
    assert(Embed.semDedup(corpus, cents, 0.9, maxCell = 4L).count() == 9)
  }

  test("nearDupLsh is a subset of exact with full recall on tight pairs") {
    val tight = Seq(Seq.fill(64)(1.0), Seq.fill(64)(1.0).updated(0, 0.9))
    val noise = (0 until 6).map(i =>
      (0 until 64).map(j => math.sin(i * 64 + j * 2.17)).map(x => x))
    val corpus = vecs(tight ++ noise)
    val exact = Embed.nearDupExact(corpus, 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Embed.nearDupLsh(corpus, 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((0L, 1L)))
    assert(lsh == exact)
  }

  test("sharedSpanPairs catches verbatim shared spans, caps boilerplate") {
    val quote = (0 until 16).map(i => s"q$i").mkString(" ")
    val d = docs(Seq(
      s"alpha beta $quote",
      s"$quote gamma delta epsilon",
      "totally unrelated text with many different words here"))
    val pairs = Dedup.sharedSpanPairs(d, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the 16-token quote guarantees shared fingerprints for (0,1) only
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((0L, 1L)))
    assert(pairs.head._3 >= 1)
    // a fingerprint present in > maxBucket docs is boilerplate: with the
    // quote in all three docs and maxBucket = 2, every pair vanishes
    val d3 = docs(Seq(s"a b $quote", s"$quote c d", s"e f $quote g"))
    assert(Dedup.sharedSpanPairs(d3, minShared = 1, maxBucket = 2)
      .collect().isEmpty)
  }

  test("charBigramLm scores against the self-trained model exactly") {
    // corpus = two copies of "ab": one bigram "ab" with count 2, context
    // 'a' count 2 -> P = (2+1)/(2+38) = 3/40; perplexity = 40/3
    val d = docs(Seq("ab", "ab", "x"))
    val got = Text.charBigramLm(d)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val lp = math.log(3.0 / 40.0)
    assert(got(0) == ((BigDecimal(lp).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      13.333333)))
    assert(got(0) == got(1))
    // single-char doc: no bigrams -> 0 / 1
    assert(got(2) == ((0.0, 1.0)))
    // a gibberish doc scores WORSE (higher perplexity) than a normal one
    val d2 = docs(Seq(
      "the cat sat on the mat and the dog sat on the log",
      "the dog sat on the mat and the cat ran to the log",
      "zq jx qv kz wq xj zv qk"))
    val ppl = Text.charBigramLm(d2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(ppl(2) > ppl(0) && ppl(2) > ppl(1))
  }

  test("repetitionStats computes the Gopher signals exactly") {
    val d = docs(Seq(
      "a b a b a b",  // 11 chars; top 2-gram "a b" x3; 3-grams "a b a"/"b a b" x2
      "x\nx\ny",      // repeated line x; 2-grams unique; no dup 3-gram
      "solo"))        // single token: no grams at all
    val got = Text.repetitionStats(d)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got(0) == ((0.0, 0.0, 0.818182, 1.818182))) // 9/11, 20/11 (>1: overlaps)
    assert(got(1) == ((0.333333, 0.666667, 0.6, 0.0))) // 2-of-3 dup lines; "x x" 3/5
    assert(got(2) == ((0.0, 0.0, 0.0, 0.0)))
  }

  test("dropRepeatedLines strips cross-document boilerplate, keeps order") {
    val d = docs(Seq(
      "FOOTER\nkeep one\nfooter\nkeep two",   // footer twice, case-insensitive
      "intro\nfooter\nbody text",
      "  footer  \nonly mine",                 // whitespace-normalized match
      "footer"))                               // all-boilerplate doc
    val got = Text.dropRepeatedLines(d, maxDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 'footer' appears (normalized) in 4 docs > 2 -> dropped everywhere;
    // unique lines keep their original text and ORDER
    assert(got(0) == "keep one\nkeep two")
    assert(got(1) == "intro\nbody text")
    assert(got(2) == "only mine")
    // a doc made entirely of boilerplate vanishes
    assert(!got.contains(3L) && got.size == 3)
    // below the threshold nothing is dropped
    val loose = Text.dropRepeatedLines(d, maxDocs = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(loose(3L) == "footer" && loose.size == 4)
  }

  test("sparse-regime LSH: full recall on planted dups, candidates << n^2/2") {
    // 300 seeded random unit-ish vectors + 5 planted EXACT clones — the
    // regime the 100 TB path runs in: nearly every pair is far apart, so
    // the candidate stage must stay a sliver of all-pairs while the
    // planted duplicates are found deterministically (identical vectors
    // share every bucket key)
    val rnd = new scala.util.Random(7)
    val base = (0 until 300).map(_ => Seq.fill(64)(rnd.nextGaussian()))
    val corpus = vecs(base ++ base.take(5)) // ids 300..304 clone 0..4
    val n = 305
    val got = Embed.nearDupLsh(corpus, 0.999, nPlanes = 16, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0 until 5).map(i => (i.toLong, (300 + i).toLong)).toSet)
    // the scale claim, measured: candidate pairs from shared buckets are
    // a tiny fraction of the 46k all-pairs a theta join would score
    val cand = Embed.lshCandidatePairs(corpus, nPlanes = 16, tables = 8).count()
    assert(cand < n.toLong * n / 2 / 20,
      s"candidate stage degenerated to near-all-pairs: $cand of ${n * (n - 1) / 2}")
    assert(cand >= 5) // the planted pairs are always candidates
  }

  test("connectedComponents matches union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val nNodes = 60
      val edges = Seq.fill(40)((rnd.nextInt(nNodes).toLong,
        rnd.nextInt(nNodes).toLong)).filter { case (a, b) => a != b }
      // reference: plain union-find over the same edges
      val parent = Array.tabulate(nNodes)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // component = min node of the union-find class, in the id type's
      // own ordering (string ids order "10" before "9")
      def want[T: Ordering](id: Long => T): Map[T, T] = nodes.map(n =>
        id(n) -> nodes.filter(m => find(m.toInt) == find(n.toInt)).map(id).min
      ).toMap
      val sp = SparkSpec.spark
      import sp.implicits._
      val longs = edges.toDF("a", "b")
      def run(df: org.apache.spark.sql.DataFrame, t: DataType): Array[Row] = {
        val out = Dedup.connectedComponents(df)
        assert(out.schema.map(_.dataType) == Seq(t, t), s"trial $trial $t")
        out.collect()
      }
      def as(t: String) =
        longs.select(col("a").cast(t).as("a"), col("b").cast(t).as("b"))
      assert(run(longs, LongType).map(r => r.getLong(0) -> r.getLong(1))
        .toMap == want[Long](identity), s"trial $trial long")
      assert(run(as("int"), IntegerType).map(r => r.getInt(0) -> r.getInt(1))
        .toMap == want(_.toInt), s"trial $trial int")
      assert(run(as("string"), StringType)
        .map(r => r.getString(0) -> r.getString(1))
        .toMap == want(_.toString), s"trial $trial string")
    }
  }

  test("connectedComponents collapses a long chain in logarithmic rounds") {
    // a path 0-1-2-...-99: worst case for plain label propagation
    // (diameter 99); pointer jumping must still converge inside the
    // default maxIter=30 — and every node must label to 0
    val sp = SparkSpec.spark
    import sp.implicits._
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("a", "b")
    val comp = Dedup.connectedComponents(chain).collect()
    assert(comp.length == 100 && comp.forall(_.getLong(1) == 0L))
  }

  test("connectedComponents: random-id path converges in near-log rounds") {
    // a 2,048-node path whose ids are RANDOMLY PERMUTED: the adversarial
    // regime for min-label propagation (rounds ∝ diameter under random
    // labeling — the r14 simulation measured 585–927 rounds on a
    // 2,000-node random-id path, silently exiting unconverged past
    // maxIter). Star contraction (r15) must converge within ~2·log2(n)
    // rounds AND label every node to the component minimum.
    val sp = SparkSpec.spark
    import sp.implicits._
    val n = 2048
    val perm = new scala.util.Random(7).shuffle((0L until n.toLong).toVector)
    val edges = (0 until n - 1).map(i => (perm(i), perm(i + 1)))
      .toDF("a", "b")
    val comp = Dedup.connectedComponents(edges).collect()
    assert(comp.length == n && comp.forall(_.getLong(1) == 0L),
      "every node of the permuted path must label to component 0")
    val rounds = Dedup.lastCcRounds.get()
    val bound = 2 * (math.log(n.toDouble) / math.log(2.0)).ceil.toInt + 6
    assert(rounds > 0 && rounds <= bound,
      s"$rounds star rounds > bound $bound on a random-id path — " +
        "convergence-rate regression")
  }

  test("deduplicateClustered keeps one survivor per component") {
    // components {0,1,2} (chain via 1) and {5,6}; 3 and 4 unpaired
    val sp = SparkSpec.spark
    import sp.implicits._
    val d = docs(Seq.tabulate(7)(i => s"unique text number $i"))
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("a", "b")
    val kept = Dedup.deduplicateClustered(d, pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(0L, 3L, 4L, 5L))
    // greedy pair policy on the SAME chain keeps {0} too but drops 2
    // only because it is the larger side of (1,2) — with pairs
    // (1,2),(2,0) transitivity matters: clustering keeps min 0
    val pairs2 = Seq((1L, 2L), (0L, 2L)).toDF("a", "b")
    val kept2 = Dedup.deduplicateClustered(d, pairs2)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept2 == Seq(0L, 3L, 4L, 5L, 6L))
  }

  test("tfidf ranks distinctive terms above corpus-common ones") {
    val d = docs(Seq(
      "the shared words appear everywhere in the corpus always",
      "the shared words appear everywhere plus zebra here",
      "the shared words appear everywhere plus quasar here"))
    val got = Text.tfidfTopTerms(d, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(3)))
    // each doc's rank-1 term is its unique word, never a shared one
    val rank1 = got.filter(_._3 == 1).map(t => t._1 -> t._2).toMap
    assert(rank1(1L) == "zebra" && rank1(2L) == "quasar")
    assert(got.count(_._1 == 0L) == 2) // k rows per doc
  }

  test("deterministic sampling: reproducible, rate-accurate, stratified") {
    import graft.llm.Sample
    val d = docs(Seq.tabulate(1000)(i => s"document body $i"))
    val s1 = Sample.bernoulli(d, 0.5, seed = "s").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val s2 = Sample.bernoulli(d, 0.5, seed = "s").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2)                       // reproducible
    assert(s1.size > 400 && s1.size < 600) // rate-accurate
    val s3 = Sample.bernoulli(d, 0.5, seed = "other").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(s3 != s1)                       // seed-sensitive
    // nested property: a lower-rate sample is a subset of a higher-rate
    // one under the same seed (frac < 0.2 implies frac < 0.5)
    val s4 = Sample.bernoulli(d, 0.2, seed = "s").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(s4.subsetOf(s1))
    // mixing: rate 0 drops a stratum entirely, rate 1 keeps it whole
    val stratum = when(col("doc_id") < 500, "a").otherwise("b")
    val mixed = Sample.mix(d, stratum, Map("a" -> 0.0, "b" -> 1.0))
      .collect().map(r => r.getAs[Long]("doc_id"))
    assert(mixed.length == 500 && mixed.forall(_ >= 500))
  }

  test("upsample: integer epochs + deterministic fractional epoch") {
    import graft.llm.Sample
    val d = docs(Seq.tabulate(1000)(i => s"document body $i"))
    val stratum = when(col("doc_id") < 500, "hot").otherwise("cold")
    val up = Sample.upsample(d, stratum,
      Map("hot" -> 2.5, "cold" -> 0.0), seed = "e")
      .select(col("doc_id"), col("epoch"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(up.forall(_._1 < 500))               // rate 0 drops cold
    val byDoc = up.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq)
    // every hot doc gets epochs 0 and 1; a ~50% subset gets epoch 2
    assert(byDoc.values.forall(e =>
      e.startsWith(Seq(0, 1)) && (e.size == 2 || e == Seq(0, 1, 2))))
    val third = byDoc.count(_._2.size == 3)
    assert(third > 150 && third < 350)
    // reproducible; fractional membership = bernoulli at the fraction
    val again = Sample.upsample(d, stratum,
      Map("hot" -> 2.5, "cold" -> 0.0), seed = "e")
      .select(col("doc_id"), col("epoch"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(up.sorted.toSeq == again.sorted.toSeq)
    val bern = Sample.bernoulli(d.filter(col("doc_id") < 500), 0.5, seed = "e")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(byDoc.filter(_._2.size == 3).keySet == bern)
    // rate 1.0 (default) = exactly one epoch-0 copy
    val plain = Sample.upsample(d, stratum, Map("hot" -> 1.0, "cold" -> 1.0))
    assert(plain.count() == 1000 &&
      plain.filter(col("epoch") =!= 0).count() == 0)
  }

  test("takeExact: exact per-stratum sizes, deterministic, seed-sensitive") {
    import graft.llm.Sample
    val d = docs((0 until 100).map(i => s"doc number $i content"))
    val stratum = when(col("doc_id") % 2 === 0, "even").otherwise("odd")
    val a = Sample.takeExact(d, stratum, Map("even" -> 7), defaultN = 3)
      .collect()
    val sizes = a.groupBy(_.getAs[String]("stratum"))
      .view.mapValues(_.length).toMap
    assert(sizes == Map("even" -> 7, "odd" -> 3))
    val again = Sample.takeExact(d, stratum, Map("even" -> 7), defaultN = 3)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(again == a.map(_.getLong(0)).sorted.toSeq)
    val other = Sample.takeExact(d, stratum, Map("even" -> 7), defaultN = 3,
      seed = "x").collect().map(_.getLong(0)).sorted.toSeq
    assert(other != again) // a different seed selects a different sample
  }

  test("capPerStratum: per-stratum quota, deterministic, seed-sensitive") {
    import graft.llm.Sample
    val d = docs((0 until 90).map(i => s"doc number $i content"))
    val stratum = when(col("doc_id") % 3 === 0, "a")
      .when(col("doc_id") % 3 === 1, "b").otherwise("c")
    val a = Sample.capPerStratum(d, stratum, cap = 10).collect()
    val sizes = a.groupBy(_.getAs[String]("stratum"))
      .view.mapValues(_.length).toMap
    assert(sizes == Map("a" -> 10, "b" -> 10, "c" -> 10))
    // deterministic across runs
    val again = Sample.capPerStratum(d, stratum, cap = 10)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(again == a.map(_.getLong(0)).sorted.toSeq)
    // a different seed keeps different rows
    val other = Sample.capPerStratum(d, stratum, cap = 10, seed = "x")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(other != again)
    // cap above the stratum size keeps everything
    assert(Sample.capPerStratum(d, stratum, cap = 1000).count() == 90L)
  }

  test("gopherRules: signals and conjunction on constructed documents") {
    import graft.llm.Text
    val good = (Seq.fill(60)("the quick brown fox jumped over lazy dogs") :+
      "of and that have with").mkString(" ") // 485 words, stopword-rich
    val short = "too few words here"
    val symbols = (Seq.fill(30)("the of ### and ... that ### have ...")).mkString(" ")
    val rows = Text.gopherRules(docs(Seq(good, short, symbols)))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(0).getAs[Boolean]("keep"))
    assert(!rows(1).getAs[Boolean]("keep"))      // n_words < 50
    assert(rows(1).getAs[Int]("n_words") == 4)
    assert(!rows(2).getAs[Boolean]("keep"))      // symbol ratio + alpha
    assert(rows(2).getAs[Double]("symbol_word_ratio") > 0.1)
    assert(rows(0).getAs[Int]("stop_hits") >= 2)
    assert(rows(0).getAs[Double]("alpha_word_frac") == 1.0)
  }

  test("semanticDecontaminate: drops neighbors of bench vectors only") {
    val corpus = vecs(Seq(
      Seq(1.0, 0.0, 0.0), Seq(0.99, 0.1, 0.0), // near bench
      Seq(0.0, 1.0, 0.0), Seq(0.0, 0.0, 1.0))) // far
    val bench = vecs(Seq(Seq(1.0, 0.05, 0.0)))
    val kept = Embed.semanticDecontaminate(corpus, bench, threshold = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
    // empty bench: nothing drops
    assert(Embed.semanticDecontaminate(corpus, bench.limit(0), 0.9)
      .count() == 4)
  }

  test("BPE: merges match the hand-computed greedy sequence; encode counts") {
    import graft.llm.Bpe
    // classic tiny corpus: 'low'x5 'lower'x2 'newest'x6 'widest'x3
    val d = docs(Seq(
      (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")))
    val vocab = Bpe.wordVocab(d)
    assert(vocab.collect().map(r => (r.getString(0), r.getLong(1))).toMap ==
      Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L))
    val merges = Bpe.train(vocab, 4)
    // round 1: 'es' 9 (newest+widest); round 2: 'est' 9; then 'w'+'est'?
    // no — 'west' pairs: ne-w/wi-d... hand-compute: after est(9):
    // n e w est / w i d est / l o w / l o w e r
    // pairs: lo 7, ow 7, es gone, st gone, ne 6, ew 6, west 9? 'w','est':
    // newest has w+est, widest has d+est -> ('w','est') 6, ('d','est') 3,
    // lo 7, ow 7 -> best is lo 7 (count 7, 'lo' < 'ow')
    assert(merges.map(m => (m.left, m.right, m.count)) == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L), ("lo", "w", 7L)))
    // greedy fold on repeats: pair (a,a) over 'aaaa' -> [aa][aa]
    val aa = Bpe.train(Bpe.wordVocab(docs(Seq("aaaa"))), 1)
    assert(aa.head.left == "a" && aa.head.right == "a")
    val encoded = Bpe.encode(docs(Seq("aaaa aaa a")), aa).collect()
    // aaaa->2 tokens, aaa->[aa,a]=2, a->1
    assert(encoded.head.getLong(1) == 5L)
    // full encode under the 4 learned merges:
    // low=[low]? lo+w merged: l o w -> lo w -> low? 'lo','w' is rank-4
    // merge -> low=1 token; lower=low,e,r=3; newest=n,e,w,est=4;
    // widest=w,i,d,est=4
    val enc = Bpe.encode(d, merges).collect()
    assert(enc.head.getLong(1) == 5 * 1 + 2 * 3 + 6 * 4 + 3 * 4)
  }

  test("plan shapes: dsir broadcasts models; hamming join is equi; pack partitions its window") {
    import graft.llm.{Sample, Text}
    val d = docs(Seq.tabulate(50)(i => s"some text body $i"))
    // DSIR: the bucket log-ratio table must broadcast — a shuffled join
    // of a `buckets`-row table against the corpus stream would be wrong
    val dsirPlan = Text.dsirWeights(d, d.limit(10), buckets = 32)
      .queryExecution.executedPlan.toString
    assert(dsirPlan.contains("BroadcastHashJoin"),
      s"expected broadcast model join:\n$dsirPlan")
    // Hamming near-dup: candidates come from the banded equi-join —
    // never a nested-loop/cartesian all-pairs
    val hashed = d.select(col("doc_id"),
      Dedup.md5Hash60(col("text")).as("h"))
    val hamPlan = Dedup.hammingNearDup(hashed, 3, "h", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!hamPlan.contains("CartesianProduct") &&
      !hamPlan.contains("BroadcastNestedLoopJoin"), hamPlan)
    // pack: the prefix-sum window partitions by bucket (no global
    // single-task window)
    val packPlan = Sample.pack(d, Text.tokenCount(col("text")), 64,
      buckets = 8).queryExecution.executedPlan.toString
    assert(packPlan.contains("hashpartitioning(__b"),
      s"expected bucket-partitioned window:\n$packPlan")
  }

  test("dsirWeights: target-like documents score higher") {
    import graft.llm.Text
    // two "domains" with disjoint vocabulary; target = domain A
    val a = Seq.tabulate(20)(i => s"alpha beta gamma delta token$i alpha beta")
    val b = Seq.tabulate(20)(i => s"omega psi chi phi word$i omega psi")
    val d = docs(a ++ b)
    val target = d.filter(col("doc_id") < 20)
    val w = Text.dsirWeights(d, target, buckets = 256)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val wa = (0L until 20L).map(w).sum / 20
    val wb = (20L until 40L).map(w).sum / 20
    assert(wa > 0 && wb < 0 && wa > wb)
    // every doc gets a weight; deterministic
    assert(w.size == 40)
    val again = Text.dsirWeights(d, target, buckets = 256)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(again == w)
  }

  test("prototypePrune: keeps the least prototypical fraction per cell") {
    // two tight clusters around the axes; within each, vectors fan out
    // at increasing angles — the closest-to-centroid (most prototypical)
    // rows must be the ones pruned
    val c1 = (0 until 5).map(i => Seq(1.0, 0.1 * i, 0.0))
    val c2 = (0 until 5).map(i => Seq(0.0, 0.1 * i, 1.0))
    val corpus = vecs(c1 ++ c2)
    val cents = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0))
    val kept = Embed.prototypePrune(corpus, cents, keepFrac = 0.4)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // per cell: 5 members, ceil(0.4*5)=2 survivors — the two widest
    // angles (largest second component => ids 3,4 and 8,9)
    assert(kept == Set((3L, 0), (4L, 0), (8L, 1), (9L, 1)))
    // keepFrac=1 keeps everything, 0 keeps nothing
    assert(Embed.prototypePrune(corpus, cents, 1.0).count() == 10)
    assert(Embed.prototypePrune(corpus, cents, 0.0).count() == 0)
  }

  test("pack: lossless, dense, bucket-count independent") {
    import graft.llm.{Sample, Text}
    val texts = (0 until 200).map(i => Seq.tabulate(1 + i % 37)(j => s"t$j").mkString(" "))
    val d = docs(texts)
    val packed = Sample.pack(d, Text.tokenCount(col("text")), seqLen = 64,
        buckets = 8, seed = "p")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // lossless: every doc's token range is fully and contiguously packed
    val byDoc = packed.groupBy(_._2)
    assert(byDoc.keySet == (0L until 200L).toSet)
    for ((id, rows) <- byDoc) {
      val sorted = rows.sortBy(_._1)
      val n = 1 + id.toInt % 37
      assert(sorted.map(_._4).sum == n)
      // contiguous doc_from, consecutive seq ids
      assert(sorted.head._3 == 0L)
      assert(sorted.sliding(2).forall { case Array(a, b) =>
        b._1 == a._1 + 1 && b._3 == a._3 + a._4; case _ => true })
    }
    // dense: every sequence but the last holds exactly seqLen tokens
    val bySeq = packed.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    val last = bySeq.keys.max
    val total = texts.map(_.split(" ").length).sum
    assert(bySeq.filter(_._1 != last).values.forall(_ == 64L))
    assert(bySeq.values.sum == total && last == (total - 1) / 64)
    // the bucketed prefix sum is an implementation detail: any bucket
    // count yields the identical packing
    val b1 = Sample.pack(d, Text.tokenCount(col("text")), seqLen = 64,
        buckets = 1, seed = "p")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(b1.sorted.toSeq == packed.sorted.toSeq)
    // zero-token docs pack nowhere (and don't shift offsets): dropping
    // them from the input changes nothing
    val withEmpty = docs(texts :+ "")
    val we = Sample.pack(withEmpty, Text.tokenCount(col("text")) - 1,
        seqLen = 64, buckets = 8, seed = "p").count()
    val wo = Sample.pack(d, Text.tokenCount(col("text")) - 1,
        seqLen = 64, buckets = 8, seed = "p").count()
    assert(we == wo)
  }

  test("split: exhaustive, disjoint, rate-accurate, seed-stable") {
    import graft.llm.Sample
    val d = docs(Seq.tabulate(2000)(i => s"doc $i"))
    val sp = Sample.split(d,
      Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0), seed = "s")
    val byLabel = sp.groupBy(col("split")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // every row labeled exactly once, proportions near 80/10/10
    assert(byLabel.values.sum == 2000)
    assert(byLabel("train") > 1500 && byLabel("val") > 120 &&
      byLabel("test") > 120)
    // label is a pure function of (id, seed): stable across runs
    val a = sp.collect().map(r => (r.getAs[Long]("doc_id"),
      r.getAs[String]("split"))).toMap
    val b = Sample.split(d,
      Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0), seed = "s")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("split"))).toMap
    assert(a == b)
    // and independent of weights scaling
    val c = Sample.split(d,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "s")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("split"))).toMap
    assert((a.toSet diff c.toSet).size < 3) // fp-boundary slivers only
  }

  test("gumbelTopK: weights dominate noise; exp-weight sampling is fair") {
    import graft.llm.Sample
    val d = docs(Seq.tabulate(100)(i => s"doc $i")).withColumn("w",
      when(col("doc_id") < 10, 20.0).otherwise(0.0))
    // +20 log-weight >> Gumbel noise spread: the heavy 10 always win
    val top = Sample.gumbelTopK(d, col("w"), k = 10, seed = "g")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(top == (0L until 10L).toSet)
    // equal weights: the draw is a uniform k-subset — another seed
    // draws a different one, the same seed the same one
    val u1 = Sample.gumbelTopK(d, lit(0.0), 10, seed = "a")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val u2 = Sample.gumbelTopK(d, lit(0.0), 10, seed = "a")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val u3 = Sample.gumbelTopK(d, lit(0.0), 10, seed = "b")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(u1 == u2 && u1 != u3)
  }

  test("dedupAgainst: drops only fingerprints present in seen") {
    val seen = docs(Seq("alpha beta", "gamma  delta", "unused"))
    // doc 3 matches "alpha beta" exactly, doc 4 matches "gamma delta"
    // after whitespace normalization, doc 5 is new
    val batch = docs(Seq("alpha beta", "GAMMA delta", "epsilon zeta"))
      .withColumn("doc_id", col("doc_id") + 3)
    val kept = Dedup.dedupAgainst(batch, seen)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(kept == Seq(5L))
    // empty seen side keeps everything
    assert(Dedup.dedupAgainst(batch, seen.limit(0)).count() == 3)
  }

  test("temperatureMix: alpha flattens the mixture toward uniform") {
    import graft.llm.Sample
    val d = docs(Seq.tabulate(1100)(i => s"doc $i body"))
    val stratum = when(col("doc_id") < 1000, "big").otherwise("small")
    // alpha = 1: natural proportions, everything kept
    val (nat, natRates) = Sample.temperatureMix(d, stratum, alpha = 1.0)
    assert(natRates.values.forall(_ == 1.0) && nat.count() == 1100)
    // alpha = 0.5: the small stratum keeps all, the 10x stratum keeps
    // ~1/sqrt(10)
    val (flat, rates) = Sample.temperatureMix(d, stratum, alpha = 0.5,
      seed = "tm")
    assert(rates("small") == 1.0)
    assert(math.abs(rates("big") - math.pow(10.0, -0.5)) < 1e-12)
    val kept = flat.groupBy(col("stratum")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(kept("small") == 100)
    assert(kept("big") > 240 && kept("big") < 400) // ~316 expected
  }

  test("decontaminate: empty benchmark flags nothing; full overlap flags all") {
    val corpus = docs(Seq("alpha beta gamma delta", "epsilon zeta eta theta"))
    val empty = docs(Seq.empty[String])
    val got = Dedup.decontaminate(corpus, empty, n = 3, minHits = 1).collect()
    assert(got.length == 2 && got.forall(r => r.getInt(2) == 0 && !r.getBoolean(3)))
    // benchmark == corpus: every doc fully hit
    val all = Dedup.decontaminate(corpus, corpus, n = 3, minHits = 1).collect()
    assert(all.forall(r => r.getInt(2) == r.getInt(1) && r.getBoolean(3)))
  }

  test("takeExact: a count above the stratum size keeps the whole stratum") {
    import graft.llm.Sample
    val d = docs((0 until 10).map(i => s"doc $i"))
    val kept = Sample.takeExact(d, lit("only"), Map("only" -> 1000))
      .collect()
    assert(kept.length == 10)
  }

  test("winnow of a sub-k-token doc is empty, not a null fingerprint") {
    val d = docs(Seq("one two", "alpha beta gamma delta epsilon zeta eta theta"))
    val fps = d.select(col("doc_id"), Text.winnow(col("text"), k = 5, w = 4)
      .as("fp")).collect()
    val short = fps.find(_.getLong(0) == 0L).get.getSeq[Long](1)
    assert(short.isEmpty) // not Seq(null): no spurious shared bucket
    assert(fps.find(_.getLong(0) == 1L).get.getSeq[Long](1).nonEmpty)
  }

  test("zero-norm vectors never poison centroid selection") {
    val sp = SparkSpec.spark
    import sp.implicits._
    val vecs = ((0L, Seq.fill(4)(0f)) +: (1 until 12).map(i =>
      (i.toLong, Seq(i.toFloat, 1f, 0f, 0f)))).toDF("vec_id", "embedding")
    val cents = Embed.sampleCentroids(vecs, 4)
    assert(cents.forall(c => !c.exists(_.isNaN)))
    // the step runs clean over the remaining corpus (no NaN winner)
    val step = Embed.kmeansStep(vecs.filter(col("vec_id") > 0), cents)
    assert(step.collect().forall(r => !r.getDouble(2).isNaN))
  }

  test("int8 quantization: error bounded by scale/254, codes in range") {
    val sp = SparkSpec.spark
    import sp.implicits._
    val vecs = (0 until 50).map { i =>
      (i.toLong, (0 until 16).map(j =>
        math.sin(i * 16 + j).toFloat * (1 + i % 7)).toSeq)
    }.toDF("vec_id", "embedding")
    val rows = vecs.select(col("vec_id"), col("embedding"),
        Embed.quantizeInt8(col("embedding")).as("qv"))
      .select(col("vec_id"), col("embedding"), col("qv"),
        Embed.dequantizeInt8(col("qv")).as("dq"))
      .collect()
    for (r <- rows) {
      val orig = r.getSeq[Float](1).map(_.toDouble)
      val qv = r.getStruct(2)
      val scale = qv.getDouble(0)
      val codes = qv.getSeq[Byte](1)
      val dq = r.getSeq[Double](3)
      assert(codes.forall(c => c >= -127 && c <= 127))
      assert(scale == orig.map(math.abs).max)
      orig.zip(dq).foreach { case (o, d) =>
        assert(math.abs(o - d) <= scale / 254.0 + 1e-12,
          s"vec ${r.getLong(0)}: $o vs $d (scale $scale)")
      }
    }
    // an all-zero vector quantizes to scale 0 / zero codes and round-trips
    val zero = Seq((0L, Seq.fill(16)(0f))).toDF("vec_id", "embedding")
    val zr = zero.select(Embed.quantizeInt8(col("embedding")).as("qv"))
      .select(col("qv"), Embed.dequantizeInt8(col("qv")).as("dq")).head
    assert(zr.getStruct(0).getDouble(0) == 0.0)
    assert(zr.getSeq[Double](1).forall(_ == 0.0))
  }

  test("kmeans: converges to separable clusters, keeps empty cells") {
    val sp = SparkSpec.spark
    import sp.implicits._
    // two tight clusters around orthogonal axes e0 and e1 (dim 4)
    val vecs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0.02f * (i % 5), 0f, 0f)
                 else Array(0.02f * (i % 5), 1f, 0f, 0f)
      (i.toLong, base.toSeq)
    }.toDF("vec_id", "embedding")
    val init = Seq(Seq(0.9, 0.1, 0.0, 0.0), Seq(0.1, 0.9, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0)) // third cell will go empty
    val cents = Embed.kmeansCentroids(vecs, k = 3, iters = 4,
      init = Some(init))
    // cluster centroids align with their axes
    assert(cents(0)(0) > 0.99 && cents(1)(1) > 0.99)
    // the empty cell keeps its initial centroid verbatim
    assert(cents(2) == init(2))
    // training then assigning reproduces a clean 2-way split
    val step = Embed.kmeansStep(vecs, cents).collect()
    assert(step.map(_.getInt(0)).distinct.sorted.toSeq == Seq(0, 1))
  }

  test("decontaminate: hit counts are exact, flag respects minHits") {
    val corpus = docs(Seq(
      "the quick brown fox jumps over the lazy dog", // 7 shingles, 2 hit
      "completely different words entirely here now",  // 0 hits
      "the quick brown fox runs away fast"))           // 2 hit
    val bench = docs(Seq("a quick brown fox jumps across"))
      .withColumn("doc_id", col("doc_id") + 100)
    // bench 3-grams: {a quick brown, quick brown fox, brown fox jumps,
    // fox jumps across}; doc0 shares {quick brown fox, brown fox jumps},
    // doc2 shares {quick brown fox}
    val got = Dedup.decontaminate(corpus, bench, n = 3, minHits = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getBoolean(3))).toMap
    assert(got(0L) == ((7, 2, true)))
    assert(got(1L)._2 == 0 && !got(1L)._3)
    assert(got(2L) == ((5, 1, false)))
    // every corpus doc appears exactly once, hit or not
    assert(got.size == 3)
  }

  test("multimodal: features are deterministic, frames sample by offset") {
    val media = Multimodal.syntheticMedia(spark, 9)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 9 && feats.forall(_.getBoolean(3)))
    val again = Multimodal.extractFeatures(media).collect()
    assert(feats.map(_.getSeq[Float](2)).toSeq == again.map(_.getSeq[Float](2)).toSeq)
    val frames = Multimodal.sampleFrames(media, everyMs = 5000)
      .groupBy(col("media_id")).count().collect()
    assert(frames.nonEmpty)
    val resized = Multimodal.resizeImages(media, 224, 224).collect()
    assert(resized.nonEmpty && resized.forall(_.getBoolean(4)))
    assert(resized.forall(r => r.getInt(2) == 224 && r.getInt(3) == 224))
  }

  test("multimodal: fromDocuments media round-trips the kernels exactly") {
    val sp = SparkSpec.spark
    import sp.implicits._
    val docs = Seq((0L, "alpha beta"), (1L, "gamma"), (2L, "delta epsilon"))
      .toDF("doc_id", "text")
    val media = Multimodal.fromDocuments(docs).collect()
    assert(media.length == 3)
    // content = UTF-8 bytes of the sha256 hex digest: always 64 bytes
    assert(media.forall(_.getAs[Array[Byte]]("content").length == 64))
    assert(media.map(_.getString(1)).toSet == Set("image", "audio", "video"))
    // quantized feature recovers integer per-lane byte sums (the exact
    // contract the mm_features oracle relies on)
    val m0 = Multimodal.fromDocuments(docs).filter(col("media_id") === 0L)
    val feat = Multimodal.extractFeatures(m0).head.getSeq[Float](2)
    val bytes = m0.head.getAs[Array[Byte]]("content")
    val sums = Array.tabulate(8)(l =>
      bytes.indices.filter(_ % 8 == l).map(bytes(_) & 0xff).sum)
    assert(feat.map(f => math.round(f * 2040.0)).toSeq == sums.map(_.toLong).toSeq)
    // resize output = payload XOR (w*31+h) low byte
    val rz = Multimodal.resizeImages(m0, 17, 9).head.getAs[Array[Byte]]("content")
    assert(rz.toSeq == bytes.map(b => ((b ^ (17 * 31 + 9)).toByte)).toSeq)
  }

  test("multimodal: real PNG bytes decode, feature, and resize via imageio") {
    // a real 8x4 solid-red PNG rendered with the JDK codec
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val red = png(8, 4, 0xff0000)
    // image magic + garbage = a real decode FAILURE, not a fake feature.
    // JDK readers throw RuntimeExceptions on some malformed headers
    // (e.g. BMP with absurd declared dimensions) — must also be a clean
    // decode_ok=false, never a task abort
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G', 1, 2, 3, 4, 5)
    val badBmp = Array[Byte]('B', 'M') ++ Array.fill[Byte](40)(0xff.toByte)
    val rows = Seq(
      Row(1L, "image", red, "image/png", 8, 4, null, "red"),
      Row(2L, "image", corrupt, "image/png", 0, 0, null, "bad"),
      Row(3L, "image", badBmp, "image/bmp", 0, 0, null, "badbmp"))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        Row(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4), r.get(5),
          null, r.get(7))), 2),
      Multimodal.mediaSchema)
    val feats = Multimodal.extractFeatures(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(feats(1).getBoolean(3) && !feats(2).getBoolean(3))
    assert(!feats(3).getBoolean(3)) // hostile BMP: failure, not an abort
    val f = feats(1).getSeq[Float](2)
    // pixel-derived: meanR=1, meanG=meanB=0, luma=0.299, stdLuma=0,
    // aspect=2, log2(8)=3, log2(4)=2
    assert(math.abs(f(0) - 1.0f) < 1e-6 && f(1) == 0.0f && f(2) == 0.0f)
    assert(math.abs(f(3) - 0.299f) < 1e-3 && math.abs(f(4)) < 1e-3)
    assert(f(5) == 2.0f && f(6) == 3.0f && f(7) == 2.0f)
    // resize: output is a REAL 5x7 PNG, still solid red
    val rz = Multimodal.resizeImages(media, 5, 7).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rz(1).getBoolean(4) && !rz(2).getBoolean(4) && !rz(3).getBoolean(4))
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(rz(1).getAs[Array[Byte]](1)))
    assert(back.getWidth == 5 && back.getHeight == 7)
    assert((back.getRGB(2, 3) & 0xffffff) == 0xff0000)
  }

  test("multimodal: real dHash is resize-invariant; imageNearDup pairs") {
    def grad(w: Int, h: Int, reverse: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (if (reverse) (w - 1 - x) else x) * 255 / (w - 1)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // luma strictly increases left-to-right: every adjacent comparison
    // sets its bit -> all-ones hash, at ANY source size
    val h1 = Multimodal.dHashKernel(grad(64, 64, reverse = false)).get
    val h2 = Multimodal.dHashKernel(grad(120, 40, reverse = false)).get
    assert(h1 == -1L && h2 == h1)
    val hRev = Multimodal.dHashKernel(grad(64, 64, reverse = true)).get
    assert(java.lang.Long.bitCount(h1 ^ hRev) == 64)
    // corrupt image magic: no hash, surfaced as hash_ok=false
    assert(Multimodal.dHashKernel(
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 9, 9)).isEmpty)
    // fake (non-image) payloads: md5-60 of the bytes — equal only on
    // exact byte equality
    val fake = Multimodal.dHashKernel("not an image".getBytes("UTF-8"))
    assert(fake == Multimodal.dHashKernel("not an image".getBytes("UTF-8")))
    assert(fake.get >= 0L && fake.get < (1L << 60))
    // near-dup over a media frame: the two same-direction gradients pair
    // (hamming 0), the reversed one pairs with nothing, the corrupt row
    // is excluded by hash_ok
    val rows = Seq(
      Row(1L, "image", grad(64, 64, false), "image/png", 64, 64, null, "g1"),
      Row(2L, "image", grad(120, 40, false), "image/png", 120, 40, null, "g2"),
      Row(3L, "image", grad(64, 64, true), "image/png", 64, 64, null, "rev"),
      Row(4L, "image", Array[Byte](0x89.toByte, 'P', 'N', 'G', 9), "image/png",
        0, 0, null, "bad"))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
    val pairs = Multimodal.imageNearDup(media, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(pairs == Seq((1L, 2L, 0)))
  }

  test("multimodal: real WAV bytes decode, feature, and resample via javax.sound") {
    import javax.sound.sampled._
    // a real 8000 Hz mono 16-bit PCM WAV: 440 Hz sine, half amplitude
    def wav(hz: Double, rate: Int, n: Int, amp: Double): Array[Byte] = {
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val s = math.round(math.sin(2 * math.Pi * hz * i / rate) * amp * 32767).toInt
        pcm(i * 2) = (s & 0xff).toByte
        pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(
        new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
        AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val sine = wav(440.0, 8000, 8000, 0.5) // exactly 1 second
    // WAV magic + garbage = a real decode FAILURE, not a fake feature
    val corrupt = "RIFF0000WAVE".getBytes("UTF-8") ++ Array.fill[Byte](8)(0x7f)
    val rows = Seq(
      Row(1L, "audio", sine, "audio/wav", null, null, 1000L, "sine"),
      Row(2L, "audio", corrupt, "audio/wav", null, null, 0L, "bad"))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
    val feats = Multimodal.extractFeatures(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(feats(1).getBoolean(3) && !feats(2).getBoolean(3))
    val f = feats(1).getSeq[Float](2)
    // waveform-derived: 1.0 s, log2(8000)≈12.97, mono, sine statistics
    // (meanAbs = 2A/π, rms = A/√2, peak ≈ A, zcr = 2·440/8000)
    assert(math.abs(f(0) - 1.0f) < 1e-4 && math.abs(f(1) - 12.966f) < 1e-3)
    assert(f(2) == 1.0f)
    assert(math.abs(f(3) - (2 * 0.5 / math.Pi)) < 1e-2)
    assert(math.abs(f(4) - (0.5 / math.sqrt(2))) < 1e-2)
    assert(math.abs(f(5) - 0.5f) < 1e-2)
    assert(math.abs(f(6) - 2 * 440.0 / 8000) < 1e-2)
    assert(math.abs(f(7) - 12.966f) < 1e-3)
    // resample 8000 -> 4000 Hz: output is a REAL WAV at the target rate,
    // half the frames, still the same sine (same duration, same rms)
    val rz = Multimodal.resampleAudio(media, 4000).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rz(1).getBoolean(3) && !rz(2).getBoolean(3))
    val back = Multimodal.decodeAudio(rz(1).getAs[Array[Byte]](1)).get
    assert(back.sampleRate == 4000.0f && back.channels == 1)
    assert(math.abs(back.samples.length - 4000) <= 1)
    val rms = math.sqrt(back.samples.map(v => v.toDouble * v).sum / back.samples.length)
    assert(math.abs(rms - 0.5 / math.sqrt(2)) < 1e-2)
    // a digest payload (no WAV magic) keeps the deterministic fake path
    val fake = Multimodal.resampleKernel("0123456789abcdef".getBytes, 16000).get
    assert(fake.toSeq == "0123456789abcdef".getBytes.map(b => (b ^ (16000 * 7)).toByte).toSeq)
  }

  test("audioFrameFeatures: sine vs silence frames, real WAV decode") {
    import javax.sound.sampled._
    def wav(pcmOf: Int => Int, rate: Int, n: Int): Array[Byte] = {
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val s = pcmOf(i)
        pcm(i * 2) = (s & 0xff).toByte
        pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(
        new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt,
          n.toLong), AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    // 800 samples: first 400 a 400 Hz half-amp sine, last 400 silence
    val mixed = wav(i => if (i < 400)
      math.round(math.sin(2 * math.Pi * 400 * i / 8000.0) * 0.5 * 32767).toInt
      else 0, 8000, 800)
    val rows = Seq(Row(1L, "audio", mixed, "audio/wav", null, null,
      100L, "mixed"))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Multimodal.mediaSchema)
    val f = Multimodal.audioFrameFeatures(media, frame = 400).collect()
      .map(r => (r.getInt(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(f.length == 2)
    // frame 0: sine rms A/sqrt2, zcr = 2 crossings/cycle * 20 cycles
    assert(math.abs(f(0)._2 - 0.5 / math.sqrt(2)) < 1e-2)
    assert(math.abs(f(0)._3 - 2 * 400.0 / 8000) < 2e-2)
    // frame 1: silence — zero energy, zero crossings
    assert(f(1)._2 < 1e-6 && f(1)._3 == 0.0)
  }

  test("multimodal: real MP4 box structure probes duration and dimensions") {
    // hand-build a minimal ISO-BMFF file: ftyp + moov{mvhd, trak{tkhd}}
    def box(typ: String, content: Array[Byte]): Array[Byte] = {
      val size = content.length + 8
      Array[Byte](((size >> 24) & 0xff).toByte, ((size >> 16) & 0xff).toByte,
        ((size >> 8) & 0xff).toByte, (size & 0xff).toByte) ++
        typ.getBytes("ISO-8859-1") ++ content
    }
    def be32(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val ftyp = box("ftyp", "isom".getBytes ++ be32(0) ++ "isom".getBytes)
    // mvhd v0: version/flags, creation, modification, timescale=1000,
    // duration=5000 ticks -> 5000 ms; rest zero-padded to the v0 size
    val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(1000) ++
      be32(5000) ++ Array.fill[Byte](80)(0))
    // tkhd v0: width/height are 16.16 fixed at content offsets 76/80
    val tkhd = box("tkhd", Array.fill[Byte](76)(0) ++
      be32(640L << 16) ++ be32(360L << 16))
    val mp4 = ftyp ++ box("moov", mvhd ++ box("trak", tkhd))
    val info = Multimodal.probeVideo(mp4).get
    assert(info.durationMs == 5000L && info.width == 640 && info.height == 360)
    assert(info.tracks == 1 && info.brand == "isom")
    // ftyp magic + garbage moov = a real probe FAILURE, not a fake
    val corrupt = ftyp ++ "garbagegarbage".getBytes
    val rows = Seq(
      Row(1L, "video", mp4, "video/mp4", 0, 0, 0L, "real"),
      Row(2L, "video", corrupt, "video/mp4", 0, 0, 0L, "bad"),
      Row(3L, "video", "notanmp4payload".getBytes, "application/octet-stream",
        99, 88, 1234L, "fake"))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
    val got = Multimodal.probeVideos(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1).getLong(1) == 5000L && got(1).getInt(2) == 640 &&
      got(1).getInt(3) == 360 && got(1).getBoolean(6))
    assert(!got(2).getBoolean(6) && got(2).isNullAt(1))
    // non-MP4: declared metadata passes through, brand marks the fake
    assert(got(3).getLong(1) == 1234L && got(3).getInt(2) == 99 &&
      got(3).getString(5) == "fake" && got(3).getBoolean(6))
  }

  test("videoNearDup: shared real frames pair videos; fakes pair replicas") {
    def pattern(seed: Int, w: Int = 32, h: Int = 24): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 31 + y * 17 + seed * 97) % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    def le32b(v: Int): Array[Byte] = Array((v & 255).toByte,
      ((v >> 8) & 255).toByte, ((v >> 16) & 255).toByte,
      ((v >>> 24) & 255).toByte)
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      id.getBytes("ISO-8859-1") ++ le32b(data.length) ++ data ++
        (if ((data.length & 1) == 1) Array[Byte](0) else Array.empty[Byte])
    def rlist(typ: String, data: Array[Byte]): Array[Byte] =
      chunk("LIST", typ.getBytes("ISO-8859-1") ++ data)
    def avi(frames: Seq[Array[Byte]]): Array[Byte] = {
      val avih = chunk("avih", le32b(40000) ++ le32b(0) ++ le32b(0) ++
        le32b(0) ++ le32b(frames.size) ++ le32b(0) ++ le32b(1) ++
        le32b(0) ++ le32b(32) ++ le32b(24) ++ Array.fill[Byte](16)(0))
      val body = rlist("hdrl", avih) ++
        rlist("movi", frames.map(f => chunk("00dc", f)).reduce(_ ++ _))
      "RIFF".getBytes ++ le32b(body.length + 4) ++ "AVI ".getBytes ++ body
    }
    val (a, b, c, d, x, y, z) = (pattern(1), pattern(2), pattern(3),
      pattern(4), pattern(11), pattern(12), pattern(13))
    val fake = "00FAKE00deadbeef".getBytes
    val rows = Seq(
      Row(1L, "video", avi(Seq(a, b, c)), "video/avi", 0, 0, 0L, "v1"),
      Row(2L, "video", avi(Seq(a, b, d)), "video/avi", 0, 0, 0L, "v2"),
      Row(3L, "video", avi(Seq(x, y, z)), "video/avi", 0, 0, 0L, "v3"),
      // fake replicas: same content, 2500ms -> 3 sampled frames
      Row(10L, "video", fake, "application/octet-stream", 0, 0, 2500L, "f1"),
      Row(11L, "video", fake, "application/octet-stream", 0, 0, 2500L, "f2"))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
    val pairs = Multimodal.videoNearDup(media, everyMs = 1000L,
        minShared = 2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // real AVIs: 1 and 2 share exactly frames a, b; 3 shares nothing
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 2L)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // fake replicas share all 3 sampled frame hashes
    assert(pairs((10L, 11L)) == 3L)
    assert(pairs.size == 2)
  }

  test("multimodal: real MJPEG-AVI frames decode via the JDK image codec") {
    // synthesize 5 solid-color JPEG frames and wrap them in a real AVI
    def jpegFrame(rgb: Int, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      try { g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h) }
      finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    def le32b(v: Int): Array[Byte] = Array((v & 255).toByte,
      ((v >> 8) & 255).toByte, ((v >> 16) & 255).toByte,
      ((v >>> 24) & 255).toByte)
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      id.getBytes("ISO-8859-1") ++ le32b(data.length) ++ data ++
        (if ((data.length & 1) == 1) Array[Byte](0) else Array.empty[Byte])
    def rlist(typ: String, data: Array[Byte]): Array[Byte] =
      chunk("LIST", typ.getBytes("ISO-8859-1") ++ data)
    val frames = (0 until 5).map(i => jpegFrame(0x102030 * (i + 1), 32, 24))
    val avih = chunk("avih", le32b(40000) ++ le32b(0) ++ le32b(0) ++
      le32b(0) ++ le32b(5) ++ le32b(0) ++ le32b(1) ++ le32b(0) ++
      le32b(32) ++ le32b(24) ++ Array.fill[Byte](16)(0))
    val body = rlist("hdrl", avih) ++
      rlist("movi", frames.map(f => chunk("00dc", f)).reduce(_ ++ _))
    val avi = "RIFF".getBytes ++ le32b(body.length + 4) ++
      "AVI ".getBytes ++ body
    val info = Multimodal.parseAvi(avi).get
    assert(info.usPerFrame == 40000 && info.totalFrames == 5 &&
      info.width == 32 && info.height == 24 && info.streams == 1 &&
      info.frames.size == 5)
    // 'rec '-interleaved movi (the VfW/ffmpeg 1x-playback layout) parses
    // to the same frame directory
    val recBody = rlist("hdrl", avih) ++ rlist("movi",
      rlist("rec ", frames.map(f => chunk("00dc", f)).reduce(_ ++ _)))
    val recAvi = "RIFF".getBytes ++ le32b(recBody.length + 4) ++
      "AVI ".getBytes ++ recBody
    assert(Multimodal.parseAvi(recAvi).get.frames.size == 5)
    // header-only AVI (no movi): decode emits ONE failure row, never
    // zero rows — a media_id must not silently vanish
    val hdrBody = rlist("hdrl", avih)
    val hdrOnly = "RIFF".getBytes ++ le32b(hdrBody.length + 4) ++
      "AVI ".getBytes ++ hdrBody
    val d2 = Multimodal.decodeFrames(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(9L, "video", hdrOnly, "video/avi", 0, 0, 0L, "hdr")), 1),
      Multimodal.mediaSchema)).collect()
    assert(d2.length == 1 && d2(0).getLong(0) == 9L && !d2(0).getBoolean(5))
    val rows = Seq(
      Row(1L, "video", avi, "video/avi", 0, 0, 0L, "real"),
      Row(2L, "video", "RIFF????AVI garbage!!".getBytes, "video/avi",
        0, 0, 0L, "bad"),
      Row(3L, "video", "notavideo".getBytes, "application/octet-stream",
        99, 88, 3500L, "fake"))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
    // probe: REAL duration = frames x usPerFrame, real dims, AVI brand
    val probed = Multimodal.probeVideos(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(probed(1).getLong(1) == 200L && probed(1).getInt(2) == 32 &&
      probed(1).getInt(3) == 24 && probed(1).getInt(4) == 1 &&
      probed(1).getString(5) == "AVI " && probed(1).getBoolean(6))
    assert(!probed(2).getBoolean(6))
    // decode every 2nd frame: indices 0,2,4, true dims from the codec
    val dec = Multimodal.decodeFrames(media, everyNth = 2).collect()
    val real = dec.filter(_.getLong(0) == 1L)
    assert(real.map(_.getInt(1)).sorted.toSeq == Seq(0, 2, 4))
    assert(real.forall(r =>
      r.getBoolean(5) && r.getInt(3) == 32 && r.getInt(4) == 24))
    // the emitted frame bytes are REAL JPEGs that re-decode to the fill
    // color (JPEG is lossy: small tolerance)
    val f0 = real.find(_.getInt(1) == 0).get.getAs[Array[Byte]](2)
    val img0 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(f0))
    val c = new java.awt.Color(img0.getRGB(16, 12))
    val want = new java.awt.Color(0x102030)
    assert(math.abs(c.getRed - want.getRed) < 16 &&
      math.abs(c.getGreen - want.getGreen) < 16 &&
      math.abs(c.getBlue - want.getBlue) < 16)
    // AVI magic + unparseable structure = a real decode FAILURE
    val bad = dec.filter(_.getLong(0) == 2L)
    assert(bad.length == 1 && !bad(0).getBoolean(5))
    // non-AVI video: deterministic fake, one frame/second (3), stride 2
    val fake = dec.filter(_.getLong(0) == 3L)
    assert(fake.map(_.getInt(1)).sorted.toSeq == Seq(0, 2))
    assert(fake.forall(r =>
      r.getBoolean(5) && r.getInt(3) == 99 && r.getInt(4) == 88))
  }

  test("multimodal: animated GIF frames decode via the JDK reader") {
    def gray(v: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      try { g.setColor(new java.awt.Color(v, v, v)); g.fillRect(0, 0, 8, 6) }
      finally g.dispose()
      img
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    (0 until 4).foreach(i => writer.writeToSequence(
      new javax.imageio.IIOImage(gray(i * 60), null, null), null))
    writer.endWriteSequence(); writer.dispose(); ios.close()
    val anim = bos.toByteArray
    val rows = Seq(
      Row(1L, "video", anim, "image/gif", 0, 0, 0L, "anim"),
      Row(2L, "video", "GIF8garbage".getBytes, "image/gif", 0, 0, 0L, "bad"))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
    val dec = Multimodal.decodeFrames(media, everyNth = 3).collect()
    val real = dec.filter(_.getLong(0) == 1L)
    // 4 frames, stride 3 -> indices 0 and 3, true dims from the reader
    assert(real.map(_.getInt(1)).sorted.toSeq == Seq(0, 3))
    assert(real.forall(r =>
      r.getBoolean(5) && r.getInt(3) == 8 && r.getInt(4) == 6))
    // frames re-encode as standalone PNGs that decode to the fill gray
    // (solid color survives GIF palettization exactly)
    val f3 = real.find(_.getInt(1) == 3).get.getAs[Array[Byte]](2)
    val img3 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(f3))
    assert(new java.awt.Color(img3.getRGB(4, 3)).getRed == 180)
    // GIF magic + garbage = one decode-failure row
    val bad = dec.filter(_.getLong(0) == 2L)
    assert(bad.length == 1 && !bad(0).getBoolean(5))
  }

  test("normalizeText: NFC composition, control strip, whitespace collapse") {
    val d = docs(Seq(
      "Café du Monde",          // decomposed accent -> composed
      "clean ascii text",             // fast path: unchanged
      "bad\u0007ctrl\u0000chars", // C0 controls vanish
      "  runs \t of\t\t spaces  ",    // collapse + trim
      "line one\nline\ttwo"))         // \n preserved, \t collapsed
    val got = d.select(Text.normalizeText(col("text")))
      .collect().map(_.getString(0))
    assert(got(0) == "Café du Monde")
    assert(got(1) == "clean ascii text")
    assert(got(2) == "badctrlchars")
    assert(got(3) == "runs of spaces")
    assert(got(4) == "line one\nline two")
    // idempotent: normalizing twice is the identity on the first pass
    val twice = d.select(
      Text.normalizeText(Text.normalizeText(col("text"))))
      .collect().map(_.getString(0))
    assert(twice.toSeq == got.toSeq)
  }

  test("dedupParagraphs: corpus-first wins, blanks and order survive") {
    val d = docs(Seq(
      "unique a\nshared promo\n\nunique b",
      "unique c\nshared promo\nunique d",   // loses the promo
      "Shared Promo\nunique e"))            // normalized match -> loses too
    val got = Text.dedupParagraphs(d)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "unique a\nshared promo\n\nunique b") // first keeps, blank kept
    assert(got(1L) == "unique c\nunique d")
    assert(got(2L) == "unique e")
    // a doc whose every paragraph lost vanishes
    val d2 = docs(Seq("only para", "only para"))
    val got2 = Text.dedupParagraphs(d2).collect()
    assert(got2.length == 1 && got2.head.getLong(0) == 0L)
  }

  test("shuffleOrder: a permutation, stable across bucket counts") {
    import graft.llm.Sample
    val d = docs(Seq.tabulate(500)(i => s"doc $i"))
    val p16 = Sample.shuffleOrder(d, buckets = 16, seed = "s")
      .select(col("doc_id"), col("shuffle_pos"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p16.values.toSeq.sorted == (0L until 500L)) // exact permutation
    val p3 = Sample.shuffleOrder(d.repartition(7), buckets = 3, seed = "s")
      .select(col("doc_id"), col("shuffle_pos"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p3 == p16)  // bucket count and partitioning are invisible
    // order is exactly rank in (hashFrac, id)
    val byFrac = d.select(col("doc_id"),
        Sample.hashFrac(col("doc_id"), "s").as("f"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, f) => (f, id) }.map(_._1)
    assert(byFrac.zipWithIndex.forall { case (id, i) => p16(id) == i })
  }

  test("quality classifier: separates planted classes, deterministic") {
    val good = Seq.tabulate(40)(i =>
      s"the quick brown fox jumps over the lazy dog number $i")
    val bad = Seq.tabulate(40)(i =>
      s"buy cheap pills casino winner click here now offer $i")
    val d = docs(good ++ bad)
    val label = col("doc_id") < 40
    val model = Text.trainQualityLr(d, label, buckets = 64,
      rounds = 5, lr = 1.0)
    val scored = Text.scoreQualityLr(d, model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val goodAvg = (0L until 40L).map(scored).sum / 40
    val badAvg = (40L until 80L).map(scored).sum / 40
    assert(goodAvg > 0.6 && badAvg < 0.4) // classes separate
    // training is partitioning-independent (exact long sums): the model
    // from a differently-partitioned corpus is identical
    val model2 = Text.trainQualityLr(d.repartition(13), label,
      buckets = 64, rounds = 5, lr = 1.0)
    assert(model2 == model)
    // pred column thresholds the score
    val preds = Text.scoreQualityLr(d, model)
      .collect().map(r => (r.getDouble(1), r.getBoolean(2)))
    assert(preds.forall { case (s0, p) => p == (s0 >= 0.5) })
  }

  test("stripHtml: scripts die with contents, structure and entities") {
    val d = docs(Seq(
      "<html><head><style>p{x:1}</style><script>if(a<b){go(\"</p>\")}" +
        "</script></head><body><h1>Title</h1><p>one</p><p>two</p>" +
        "<br/>Tom &amp; Jerry &lt;3 &amp;lt; &nbsp;</body></html>"))
    val got = d.select(Text.stripHtml(col("text"))).head.getString(0)
    assert(!got.contains("x:1") && !got.contains("go(")) // contents dropped
    assert(got.contains("one\n"))                        // </p> -> newline
    assert(got.contains("Tom & Jerry <3"))               // entities decode
    assert(got.contains("&lt;"))   // &amp;lt; decodes to TEXT, not '<'
    assert(!got.contains("<h1>") && got.contains("Title"))
  }

  test("ngramContainment: catches an embedded excerpt Jaccard misses") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 10).map(i => s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val d = docs(Seq(base, excerpt, other))
    val cont = Dedup.ngramContainment(d, n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq == Seq((0L, 1L, 1.0))) // excerpt fully contained
    val jac = Dedup.ngramJaccard(d, n = 3, threshold = 0.5).collect()
    assert(jac.isEmpty)                      // jaccard 8/38 — invisible
  }

  test("noveltyStats: duplicated shingles raise the fraction") {
    val a = "alpha beta gamma delta epsilon zeta"
    val d = docs(Seq(a, a + " extra tail words here", "tiny", // dup block
      "totally different content with many fresh unique tokens"))
    val got = Dedup.noveltyStats(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(0L)._2 == 1.0)        // every shingle of doc 0 is in doc 1
    assert(got(1L)._2 > 0.3 && got(1L)._2 < 1.0) // partial overlap
    assert(got(2L) == ((0L, 0.0)))   // too short: zero shingles
    assert(got(3L)._2 == 0.0)        // all novel
  }

  test("high cardinality: correctness independent of series count") {
    import org.apache.spark.sql.functions.{concat, lit}
    val n = 20000
    val samples = spark.range(n.toLong).select(
      lit("m").as("metric"),
      org.apache.spark.sql.functions.map(lit("host"),
        concat(lit("h"), col("id").cast("string"))).as("tags"),
      (col("id") * 1000L).as("ts"),
      col("id").cast("double").as("value"))
    val st = new graft.plan.TsStore(samples)
    val meta = graft.plan.Planner.plan(
      graft.ast.QueryJson.parse("""{"select":"meta:names"}"""), st).df
    assert(meta.count() == n) // one series per host tag
    val agg = graft.plan.Planner.plan(graft.ast.QueryJson.parse(
      """{"aggregate":{"m":"count"}}"""), st).df
    assert(agg.count() == n)
  }

  test("topKMmr: near-duplicate of the top hit is demoted, not repeated") {
    // 0 and 1 are near-identical and most relevant; 2 is distinct and
    // slightly less relevant; 3 is orthogonal filler. The query sits
    // OFF every vector's axis so rel and pairwise sim differ (with
    // query == v0, every candidate's rel equals its sim to the top
    // pick and the greedy ties)
    val corpus = vecs(Seq(
      Seq(1.0, 0.1, 0.0),
      Seq(1.0, 0.12, 0.0),
      Seq(0.9, -0.4, 0.0),
      Seq(0.0, 0.0, 1.0)))
    val plain = Embed.topK(corpus, Seq(1.0, 0.0, 0.0), k = 3)
      .collect().map(_.getLong(0))
    assert(plain.toSeq == Seq(0L, 1L, 2L))    // dup right behind the top
    val mmr = Embed.topKMmr(corpus, Seq(1.0, 0.0, 0.0), k = 3,
        lambda = 0.5, overscan = 1)
      .orderBy("rank").collect().map(_.getLong(0))
    // MMR picks the distinct doc 2 before the near-dup 1
    assert(mmr.toSeq == Seq(0L, 2L, 1L))
    // lambda = 1 degrades to plain relevance order
    val rel = Embed.topKMmr(corpus, Seq(1.0, 0.0, 0.0), k = 3,
        lambda = 1.0, overscan = 1)
      .orderBy("rank").collect().map(_.getLong(0))
    assert(rel.toSeq == Seq(0L, 1L, 2L))
  }

  test("knnClassify: majority vote, deterministic tie-break") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    def mk(vs: Seq[(Long, Seq[Double], Int)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(vs.map { case (i, v, l) =>
        Row(i, v.map(_.toFloat), l) }, 2), schema)
    // labeled: 2 of class 7 near +x, 2 of class 3 near +y
    val lab = mk(Seq(
      (1L, Seq(1.0, 0.05), 7), (2L, Seq(1.0, -0.05), 7),
      (3L, Seq(0.05, 1.0), 3), (4L, Seq(-0.05, 1.0), 3)))
    // query at +x -> both class-7 neighbors rank 1-2 -> majority 7
    val q = mk(Seq((100L, Seq(1.0, 0.0), 0)))
    val r = Embed.knnClassify(lab, q, k = 3).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2)))
    assert(r.toSeq == Seq((100L, 7, 2L)))
    // k=4: 2 votes each -> tie broken to the SMALLER label (3)
    val r4 = Embed.knnClassify(lab, q, k = 4).collect()
      .map(x => (x.getInt(1), x.getLong(2)))
    assert(r4.toSeq == Seq((3, 2L)))
  }

  test("clusterTopics: cluster-specific terms beat corpus-common ones") {
    import graft.llm.Text
    val sp2 = spark
    import sp2.implicits._
    // every doc shares 'the'; cluster {1,2} is about quantum pumps,
    // cluster {3} about llama farming
    val docsDf = Seq(
      (1L, "the quantum pump whirs"),
      (2L, "the quantum pump leaks"),
      (3L, "the llama farm prospers")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("node", "component")
    val r = Text.clusterTopics(docsDf, clusters, k = 2)
      .orderBy("component", "rank").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getInt(3)))
    // 'quantum'/'pump' (tf 2, df 2) outrank 'the' (df 3 -> low idf)
    assert(r.toSeq == Seq(
      (1L, "pump", 1), (1L, "quantum", 2),
      (3L, "farm", 1), (3L, "llama", 2)))
  }

  test("clusterBalance: uniform cells score 1.0; a mega-cell flags") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    // balanced: 2 vectors per cell -> imbalance 1, entropy 1 bit
    val balanced = vecs(Seq(
      Seq(1.0, 0.1), Seq(1.0, -0.1), Seq(0.1, 1.0), Seq(-0.1, 1.0)))
    val b = Embed.clusterBalance(balanced, cents).collect()(0)
    assert((b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3)) ==
      ((2L, 4L, 2L, 2L)))
    assert(b.getDouble(4) == 1.0 && b.getDouble(5) == 1.0)
    // skewed 3:1 -> imbalance 1.5, entropy < 1 bit
    val skewed = vecs(Seq(
      Seq(1.0, 0.1), Seq(1.0, -0.1), Seq(1.0, 0.0), Seq(0.1, 1.0)))
    val s = Embed.clusterBalance(skewed, cents).collect()(0)
    assert(s.getDouble(4) == 1.5 && s.getDouble(5) < 1.0)
  }

  test("lshTuningReport: full recall on planted dups, truth counted") {
    val texts = (0 until 30).map(i => s"unique filler document number $i " +
      s"with assorted extra words ${i * 7} ${i * 13}") ++ Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "the quick brown fox jumps over the lazy dog again and again!!")
    val r = Dedup.lshTuningReport(docs(texts), n = 3, bands = 64,
      rowsPerBand = 2, threshold = 0.5).collect()(0)
    val (nTrue, nCand, nHits) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nTrue >= 1L && nHits == nTrue)     // full recall
    assert(r.getDouble(3) == 1.0)
    assert(nCand >= nTrue)                    // candidates cover truth
  }

  test("lshTuningReport counts in its one aggregate, not while it is built") {
    val twin = "the same sentence repeated twice over"
    val texts = (0 until 20).map(i =>
      s"filler document $i with words ${i * 3}") ++ Seq(twin, twin)
    def jobsOf(f: => Unit) =
      org.apache.spark.sql.graftio.ListenerBus.jobsOf(spark.sparkContext)(f)
    // building its two inputs runs only their lazy lineage cuts' exchange
    // stages; the report itself must add no count, collect or eager cut
    val inputs = jobsOf {
      Dedup.ngramJaccard(docs(texts), 3, 0.5)
      Dedup.minhashLsh(docs(texts), 3, 16, 2)
    }
    var report: org.apache.spark.sql.DataFrame = null
    assert(jobsOf {
      report = Dedup.lshTuningReport(docs(texts), n = 3, bands = 16,
        rowsPerBand = 2, threshold = 0.5)
    } == inputs)
    val r = report.collect()(0)
    assert((r.getLong(0), r.getLong(2), r.getDouble(3)) == ((1L, 1L, 1.0)))
  }

  test("lshTuningReport maxDocs valve: deterministic sample, recall " +
      "estimate matches the full run") {
    // 40 planted near-dup pairs (80 docs): enough that a half-corpus
    // sample still holds many whole pairs — the sampled recall must be
    // the same banding-recall estimate the full O(n²) run reports
    val texts = (0 until 40).flatMap { i =>
      val base = s"planted duplicate pair $i with shared phrasing " +
        s"spread over many tokens ${i * 3} ${i * 11} ${i * 17}"
      Seq(base, base + " x")
    }
    def run(maxDocs: Int) = Dedup.lshTuningReport(docs(texts), n = 3,
      bands = 64, rowsPerBand = 2, threshold = 0.5, maxDocs = maxDocs)
      .collect()(0)
    val full = run(0)
    val half = run(40)
    val half2 = run(40)
    // deterministic: the md5-ordered sample replays identically
    assert(half.toSeq == half2.toSeq)
    // the valve actually bounds the quadratic side
    assert(half.getLong(0) > 0L && half.getLong(0) < full.getLong(0))
    assert(full.getLong(0) == 40L)
    // these planted dups are fully recalled in both regimes, so the
    // sampled estimate must agree with the full number exactly here
    assert(full.getDouble(3) == 1.0 && half.getDouble(3) == 1.0)
  }

  test("mixRates: binding stratum caps the mix; missing target pins 0") {
    import graft.llm.Sample
    val sp2 = spark
    import sp2.implicits._
    // en 80, de 20: targets 50/50 -> de binds (20/.5 = 40 docs total)
    val df = ((1 to 80).map(i => (i.toLong, "en")) ++
      (81 to 100).map(i => (i.toLong, "de"))).toDF("doc_id", "lang")
    val r = Sample.mixRates(df, "lang", Seq("en" -> 0.5, "de" -> 0.5))
      .orderBy("stratum").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(3),
        x.getDouble(4)))
    assert(r.toSeq == Seq(
      ("de", 20L, 20L, 1.0),     // binding stratum keeps everything
      ("en", 80L, 20L, 0.25)))   // 20 of 80: exact 50/50 composition
    // a target stratum with no data pins the whole mix to zero — loud
    val z = Sample.mixRates(df, "lang",
        Seq("en" -> 0.5, "xx" -> 0.5))
      .collect().map(x => (x.getString(0), x.getLong(3))).toMap
    assert(z("en") == 0L && z("xx") == 0L)
  }

  test("contaminationReport: strongest source attributed per bench item") {
    val corpus = docs(Seq(
      "alpha beta gamma delta epsilon zeta eta theta",       // 0: source
      "alpha beta gamma delta nothing else here at all",     // 1: weaker
      "totally unrelated content about llamas and pumps"))   // 2
    val bench = docs(Seq(
      "alpha beta gamma delta epsilon zeta eta theta"))      // = corpus 0
      .select((col("doc_id") + 100L).as("doc_id"), col("text"))
    val r = Dedup.contaminationReport(corpus, bench, n = 3).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    // 6 shingles in the bench item; doc 0 shares all 6 (overlap 1.0),
    // doc 1 shares only 2 — the top-1 row names doc 0
    assert(r.toSeq == Seq((100L, 0L, 6L, 1.0)))
    // an uncontaminated bench item emits no row
    val clean = docs(Seq("completely novel sentence with fresh words"))
      .select((col("doc_id") + 200L).as("doc_id"), col("text"))
    assert(Dedup.contaminationReport(corpus, clean, n = 3).count() == 0)
  }

  test("softDedupWeights: 1/cluster-size, singletons weigh 1") {
    val sp2 = spark
    import sp2.implicits._
    val docsDf = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    // cluster {1,2,3} labeled by component 1; 4 and 5 unclustered
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("node", "component")
    val r = Dedup.softDedupWeights(docsDf, clusters)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    assert(r.toSeq == Seq(
      (1L, 1L, 0.333333), (2L, 1L, 0.333333), (3L, 1L, 0.333333),
      (4L, 4L, 1.0), (5L, 5L, 1.0)))
    // total weight = one doc per cluster + singletons
    assert(math.abs(r.map(_._3).sum - 3.0) < 1e-5)
  }

  test("standardize: zero-mean unit-var dims; constant dim maps to 0") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(0L, Seq(1.0f, 5.0f)), Row(1L, Seq(3.0f, 5.0f)),
        Row(2L, Seq(5.0f, 5.0f))), 2), schema)
    val r = Embed.standardize(df).orderBy("vec_id").collect()
      .map(x => x.getSeq[Double](1))
    // dim 0: mean 3, sample sd 2 -> z = -1, 0, 1; dim 1 constant -> 0
    assert(r.map(_.toSeq).toSeq == Seq(
      Seq(-1.0, 0.0), Seq(0.0, 0.0), Seq(1.0, 0.0)))
  }

  test("centroidDrift: identical slices no drift; a moved cell flags") {
    val cents = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0, 0.0))
    val a = vecs(Seq(
      Seq(1.0, 0.1, 0.0, 0.0), Seq(1.0, -0.1, 0.0, 0.0),  // cell 0
      Seq(0.0, 0.0, 1.0, 0.1)))                           // cell 1
    // same cell-0 population; cell-1 members rotated toward dim 3
    val b = vecs(Seq(
      Seq(1.0, 0.1, 0.0, 0.0), Seq(1.0, -0.1, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.8)))
    val r = Embed.centroidDrift(a, b, cents)
      .orderBy("cell").collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getDouble(2), x.getDouble(3)))
    assert(r.length == 2)
    val (c0, c1) = (r(0), r(1))
    assert(c0._1 == 0 && c0._2 == 4L && c0._3 == 1.0 && c0._4 == 0.0)
    assert(c1._1 == 1 && c1._3 < 0.99 && c1._4 > 0.1)
    // a slice missing a cell entirely: that cell has no drift row
    val aOnly = Embed.centroidDrift(a,
      vecs(Seq(Seq(1.0, 0.05, 0.0, 0.0))), cents).collect()
    assert(aOnly.map(_.getInt(0)).toSeq == Seq(0))
  }

  // ADVICE r6: the doc_lsh_recall oracle derives only n_true
  // independently and asserts recall = 1.0 as an axiom, so the banding
  // candidate generation + intersection inside lshTuningReport was
  // unchecked. This replays the WHOLE pipeline independently on the
  // driver: signatures from the shared splitmix64 family
  // (VecMath.minhashMix — one definition, cannot drift), banding by
  // RAW SLICE EQUALITY (band-hash equality == slice equality modulo
  // xxhash64 collisions), truth by exact set Jaccard — none of the
  // engine's join/window machinery involved.
  test("lshTuningReport matches an independent driver-side banding replay") {
    def sentence(seed: Int): String =
      (0 until 30).map(k => s"tok${(seed * 31 + k * 7) % 97}").mkString(" ")
    // 5 planted near-dup pairs (high J) + 6 unrelated docs
    val texts = (0 until 5).flatMap { p =>
      val s = sentence(p + 1); Seq(s, s + " extra word")
    } ++ (0 until 6).map(i => sentence(1000 + i * 13))
    val d = docs(texts)
    val (n, bands, rpb, thr) = (3, 8, 2, 0.5)

    val rep = Dedup.lshTuningReport(d, n, bands, rpb, thr).collect().head
    val (nTrue, nCand, nHits) =
      (rep.getLong(0), rep.getLong(1), rep.getLong(2))

    val sets = d.select(col("doc_id"), Dedup.hashedShingles(col("text"), n))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
      .filter(_._2.nonEmpty).toMap
    val ids = sets.keys.toSeq.sorted
    def jac(a: Set[Long], b: Set[Long]): Double =
      (a & b).size.toDouble / (a | b).size
    val truth = (for {
      i <- ids; j <- ids if i < j
      if jac(sets(i), sets(j)) >= thr
    } yield (i, j)).toSet
    val sig = sets.map { case (id, hs) =>
      id -> Array.tabulate(bands * rpb)(k =>
        hs.map(h =>
          org.apache.spark.sql.graftio.VecMath.minhashMix(h, k)).min)
    }
    val cands = (for {
      i <- ids; j <- ids if i < j
      if (0 until bands).exists { b =>
        (0 until rpb).forall(r =>
          sig(i)(b * rpb + r) == sig(j)(b * rpb + r))
      }
    } yield (i, j)).toSet

    assert(truth.size >= 5, "planted pairs must be true near-dups")
    assert(nTrue == truth.size)
    assert(nHits == (cands & truth).size)
    assert(nCand == cands.size)
    assert(rep.getDouble(3) == BigDecimal(nHits.toDouble / nTrue)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }
}
