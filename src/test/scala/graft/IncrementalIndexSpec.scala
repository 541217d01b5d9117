package graft


import org.apache.spark.sql.functions._

import graft.sources.TestData
import graft.llm.{Dedup, Embed, Text}

/** Round-8 additions: incremental index maintenance (IVF append, LSH
  * index + incremental near-dup) and crawl-pipeline cleaning (C4 page +
  * line rules, canonical-URL dedup). */
class IncrementalIndexSpec extends SparkFunSuite {

  private lazy val sp = spark
  import sp.implicits._

  test("ivfUpdate: appended vectors are probed; existing files untouched") {
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(4)(d => (if (i % 2 == 0) 1.0f else -1.0f) *
        (d + 1) + i * 0.01f))
    }.toDF("vec_id", "embedding")
    val tmp = TestData.freshScratch("graft-ivfu")
    Embed.writeIvf(vecs.filter($"vec_id" < 20), tmp, nCentroids = 4)
    val before = new java.io.File(tmp).listFiles()
      .filter(_.getName.startsWith("ivf_cell="))
      .flatMap(_.listFiles()).map(f => f.getAbsolutePath -> f.lastModified())
      .toMap
    Embed.ivfUpdate(vecs.filter($"vec_id" >= 20), tmp)
    // append-only: every pre-update data file still present, unmodified
    val after = new java.io.File(tmp).listFiles()
      .filter(_.getName.startsWith("ivf_cell="))
      .flatMap(_.listFiles()).map(f => f.getAbsolutePath -> f.lastModified())
      .toMap
    before.foreach { case (p, m) => assert(after.get(p).contains(m)) }
    assert(after.size > before.size)
    // probing every cell returns the global brute-force top-k, including
    // post-update ids
    val q = vecs.filter($"vec_id" === 25).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val got = Embed.topKIvfStored(sp.read.parquet(tmp), q, k = 5,
      nCentroids = 4, nProbe = 4,
      trained = Some(Embed.readIvfCentroids(sp, tmp)))
      .collect().map(_.getLong(0))
    val brute = Embed.topK(vecs, q, k = 5).collect().map(_.getLong(0))
    assert(got.toSeq == brute.toSeq)
    assert(got.exists(_ >= 20))
  }

  test("ivfUpdate replays the layout's persisted assignment mode") {
    val cents = Some(Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0)))
    val base = Seq((0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    // boundary vector: the raw cosine favors cell 0 by one float ulp;
    // 6-decimal rounding ties the two cells and the rounded tie-break
    // picks the LARGER cid — so the two assignment modes disagree on
    // exactly this vector
    val boundary = Seq((10L, Array(Math.nextUp(1.0f), 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val rounded = TestData.freshScratch("graft-ivfr")
    Embed.writeIvf(base, rounded, nCentroids = 2, centroids = cents,
      rounded = true)
    Embed.ivfUpdate(boundary, rounded)
    assert(sp.read.parquet(rounded).filter($"vec_id" === 10L)
      .select($"ivf_cell").head().getInt(0) == 1,
      "append to a rounded layout must assign on the rounded cosine")
    // a raw layout assigns the same append raw; deleting the meta
    // sidecar emulates a layout written before it existed — appends to
    // old layouts keep the old (raw) behavior
    val raw = TestData.freshScratch("graft-ivfw")
    Embed.writeIvf(base, raw, nCentroids = 2, centroids = cents)
    assert(new java.io.File(raw, "_ivf_meta.txt").delete())
    Embed.ivfUpdate(boundary, raw)
    assert(sp.read.parquet(raw).filter($"vec_id" === 10L)
      .select($"ivf_cell").head().getInt(0) == 0)
  }

  test("LSH index: incremental near-dup finds corpus-vs-new and " +
      "new-vs-new, never corpus-vs-corpus; append extends the index") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, base),
      (2L, base + " lambda"), // near-dup of 1 — but both indexed: no pair
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val tmp = TestData.freshScratch("graft-lsh")
    Dedup.writeLshIndex(corpus, tmp, n = 3, bands = 32, rowsPerBand = 2)
    val batch = Seq(
      (10L, base + " mu"),    // near-dup of 1 and 2 (corpus-vs-new)
      (11L, base + " mu nu"), // near-dup of 10 (new-vs-new) and 1, 2
      (12L, "totally different words with no shingles shared at all x y"))
      .toDF("doc_id", "text")
    val pairs = Dedup.neardupAgainstIndex(batch, tmp, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 10L)) && pairs.contains((2L, 10L)))
    assert(pairs.contains((10L, 11L)))
    assert(!pairs.contains((1L, 2L))) // corpus-vs-corpus: absent by design
    assert(!pairs.exists(p => p._1 == 12L || p._2 == 12L))
    // fold the batch in; a later batch must collide with ITS docs too
    Dedup.appendLshIndex(batch, tmp)
    val pairs2 = Dedup.neardupAgainstIndex(
      Seq((20L, base + " mu nu xi")).toDF("doc_id", "text"),
      tmp, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs2.contains((11L, 20L)) && pairs2.contains((10L, 20L)))
  }

  test("LSH index: STAR probe flags new dups against bucket hubs, " +
      "stays Θ(batch) on a mega-family, and follows appends") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // a 40-member stored family (the mega-bucket regime the pair probe
    // is quadratic in) + one unrelated stored doc
    val corpus = ((1L to 40L).map(i => (i, base)) :+
      (100L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val tmp = TestData.freshScratch("graft-lshstar")
    Dedup.writeLshIndex(corpus, tmp, n = 3, bands = 32, rowsPerBand = 2)
    val batch = Seq(
      (200L, base),  // exact member of the stored family
      (201L, "totally different words with no shingles shared at all"))
      .toDF("doc_id", "text")
    val edges = Dedup.neardupAgainstIndexStar(batch, tmp, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the family member is flagged with the MIN-id member as witness —
    // identical docs share every bucket, so every bucket's hub is doc 1
    // and the output is ONE edge, not 40 pairs
    assert(edges.toSeq == Seq((200L, 1L, 1.0)),
      s"expected the single hub edge, got ${edges.toSeq}")
    // fold the batch in; a later probe must hub against ITS docs too
    Dedup.appendLshIndex(batch, tmp)
    val edges2 = Dedup.neardupAgainstIndexStar(
      Seq((300L, "totally different words with no shingles shared at " +
        "all plus")).toDF("doc_id", "text"), tmp, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges2.contains((300L, 201L)),
      s"appended doc 201 must serve as a hub: $edges2")
  }

  test("c4Clean: each rule drops exactly its target") {
    val docs = Seq(
      // survives: two qualifying lines; javascript / short / unpunctuated
      // lines are cut
      (1L, "the quick brown fox jumps.\nenable javascript now please.\n" +
        "go on\nno punctuation line here\nanother good line stays."),
      // page killed: lorem ipsum
      (2L, "a perfectly fine line here.\nand one more good line.\n" +
        "Lorem Ipsum dolor"),
      // page killed: curly brace (code)
      (3L, "a perfectly fine line here.\nand one more good line.\n" +
        "if (x) { y(); }"),
      // dropped: only ONE qualifying line (< minLines)
      (4L, "only this line qualifies here.\nnope\nnah"),
      // line ending in ? and ! both count as terminal
      (5L, "is this a question line?\nwhat an exciting line!"))
      .toDF("doc_id", "text")
    val r = Text.c4Clean(docs, minLineWords = 3, minLines = 2)
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r.keySet == Set(1L, 5L))
    assert(r(1L) ==
      "the quick brown fox jumps.\nanother good line stays.")
    assert(r(5L) == "is this a question line?\nwhat an exciting line!")
  }

  test("canonicalUrl: host case, www, fragment, utm, trailing slash") {
    val cases = Seq(
      "HTTPS://WWW.Example.COM/Path/" -> "https://example.com/Path",
      "https://example.com/a?utm_source=x" -> "https://example.com/a",
      "https://example.com/a?utm_source=x&id=1" ->
        "https://example.com/a?id=1",
      "https://example.com/a?id=1&utm_source=x" ->
        "https://example.com/a?id=1",
      "https://example.com/a?utm_a=1&utm_b=2" -> "https://example.com/a",
      "https://example.com/a?id=1&utm_m=x&z=2" ->
        "https://example.com/a?id=1&z=2",
      "http://example.com/a#frag" -> "http://example.com/a",
      // path case is preserved; only scheme+host lowercase
      "https://A.B/KeepCase?Q=V" -> "https://a.b/KeepCase?Q=V",
      // a RUN of consecutive utm params before a kept one drops whole
      "https://example.com/a?utm_a=1&utm_b=2&id=3" ->
        "https://example.com/a?id=3",
      // boundary anchoring (round-8 advice): 'utm_' INSIDE a value or a
      // path segment is content, not a tracking param — untouched
      "https://example.com/a?a=xutm_b=1&c=2" ->
        "https://example.com/a?a=xutm_b=1&c=2",
      "https://example.com/utm_x&y" -> "https://example.com/utm_x&y")
    val df = cases.map(_._1).zipWithIndex
      .map { case (u, i) => (i.toLong, u) }.toDF("id", "url")
    val got = df.select(col("id"), Text.canonicalUrl(col("url")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(got(i.toLong) == want, s"canonicalUrl($in)")
    }
  }

  test("urlDedup: longest doc wins its canonical group, ties to min id") {
    val docs = Seq(
      (1L, 100L, "https://www.a.com/x/"),
      (2L, 300L, "https://a.com/x?utm_s=1"), // same canonical, longer: wins
      (3L, 300L, "HTTPS://A.com/x#f"),       // ties 2 on len: larger id loses
      (4L, 50L, "https://a.com/y"),
      // snowflake-scale ids (≥ 1e9) broke the old composite BIGINT
      // min_by key (round-8 advice); the struct key is exact: the
      // longer fetch must win regardless of id magnitude
      (7020936858583826432L, 10L, "https://a.com/z"),
      (7020936858583826433L, 900L, "https://a.com/z"))
      .toDF("doc_id", "n_chars", "url")
    val r = Dedup.urlDedup(docs).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r("https://a.com/x") == ((3L, 2L)))
    assert(r("https://a.com/y") == ((1L, 4L)))
    assert(r("https://a.com/z") == ((2L, 7020936858583826433L)))
  }
}
