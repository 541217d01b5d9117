package graft

import org.apache.spark.sql.functions._

import graft.sources.TestData
import graft.llm.{Dedup, Text}

/** Round-8 additions: exact substring dedup (span REMOVAL, Lee et al.
  * '22) and domain-level corpus reporting (urlHost / registeredDomain /
  * domainReport). */
class SubstringDedupSpec extends SparkFunSuite {

  private lazy val sp = spark
  import sp.implicits._

  test("trimDuplicateSpans: later occurrences cut, first kept, " +
      "within-doc repeats cut, short docs pass through") {
    val docs = Seq(
      (1L, "a b c d e f"),           // owner of the shared run
      (2L, "x y a b c d e z"),       // embeds doc 1's a..e -> cut
      (3L, "a b c"),                 // < k tokens: untouched
      (4L, "p q r s p q r s"),       // self-repeat: second copy cut
      (5L, "only unique words appear here today"))
      .toDF("doc_id", "text")
    val r = Dedup.trimDuplicateSpans(docs, k = 4)
      .collect().map(x => x.getLong(0) -> ((x.getString(1), x.getInt(2))))
      .toMap
    assert(r(1L) == (("a b c d e f", 0)))
    // doc 2's dup windows start at 2 ("a b c d") and 3 ("b c d e"):
    // union covers positions 2..6 -> five tokens removed
    assert(r(2L) == (("x y z", 5)))
    assert(r(3L) == (("a b c", 0)))
    assert(r(4L) == (("p q r s", 4)))
    assert(r(5L) == (("only unique words appear here today", 0)))
  }

  test("trimDuplicateSpans: whitespace renormalized, empty text survives") {
    val docs = Seq((1L, "  a   b\tc  "), (2L, "")).toDF("doc_id", "text")
    val r = Dedup.trimDuplicateSpans(docs, k = 2)
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1L) == "a b c")
    assert(r(2L) == "")
  }

  test("span index: batch windows cut when indexed or batch-first-owned; " +
      "append extends the index") {
    val corpus = Seq(
      (1L, "a b c d e f"),
      (2L, "q r s t u v")).toDF("doc_id", "text")
    val tmp = TestData.freshScratch("graft-spanidx")
    Dedup.writeSpanIndex(corpus, tmp, k = 4)
    val batch = Seq(
      (10L, "x y a b c d z"),           // "a b c d" is indexed -> cut
      (11L, "x y a b c d z"),           // identical: doc 10 owns ALL windows
      (12L, "fresh words only here now"))
      .toDF("doc_id", "text")
    val r = Dedup.trimAgainstIndex(batch, tmp)
      .collect().map(x => x.getLong(0) -> ((x.getString(1), x.getInt(2))))
      .toMap
    assert(r(10L) == (("x y z", 4)))
    assert(r(11L) == (("", 7)))
    assert(r(12L) == (("fresh words only here now", 0)))
    // fold the batch in: a later batch collides with ITS windows too
    Dedup.appendSpanIndex(batch, tmp)
    val r2 = Dedup.trimAgainstIndex(
      Seq((20L, "x y a b q")).toDF("doc_id", "text"), tmp)
      .collect().map(x => x.getLong(0) -> ((x.getString(1), x.getInt(2))))
      .toMap
    assert(r2(20L) == (("q", 4))) // "x y a b" was doc 10's window 0
  }

  test("urlHost: userinfo, port, case, missing scheme") {
    val cases = Seq(
      "https://user:pw@WWW.Example.co.uk:8080/p?q#f" -> "www.example.co.uk",
      "http://blog.example.com/x" -> "blog.example.com",
      "https://example.com" -> "example.com",
      "ftp://A.B.C.d.ORG/" -> "a.b.c.d.org",
      "not a url" -> "")
    val df = cases.map(_._1).zipWithIndex.map { case (u, i) => (i, u) }
      .toDF("id", "url")
    val got = df.select(col("id"), Text.urlHost(col("url")).as("h"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(got(i) == want, s"urlHost($in)")
    }
  }

  test("registeredDomain: plain TLD, co.uk shape, deep subdomains") {
    val cases = Seq(
      "www.example.co.uk" -> "example.co.uk",
      "blog.example.com" -> "example.com",
      "example.com" -> "example.com",
      "a.b.c.d.org" -> "d.org",
      "news.bbc.gov.uk" -> "bbc.gov.uk",
      // known label but NOT a 2-letter ccTLD -> plain last-two
      "x.co.com" -> "co.com",
      "localhost" -> "localhost",
      "" -> "")
    val df = cases.map(_._1).zipWithIndex.map { case (h, i) => (i, h) }
      .toDF("id", "host")
    val got = df.select(col("id"),
      Text.registeredDomain(col("host")).as("d"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(got(i) == want, s"registeredDomain($in)")
    }
  }

  test("domainReport: subdomains collapse, counts/chars/share") {
    val docs = Seq(
      (1L, "https://news.example.com/a", "aaaa"),
      (2L, "https://blog.example.com/b", "bb"),
      (3L, "https://example.com/c", "c"),
      (4L, "https://other.co.uk/d", "dddd"))
      .toDF("doc_id", "url", "text")
    val r = Text.domainReport(docs).collect()
      .map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r("example.com") == ((3L, 7L, 0.75)))
    assert(r("other.co.uk") == ((1L, 4L, 0.25)))
  }
}
