package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{CorpusIo, Dedup, Embed, EmbedProfile, Sample, Text}

/** `curate`: one thread runs the `graft.llm` chain of the
  * `doc_e2e_pipeline` gate over `documents`, then the `embed_e2e_serving`
  * chain over `embeddings`. A measured pass cuts the lineage where the
  * gates do (`localCheckpoint` after exact dedup, keep-best, decontaminate
  * and mix); a staged pass, run only when tracing, materializes and counts
  * every stage so each is timed on its own. The final outputs are compared
  * with pinned row counts and digests. */
object CurateW {
  final case class Pass(rowsIn: Long, wallS: Double, stages: Seq[(String, Double, Long, Long)],
                        digests: Map[String, (Long, Long)], candidatePairs: Long, ccJobs: Long)

  /** Row count and `bit_xor(xxhash64(all columns))` of a frame. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(df.columns.map(col).toSeq: _*)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** One pass over inputs of `nRaw` documents and `nEmb` vectors; `staged`
    * materializes and counts every stage, otherwise only the gates' cuts
    * are materialized (row counts then read -1). */
  def pass(spark: SparkSession, data: File, scratch: File, exec: ExecListener, req: Long,
           nRaw: Long, nEmb: Long, staged: Boolean): Pass = {
    val stages = mutable.ArrayBuffer[(String, Double, Long, Long)]()
    /** Stage `name`: in a staged pass, run `body`, materialize and count its
      * output; otherwise materialize it only at a gate cut. */
    def stage(name: String, rowsIn: Long, cut: Boolean = false)(body: => DataFrame): (DataFrame, Long) =
      if (!staged) (if (cut) body.localCheckpoint(eager = true) else body, -1L)
      else Trace.span(s"llm.$name", req) {
        val t0 = System.nanoTime()
        val df = body.localCheckpoint(eager = true)
        val n = df.count()
        stages += ((name, (System.nanoTime() - t0) / 1e9, rowsIn, n))
        (df, n)
      }
    Env.rm(scratch); scratch.mkdirs()
    val t0 = System.nanoTime()
    val raw = spark.read.parquet(new File(data, "documents.parquet").getPath)
    val tmpJ = new File(scratch, "jsonl").getPath
    val tmpS = new File(scratch, "shards").getPath
    val (ingested, nIng) = stage("jsonl", nRaw) {
      val js = to_json(struct(col("doc_id"), col("text"), col("source")))
      raw.select(when(col("doc_id") % 17 === 0, concat(lit("{corrupt "), js)).otherwise(js).as("value"))
        .write.mode("overwrite").text(tmpJ)
      CorpusIo.readJsonl(spark, tmpJ,
        org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING, source STRING"))
    }
    val (normed, nNorm) = stage("normalize", nIng)(ingested.withColumn("text", Text.normalizeText(col("text"))))
    val (kept, nKept) = stage("gopher", nNorm)(
      normed.join(Text.gopherRules(normed).filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi"))
    val (exDocs, nEx) = stage("exact", nKept, cut = true)(
      kept.join(Dedup.exact(kept).select(col("keep_doc_id").as("doc_id")), Seq("doc_id"), "left_semi"))
    val (pairs, nPairs) = stage("minhash_lsh", nEx)(
      Dedup.minhashLshStar(exDocs, n = 3, bands = 64, rowsPerBand = 2, threshold = 0.5))
    val ccFrom = exec.snapshot()
    val (clusters, _) = stage("cc", nPairs)(Dedup.connectedComponents(pairs))
    if (staged) Thread.sleep(50) // let the listener bus deliver the stage's jobs
    val ccJobs = exec.snapshot().jobs - ccFrom.jobs
    val (near, nNear) = stage("keep_best", nEx, cut = true)(
      Dedup.dedupKeepBest(exDocs, clusters, length(col("text")).cast("double")))
    val (clean, nClean) = stage("decontaminate", nNear, cut = true)(
      near.join(Dedup.decontaminate(near, raw.filter(col("doc_id").isin(3L, 53L, 103L)), n = 3, minHits = 3)
        .filter(!col("contaminated")).select("doc_id"), Seq("doc_id"), "left_semi"))
    val stratum = when(Text.tokenCount(col("text")) < 70, "short")
      .when(Text.tokenCount(col("text")) < 85, "medium").otherwise("long")
    val (mixed, nMixed) = stage("mix", nClean, cut = true) {
      val rates = Sample.mixRates(clean.withColumn("stratum", stratum), "stratum",
          Seq("short" -> 0.2, "medium" -> 0.5, "long" -> 0.3))
        .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
      Sample.mix(clean, stratum, rates, defaultRate = 0.0, seed = "e2emix")
    }
    val (packed, _) = stage("pack", nMixed)(
      Sample.pack(mixed, Text.tokenCount(col("text")), seqLen = 512, buckets = 16, seed = "e2epack"))
    val (docsOut, _) = stage("write_shards", nMixed) {
      CorpusIo.writeShards(mixed.select(col("doc_id"), col("text"), col("source")), tmpS, nShards = 8)
      spark.read.parquet(tmpS)
        .select(col("doc_id"), col("shard").cast("int").as("shard"), length(col("text")).as("n_chars"))
        .join(packed.groupBy("doc_id").agg(count(lit(1)).as("n_seqs"), min(col("seq_id")).as("first_seq")),
          Seq("doc_id"))
    }

    val emb = spark.read.parquet(new File(data, "embeddings.parquet").getPath)
    val tmpE = new File(scratch, "ivf").getPath
    val profile = EmbedProfile.serving.copy(kmeansIters = 1)
    var cents: Seq[Seq[Double]] = Nil
    val (_, _) = stage("embed_train", nEmb) {
      val init = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(Embed.normalized(col("embedding"))).collect().toSeq.map(_.getSeq[Double](0).toSeq)
      cents = profile.trainCentroids(emb, k = 4, init = Some(init))
        .map(_.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      spark.range(cents.size).toDF()
    }
    val (stored, _) = stage("embed_layout", nEmb) {
      profile.writeLayout(emb.filter(col("vec_id") % 2 === 0), tmpE, nCentroids = 4, centroids = Some(cents))
      profile.append(emb.filter(col("vec_id") % 2 =!= 0), tmpE, batchId = Some("e2e_b1"))
      spark.read.parquet(tmpE)
    }
    // the gate's own check; its routing self-check is not repeated here
    val nStored = stored.count()
    require(nStored == nEmb, s"layout append lost/duplicated rows: $nStored of $nEmb")
    val corpus = stored.select(col("vec_id"), col("embedding"))
    val (survivors, nSurv) = stage("semdedup", nStored)(
      profile.semDedup(corpus, cents, threshold = 0.4).select(col("vec_id")))
    val (graph, nGraph) = stage("knn_graph", nSurv)(
      profile.knnGraph(corpus.join(survivors, Seq("vec_id"), "left_semi"), k = 3, cents))
    val (embOut, _) = stage("embed_cc", nGraph)(Embed.knnClusters(graph))
    val wall = (System.nanoTime() - t0) / 1e9
    Pass(nRaw + nEmb, wall, stages.toSeq, Map("doc_e2e_pipeline" -> digest(docsOut), "embed_e2e_serving" -> digest(embOut)),
      nPairs, ccJobs)
  }

  /** Pinned outputs, `name rows digest` per line. */
  def pins(data: File): Map[String, (Long, Long)] =
    scala.io.Source.fromFile(new File(data, "curate_pins.txt")).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, r, d) = l.split("\\s+"); n -> (r.toLong, d.toLong) }.toMap

  def run(ctx: Ctx, startS: Double): Unit = {
    val pinned = pins(ctx.data)
    val scratch = new File(ctx.root, "curate")
    def checked(p: Pass): Pass = {
      ctx.attempted += 1
      if (p.digests != pinned) ctx.mismatch(s"curate digests ${p.digests} != pinned $pinned")
      p
    }
    // preparation, repeated: open and count the two input tables
    var counts = Seq.empty[Long]
    val preps = (0 until 3).map { _ =>
      val t = System.nanoTime()
      counts = Seq("documents", "embeddings").map(t =>
        ctx.spark.read.parquet(new File(ctx.data, s"$t.parquet").getPath).count())
      (System.nanoTime() - t) / 1e9
    }
    ctx.putSetup(startS, preps, 0.0)
    val Seq(nRaw, nEmb) = counts
    def once(req: Long, staged: Boolean) =
      checked(pass(ctx.spark, ctx.data, scratch, ctx.exec, req, nRaw, nEmb, staged))

    // the measured pass is the first in a fresh JVM, as a batch curation job
    // runs; a warm pass is steadier but does not fit the benchmark's time budget
    val gc0 = Env.gcMs()
    val cold = once(1L, staged = false)
    ctx.put("throughput_per_s", cold.rowsIn / cold.wallS, "1/s")
    ctx.putLatency(Seq(cold.wallS * 1e3), "curate pass", gc0)
    ctx.putLiveHeap()

    if (ctx.trace) {
      // exec.* from an untraced warm pass of the gates' shape; then staged,
      // traced warm passes until `seconds` pass; then another untraced warm
      // pass (the JVM still warms up through the run)
      val snap = ctx.exec.snapshot()
      val before = once(2L, staged = false).wallS
      ctx.putExec(snap, before, 1L)
      Trace.reset(); Trace.enabled = true
      val t0 = System.nanoTime()
      val tr = mutable.ArrayBuffer[Pass]()
      while (tr.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds)
        tr += once(tr.size + 3L, staged = true)
      val trs = tr.toSeq
      Trace.enabled = false
      val spans = Trace.all
      val after = once(0L, staged = false).wallS
      val traced = Stats.median(trs.map(_.wallS))
      // includes the cost of materializing and counting every stage
      ctx.put("trace.overhead_frac", traced / ((before + after) / 2) - 1.0, "frac")
      // the stage spans against the traced passes' wall
      ctx.put("trace.blocking_sum_frac", Trace.selfByLayer(spans).values.sum / trs.size / traced, "frac")
      for (name <- trs.head.stages.map(_._1)) {
        val xs = trs.map(_.stages.find(_._1 == name).get)
        ctx.put(s"llm.$name.s", Stats.median(xs.map(_._2)), "s")
        ctx.put(s"llm.$name.rows_out_frac", xs.head._4.toDouble / math.max(xs.head._3, 1L), "frac")
      }
      ctx.put("llm.minhash_lsh.candidate_pairs", trs.head.candidatePairs.toDouble, "count")
      ctx.put("llm.cc.jobs", trs.head.ccJobs.toDouble, "count")
    }
  }
}
