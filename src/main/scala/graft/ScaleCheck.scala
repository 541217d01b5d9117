package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ast.QueryJson
import graft.llm.{Bpe, CorpusIo, Dedup, Embed, Sample, Text}
import graft.plan.{EventOps, Planner, TsAnalytics, TsStore}
import graft.sources.TestData

/** sf1-equivalent validation: replicate the sf0.1 tables `factor`x
  * (default 10 — roughly TPC-H sf1 volume) with shifted ids, then run
  * the HEAVY operators end-to-end and report per-op wall seconds and
  * output rows. Replica documents get a per-replica marker token so
  * cross-replica pairs exercise the near-dup verification path (the
  * realistic crawl-dup regime) instead of collapsing into exact-dup
  * clusters; embeddings replicate identically in the sparse (0.9)
  * LSH regime, whose candidate count must stay ≪ n²/2.
  *
  * Usage: runMain graft.ScaleCheck [sfDir] [factor] [opName...]
  * Further args select a subset of ops — the 100x graduation runs name
  * the five most expensive pipelines at factor 100 without paying for
  * the other 35 at that volume. Unknown names are an error (a typo
  * must not produce a vacuously-clean run).
  * Prints one JSON line: {"metric":"scalecheck","factor":F,
  *   "queries":{op:sec,...},"rows":{op:n,...},"errors":{...}}
  */
object ScaleCheck {

  def main(args: Array[String]): Unit = {
    val sfDir  = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val only   = args.drop(2).toSet
    val known  = scala.collection.mutable.LinkedHashSet[String]()
    val builder0 = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .appName("graft-scalecheck")
    // Above factor 100 the explode-based replica construction (below)
    // carries the BASE frame's size estimate — 1000x too small — so
    // static planning would broadcast multi-GB join sides (observed: a
    // 1 GiB+ driver collect killed the star dedup at factor 1000).
    // Disable estimate-driven static broadcasts and let AQE promote
    // joins from RUNTIME shuffle sizes instead — the standard posture
    // for any production corpus whose stats are unreliable. Factors
    // <= 100 keep the default regime every published number used.
    val builder =
      if (factor > 100)
        builder0
          .config("spark.sql.autoBroadcastJoinThreshold", "-1")
          .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
            "10485760")
      else builder0
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- scaled inputs -------------------------------------------------
    // Replica construction: per-replica unionAll up to factor 100 (the
    // construction every published SCALECHECK/SCALECHECK100 number was
    // measured with); above that a 100-way union per EXPLODED row keeps
    // the logical plan linear in ops, not in factor — a 1000-child
    // Union would pay Catalyst analysis per op for no data difference.
    // Both forms produce identical rows for the same factor.
    def replicated(base: DataFrame)(shape: (DataFrame, Column) => DataFrame)
    : DataFrame =
      if (factor <= 100)
        (0 until factor).map(r => shape(base, lit(r.toLong)))
          .reduce(_ unionAll _)
      else
        // repartition the (small) base BEFORE the explode: the base
        // parquet is often a single input split, and exploding factor-x
        // inside one task would serialize the whole scaled corpus on
        // one core (observed: writeIvf's 8M-vector cell assignment
        // pinned to a single thread for 19 min at factor 1000)
        shape(
          base.repartition(
            spark.sparkContext.defaultParallelism * 2)
            .withColumn("__r",
              explode(sequence(lit(0L), lit(factor - 1L)))),
          col("__r")).drop("__r")

    val docs0 = TestData.table(spark, sfDir, "documents")
    val docs = replicated(docs0) { (b, r) =>
      b.select(
        (col("doc_id") + r * 10000000L).as("doc_id"),
        when(r === 0, col("text"))
          .otherwise(concat(col("text"), lit(" replica"),
            r.cast("string"))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }

    val emb0 = TestData.table(spark, sfDir, "embeddings")
    val emb = replicated(emb0) { (b, r) =>
      b.select((col("vec_id") + r * 10000000L).as("vec_id"),
        col("embedding"), col("label"))
    }

    val ev0 = TestData.eventsRaw(spark, sfDir)
    val ev = replicated(ev0) { (b, r) =>
      b.select((col("event_id") + r * 100000000L).as("event_id"),
        col("ts"), (col("user_id") + r * 1000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }

    // sample columns only: the layout's sname/tag_<k> would stay unreplicated
    val samples0 = TestData.events(spark, sfDir).samples
      .select(col("metric"), col("tags"), col("ts"), col("value"))
    val store = new TsStore(replicated(samples0) { (b, r) =>
      b.withColumn("tags", map(
        lit("user"),
        (element_at(col("tags"), "user").cast("long") + r * 1000000L)
          .cast("string"),
        lit("k"), element_at(col("tags"), "k")))
    })

    // ---- timed heavy ops ----------------------------------------------
    // Celled-ANN layouts must keep PER-CELL size roughly constant as the
    // corpus grows — a production IVF deployment grows its cell count
    // with n (the probe cost is nProbe x cell size). Pinning the cell
    // counts while the factor grows 10x would make every celled op
    // quadratic and measure a configuration nobody would deploy; scaling
    // them with the factor keeps factor-10 runs bit-identical to the
    // published SCALECHECK numbers and keeps 100x honest.
    val knnCells = math.max(16, 16 * factor / 10)
    val ivfCells = math.max(64, 64 * factor / 10)
    // Past a few hundred cells the flat O(k·dim)-per-row assignment is
    // the measured scale-killer (r11's 1000x run: embed_knn_clusters
    // grew 42x in wall for 10x data at k=1600), so the celled k-means
    // consumers switch to the two-level routed kernel
    // (Embed.buildCentroidIndex — O(√k·dim) per row). Gated on the
    // FACTOR, not the cell count, so every factor <= 100 op — including
    // embed_topk_batch_ivf, whose ivfCells hits 640 at factor 100 —
    // stays on the flat path, bit-identical to the published
    // SCALECHECK/SCALECHECK100 numbers (r12 ADVICE: a cell-count gate
    // silently flipped the 100x layout build to 4-probe assignment).
    val hierAssign = factor > 100
    def knnIndex(cents: Seq[Seq[Double]]): Option[Embed.CentroidIndex] =
      if (hierAssign) Some(Embed.buildCentroidIndex(cents)) else None
    def knnCentroids(): Seq[Seq[Double]] =
      Embed.kmeansCentroids(emb, k = knnCells, iters = 2,
        hierarchical = hierAssign)
    val secs = scala.collection.mutable.LinkedHashMap[String, Double]()
    val rows = scala.collection.mutable.LinkedHashMap[String, Long]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Evaluation-forcing terminal for ROW-PRESERVING ops: `.count()`
    // lets Catalyst prune the computed columns (a Window whose outputs
    // are unreferenced is eliminated outright), so a count-terminated
    // wall times the SCAN, not the operator — r13 caught sessionize
    // "processing" 100M rows in 0.32s this way. Hash-summing the
    // computed columns makes every value load-bearing at the cost of
    // one per-row hash. Ops whose count already forces the work
    // (filters, joins, aggregations) keep the plain count.
    // (bit_xor, not sum: summing 64-bit hashes overflows under ANSI)
    // With no columns named, EVERY output column is hashed (maps via
    // to_json — Bench.hashableCols): the r14 audit found `.count()` also
    // prunes AGGREGATE expressions, not just Windows — count over
    // groupBy().agg(...) needs only the grouping keys, so a fold/
    // quantile/forecast whose output cardinality is key-determined timed
    // the grouping shuffle, not the math (doc_substring_dedup's trim
    // pass was pruned outright: 0.5s "wall" over 5M docs at 1000x).
    def forced(df: org.apache.spark.sql.DataFrame, cs: String*): Long = {
      val hcols = if (cs.nonEmpty) cs.map(col) else Bench.hashableCols(df)
      df.agg(count(lit(1)).as("__n"),
          bit_xor(xxhash64(hcols: _*)).as("__h"))
        .head().getLong(0)
    }
    def timed(name: String)(f: => Long): Unit = {
      known += name
      if (only.nonEmpty && !only(name)) return
      val t0 = System.nanoTime()
      try {
        rows(name) = f
        secs(name) = (System.nanoTime() - t0) / 1e9
        Console.err.println(f"[scalecheck] $name%-26s ${secs(name)}%8.2f s  rows=${rows(name)}")
      } catch { case e: Throwable =>
        secs(name) = -1.0
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.next().take(160)
        Console.err.println(s"[scalecheck] $name FAILED: ${errors(name)}")
      }
    }

    timed("doc_minhash_lsh") {
      Dedup.minhashLsh(docs, threshold = 0.5).count()
    }
    timed("doc_ngram_jaccard") {
      Dedup.ngramJaccard(docs, threshold = 0.5).count()
    }
    timed("embed_neardup_lsh_sparse") {
      Embed.nearDupLsh(emb, threshold = 0.9, nPlanes = 16, tables = 8).count()
    }
    timed("embed_semdedup") {
      val init = emb0.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(Embed.normalized(col("embedding")))
        .collect().toSeq.map(_.getSeq[Double](0).toSeq)
      Embed.semDedup(emb, init, threshold = 0.4).count()
    }
    timed("embed_semdedup_cells") {
      // the scale-shaped semdedup: cell count grows with n (knnCells)
      // so the within-cell pair product stays bounded — the pinned
      // 4-centroid variant above measures the gate shape and at high
      // factors its cells exceed maxCell and the valve (correctly)
      // drops them, which certifies the valve but not the dedup.
      // DOES NOT GRADUATE past factor 100 by arithmetic: pair emission
      // is quadratic in duplicate-family size, and the 1000x replica
      // corpus (1000 identical copies per base vector) makes that
      // ~500k verified pairs PER FAMILY — the factor-1000 attempt
      // emitted ~4B pairs and filled the disk before clustering.
      // embed_semdedup_star below is the form that graduates.
      val cents = knnCentroids()
      Embed.semDedup(emb, cents, threshold = 0.4,
        hier = knnIndex(cents)).count()
    }
    timed("embed_semdedup_star") {
      // the dense-duplication semdedup shape: members verify against
      // the cell's min-id hub only — Θ(|cell|) edges, the embedding
      // twin of doc_dedup_pipeline_star's answer to the same Θ(d²)
      val cents = knnCentroids()
      Embed.semDedupStar(emb, cents, threshold = 0.4,
        hier = knnIndex(cents)).count()
    }
    timed("bpe_train") {
      Bpe.trainBatched(Bpe.wordVocab(docs), k = 6)._1.size.toLong
    }
    timed("bpe_encode") {
      val (merges, _) = Bpe.trainBatched(Bpe.wordVocab(docs), k = 6)
      forced(Bpe.encode(docs, merges))
    }
    timed("ts_join") {
      Planner.plan(QueryJson.parse(
        """{"join":["click","view","purchase"],
          |"range":{"from":"20240105T000000","to":"20240120T000000"}}"""
          .stripMargin), store).df.count()
    }
    timed("ts_group_aggregate") {
      Planner.plan(QueryJson.parse(
        """{"group-aggregate":{"metric":["click","view"],"step":"1h",
          |"func":["mean","max"]},
          |"range":{"from":"20240105T000000","to":"20240120T000000"}}"""
          .stripMargin), store).df.count()
    }
    val Day = 86400L * 1000000000L
    timed("asof_join") {
      val l = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      forced(EventOps.asOf(l, r, Seq("user_id"), "ts", "value",
        toleranceNs = Some(2 * Day)), "value_r", "ts_r")
    }
    timed("sessionize") {
      forced(EventOps.sessionize(ev, Seq("user_id"), "ts",
        gapNs = 6 * 3600L * 1000000000L), "session_id")
    }
    timed("take_budget") {
      Sample.takeBudget(docs.select(col("doc_id"), col("n_chars")),
        col("n_chars"), pmod(col("doc_id") * 37, lit(101)),
        budget = 1000000L, idCol = "doc_id").count()
    }
    timed("doc_dedup_bloom") {
      Dedup.dedupBloom(docs, docs.filter(col("doc_id") % 5 === 0),
        mBits = 1 << 20, kHashes = 4).count()
    }
    // ---- round-5 additions --------------------------------------------
    timed("embed_knn_graph_ivf") {
      // brute kNN graph is O(n²) scans by design; at factor-x volume
      // only the celled path is run (the brute regime is gate-verified)
      val cents = knnCentroids()
      Embed.knnGraphCells(emb, k = 5, cents, probes = 2,
        hier = knnIndex(cents)).count()
    }
    timed("embed_random_projection") {
      forced(Embed.randomProjectSigned(emb, outDim = 16), "proj")
    }
    timed("doc_bm25") {
      Text.bm25Search(docs, Seq("spark", "vector", "merge"), k = 10).count()
    }
    timed("doc_char_entropy") {
      forced(Text.charEntropyReport(docs), "entropy_bits")
    }
    timed("doc_ccnet_bucket") {
      forced(Text.perplexityBuckets(docs, Seq("source"), nBuckets = 3),
        "perplexity", "bucket")
    }
    timed("ts_m4_downsample") {
      forced(TsAnalytics.m4Downsample(store.samples, Seq("metric"), "ts",
        "value", Day))
    }
    timed("ts_seasonal_decompose") {
      forced(TsAnalytics.seasonalDecompose(store.samples, Seq("metric"),
        "ts", "value", bucketNs = 6 * 3600L * 1000000000L, period = 5))
    }
    timed("ts_forecast_holt") {
      // one series per (metric, user-mod-16): hundreds of thousands of
      // points per series through the chunk-composed affine fold
      val keyed = store.samples.withColumn("skey",
        concat(col("metric"), lit("/"),
          pmod(element_at(col("tags"), "user").cast("long"), lit(16))))
      forced(TsAnalytics.holtForecast(keyed, Seq("skey"), "ts", "value",
        alpha = 0.4, beta = 0.3, horizon = 5, stepNs = Day))
    }
    // ---- round-6 additions --------------------------------------------
    timed("ts_downsample_lttb") {
      forced(TsAnalytics.downsampleLttb(store.samples, Seq("metric"),
        "ts", "value", buckets = 200))
    }
    timed("ts_sax_motifs") {
      forced(TsAnalytics.saxMotifs(store.samples, Seq("metric"), "ts",
        "value", width = 8, alphabet = 4, minCount = 2))
    }
    timed("ts_histogram_quantile") {
      forced(TsAnalytics.histogramQuantile(store.samples, Seq("metric"),
        "ts", "value", bucketNs = Day, nBins = 32,
        probs = Seq(0.5, 0.95, 0.99)))
    }
    timed("ts_forecast_hw") {
      // same giant-series regime as holt, one dimension up (period+2
      // affine maps through keyedFold)
      val keyed = store.samples.withColumn("skey",
        concat(col("metric"), lit("/"),
          pmod(element_at(col("tags"), "user").cast("long"), lit(16))))
      forced(TsAnalytics.holtWintersForecast(keyed, Seq("skey"), "ts",
        "value", alpha = 0.3, beta = 0.1, gamma = 0.2, period = 7,
        horizon = 5, stepNs = Day))
    }
    timed("ts_fill_forward") {
      val t0 = graft.model.AkuTime.parseTs("20240105T000000")
      val t1 = graft.model.AkuTime.parseTs("20240120T000000")
      val keyed = store.samples.withColumn("skey",
        concat(col("metric"), lit("/"),
          pmod(element_at(col("tags"), "user").cast("long"), lit(16))))
      forced(TsAnalytics.fillForward(keyed, Seq("skey"), "ts", "value",
        stepNs = 3600L * 1000000000L, fromNs = t0, toNs = t1,
        maxAgeNs = 2 * Day), "value", "age_ns")
    }
    timed("embed_knn_classify") {
      // brute pair form: Θ(q·n) candidates. Does NOT graduate past
      // factor 100 by arithmetic — the r14 1000x attempt (19.8k queries
      // × 1.6M labeled = 31.7B pairs) filled the disk in the top-k sort
      // spill. The serving shape is embed_knn_classify_cells below.
      forced(Embed.knnClassify(emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 101 === 0), k = 5))
    }
    timed("embed_knn_classify_cells") {
      // the celled serving shape (bounded probes × cell size per query;
      // cells grow with the corpus, two-level routing past factor 100) —
      // the label-vote sibling of embed_knn_graph_ivf
      val cents = knnCentroids()
      forced(Embed.knnClassifyCells(emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 101 === 0), k = 5, cents, probes = 2,
        hier = knnIndex(cents)))
    }
    timed("doc_contamination_report") {
      Dedup.contaminationReport(docs.filter(col("doc_id") % 50 =!= 3),
        docs.filter(col("doc_id") % 50 === 3), n = 3).count()
    }
    timed("doc_contamination_valveoff") {
      // the compliance posture, measured (VERDICT r13 #8): maxBucket off,
      // nothing silently dropped. Candidate volume is
      // Θ(Σ_g |bench_g|·|corpus_g|) — under identical-replica scaling
      // BOTH factors grow with the replica count, so the shape is
      // quadratic in factor by arithmetic: run it at the factors it can
      // afford and document the wall above them; the valved sibling
      // (curation default) stays linear.
      Dedup.contaminationReport(docs.filter(col("doc_id") % 50 =!= 3),
        docs.filter(col("doc_id") % 50 === 3), n = 3,
        maxBucket = Int.MaxValue).count()
    }
    timed("mm_video_near_dup") {
      graft.llm.Multimodal.videoNearDup(
        graft.llm.Multimodal.fromDocuments(docs), everyMs = 1000L,
        minShared = 2).count()
    }
    // ---- round-8 additions: the connectedComponents consumers ----------
    // (absent from every earlier ScaleCheck; r7's Catalyst stats
    // explosion lived exactly here and only surfaced at bench sf0.1)
    timed("doc_neardup_clusters") {
      Dedup.connectedComponents(
        Dedup.minhashLsh(docs, n = 3, bands = 64, rowsPerBand = 2,
          threshold = 0.5)).count()
    }
    timed("doc_dedup_pipeline") {
      Dedup.dedupKeepBest(docs,
        Dedup.connectedComponents(
          Dedup.minhashLsh(docs, n = 3, bands = 64, rowsPerBand = 2,
            threshold = 0.5)),
        col("n_chars").cast("double")).count()
    }
    timed("doc_dedup_pipeline_star") {
      // the dense-duplication dedup shape: star edges per bucket keep
      // the replica families Θ(d) instead of Θ(d²) — at factor 100 the
      // clique variant above spends its whole budget enumerating
      // 100-replica cliques
      Dedup.dedupKeepBest(docs,
        Dedup.connectedComponents(
          Dedup.minhashLshStar(docs, n = 3, bands = 64, rowsPerBand = 2,
            threshold = 0.5)),
        col("n_chars").cast("double")).count()
    }
    timed("doc_e2e_pipeline") {
      // the full advertised production chain as ONE composed run —
      // normalize -> gopher -> exact dedup -> star near-dup dedup ->
      // decontaminate -> water-filled mix -> pack -> sharded export,
      // with the shard layout read BACK and reconciled against the mix
      // output row-for-row. Per-stage ops above each prove their own
      // scaling; this proves the HANDOFFS (schema/contract drift shows
      // up as a count mismatch or an empty stage, both hard failures
      // here). Cross-factor note: the dedup leg's survivor count is the
      // replica-invariant (certified by doc_dedup_pipeline_star);
      // the mix leg's membership is id-hash-based, so the FINAL count
      // is deterministic per factor but not factor-invariant by design.
      val tmp = TestData.freshScratch("graft_sc_e2e")
      // each stage is localCheckpoint-materialized at its boundary: a
      // production pipeline lands every stage once (usually as parquet),
      // while the un-cut lineage would re-execute the whole prefix per
      // downstream reference AND multiply the logical plan tree per
      // stage (exDocs alone is referenced 4x by keep-best + CC) — the
      // composed plan blows the driver heap at factor 10 before a
      // single task runs. Stats are preserved (non-loop checkpoints),
      // so AQE sizing still sees real volumes.
      // the normalize stage needs the SAME boundary cut as every later
      // stage: `normed` is referenced twice (rows + gopher scores), and
      // at factor 100 the un-cut reference is two copies of a 100-child
      // replica Union inside one join — Catalyst constraint propagation
      // over that shape spun the driver for 16+ min of pure planning
      // before a single task ran (caught by this gate's first 100x
      // attempt; exactly the inter-stage drift it exists to surface)
      val normed = docs.select(col("doc_id"), col("source"),
        Text.normalizeText(col("text")).as("text")).localCheckpoint()
      val kept = normed.join(
        Text.gopherRules(normed).filter(col("keep")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val exDocs = kept.join(
        Dedup.exact(kept).select(col("keep_doc_id").as("doc_id")),
        Seq("doc_id"), "left_semi").localCheckpoint()
      Console.err.println(s"[scalecheck]   e2e exact-dedup survivors: " +
        exDocs.count())
      val near = Dedup.dedupKeepBest(exDocs,
        Dedup.connectedComponents(
          Dedup.minhashLshStar(exDocs, n = 3, bands = 64,
            rowsPerBand = 2, threshold = 0.5)),
        length(col("text")).cast("double")).localCheckpoint()
      Console.err.println(s"[scalecheck]   e2e near-dup survivors: " +
        near.count())
      // benchmark = the gate's FIXED base doc ids (scale-independent
      // gram set — a modulus-class bench grows with the corpus until
      // its template grams cover everything and the stage empties the
      // pipeline); under replication only the r=0 copies match, so the
      // bench stays 3 docs at every factor and the dropped set is the
      // replica families of those 3 docs
      val clean = near.join(
        Dedup.decontaminate(near,
            docs.filter(col("doc_id").isin(3L, 53L, 103L)),
            n = 3, minHits = 3)
          .filter(!col("contaminated")).select("doc_id"),
        Seq("doc_id"), "left_semi").localCheckpoint()
      Console.err.println(s"[scalecheck]   e2e decontaminated: " +
        clean.count())
      val stratum = when(Text.tokenCount(col("text")) < 70, "short")
        .when(Text.tokenCount(col("text")) < 85, "medium")
        .otherwise("long")
      val rates = Sample.mixRates(clean.withColumn("stratum", stratum),
          "stratum", Seq("short" -> 0.2, "medium" -> 0.5, "long" -> 0.3))
        .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
      val mixed = Sample.mix(clean, stratum, rates, defaultRate = 0.0,
        seed = "e2emix").localCheckpoint()
      val nMixed = mixed.count()
      require(nMixed > 0, "e2e pipeline emptied before export")
      val nPackedDocs = Sample.pack(mixed, Text.tokenCount(col("text")),
        seqLen = 512, buckets = 16, seed = "e2epack")
        .select(col("doc_id")).distinct().count()
      CorpusIo.writeShards(
        mixed.select(col("doc_id"), col("text"), col("source")),
        tmp, nShards = 32)
      val back = spark.read.parquet(tmp)
      val nExported = back.count()
      val nShardsSeen = back.select(col("shard")).distinct().count()
      require(nExported == nMixed,
        s"shard export lost/duplicated rows: $nExported != $nMixed")
      require(nPackedDocs == nMixed,
        s"pack lost/duplicated docs: $nPackedDocs != $nMixed")
      require(nShardsSeen == 32, s"expected 32 shards, saw $nShardsSeen")
      nExported
    }
    timed("embed_knn_clusters") {
      val cents = knnCentroids()
      Embed.knnClusters(Embed.knnGraphCells(emb, k = 3, cents, probes = 2,
          hier = knnIndex(cents)))
        .count()
    }
    timed("ts_series_overview") {
      forced(TsAnalytics.seriesOverview(store.samples, Seq("metric"),
        "ts", "value"))
    }
    timed("doc_neardup_incremental") {
      // index 3/4 of the scaled corpus once, probe the last quarter
      // against it — the per-batch cost of the growing-corpus loop
      val tmp = TestData.freshScratch("graft_sc_lsh")
      Dedup.writeLshIndex(docs.filter(col("doc_id") % 4 =!= 0), tmp,
        n = 3, bands = 64, rowsPerBand = 2)
      Dedup.neardupAgainstIndex(docs.filter(col("doc_id") % 4 === 0), tmp,
        threshold = 0.5).count()
    }
    timed("doc_neardup_incremental_star") {
      // the dedup-DECISION probe at scale: same index/batch split, but
      // each new doc verifies against bucket hubs only (Θ(batch×bands)).
      // The pair form above is quadratic in dup-family size — at factor
      // 1000 a replica family yields ~187k pairs and ~12M raw band
      // candidates PER FAMILY, so the star probe is the shape that
      // graduates to 1000x.
      val tmp = TestData.freshScratch("graft_sc_lshstar")
      Dedup.writeLshIndex(docs.filter(col("doc_id") % 4 =!= 0), tmp,
        n = 3, bands = 64, rowsPerBand = 2)
      Dedup.neardupAgainstIndexStar(docs.filter(col("doc_id") % 4 === 0),
        tmp, threshold = 0.5)
        .select(col("id")).distinct().count()
    }
    timed("embed_ivf_update") {
      val tmp = TestData.freshScratch("graft_sc_ivfu")
      Embed.writeIvf(emb.filter(col("vec_id") % 2 === 0), tmp,
        nCentroids = ivfCells)
      Embed.ivfUpdate(emb.filter(col("vec_id") % 2 =!= 0), tmp)
      Embed.topKIvfStored(spark.read.parquet(tmp),
        emb0.filter(col("vec_id") === 7).select(col("embedding"))
          .head().getSeq[Float](0).map(_.toDouble).toSeq,
        k = 10, nCentroids = ivfCells, nProbe = 4,
        trained = Some(Embed.readIvfCentroids(spark, tmp))).count()
    }
    timed("doc_substring_incremental") {
      // per-batch cost of the growing-corpus substring loop: index 3/4
      // of the scaled corpus once, trim the last quarter against it.
      // The replica-invariance witness for the cross-order artifacts is
      // the count of docs the probe actually SHORTENED (stderr note):
      // batch size alone is linear by construction and would certify
      // nothing about the span probe itself.
      val tmp = TestData.freshScratch("graft_sc_spanidx")
      val batch = docs.filter(col("doc_id") % 4 === 0)
      Dedup.writeSpanIndex(docs.filter(col("doc_id") % 4 =!= 0), tmp, k = 8)
      val trimmed = Dedup.trimAgainstIndex(batch, tmp)
        .select(col("doc_id"), length(col("text")).as("lt"))
        .join(batch.select(col("doc_id"), length(col("text")).as("lo")),
          "doc_id")
      // ONE action for both counts: two separate counts would execute
      // trimAgainstIndex twice inside the timed block (r12 ADVICE — the
      // 1000x wall was measured on that double-pass shape; cross-factor
      // comparisons against it should note the r13 single-pass change)
      val agg = trimmed.agg(
        count(lit(1)).as("n"),
        sum(when(col("lt") < col("lo"), 1L).otherwise(0L)).as("ns"))
        .head()
      val nTotal = agg.getLong(0)
      val nShortened = agg.getLong(1)
      Console.err.println(
        s"[scalecheck] doc_substring_incremental shortened=$nShortened" +
          s" of $nTotal")
      require(nShortened > 0, "span probe trimmed nothing — fixture broke")
      nTotal
    }
    timed("doc_export_shards") {
      // final-mile export: hash-shard + within-shard shuffle order +
      // manifest readback over the scaled corpus
      val tmp = TestData.freshScratch("graft_sc_shards")
      CorpusIo.writeShards(docs.select(col("doc_id"), col("text"),
        col("source")), tmp, nShards = 32, shuffled = true)
      CorpusIo.shardManifest(spark, tmp).count()
    }
    timed("embed_topk_batch_ivf") {
      // batch serving shape: one probe pass over the layout serves the
      // whole query batch (every 50th vector queries, nProbe 8 of 64)
      val tmp = TestData.freshScratch("graft_sc_bivf")
      // same factor gate as the k-means consumers: past factor 100 the
      // layout build's flat assignment is the O(n·k) term, so the build
      // routes through the persisted two-level index; at factor <= 100
      // it stays flat, matching the published SCALECHECK100 number
      Embed.writeIvf(emb, tmp, nCentroids = ivfCells,
        hierAssign = hierAssign)
      Embed.topKBatchIvf(
        emb.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("query_id"), col("embedding")),
        spark.read.parquet(tmp), k = 10,
        centroids = Embed.readIvfCentroids(spark, tmp), nProbe = 8).count()
    }
    timed("doc_substring_dedup") {
      // full-text window explode over the scaled corpus — the heaviest
      // shape of the op (every token emits a window row). forced: the
      // trimmed text is the op's whole output — count() pruned the trim
      // outright (0.5s "wall" over 5M docs at the first 1000x attempt)
      forced(Dedup.trimDuplicateSpans(docs.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0, lit(
            " subscribe to our newsletter for daily updates and offers"))
            .otherwise(lit(""))).as("text")), k = 8))
    }
    timed("doc_c4_filters") {
      // forced: count() keeps the line FILTERS (row count depends on
      // them) but prunes the cleaned-text reassembly
      forced(Text.c4Clean(docs.select(col("doc_id"),
        concat(col("text"), lit(".\nenable javascript now please.\n"),
          col("text"), lit(" again.")).as("text")),
        minLineWords = 3, minLines = 2))
    }
    timed("ts_increase") {
      forced(TsAnalytics.counterIncrease(store.samples, Seq("metric"),
        "ts", "value", bucketNs = Day))
    }
    // ---- round-9 addition: the continuous-rollup maintenance loop ------
    // (the only gated heavy absent from earlier ScaleChecks; it is the
    // per-batch cost of "the 1m/1h/1d tables are always current")
    timed("ts_rollup_stream") {
      val tmpDir = TestData.freshScratch("graft_sc_rustream")
      val src = s"$tmpDir/src"; val ckpt = s"$tmpDir/ckpt"
      val ruStore = s"$tmpDir/store"
      val sm = store.samples
      val mid = graft.model.AkuTime.parseTs("20240116T000000")
      sm.filter(col("ts") < mid).write.mode("append").parquet(src)
      val q = graft.streaming.StreamIngest.continuousRollup(
        spark.readStream.schema(sm.schema).parquet(src),
        ruStore, Seq(Day), ckpt).start()
      try {
        q.processAllAvailable()
        sm.filter(col("ts") >= mid).write.mode("append").parquet(src)
        q.processAllAvailable()
      } finally q.stop()
      graft.io.Rollup.serve(spark, ruStore, 2 * Day).count()
    }
    // ---- round-10 additions: streaming STATE paths at volume -----------
    // (verdict r9 #5: flatMapGroupsWithState owners and EW bands are
    // exactly the per-key state a 100x replay can break where batch
    // cannot — dedup state must absorb a full-corpus replay, anomaly
    // state must fan out across factor-x the series cardinality)
    timed("doc_dedup_stream") {
      val tmp = TestData.freshScratch("graft_sc_sdedup")
      val src = s"$tmp/src"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val d2 = docs.select(col("doc_id"), col("text"))
      def batchAt(ts: String) = d2.withColumn("event_time",
        lit(java.sql.Timestamp.valueOf(ts)))
      batchAt("2024-01-01 00:00:00").write.mode("append").parquet(src)
      val deduped = graft.streaming.StreamIngest.streamingDedupDocs(
        spark.readStream.schema(batchAt("2024-01-01 00:00:00").schema)
          .parquet(src),
        "event_time", "1 hour")
      val q = deduped.select(col("fingerprint")).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) => b.write.mode("append").parquet(out); ()
        }
        .start()
      try {
        q.processAllAvailable()
        // full scaled-corpus replay inside the watermark horizon: the
        // cross-batch bucket-owner state must drop every row of it
        batchAt("2024-01-01 00:10:00").write.mode("append").parquet(src)
        q.processAllAvailable()
      } finally q.stop()
      val n = spark.read.parquet(out).count()
      // the base corpus contains planted exact-text duplicates (8 per
      // sf0.1 replica — the first 100x run flagged exactly 800), so the
      // expected survivor count is the DISTINCT fingerprint count.
      // Null-text docs are keyed by a fresh uuid PER BATCH under the
      // operator's contract, so each emits once per batch it appears
      // in — twice here (initial + replay), never deduped
      val fp = graft.llm.Text.fingerprint(col("text"))
      val distinctFp = d2.filter(fp.isNotNull)
        .agg(countDistinct(fp)).head().getLong(0)
      val nNull = d2.filter(fp.isNull).count()
      val want = distinctFp + 2 * nNull
      require(n == want, s"streaming dedup emitted $n of $want uniques")
      n
    }
    timed("ts_anomaly_stream") {
      val tmp = TestData.freshScratch("graft_sc_sanom")
      val src = s"$tmp/src"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val sm = store.samples.filter(col("value").isNotNull)
      val mid = graft.model.AkuTime.parseTs("20240116T000000")
      sm.filter(col("ts") < mid).write.mode("append").parquet(src)
      // series here are (metric, user, k) — ~13 samples each at sf0.1
      // (the state fans out across factor x the series cardinality, the
      // thing a 100x replay stresses), so the warmup must fit inside a
      // series and the band is tightened to make emission observable
      val alerts = graft.streaming.StreamIngest.streamingAnomaly(
        spark.readStream.schema(sm.schema).parquet(src),
        decay = 0.3, k = 1.5, warmup = 3)
        .toDF("sname", "ts", "value", "ewma", "sigma")
      val q = alerts.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) => b.write.mode("append").parquet(out); ()
        }
        .start()
      try {
        q.processAllAvailable()
        sm.filter(col("ts") >= mid).write.mode("append").parquet(src)
        q.processAllAvailable()
      } finally q.stop()
      spark.read.parquet(out).count()
    }
    timed("ts_anomaly_stream_ordered") {
      // the event-time-deterministic variant under SCRAMBLED arrival
      // (whole late half first), with the invariant the unordered op
      // cannot give: the streamed alert set must EQUAL the static
      // per-series ts-ordered fold — exact at every factor, no
      // cross-run constants (the unordered op's 1000x run drifted
      // 0.97% on micro-batch boundary placement)
      val tmp = TestData.freshScratch("graft_sc_sanord")
      val src = s"$tmp/src"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val sm = store.samples.filter(col("value").isNotNull)
        .select(col("metric"), col("ts"), col("value"), col("tags"))
      val mid = graft.model.AkuTime.parseTs("20240116T000000")
      val maxTs = graft.model.AkuTime.parseTs("20240301T000000")
      val day = 86400L * 1000000000L
      def sentinel(ts: Long) = spark.range(1).select(
        lit("__wm").as("metric"), lit(ts).as("ts"), lit(0.0).as("value"),
        map_from_arrays(array().cast("array<string>"),
          array().cast("array<string>")).as("tags"))
      sm.filter(col("ts") >= mid).write.mode("append").parquet(src)
      // report the realized disorder-horizon state: the per-series peak
      // pending-buffer size (the op's only non-O(1) state term — the
      // quantity the watermark-delay sizing rule bounds)
      val peak = new graft.streaming.StreamIngest.MaxAccumulator
      spark.sparkContext.register(peak, "oanom_pending_peak")
      // Past factor 100 the adversarial arrival (whole late half first,
      // 60-day delay) buffers the ENTIRE corpus in state by design —
      // 96M rows across 7.4M series at factor 1000 — and the default
      // HDFS-backed provider keeps every retained state version
      // on-heap: the r13 attempt OOM'd a 48 GiB heap in the flush
      // batch. RocksDB is the documented production posture for
      // beyond-heap state (off-heap/on-disk, the op's scaladoc sizing
      // section); factors <= 100 keep the default provider every
      // published number used. Set per-query: the conf is read at
      // stream start and ops run sequentially.
      val prevProvider =
        spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      val hconf = spark.sparkContext.hadoopConfiguration
      if (factor > 100) {
        // the documented production posture, consumed from the library
        // helper so harness and deployments share one definition
        graft.streaming.StreamIngest.beyondHeapStateConf
          .foreach { case (k, v) => spark.conf.set(k, v) }
        // RocksDBFileManager casts the checkpoint fs to LocalFileSystem
        // (it needs the checksummed wrapper's raw accessor), so the
        // harness's RawLocalFileSystem perf posture must step aside for
        // this op; the cache must be disabled or the already-cached raw
        // instance keeps winning. Restored in the finally.
        hconf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
        hconf.set("fs.file.impl.disable.cache", "true")
      }
      val alerts = graft.streaming.StreamIngest.streamingAnomalyOrdered(
        spark.readStream.schema(sm.schema).parquet(src),
        decay = 0.3, k = 1.5, warmup = 3, watermarkDelay = "60 days",
        pendingPeak = Some(peak))
        .toDF("sname", "ts", "value", "ewma", "sigma")
      val q = alerts.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) => b.write.mode("append").parquet(out); ()
        }
        .start()
      try {
        q.processAllAvailable()
        sm.filter(col("ts") < mid).write.mode("append").parquet(src)
        q.processAllAvailable()
        sentinel(maxTs + 90 * day).write.mode("append").parquet(src)
        q.processAllAvailable()
        sentinel(maxTs + 120 * day).write.mode("append").parquet(src)
        q.processAllAvailable()
      } finally {
        q.stop()
        // restore even on failure: a leaked provider or fs conf would
        // change any later op's regime
        prevProvider match {
          case Some(p) => spark.conf
            .set("spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf
            .unset("spark.sql.streaming.stateStore.providerClass")
        }
        if (factor > 100) {
          hconf.set("fs.file.impl",
            "org.apache.hadoop.fs.RawLocalFileSystem")
          hconf.unset("fs.file.impl.disable.cache")
        }
      }
      val streamed = spark.read.parquet(out)
        .filter(col("sname") =!= "__wm").count()
      val exact = graft.streaming.StreamIngest.anomalyBatchExact(
        sm, decay = 0.3, k = 1.5, warmup = 3).count()
      require(streamed == exact,
        s"ordered stream diverged from the batch fold: $streamed != $exact")
      Console.err.println(
        s"[scalecheck] ts_anomaly_stream_ordered peak per-series" +
          s" pending buffer = ${peak.value} rows")
      streamed
    }

    // ---- round-10 additions: composite + sketch paths at volume --------
    // (beyond the verdict list: the remaining heavy composites whose
    // scale behavior is claimed but uncertified — cluster topics rides
    // the star dedup + a full TF-IDF, funnel is the stats-barriered
    // k-step loop, the sketch anomaly is the bounded-state CountMin
    // frame-fold whose 22 exchanges the plan audit documents)
    timed("doc_cluster_topics") {
      // star edges, not the clique: at factor 100 the replica families
      // are 100-member cliques and the pair product would dominate the
      // thing being measured (TF-IDF over CC clusters)
      val cc = Dedup.connectedComponents(
        Dedup.minhashLshStar(docs, n = 3, bands = 64, rowsPerBand = 2,
          threshold = 0.5))
      val t = Text.clusterTopics(docs, cc, k = 3)
      val n = t.count()
      require(n > 0, "clusterTopics emitted no rows at scale")
      n
    }
    timed("embed_e2e_serving") {
      // the embedding rails composed under ONE profile (VERDICT r13 #5):
      // train -> writeLayout -> append -> star semDedup -> mutual-kNN
      // clusters, stage handoffs reconciled in-run — the instrument
      // class that caught the text chain's 16-minute 100x planning
      // pathology. kmeansIters = 2 matches the suite's other kmeans
      // consumers; past the profile's hierAbove (256 cells) the
      // train/layout/dedup/graph stages ALL route through the two-level
      // kernel — the posture a 100 TB deployment runs, exercised here
      // from factor 100 up (ivfCells = 640 at factor 100).
      val profile = graft.llm.EmbedProfile.serving.copy(kmeansIters = 2)
      val tmp = TestData.freshScratch("graft_sc_e2e_emb")
      val cents = profile.trainCentroids(emb, k = ivfCells)
      profile.writeLayout(emb.filter(col("vec_id") % 2 === 0), tmp,
        nCentroids = ivfCells, centroids = Some(cents))
      profile.append(emb.filter(col("vec_id") % 2 =!= 0), tmp,
        batchId = Some("sc_b1"))
      val stored = spark.read.parquet(tmp)
      val nStored = stored.count()
      val nEmb = emb.count()
      require(nStored == nEmb,
        s"e2e layout append lost/duplicated rows: $nStored != $nEmb")
      val corpus = stored.select(col("vec_id"), col("embedding"))
        .localCheckpoint()
      val survivors = profile.semDedup(corpus, cents, threshold = 0.4)
        .select(col("vec_id")).localCheckpoint()
      val nSurv = survivors.count()
      require(nSurv > 0 && nSurv <= nEmb,
        s"implausible semdedup survivor count: $nSurv of $nEmb")
      Console.err.println(s"[scalecheck]   embed e2e survivors: $nSurv")
      val clusters = profile.knnClusters(
        corpus.join(survivors, Seq("vec_id"), "left_semi"), k = 3, cents)
      forced(clusters, "vec_id", "cluster")
    }
    timed("ts_funnel") {
      val steps = Seq("signup", "click", "purchase")
      val scaled = EventOps.funnel(ev, "user_id", "ts", "event_type",
        steps, windowNs = 14 * Day)
        .select(col("step"), col("n_users")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val base = EventOps.funnel(ev0, "user_id", "ts", "event_type",
        steps, windowNs = 14 * Day)
        .select(col("step"), col("n_users")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // replica user-id spaces are disjoint and each carries an
      // identical event history, so every step count must be EXACTLY
      // factor x the base — any deviation is cross-replica state bleed
      // or a lost user in the k-step barrier loop
      steps.foreach { s =>
        require(scaled(s) == factor * base(s),
          s"funnel step $s: ${scaled(s)} != $factor x ${base(s)}")
      }
      scaled.values.sum
    }
    timed("ts_apply_anomaly_sketch") {
      // group-by-tag user -> factor x the series cardinality through
      // the CountMin fold; sketch state stays N_ts x 2^bits x hashes
      // regardless of how many series hash into it
      val n = Planner.plan(QueryJson.parse(
        """{"group-aggregate":{"metric":"view","step":"1d","func":"mean"},
          |"range":{"from":"20240105T000000","to":"20240120T000000"},
          |"group-by-tag":["user"],
          |"apply":[{"name":"anomaly","method":"ewma","alpha":0.4,
          |"threshold":0.2,"approx":true,"bits":10,"hashes":3}]}"""
          .stripMargin), store).df.count()
      require(n > 0, "sketch anomaly emitted no rows at scale")
      n
    }

    val unknown = only.diff(known.toSet)
    require(unknown.isEmpty, s"unknown op name(s): ${unknown.mkString(", ")}")

    def jval(v: Any): String = v match {
      case d: Double => f"$d%.3f"
      case s: String => "\"" + s.replace("\"", "'") + "\""
      case x         => x.toString
    }
    def jmap(m: scala.collection.Map[String, Any]): String =
      m.map { case (k, v) => s""""$k":${jval(v)}""" }
        .mkString("{", ",", "}")
    println(s"""{"metric":"scalecheck","factor":$factor,"sf":"$sfDir",""" +
      s""""n_failed":${errors.size},"queries":${jmap(secs)},""" +
      s""""rows":${jmap(rows)},"errors":${jmap(errors)}}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
