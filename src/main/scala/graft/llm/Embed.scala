package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`):
  * cosine top-k (brute force baseline + LSH-bucketed scale path) and
  * embedding near-duplicate detection. Dot products and cosines are
  * native fused-loop Catalyst expressions (graft.functions.VecMath) —
  * whole-stage codegen, no UDFs, no per-row intermediate arrays.
  */
object Embed {

  /** Dot product of two array columns (double) — native fused-loop
    * codegen ([[graft.functions.VecMath.ArrayDotProduct]]). The previous
    * `aggregate(zip_with(...))` formulation is interpreted by Catalyst
    * (higher-order functions have no codegen) and allocates a zipped
    * intermediate per evaluation — it dominated every pair-scoring query.
    * (An unrolled 64-term getItem sum was measured ~14x slower still.) */
  def dot(a: Column, b: Column): Column = graft.functions.VecMath.dot(a, b)

  /** Vector length of an array column, read from one row (drives the
    * hyperplane count for LSH). */
  def dimOf(corpus: DataFrame, vecCol: String): Int =
    corpus.select(size(col(vecCol))).head().getInt(0)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in ONE fused pass over both arrays (dot and both
    * norms accumulate in the same loop — neither side needs a
    * pre-normalized copy). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VecMath.cosine(a, b)

  /** Unit-normalized copy of a vector column (materialized unit vectors
    * for driver-side centroid math). The norm scalar is let-bound
    * ([[Text.bindOnce]]): referenced directly inside the transform lambda
    * it would be re-evaluated per element. */
  def normalized(vec: Column): Column =
    Text.bindOnce(sqrt(dot(vec, vec))) { n =>
      transform(vec, x => x.cast("double") / n)
    }

  /** Brute-force cosine top-k for one query vector: a single narrow map
    * over the corpus + TakeOrdered(k) — no shuffle beyond the final top-k
    * reduction. The correctness baseline, and the right plan for one-off
    * queries even at scale (it reads each partition once). The query is
    * pre-normalized driver-side; each corpus row pays one norm + one dot. */
  def topK(corpus: DataFrame, query: Seq[Double], k: Int,
           vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val q = array(query.map(lit): _*)
    corpus
      .select(col(idCol), round(cosine(col(vecCol), q), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Random-hyperplane (sign) LSH bucket key: `planes` gives
    * nPlanes x dim fixed coefficients (seeded deterministic), key packs
    * the sign bits. Vectors likely to be cosine-close share keys. */
  def hyperplaneKey(vec: Column, planes: Seq[Seq[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, array(p.map(lit): _*)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Deterministic pseudo-random hyperplanes (splitmix64 -> uniform in
    * [-1,1]); fixed by (seed, nPlanes, dim) so plans are reproducible. */
  def randomPlanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    var state = seed
    def next(): Double = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Seq.fill(nPlanes)(Seq.fill(dim)(next()))
  }

  /** LSH-bucketed ANN top-k: probe the query's bucket across `tables`
    * independent hash tables, rank candidates exactly. Each table is a
    * groupBy-shaped partition of the corpus; the probe touches only
    * matching buckets (partition-pruned at scale when the corpus is
    * written bucketed by key). Approximate: recall grows with `tables`
    * and shrinks with `nPlanes`. */
  def topKLsh(corpus: DataFrame, query: Seq[Double], k: Int,
              nPlanes: Int = 8, tables: Int = 8,
              vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val dim = query.size
    val allPlanes = (0 until tables).map(t =>
      randomPlanes(nPlanes, dim, seed = 42L + t))
    val qArr = array(query.map(lit): _*)
    val keyCols = allPlanes.zipWithIndex.map { case (planes, t) =>
      hyperplaneKey(col(vecCol), planes).as(s"__k$t")
    }
    val withKeys = corpus.select((col(idCol) +: col(vecCol).as("__v") +: keyCols): _*)
    // query keys are plain doubles computed the same way, evaluated on a
    // one-row frame so the arithmetic is identical
    val qKeyRow = corpus.sparkSession.range(1)
      .select(allPlanes.zipWithIndex.map { case (planes, t) =>
        hyperplaneKey(qArr, planes).as(s"k$t")
      }: _*).head()
    val probePred = (0 until tables)
      .map(t => col(s"__k$t") === lit(qKeyRow.getLong(t)))
      .reduce(_ || _)
    withKeys
      .filter(probePred)
      .select(col(idCol), round(cosine(col("__v"), qArr), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  // --- IVF (inverted-file) ANN --------------------------------------------

  /** Deterministic centroid selection: the `n` corpus vectors with the
    * smallest xxhash64(id) — a uniform pseudo-random sample that needs no
    * iteration (k-means would refine these; for ANN bucketing the win is
    * the partitioning, not centroid optimality). Collected to the driver:
    * n × dim doubles, tiny by construction. */
  def sampleCentroids(corpus: DataFrame, n: Int,
                      vecCol: String = "embedding",
                      idCol: String = "vec_id"): Seq[Seq[Double]] =
    corpus
      // a zero-norm vector would normalize to all-NaN, and NaN cosine
      // scores sort above every real score in greatest() — one poisoned
      // centroid would swallow ALL assignments into its cell
      .filter(dot(col(vecCol), col(vecCol)) > 0.0)
      .select(col(vecCol), xxhash64(col(idCol)).as("__h"))
      .orderBy(col("__h")).limit(n)
      .select(normalized(col(vecCol)))
      .collect().toSeq
      .map(_.getSeq[Double](0).toSeq)

  /** Nearest-centroid id for a vector column (argmax of cosine with each
    * unit centroid — same argmax as dot-of-normalized since |v| is
    * constant across centroids) — the IVF list assignment. */
  def centroidId(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    require(centroids.nonEmpty, "no centroids")
    if (centroids.size == 1) lit(0)
    // fused kernel, RAW scores (this is the unrounded variant — see
    // centroidIdRounded for the replay-exact one); the former
    // greatest-of-k-struct form also java-serialized a k-wide literal
    // tree into every task binary, which at 640 cells OOM'd task
    // deserialization in the 100x graduation run
    else element_at(graft.functions.VecMath.centroidTopCells(
      vec, centroids, 1, rounded = false), 1)
  }

  /** IVF top-k: assign the corpus to `nCentroids` inverted lists, probe
    * the query's `nProbe` nearest lists, rank candidates exactly.
    * At scale the corpus is WRITTEN partitioned by `ivf_cell`
    * ([[writeIvf]]) so a probe reads nProbe/nCentroids of the data via
    * partition pruning; recall grows with nProbe. */
  def topKIvf(corpus: DataFrame, query: Seq[Double], k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val centroids = sampleCentroids(corpus, nCentroids, vecCol, idCol)
    val qn = math.sqrt(query.map(x => x * x).sum)
    val qUnit = query.map(_ / qn)
    val probes = centroids.zipWithIndex
      .map { case (c, i) => (c.zip(qUnit).map { case (a, b) => a * b }.sum, i) }
      .sortBy(-_._1).take(nProbe).map(_._2).toSet
    val q = array(qUnit.map(lit): _*)
    corpus
      .withColumn("__cell", centroidId(col(vecCol), centroids))
      .filter(col("__cell").isin(probes.toSeq: _*))
      .select(col(idCol), round(cosine(col(vecCol), q), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Nearest-centroid id on the 6-decimal-ROUNDED cosine (ties break to
    * the larger cid, the `greatest` struct order): k-means assignments
    * must be reproducible across runs and against the SQL oracle, and
    * raw float-vs-double scores can disagree in the 7th decimal right at
    * a cell boundary. Rounding makes near-ties exact ties, and exact
    * ties resolve identically on both sides. */
  private def centroidIdRounded(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    require(centroids.nonEmpty, "no centroids")
    if (centroids.size == 1) lit(0)
    // one fused k x dim pass (VecMath.CentroidTopCells) — the former
    // greatest-of-k-struct-subtrees form re-read the vector per centroid
    // and collapsed at scale-proportional cell counts (k=160 turned a
    // 100x k-means step into half an hour); scores, rounding, and the
    // larger-cid tie-break are bit-identical by the expression's spec
    else element_at(
      graft.functions.VecMath.centroidTopCells(vec, centroids, 1), 1)
  }

  /** Two-level routing index over a fine centroid set — the scale-safe
    * assignment path for cell counts that grow with the corpus (the IVF
    * sizing rule k ∝ n makes flat assignment O(n·k·dim) = O(n²); the
    * 1000x ScaleCheck measured `embed_knn_clusters` growing 42x in wall
    * for 10x data on exactly this term). `coarse` ≈ √k routing
    * centroids group the fine set; `children(c)` lists the fine ids
    * under coarse c (a partition of `fine.indices`). Assignment routes
    * through the `coarseProbes` nearest groups and argmaxes only their
    * children — O(√k·dim) per row for balanced groups, exact within the
    * probed candidate set (see the kernel scaladoc,
    * `VecMath.HierCentroidTopCells`). Built deterministically from the
    * fine set alone ([[buildCentroidIndex]]), so any holder of the fine
    * centroids — an appender replaying a persisted layout, an external
    * oracle — reconstructs the identical routing. */
  final case class CentroidIndex(fine: Seq[Seq[Double]],
                                 coarse: Seq[Seq[Double]],
                                 children: Seq[Seq[Int]],
                                 coarseProbes: Int,
                                 // the RESOLVED pre-filter knobs: empty
                                 // coarse groups are dropped from
                                 // coarse/children, so a replayer must
                                 // rebuild from these, not coarse.size
                                 // (stride init runs over nCoarseReq)
                                 nCoarseReq: Int,
                                 probesReq: Int)

  /** Group `fine` under ~√k coarse routing centroids via driver-side
    * spherical k-means OVER THE CENTROIDS (k·dim doubles — model-scale
    * by construction, never touches the corpus). Deterministic: stride
    * init over the fine set, fixed `iters` Lloyd rounds, larger-cid tie
    * breaks — two calls on the same fine set build the same index.
    * `coarseProbes` defaults to 4 (the two-level-IVF regime: ~8x fewer
    * multiplies than flat at k=1600, growing as √k); raise it toward
    * `nCoarse` to trade speed back for exactness —
    * `coarseProbes == nCoarse` IS flat assignment, bit-identical. */
  def buildCentroidIndex(fine: Seq[Seq[Double]], nCoarse: Int = 0,
                         coarseProbes: Int = 0,
                         iters: Int = 8): CentroidIndex = {
    require(fine.nonEmpty, "no centroids")
    val k = fine.size
    val dim = fine.head.size
    val nc = math.max(1, math.min(k,
      if (nCoarse > 0) nCoarse else math.ceil(math.sqrt(k.toDouble)).toInt))
    val cp = math.max(1, math.min(nc,
      if (coarseProbes > 0) coarseProbes else 4))
    def unit(v: Seq[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0 || n.isNaN) v.toArray else v.map(_ / n).toArray
    }
    val f = fine.map(unit).toArray
    val coarse: Array[Array[Double]] =
      Array.tabulate(nc)(i => f((i.toLong * k / nc).toInt).clone())
    def assign(): Array[Int] = Array.tabulate(k) { i =>
      var best = 0
      var bestS = Double.NegativeInfinity
      var c = 0
      while (c < nc) {
        var dot = 0.0
        var j = 0
        while (j < dim) { dot += f(i)(j) * coarse(c)(j); j += 1 }
        // >= : later (larger) cid wins ties, the kernel's convention
        if (java.lang.Double.compare(dot, bestS) >= 0) { bestS = dot; best = c }
        c += 1
      }
      best
    }
    var asg = assign()
    var it = 0
    var moved = true
    while (it < iters && moved) {
      val sums = Array.fill(nc)(new Array[Double](dim))
      val cnt = new Array[Int](nc)
      var i = 0
      while (i < k) {
        val c = asg(i); cnt(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += f(i)(j); j += 1 }
        i += 1
      }
      var c = 0
      while (c < nc) {
        if (cnt(c) > 0) {
          val n = math.sqrt(sums(c).map(x => x * x).sum)
          if (n > 0) coarse(c) = sums(c).map(_ / n)
        }
        c += 1
      }
      val next = assign()
      moved = !java.util.Arrays.equals(next, asg)
      asg = next
      it += 1
    }
    // drop coarse groups that captured no fine centroid: probing an
    // empty group wastes a probe slot, and if every probed group were
    // empty the kernel would return an EMPTY probe list —
    // element_at(..., 1) = null, which a consumer's getAs[Int]("cell")
    // silently unboxes to 0, polluting cell 0's mean (or writing a
    // null partition from writeIvf)
    val kept = (0 until nc)
      .map(c => (coarse(c).toSeq, (0 until k).filter(asg(_) == c)))
      .filter(_._2.nonEmpty)
    CentroidIndex(fine, kept.map(_._1), kept.map(_._2),
      math.min(cp, kept.size), nc, cp)
  }

  /** Hierarchical [[centroidIdRounded]]: nearest fine cell via the
    * two-level kernel — exact within the routed candidate set. */
  private def centroidIdHierRounded(vec: Column,
                                    idx: CentroidIndex): Column =
    if (idx.fine.size == 1) lit(0)
    else element_at(centroidTopCellsHier(vec, idx, 1), 1)

  /** Top-`probes` fine cells via the two-level routed kernel — the
    * hierarchical sibling of `VecMath.centroidTopCells` (same output
    * contract: element 1 is the assignment, full array is the probe
    * list under (score desc, cid desc)). */
  def centroidTopCellsHier(vec: Column, idx: CentroidIndex, probes: Int,
                           rounded: Boolean = true): Column =
    graft.functions.VecMath.hierCentroidTopCells(vec, idx.fine,
      idx.coarse, idx.children, idx.coarseProbes, probes, rounded)

  /** One distributed Lloyd step for spherical k-means: assign every
    * vector to its nearest centroid, then emit the per-(cell, dimension)
    * MEAN of the unit-normalized members. One narrow map (assignment is
    * k fused cosines per row) + one groupBy over (cell, dim) — k·dim
    * result rows, map-side combined; nothing else shuffles. The gate
    * `embed_kmeans` runs this step against a DuckDB argmax/avg twin.
    * `hier` opts the assignment into the two-level routed kernel
    * (approximate Lloyd — standard for corpus-proportional k; the index
    * must be built over exactly `centroids`). */
  def kmeansStep(corpus: DataFrame, centroids: Seq[Seq[Double]],
                 vecCol: String = "embedding",
                 hier: Option[CentroidIndex] = None): DataFrame =
    corpus
      // same zero-norm guard as sampleCentroids: a zero vector normalizes
      // to all-NaN, the NaN enters the cell average, and the poisoned
      // centroid (norm NaN, not 0) would propagate through every
      // remaining Lloyd iteration
      .filter(dot(col(vecCol), col(vecCol)) > 0.0)
      .select(normalized(col(vecCol)).as("u"))
      .select(hier.map { ix =>
          require(ix.fine == centroids,
            "hier index was built over a different centroid set")
          centroidIdHierRounded(col("u"), ix)
        }.getOrElse(centroidIdRounded(col("u"), centroids)).as("cell"),
        posexplode(col("u")))
      .groupBy(col("cell"), col("pos").as("dim"))
      .agg(avg(col("col")).as("m"))
      .select(col("cell"), col("dim"), col("m"))

  /** Distributed spherical k-means (Lloyd) centroid training for IVF:
    * `iters` rounds of [[kmeansStep]], re-normalizing each mean on the
    * driver (k·dim doubles — the only driver-side state). Cells that
    * lose all members keep their previous centroid. Train once, then
    * pass the result to BOTH [[writeIvf]] and [[topKIvfStored]].
    *
    * `hierarchical = true` routes each iteration's assignment through a
    * fresh [[buildCentroidIndex]] over that iteration's centroids — the
    * O(n·√k·dim) training regime for corpus-proportional k, where the
    * flat per-row k·dim assignment is the measured scale-killer. The
    * index rebuild is driver-side k·dim work per iteration, negligible
    * next to the corpus pass it accelerates. */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int = 5,
                      init: Option[Seq[Seq[Double]]] = None,
                      vecCol: String = "embedding",
                      idCol: String = "vec_id",
                      hierarchical: Boolean = false,
                      nCoarse: Int = 0,
                      coarseProbes: Int = 0): Seq[Seq[Double]] = {
    var cents = init.getOrElse(sampleCentroids(corpus, k, vecCol, idCol))
    for (_ <- 0 until iters) {
      val idx = if (hierarchical)
        Some(buildCentroidIndex(cents, nCoarse, coarseProbes)) else None
      val byCell = kmeansStep(corpus, cents, vecCol, idx)
        .collect()
        .groupBy(_.getAs[Int]("cell"))
      cents = cents.zipWithIndex.map { case (old, c) =>
        byCell.get(c).fold(old) { rs =>
          val mean = rs.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("m"))
          val n = math.sqrt(mean.map(x => x * x).sum)
          // NaN-mean belt-and-braces: treat a poisoned cell like an
          // empty one (keep the previous centroid)
          if (n == 0.0 || n.isNaN) old else mean.map(_ / n).toSeq
        }
      }
    }
    cents
  }

  /** Embedding-distribution drift between two corpus slices (old crawl
    * vs new crawl, train vs eval): run ONE [[kmeansStep]] over each
    * slice from the SAME pinned centroids, then compare the per-cell
    * mean vectors — cosine near 1 means the cell's population held
    * still; a low cosine or large L2 shift flags a cell whose content
    * moved (topic drift, a new spam cluster, a collection change).
    * Monitoring drift per cell instead of one global mean catches
    * drift that opposite-direction cells would cancel out.
    *
    * Both mean components are rounded to 6 before the distance math so
    * the per-cell cosine replays across engines; cells empty in either
    * slice drop (inner join — a cell must exist on both sides to have a
    * drift). The join input is k·dim rows per side regardless of corpus
    * size, so everything after the two Lloyd passes is model-scale.
    *
    * Output: `cell`, `n_dims`, `cos_drift`, `l2_drift` (rounded 6). */
  def centroidDrift(a: DataFrame, b: DataFrame,
                    centroids: Seq[Seq[Double]],
                    vecCol: String = "embedding"): DataFrame = {
    val ca = kmeansStep(a, centroids, vecCol)
      .select(col("cell"), col("dim"), round(col("m"), 6).as("__ma"))
    val cb = kmeansStep(b, centroids, vecCol)
      .select(col("cell"), col("dim"), round(col("m"), 6).as("__mb"))
    ca.join(cb, Seq("cell", "dim"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_dims"),
        sum(col("__ma") * col("__mb")).as("__dot"),
        sum(col("__ma") * col("__ma")).as("__na"),
        sum(col("__mb") * col("__mb")).as("__nb"),
        sum((col("__ma") - col("__mb")) * (col("__ma") - col("__mb")))
          .as("__d2"))
      .select(col("cell"), col("n_dims"),
        round(col("__dot") / sqrt(col("__na") * col("__nb")), 6)
          .as("cos_drift"),
        round(sqrt(col("__d2")), 6).as("l2_drift"))
  }

  /** Persist the corpus partitioned by IVF cell — probes then touch only
    * matching partition directories (same pruning story as the TS layout;
    * Debug-audited: cell predicate lands in PartitionFilters).
    * `centroids` (e.g. from [[kmeansCentroids]]) must then be passed to
    * [[topKIvfStored]] too; when omitted, both sides derive the same
    * deterministic sample from the stored ids. */
  def writeIvf(corpus: DataFrame, path: String, nCentroids: Int = 256,
               vecCol: String = "embedding", idCol: String = "vec_id",
               centroids: Option[Seq[Seq[Double]]] = None,
               rounded: Boolean = false,
               hierAssign: Boolean = false,
               nCoarse: Int = 0, coarseProbes: Int = 0): Unit = {
    val cents = centroids.getOrElse(
      sampleCentroids(corpus, nCentroids, vecCol, idCol))
    // hierAssign routes the build through the two-level kernel — the
    // production regime once nCentroids grows with the corpus (flat
    // assignment is O(n·k·dim); the 1000x layout build at k=6400 pays
    // for exactly this). The routing index derives DETERMINISTICALLY
    // from the persisted centroid matrix, so an appender rebuilds the
    // identical routing from the layout alone (meta records the knobs).
    // `nCoarse`/`coarseProbes` are the caller's routing shape (0 = the
    // kernel defaults, ~√k groups / 4 probes) — a profile whose routing
    // diverges from the defaults (e.g. the coarseProbes == nCoarse
    // exactness escape hatch) must land ITS shape in the layout, or the
    // persisted cells were assigned by a different route than every
    // other consumer of that profile (the r13 ADVICE finding).
    val hierIdx =
      if (hierAssign) Some(buildCentroidIndex(cents, nCoarse, coarseProbes))
      else None
    // rounded = true assigns on the 6-decimal-rounded cosine (the
    // kmeansStep convention) so the layout's cell membership replays
    // bit-stably in an external engine — the oracle-gated layouts use it
    val assign = hierIdx match {
      case Some(ix) =>
        element_at(centroidTopCellsHier(col(vecCol), ix, 1, rounded), 1)
      case None =>
        if (rounded) centroidIdRounded(col(vecCol), cents)
        else centroidId(col(vecCol), cents)
    }
    corpus
      .withColumn("ivf_cell", assign)
      .repartition(col("ivf_cell"))
      .write.partitionBy("ivf_cell").mode("overwrite").parquet(path)
    // persist the centroid matrix INSIDE the layout (after the overwrite,
    // which clears the directory): a probe can then never pair the data
    // with a different centroid set than the one that assigned the cells
    writeTextFile(corpus.sparkSession, centroidsFile(path),
      cents.map(_.mkString(",")).mkString("\n"))
    // the assignment MODE is part of the layout contract too: an append
    // ([[ivfUpdate]]) that assigned raw against a rounded layout would
    // place boundary vectors in a different cell than the layout's
    // convention, breaking the bit-stable external-replay property the
    // rounded mode exists for; same for the ROUTING — a flat append to a
    // hier layout (or vice versa) would strand boundary vectors in cells
    // the layout's own convention would never probe-match
    // persist the REQUESTED routing knobs, not the post-filter sizes:
    // buildCentroidIndex drops empty coarse groups, and a replayer
    // rebuilding from the filtered count would stride-init a different
    // grouping than the one that assigned this layout's cells
    val meta = s"rounded=$rounded" + hierIdx.fold("")(ix =>
      s"\nhier=true\nhierCoarse=${ix.nCoarseReq}" +
        s"\nhierProbes=${ix.probesReq}")
    writeTextFile(corpus.sparkSession, ivfMetaFile(path), meta)
  }

  /** Underscore-prefixed, so parquet directory listings skip it. */
  private def centroidsFile(path: String) = s"$path/_ivf_centroids.txt"

  private def ivfMetaFile(path: String) = s"$path/_ivf_meta.txt"

  /** The assignment mode persisted by [[writeIvf]]. Layouts written
    * before the meta sidecar existed assigned raw — missing file reads
    * as `rounded=false`, so appends to old layouts keep old behavior. */
  private[llm] def readIvfRounded(spark: SparkSession, path: String): Boolean =
    readIvfMeta(spark, path).get("rounded").contains("true")

  /** The two-level routing knobs persisted by [[writeIvf]] when the
    * layout was built with `hierAssign`: (nCoarse, coarseProbes), None
    * for flat layouts. */
  private[llm] def readIvfHier(spark: SparkSession,
                               path: String): Option[(Int, Int)] = {
    val m = readIvfMeta(spark, path)
    if (m.get("hier").contains("true"))
      Some((m("hierCoarse").toInt, m("hierProbes").toInt))
    else None
  }

  private def readIvfMeta(spark: SparkSession,
                          path: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(ivfMetaFile(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else readTextFile(spark, ivfMetaFile(path)).trim
      .split("\n").iterator.map(_.trim.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap
  }

  /** The centroid matrix persisted by [[writeIvf]] — pass this to
    * [[topKIvfStored]] as `trained`. Double text round-trips exactly
    * (shortest-repr toString), so the probe sees bit-identical centroids. */
  def readIvfCentroids(spark: SparkSession, path: String): Seq[Seq[Double]] =
    readTextFile(spark, centroidsFile(path))
      .split("\n").toSeq.map(_.split(",").toSeq.map(_.toDouble))

  /** Incremental index maintenance: fold a batch of NEW vectors into an
    * existing [[writeIvf]] layout without rebuilding it. The batch is
    * assigned with the layout's PERSISTED centroid matrix (never a
    * recomputed one — a drifted assignment would strand old cells) and
    * appended as new parquet files under the matching `ivf_cell=`
    * partition directories; existing files are untouched. At 100 TB this
    * is the only viable maintenance shape — an index rebuild rereads the
    * corpus, an append touches only the batch. Probes ([[topKIvfStored]])
    * see old + new rows through the same partition-pruned listing.
    * Cell skew drifts as the corpus grows away from the training sample;
    * [[centroidDrift]] is the monitor that says when to retrain.
    * Assignment replays the layout's persisted MODE as well as its
    * centroids: a `rounded=true` layout assigns appends on the
    * 6-decimal-rounded cosine, so a boundary vector lands in the same
    * cell the layout build would have put it in.
    *
    * `batchId` is the retry-idempotence handle
    * ([[graft.llm.IdempotentBatch]]): a driver-level re-run of a failed
    * batch with the same name lands exactly once — without it a replay
    * silently double-appends the batch's vectors, and every probe then
    * returns duplicated neighbors. None = plain append (caller owns
    * at-most-once execution). */
  def ivfUpdate(newVecs: DataFrame, path: String,
                vecCol: String = "embedding", idCol: String = "vec_id",
                batchId: Option[String] = None): Unit = {
    val spark = newVecs.sparkSession
    val cents = readIvfCentroids(spark, path)
    val rounded = readIvfRounded(spark, path)
    // a hier layout replays its ROUTING, not just its centroids: the
    // index rebuilds deterministically from the persisted matrix + the
    // persisted knobs, so the append assigns exactly as the build did
    val assign = readIvfHier(spark, path) match {
      case Some((nc, cp)) =>
        element_at(centroidTopCellsHier(col(vecCol),
          buildCentroidIndex(cents, nc, cp), 1, rounded), 1)
      case None =>
        if (rounded) centroidIdRounded(col(vecCol), cents)
        else centroidId(col(vecCol), cents)
    }
    val assigned = newVecs
      .withColumn("ivf_cell", assign)
      .repartition(col("ivf_cell"))
    batchId match {
      case None =>
        assigned.write.partitionBy("ivf_cell").mode("append").parquet(path)
      case Some(b) => IdempotentBatch.land(spark, path, b)(dir =>
        assigned.write.partitionBy("ivf_cell").mode("overwrite").parquet(dir))
    }
  }

  /** Top-k probe against a [[writeIvf]] layout: the `ivf_cell` filter is a
    * partition-column predicate, so only `nProbe` of `nCentroids`
    * directories are read — the 100 TB ANN path. Pass the layout's
    * persisted centroid matrix ([[readIvfCentroids]]) as `trained`; when
    * omitted, the default xxhash64 sample is recomputed from the stored
    * ids, which reproduces the writer's centroids ONLY if the writer also
    * used the default sample. */
  def topKIvfStored(stored: DataFrame, query: Seq[Double], k: Int,
                    nCentroids: Int, nProbe: Int,
                    vecCol: String = "embedding",
                    idCol: String = "vec_id",
                    trained: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val centroids = trained.getOrElse(
      sampleCentroids(stored, nCentroids, vecCol, idCol))
    val qn = math.sqrt(query.map(x => x * x).sum)
    val qUnit = query.map(_ / qn)
    // probe ranking rounded to 6dp, ties to the LARGER cell id — the
    // SAME direction the assignment kernel breaks ties
    // (VecMath.centroidTopCells: score desc, cid desc), which is
    // load-bearing, not cosmetic: when the centroid set contains
    // duplicates (sampleCentroids over a corpus with repeated vectors —
    // the identical-replica 1000x ScaleCheck samples 6400 centroids
    // from 2000 distinct directions), every vector's data sits in the
    // LARGEST cell id of its tied duplicate group. The old lower-id tie
    // probed the other end of the group: a duplicate group wider than
    // nProbe put ALL nProbe probes on empty duplicate cells and the
    // probe returned 0 rows (measured — embed_ivf_update at factor
    // 1000 returned rows=0 while factor 150, with fewer duplicates,
    // returned 10). Rounding keeps the probe set replayable by an
    // external engine (the oracle) computing the same scores along a
    // different FP path.
    val probes = centroids.zipWithIndex
      .map { case (c, i) =>
        (math.round(c.zip(qUnit).map { case (a, b) => a * b }.sum * 1e6)
          / 1e6, i)
      }
      .sortBy { case (s, i) => (-s, -i) }.take(nProbe).map(_._2)
    val q = array(qUnit.map(lit): _*)
    stored
      .filter(col("ivf_cell").isin(probes: _*))
      .select(col(idCol), round(cosine(col(vecCol), q), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  // --- batch retrieval -------------------------------------------------------

  /** Batch brute-force retrieval: top-k corpus neighbours for EVERY
    * query row in one pass — the bulk serving/annotation shape (RAG
    * labeling, recall eval sets, hard-negative mining batches). The
    * query batch is broadcast (model-scale next to the corpus), the
    * corpus is scanned ONCE for the whole batch instead of once per
    * query, and the per-query top-k is a (query_id) window over the
    * scored pairs — the shuffle is bounded by |queries| × |corpus|
    * candidate rows of three columns, never the vectors. */
  def topKBatch(queries: DataFrame, corpus: DataFrame, k: Int,
                vecCol: String = "embedding", idCol: String = "vec_id",
                qIdCol: String = "query_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(qIdCol).as("query_id"),
      col(vecCol).as("__qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol).asc)
    corpus.select(col(idCol), col(vecCol).as("__cv"))
      .join(broadcast(q))
      .select(col("query_id"), col(idCol),
        round(cosine(col("__cv"), col("__qv")), 6).as("score"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col(idCol), col("score"))
  }

  /** Batch IVF retrieval against a [[writeIvf]] layout: each query is
    * assigned its `nProbe` nearest cells from the PERSISTED centroid
    * matrix (pure array expressions over the broadcast literal — no
    * per-query driver work), exploded to (query, cell) probe rows, and
    * equi-joined to the layout on the `ivf_cell` partition column — the
    * batch reads only the UNION of probed cells, once, for all queries.
    * Per-query top-k is a window over candidates. This is the batch
    * serving shape at 100 TB; [[topKBatch]] is its verification twin.
    * Probe-cell ties on the 6-decimal rounded cosine break to the
    * smaller cell id (deterministic, oracle-replayable). */
  def topKBatchIvf(queries: DataFrame, stored: DataFrame, k: Int,
                   centroids: Seq[Seq[Double]], nProbe: Int,
                   vecCol: String = "embedding", idCol: String = "vec_id",
                   qIdCol: String = "query_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nProbe >= 1 && nProbe <= centroids.size, "bad nProbe")
    val cellScores = array(centroids.zipWithIndex.map { case (c, i) =>
      struct((-round(cosine(col("__qv"), array(c.map(lit): _*)), 6))
        .as("negscore"), lit(i).as("cid"))
    }: _*)
    val probe = transform(slice(array_sort(cellScores), 1, nProbe),
      s => s.getField("cid"))
    val q = queries
      .select(col(qIdCol).as("query_id"), col(vecCol).as("__qv"))
      .select(col("query_id"), col("__qv"),
        explode(probe).as("ivf_cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol).asc)
    stored.select(col(idCol), col(vecCol).as("__cv"), col("ivf_cell"))
      .join(broadcast(q), "ivf_cell")
      .select(col("query_id"), col(idCol),
        round(cosine(col("__cv"), col("__qv")), 6).as("score"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col(idCol), col("score"))
  }

  // --- int8 vector quantization ---------------------------------------------

  /** Per-vector symmetric int8 quantization: `scale` = max |x| over the
    * vector, `q[i] = round(x[i] / scale * 127)`. One float + d bytes
    * replaces d floats — the standard ~4x storage/bandwidth shrink for
    * memory-bound ANN; reconstruction error is bounded by scale/254 per
    * element. Returns `struct(scale double, q array<tinyint>)`; an
    * all-zero vector quantizes to scale 0 and zero codes. */
  def quantizeInt8(vec: Column): Column =
    Text.bindOnce(array_max(transform(vec, x => abs(x.cast("double"))))) { s =>
      struct(
        s.as("scale"),
        transform(vec, x =>
          when(s === 0.0, lit(0))
            .otherwise(round(x.cast("double") / s * 127))
            .cast("tinyint")).as("q"))
    }

  /** Reconstruction of a [[quantizeInt8]] struct: `q[i] * scale / 127`.
    * Downstream scoring (cosine/dot) runs on the reconstruction — recall
    * loss at top-k is the quantization error, ~1% of scale. */
  def dequantizeInt8(qv: Column): Column =
    Text.bindOnce(qv.getField("scale")) { s =>
      transform(qv.getField("q"), x => x.cast("double") * s / 127.0)
    }

  // --- product quantization (PQ / ADC) --------------------------------------

  /** Contiguous sub-vector `s` of an m-way split: dims
    * [s·dim/m, (s+1)·dim/m). */
  private def subVec(vec: Column, subDim: Int, s: Int): Column =
    slice(vec, s * subDim + 1, subDim)

  /** Nearest-codeword id for a sub-vector on the 6-decimal-ROUNDED
    * inner-product score `dot(x, c) - |c|²/2` (the L2 argmin rewritten
    * without the per-row constant |x|²; ties break to the larger code,
    * the `greatest` struct order) — same reproducibility contract as
    * [[centroidIdRounded]], mirrored exactly by the SQL oracle. */
  private def codeIdRounded(sub: Column, book: Seq[Seq[Double]]): Column =
    if (book.size == 1) lit(0)
    else greatest(book.zipWithIndex.map { case (c, i) =>
      struct(
        round(dot(sub, array(c.map(lit): _*)) - lit(c.map(x => x * x).sum / 2),
          6).as("score"),
        lit(i).as("cid"))
    }: _*).getField("cid")

  /** One distributed training step for product quantization (Jégou et
    * al., "Product Quantization for Nearest Neighbor Search", TPAMI
    * 2011): assign every unit-normalized sub-vector to its nearest
    * codeword in ITS subspace's codebook, emit the per-(subspace, code,
    * dimension) member MEAN. One narrow map (m·k fused dots per row,
    * k·dim multiplies total — the full-vector assignment cost) + one
    * groupBy over m·k·(dim/m) result cells, map-side combined. */
  def pqStep(corpus: DataFrame, books: Seq[Seq[Seq[Double]]],
             vecCol: String = "embedding"): DataFrame = {
    val m = books.size
    val subDim = books.head.head.size
    corpus
      .filter(dot(col(vecCol), col(vecCol)) > 0.0) // zero-norm guard, as kmeansStep
      .select(normalized(col(vecCol)).as("u"))
      .select(posexplode(array((0 until m).map { s =>
        Text.bindOnce(subVec(col("u"), subDim, s)) { sv =>
          struct(codeIdRounded(sv, books(s)).as("code"), sv.as("sv"))
        }
      }: _*)).as(Seq("subspace", "sc")))
      .select(col("subspace"), col("sc.code").as("code"),
        posexplode(col("sc.sv")))
      .groupBy(col("subspace"), col("code"), col("pos").as("dim"))
      .agg(avg(col("col")).as("m"))
      .select(col("subspace"), col("code"), col("dim"), col("m"))
  }

  /** Distributed PQ codebook training: `iters` Lloyd rounds of
    * [[pqStep]] per subspace; codes that lose all members (or go NaN)
    * keep their previous codeword. Driver state is m·k·(dim/m) = k·dim
    * doubles — broadcast-sized at any corpus scale. Codewords are plain
    * sub-space means (standard PQ — NOT re-normalized). */
  def pqTrain(corpus: DataFrame, m: Int, k: Int, iters: Int = 5,
              init: Option[Seq[Seq[Seq[Double]]]] = None,
              vecCol: String = "embedding",
              idCol: String = "vec_id"): Seq[Seq[Seq[Double]]] = {
    val dim = dimOf(corpus, vecCol)
    require(m > 0 && dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    var books = init.getOrElse {
      val seeds = sampleCentroids(corpus, k, vecCol, idCol)
      (0 until m).map(s => seeds.map(_.slice(s * subDim, (s + 1) * subDim)))
    }
    for (_ <- 0 until iters) {
      val byKey = pqStep(corpus, books, vecCol).collect()
        .groupBy(r => (r.getAs[Int]("subspace"), r.getAs[Int]("code")))
      books = books.zipWithIndex.map { case (book, s) =>
        book.zipWithIndex.map { case (old, c) =>
          byKey.get((s, c)).fold(old) { rs =>
            val mean = rs.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("m")).toSeq
            if (mean.exists(_.isNaN)) old else mean
          }
        }
      }
    }
    books
  }

  /** PQ-encode the corpus: each unit-normalized vector becomes m small
    * codes (one byte each at k <= 256) — a ~dim·4/m-fold shrink that
    * makes 100 TB of embeddings scannable from a few TB of codes. Pure
    * narrow map, no shuffle. Zero-norm vectors are DROPPED (they have
    * no direction on the unit sphere, so no codeword represents them) —
    * unlike [[writeIvf]], which stores every corpus row; consumers
    * treating codes as a complete id universe must filter the corpus
    * the same way. */
  def pqEncode(corpus: DataFrame, books: Seq[Seq[Seq[Double]]],
               vecCol: String = "embedding",
               idCol: String = "vec_id"): DataFrame = {
    val subDim = books.head.head.size
    corpus
      .filter(dot(col(vecCol), col(vecCol)) > 0.0)
      .select(col(idCol), normalized(col(vecCol)).as("u"))
      .select(col(idCol), array(books.indices.map { s =>
        codeIdRounded(subVec(col("u"), subDim, s), books(s))
      }: _*).as("codes"))
  }

  /** Asymmetric-distance top-k over PQ codes: the query's per-(subspace,
    * code) inner products form an m×k lookup TABLE (computed once on the
    * driver, broadcast as a literal), and each row's approximate cosine
    * is m table lookups summed — no vector data is touched at query
    * time. Narrow scan + TakeOrdered; recall is bounded by the
    * quantization error, verified in LlmSpec against brute force. */
  def pqTopKAdc(codes: DataFrame, books: Seq[Seq[Seq[Double]]],
                query: Seq[Double], k: Int,
                idCol: String = "vec_id"): DataFrame = {
    val qn = math.sqrt(query.map(x => x * x).sum)
    codes
      .select(col(idCol),
        adcScore(col("codes"), books, query.map(_ / qn)).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Two-stage retrieval, the standard recall-recovery pattern: a cheap
    * ADC pass over the PQ codes builds a `k·overscan` shortlist (no
    * vector data touched), then ONLY the shortlist is re-scored exactly
    * against the full vectors. The shortlist ids broadcast into the
    * corpus join, so the exact stage reads k·overscan vectors no matter
    * the corpus size; recall lost to quantization at rank k is
    * recovered whenever the true neighbor sits inside the shortlist. */
  def pqTopKRerank(codes: DataFrame, corpus: DataFrame,
                   books: Seq[Seq[Seq[Double]]], query: Seq[Double], k: Int,
                   overscan: Int = 4,
                   vecCol: String = "embedding",
                   idCol: String = "vec_id"): DataFrame = {
    val short = pqTopKAdc(codes, books, query, k * overscan, idCol)
      .select(col(idCol))
    // raw query: cosine() normalizes both sides itself (same contract
    // as topK — pre-dividing would only add FP noise vs the oracle)
    val q = array(query.map(lit): _*)
    corpus.join(broadcast(short), Seq(idCol))
      .select(col(idCol), round(cosine(col(vecCol), q), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** The ADC score of a codes column: the unit query's per-(subspace,
    * code) inner products form an m×k lookup table baked into the plan
    * as array literals; each row's score is m `element_at` lookups
    * summed, rounded to the gate contract's 6 decimals. */
  private def adcScore(codes: Column, books: Seq[Seq[Seq[Double]]],
                       qUnit: Seq[Double]): Column = {
    val subDim = books.head.head.size
    val table: Seq[Seq[Double]] = books.zipWithIndex.map { case (book, s) =>
      val qSub = qUnit.slice(s * subDim, (s + 1) * subDim)
      book.map(c => c.zip(qSub).map { case (a, b) => a * b }.sum)
    }
    round(books.indices.map { s =>
      element_at(typedLit(table(s)), codes.getItem(s) + 1)
    }.reduce(_ + _), 6)
  }

  // --- IVF-PQ: partition-pruned cells over m-byte codes ---------------------

  private def pqBooksFile(path: String) = s"$path/_pq_books.txt"

  private[llm] def writeTextFile(spark: SparkSession, pathStr: String,
                            text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[llm] def readTextFile(spark: SparkSession, pathStr: String): String = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Write an IVF-PQ layout — the composite 100 TB ANN shape (Jégou et
    * al. 2011): rows are coarse-assigned to `nCentroids` partition
    * directories (pruned at probe time, as [[writeIvf]]) but store ONLY
    * `(id, m codes)` — ~dim·4/m-fold smaller than the vectors, so a
    * probe scans a few small directories of byte codes. Codes quantize
    * the UNIT vector itself (the cosine-metric formulation, shared with
    * [[pqEncode]]/[[pqTopKAdc]]), not the cell residual — residual
    * coding buys accuracy only under L2 re-ranking, which the cosine
    * contract here doesn't use. Coarse centroids AND codebooks persist
    * inside the layout (the writeIvf sidecar rule: a prober can never
    * pair data with the wrong quantizers). Zero-norm vectors are
    * DROPPED, as in [[pqEncode]] — this layout can hold fewer rows than
    * a [[writeIvf]] layout of the same corpus. */
  def writeIvfPq(corpus: DataFrame, path: String,
                 nCentroids: Int = 256, m: Int = 8, k: Int = 256,
                 iters: Int = 5,
                 vecCol: String = "embedding", idCol: String = "vec_id",
                 centroids: Option[Seq[Seq[Double]]] = None,
                 books: Option[Seq[Seq[Seq[Double]]]] = None,
                 hierAssign: Boolean = false): Unit = {
    val cents = centroids.getOrElse(
      sampleCentroids(corpus, nCentroids, vecCol, idCol))
    val bks = books.getOrElse(
      pqTrain(corpus, m, k, iters, None, vecCol, idCol))
    val subDim = bks.head.head.size
    // same two-level routing as writeIvf(hierAssign) for the coarse
    // cell — the PQ sub-codebook assignment is per-subvector k·subDim
    // and does not grow with nCentroids, so only the coarse term needs
    // the route. (This layout has no appender, so no meta knob: the
    // flag only shapes the one-shot build.)
    val cellAssign =
      if (hierAssign)
        element_at(centroidTopCellsHier(col("u"),
          buildCentroidIndex(cents), 1), 1)
      else centroidIdRounded(col("u"), cents)
    corpus
      .filter(dot(col(vecCol), col(vecCol)) > 0.0)
      .select(col(idCol), normalized(col(vecCol)).as("u"))
      .select(col(idCol),
        array(bks.indices.map(s =>
          codeIdRounded(subVec(col("u"), subDim, s), bks(s))): _*).as("codes"),
        cellAssign.as("ivf_cell"))
      .repartition(col("ivf_cell"))
      .write.partitionBy("ivf_cell").mode("overwrite").parquet(path)
    val spark = corpus.sparkSession
    writeTextFile(spark, centroidsFile(path),
      cents.map(_.mkString(",")).mkString("\n"))
    writeTextFile(spark, pqBooksFile(path),
      (for (s <- bks.indices; c <- bks(s).indices)
        yield s"$s $c ${bks(s)(c).mkString(",")}").mkString("\n"))
  }

  /** The PQ codebooks persisted by [[writeIvfPq]] (double text
    * round-trips exactly). */
  def readPqBooks(spark: SparkSession, path: String): Seq[Seq[Seq[Double]]] = {
    readTextFile(spark, pqBooksFile(path)).split("\n").toSeq.map { line =>
      val Array(s, c, vs) = line.split(" ", 3)
      (s.toInt, c.toInt, vs.split(",").toSeq.map(_.toDouble))
    }.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
  }

  /** ADC top-k against a [[writeIvfPq]] layout: `ivf_cell` is a
    * partition-column predicate (only `nProbe` directories are listed
    * and read), and scoring touches only the m-byte codes — no vector
    * data anywhere in the plan. Pass the layout's own persisted
    * quantizers ([[readIvfCentroids]], [[readPqBooks]]). */
  def topKIvfPqStored(stored: DataFrame, query: Seq[Double], k: Int,
                      nProbe: Int, cents: Seq[Seq[Double]],
                      books: Seq[Seq[Seq[Double]]],
                      idCol: String = "vec_id"): DataFrame = {
    val qn = math.sqrt(query.map(x => x * x).sum)
    val qUnit = query.map(_ / qn)
    val probes = cents.zipWithIndex
      .map { case (c, i) => (c.zip(qUnit).map { case (a, b) => a * b }.sum, i) }
      .sortBy(-_._1).take(nProbe).map(_._2)
    stored
      .filter(col("ivf_cell").isin(probes: _*))
      .select(col(idCol), adcScore(col("codes"), books, qUnit).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  // --- SemDeDup (semantic deduplication) ------------------------------------

  /** Within-cluster semantic near-dup pairs (SemDeDup, Abbas et al.
    * 2023, arXiv:2303.09540): assign every vector to its nearest
    * centroid on the 6-decimal-rounded cosine and score ONLY
    * co-clustered pairs. The cluster is the candidate bucket — pairwise
    * cost is Σ|cell|² instead of n², and k is the knob that bounds it
    * (the paper runs k≈√n·c). `maxCell` is the same safety valve as
    * [[Dedup.ngramJaccard]]'s heavy-shingle cap: a cell the centroids
    * failed to split (degenerate corpus mass) is excluded rather than
    * silently re-creating the all-pairs regime; the excluded cell ids
    * are broadcast-sized. Raw float vectors ride the join (the fused
    * [[cosine]] needs no normalized copy). */
  def semDedupPairs(corpus: DataFrame, centroids: Seq[Seq[Double]],
                    threshold: Double,
                    vecCol: String = "embedding", idCol: String = "vec_id",
                    maxCell: Long = 100000L,
                    hier: Option[CentroidIndex] = None): DataFrame = {
    val assigned = assignCells(corpus, centroids, vecCol, idCol, hier)
    val heavy = assigned.groupBy(col("cell")).count()
      .filter(col("count") > maxCell).select(col("cell"))
    val kept = assigned.join(broadcast(heavy), Seq("cell"), "left_anti")
    kept.alias("l")
      .join(kept.alias("r"),
        col("l.cell") === col("r.cell") && col("l.id") < col("r.id"))
      .withColumn("score", round(cosine(col("l.v"), col("r.v")), 6))
      .filter(col("score") >= threshold)
      .select(col("l.id").as("a"), col("r.id").as("b"),
        col("l.cell").as("cell"), col("score"))
  }

  /** SemDeDup's cell assignment: `(id, v, cell)` for every non-zero
    * vector, `cell` its nearest centroid on the 6-decimal-rounded cosine
    * (through `hier` when given). Materialized once: both SemDeDup forms
    * consume it more than once, and uncut the k-cosine assignment would
    * re-score the whole corpus per consumer. */
  private def assignCells(corpus: DataFrame, centroids: Seq[Seq[Double]],
                          vecCol: String, idCol: String,
                          hier: Option[CentroidIndex]): DataFrame = {
    require(hier.forall(_.fine == centroids),
      "hier index was built over a different centroid set")
    corpus
      .filter(dot(col(vecCol), col(vecCol)) > 0.0)
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism * 2)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cell", hier.map(centroidIdHierRounded(col("v"), _))
        .getOrElse(centroidIdRounded(col("v"), centroids)))
      .localCheckpoint()
  }

  /** SemDeDup survivors: the corpus minus every non-minimal member of a
    * within-cluster near-dup component ([[Dedup.deduplicateClustered]]
    * policy — one row kept per connected pair group, smallest id wins;
    * rows in no pair survive untouched). Centroids come from
    * [[kmeansCentroids]] at scale; the gate pins them for the oracle. */
  def semDedup(corpus: DataFrame, centroids: Seq[Seq[Double]],
               threshold: Double,
               vecCol: String = "embedding", idCol: String = "vec_id",
               maxCell: Long = 100000L,
               hier: Option[CentroidIndex] = None): DataFrame =
    Dedup.deduplicateClustered(corpus,
      semDedupPairs(corpus, centroids, threshold, vecCol, idCol, maxCell,
        hier),
      idCol)

  /** SemDeDup candidate edges in STAR form — the dense-duplication
    * scale path, mirroring [[Dedup.minhashLshStar]]'s answer to the
    * same arithmetic: [[semDedupPairs]] emits every within-cell pair,
    * so a d-fold duplicate family costs Θ(d²) verified pair rows — a
    * 1000x ScaleCheck run with 1000-replica embedding families emitted
    * ~4 BILLION pairs and filled the disk before clustering even began.
    * For dedup, the clique is redundant: connectivity needs a spanning
    * star. Each cell verifies its members against the cell's MIN-id
    * hub only — Θ(|cell|) edges, no `maxCell` valve needed because
    * nothing is quadratic. The trade (same as the text-side star): a
    * near-dup pair whose BOTH members are ≥ threshold from the hub is
    * not connected through it — at dedup thresholds on duplicate-dense
    * corpora the family members all sit near the hub by construction.
    * Output: (a = hub, b = member, cell, score rounded 6) with
    * score >= threshold. */
  def semDedupPairsStar(corpus: DataFrame, centroids: Seq[Seq[Double]],
                        threshold: Double,
                        vecCol: String = "embedding",
                        idCol: String = "vec_id",
                        hier: Option[CentroidIndex] = None): DataFrame = {
    val assigned = assignCells(corpus, centroids, vecCol, idCol, hier)
    // one hub row per cell (min id; ids are unique so the struct min
    // never compares vectors) — cell-count-sized, broadcast into the
    // member pass
    val hubs = assigned.groupBy(col("cell"))
      .agg(min(struct(col("id"), col("v"))).as("__h"))
      .select(col("cell"), col("__h.id").as("__hid"),
        col("__h.v").as("__hv"))
    assigned.join(broadcast(hubs), "cell")
      .filter(col("id") =!= col("__hid"))
      .withColumn("score", round(cosine(col("v"), col("__hv")), 6))
      .filter(col("score") >= threshold)
      .select(col("__hid").as("a"), col("id").as("b"), col("cell"),
        col("score"))
  }

  /** SemDeDup survivors from STAR edges: same keep-the-minimal-member
    * policy as [[semDedup]], fed by [[semDedupPairsStar]] — with star
    * edges every component is hub-rooted, so the survivors are the
    * hubs plus every member the hub did not absorb. */
  def semDedupStar(corpus: DataFrame, centroids: Seq[Seq[Double]],
                   threshold: Double,
                   vecCol: String = "embedding", idCol: String = "vec_id",
                   hier: Option[CentroidIndex] = None): DataFrame =
    Dedup.deduplicateClustered(corpus,
      semDedupPairsStar(corpus, centroids, threshold, vecCol, idCol, hier),
      idCol)

  /** SSL-prototypes data pruning (Sorscher et al. 2022,
    * arXiv:2206.14486): an example's *prototypicality* is its cosine to
    * its assigned cluster centroid; highly prototypical (easy) examples
    * carry the least marginal signal on large corpora, so keep the
    * `keepFrac` LEAST prototypical rows of every cluster. Centroids come
    * from [[kmeansCentroids]] at scale (the gate pins them). Returns the
    * survivors with their `cell` and `proto` score.
    *
    * Scale shape: assignment is the same narrow k-fused-cosine map as
    * [[semDedupPairs]]; the per-cell rank + count are two window frames
    * over ONE hash shuffle on `cell`. A cell sorts in a single task
    * chain — k is the knob that bounds cell size (the paper's regime,
    * k ≈ √n·c, keeps cells tiny relative to the corpus). */
  def prototypePrune(corpus: DataFrame, centroids: Seq[Seq[Double]],
                     keepFrac: Double,
                     vecCol: String = "embedding", idCol: String = "vec_id")
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keepFrac >= 0.0 && keepFrac <= 1.0, "keepFrac must be in [0,1]")
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(round(cosine(col(vecCol), array(c.map(lit): _*)), 6).as("score"),
        lit(i).as("cid"))
    }
    val best =
      if (centroids.size == 1) scored.head else greatest(scored: _*)
    val assigned = corpus
      .filter(dot(col(vecCol), col(vecCol)) > 0.0)
      .withColumn("__best", best)
      .select(col(idCol), col("__best.cid").as("cell"),
        col("__best.score").as("proto"))
    val byCell = Window.partitionBy(col("cell"))
    assigned
      .withColumn("__rank", row_number().over(
        byCell.orderBy(col("proto").asc, col(idCol).asc)))
      .withColumn("__n", count(lit(1)).over(byCell))
      .filter(col("__rank") <= ceil(lit(keepFrac) * col("__n")))
      .select(col(idCol), col("cell"), col("proto"))
  }

  /** Semantic decontamination: drop every corpus row whose embedding
    * sits within `threshold` cosine of ANY benchmark vector — the
    * embedding-space analogue of [[Dedup.decontaminate]]'s n-gram
    * overlap, catching paraphrased eval leakage that exact shingles
    * miss. The benchmark side broadcasts (eval suites are thousands of
    * rows, never corpus-scale), so this is ONE corpus pass with a
    * per-row scan of the broadcast vectors — no shuffle, no candidate
    * machinery needed. */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
                            threshold: Double,
                            vecCol: String = "embedding",
                            idCol: String = "vec_id"): DataFrame = {
    val b = bench.select(col(vecCol).as("__bv"))
    corpus.join(broadcast(b),
      round(cosine(col(vecCol), col("__bv")), 6) >= threshold, "left_anti")
  }

  /** Exact embedding near-duplicate pairs (cosine >= threshold) via
    * block-broadcast join keyed on nothing — the VERIFICATION baseline for
    * small corpora and oracles. For the 100 TB path use
    * [[nearDupLsh]]: candidates from shared hyperplane buckets only. */
  def nearDupExact(corpus: DataFrame, threshold: Double,
                   vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    // raw float vectors ride the join (half the bytes of a normalized
    // double copy); the fused cosine computes dot and both norms in the
    // same O(d) pass, so pre-normalization would save nothing
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    // left side repartitioned: the pair loop's parallelism is the stream
    // side's partition count (a single parquet file would serialize it)
    val l = vecs.select(col("id").as("a"), col("v").as("va"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism * 2)
    val r = vecs.select(col("id").as("b"), col("v").as("vb"))
    l.join(r, col("a") < col("b"))
      .withColumn("score", round(cosine(col("va"), col("vb")), 6))
      .filter(col("score") >= threshold)
      .select(col("a"), col("b"), col("score"))
  }

  /** The LSH candidate-pair stage of [[nearDupLsh]]: deduplicated id
    * pairs colliding in >= 1 of `tables` hyperplane tables. Exposed so
    * the sparse-regime claim — |candidates| << n²/2 at high thresholds —
    * is directly measurable (LlmSpec asserts it); exact duplicates share
    * every bucket key, so their recall is deterministic, not
    * probabilistic. The text path's bucket self-join
    * ([[Dedup.bucketPairs]]) over [[tableRows]]: banded rows carry ONLY
    * (id, band = table, bandhash = key) — dragging the vectors into the
    * bucket self-join would multiply the shuffle by the candidate count
    * times 2·dim doubles (measured 35x slower). */
  def lshCandidatePairs(corpus: DataFrame,
                        nPlanes: Int = 10, tables: Int = 12,
                        vecCol: String = "embedding",
                        idCol: String = "vec_id"): DataFrame =
    // NOTE (r14): a "first shared table" filter (banded rows carrying
    // the full key array, pairs emitted once at their first colliding
    // table, no dropDuplicates) was tried and REJECTED: the join output
    // then hauls two tables-long arrays per CANDIDATE row — ~25x the
    // bytes of the (a, b) dedup shuffle it saves — and both LSH gates
    // measured slower.
    Dedup.bucketPairs(tableRows(corpus, nPlanes, tables, vecCol, idCol),
      Int.MaxValue).dropDuplicates("a", "b")

  /** Hyperplane-table band rows `(id, band = table, bandhash = key)` —
    * the embedding side's input to the shared banded near-dup stages
    * ([[Dedup.bandRows]]). All table keys come from ONE fused kernel
    * (r14): the per-table hyperplaneKey Column chain baked
    * tables x nPlanes x dim literal leaves into the plan PER JOIN SIDE
    * (~350 KB physical plan at the sparse gate's 8x16x64) and
    * re-evaluated every dot interpreted; HyperplaneKeys carries the
    * plane matrix as one reference object. */
  private def tableRows(corpus: DataFrame, nPlanes: Int, tables: Int,
                        vecCol: String, idCol: String): DataFrame = {
    val dim = dimOf(corpus, vecCol)
    Dedup.bandRows(corpus.select(col(idCol).as("id"), col(vecCol)),
      graft.functions.VecMath.hyperplaneKeys(col(vecCol),
        (0 until tables).map(t => randomPlanes(nPlanes, dim, 42L + t))))
  }

  /** [[Dedup.scoredPairs]] with the rounded cosine of the two ids'
    * vectors as `score`. */
  private def cosinePairs(edges: DataFrame, corpus: DataFrame,
                          vecCol: String, idCol: String): DataFrame = {
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    Dedup.scoredPairs(edges, "a", "b", vecs, vecs,
      "score" -> round(cosine(col("v_a"), col("v_b")), 6))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the `k` highest-cosine corpus vectors with a DIFFERENT
    * label (the "looks similar, labeled differently" pairs that make
    * the best negatives; Xiong et al. ANCE line). The query set
    * broadcasts (bounded: batch-size queries), the corpus streams
    * through ONE narrow map — no corpus shuffle — and the per-query
    * top-k is a window over only the scored candidates. At billions of
    * vectors, swap the corpus scan for the IVF layout ([[ivfSearch]]
    * shape) so each query scores only its probed cells.
    *
    * Output: qid, neg_id, label (the negative's), score, rnk. */
  def hardNegatives(corpus: DataFrame, queryIds: Seq[Long], k: Int = 5,
                    vecCol: String = "embedding", idCol: String = "vec_id",
                    labelCol: String = "label"): DataFrame = {
    require(queryIds.nonEmpty && k > 0)
    import org.apache.spark.sql.expressions.Window
    val q = corpus.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("qid"), col(vecCol).as("qv"),
        col(labelCol).as("qlabel"))
    corpus
      .join(broadcast(q), col(labelCol) =!= col("qlabel"))
      .withColumn("score", round(cosine(col(vecCol), col("qv")), 6))
      // vectors off before the top-k window (the knnGraph payload rule)
      .select(col("qid"), col(idCol).as("neg_id"),
        col(labelCol).as("label"), col("score"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("neg_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("neg_id"), col("label"),
        col("score"), col("rnk").cast("long").as("rnk"))
  }

  /** Deterministic ±1 projection matrix from md5 parity — the
    * Achlioptas/signed-random-projection family (JL lemma with ±1
    * entries; also the SimHash hyperplane construction). Entry (d, j) is
    * +1 when `md5("<seed>|d|j")`'s 60-bit prefix is even, else -1 —
    * bit-for-bit replayable anywhere md5 exists (the DuckDB twin
    * recomputes the same parity), with no libm in the construction at
    * all (a Gaussian matrix would hit cross-engine ln/cos ulp drift). */
  def signedProjection(dim: Int, outDim: Int,
                       seed: String = "rp"): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until outDim).map { j =>
      (0 until dim).map { d =>
        val hex = md.digest(s"$seed|$d|$j"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map(b => f"$b%02x").mkString.substring(0, 15)
        if (java.lang.Long.parseLong(hex, 16) % 2 == 0L) 1.0 else -1.0
      }
    }
  }

  /** Signed random projection: embed `vecCol` (dim d) into `outDim`
    * dimensions via [[signedProjection]] — the cheap dimensionality
    * reduction before clustering / dedup / visualization when the full
    * dim is overkill. Each output coordinate is ONE fused native dot
    * product against a literal ±1 row (no matrix shuffle, no UDF; the
    * matrix is outDim x dim literals baked into the plan — tiny).
    * Distances are preserved up to the usual JL distortion; scores stay
    * exactly reproducible because every product is ±(input value).
    *
    * Output: id col, `proj` array<double> of length outDim. */
  def randomProjectSigned(corpus: DataFrame, outDim: Int,
                          seed: String = "rp", vecCol: String = "embedding",
                          idCol: String = "vec_id"): DataFrame = {
    require(outDim > 0, "outDim must be positive")
    val dim = dimOf(corpus, vecCol)
    val planes = signedProjection(dim, outDim, seed)
    corpus.select(col(idCol),
      array(planes.map(p =>
        dot(col(vecCol), array(p.map(lit): _*))): _*).as("proj"))
  }

  /** Exact k-NN graph: every vector's `k` nearest neighbors by cosine —
    * the substrate for graph-based near-dup clustering, label
    * propagation, and diversity sampling. This is the brute-force
    * verification regime (candidates = all pairs, right side broadcast,
    * per-query top-k via a rank window that Catalyst group-limits);
    * correct at any n but O(n²) scans — at corpus scale use
    * [[knnGraphCells]], which probes IVF cells instead. Zero-norm
    * vectors are excluded on both sides (cosine undefined; a NaN score
    * would sort above every real neighbor).
    *
    * Output: qid, neighbor_id, score (rounded 6), rnk (1..k). */
  def knnGraph(corpus: DataFrame, k: Int, vecCol: String = "embedding",
               idCol: String = "vec_id"): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val nonZero = corpus.filter(dot(col(vecCol), col(vecCol)) > 0.0)
    val nbrs = nonZero.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__nv"))
    nonZero.select(col(idCol).as("qid"), col(vecCol).as("__qv"))
      // spread the n·(n−1) scoring pass across the cluster: the query
      // side otherwise inherits the SCAN's split count (one file → one
      // task running every cosine; r14 measured the whole gate serial
      // on it). One narrow-row shuffle of n rows buys full parallelism
      // for the quadratic stage — the minhashLsh/semDedupPairs house
      // pattern.
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism * 2)
      .join(broadcast(nbrs), col("neighbor_id") =!= col("qid"))
      .withColumn("score", round(cosine(col("__qv"), col("__nv")), 6))
      // project the vector payloads OFF before the top-k window: the
      // range shuffle + sort otherwise carries both full vectors per
      // candidate row (~20x the bytes of (qid, neighbor_id, score)) —
      // at a 100x scale run this sort was the whole operator
      .select(col("qid"), col("neighbor_id"), col("score"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("neighbor_id"), col("score"),
        col("rnk").cast("long").as("rnk"))
  }

  /** IVF-celled k-NN graph — the scale path of [[knnGraph]]: assign
    * every vector to its nearest centroid cell, probe each query's
    * `probes` nearest cells, score exactly inside the probed cells only.
    * Candidates per query ≈ probes · n/nCells instead of n, and the
    * probe is an equi-join on the cell id — at 100 TB the corpus side
    * reads from the cell-partitioned layout ([[writeIvf]]) with
    * partition pruning. Recall is the IVF trade: a true neighbor in an
    * unprobed cell is missed; raise `probes` to taste.
    *
    * Assignment and probe order use the 6-decimal-ROUNDED cosine with
    * the larger-cid tie-break ([[centroidIdRounded]]'s convention), so
    * the whole graph replays externally given the same centroids.
    *
    * Output: qid, neighbor_id, score (rounded 6), rnk (1..k). */
  def knnGraphCells(corpus: DataFrame, k: Int, centroids: Seq[Seq[Double]],
                    probes: Int = 2, vecCol: String = "embedding",
                    idCol: String = "vec_id",
                    hier: Option[CentroidIndex] = None): DataFrame = {
    require(k > 0 && probes > 0 && centroids.nonEmpty)
    require(probes <= centroids.size, "probes must be <= nCells")
    require(hier.forall(_.fine == centroids),
      "hier index was built over a different centroid set")
    import org.apache.spark.sql.expressions.Window
    val nonZero = corpus.filter(dot(col(vecCol), col(vecCol)) > 0.0)
    // ONE corpus pass computes the top-`probes` cells per vector via the
    // fused CentroidTopCells kernel (k x dim multiplies, vector read
    // once — or the two-level routed kernel under `hier`, √k·dim per
    // row, for corpus-proportional cell counts); both join sides project
    // off the checkpointed frame. Element 1 is the centroidIdRounded
    // assignment (larger-cid ties), the full array is the probe list
    // under the same (score desc, cid desc) order the old
    // reverse(array_sort(struct...)) form produced.
    val cellsExpr = hier.map(centroidTopCellsHier(col(vecCol), _, probes))
      .getOrElse(graft.functions.VecMath.centroidTopCells(col(vecCol),
        centroids, probes))
    val base = nonZero.select(col(idCol).as("__id"),
        col(vecCol).as("__vec"), cellsExpr.as("__cells"))
      .localCheckpoint()
    val assigned = base.select(col("__id").as("neighbor_id"),
      col("__vec").as("__nv"),
      element_at(col("__cells"), 1).as("__cell"))
    base.select(col("__id").as("qid"), col("__vec").as("__qv"),
        explode(col("__cells")).as("__cell"))
      .join(assigned, "__cell")
      .filter(col("neighbor_id") =!= col("qid"))
      .withColumn("score", round(cosine(col("__qv"), col("__nv")), 6))
      // same payload discipline as [[knnGraph]]: the top-k window must
      // sort (qid, neighbor_id, score) rows, never rows still carrying
      // the two probe vectors — the 100x ScaleCheck graduation caught
      // this sort moving ~20x the necessary bytes and spilling
      .select(col("qid"), col("neighbor_id"), col("score"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("neighbor_id"), col("score"),
        col("rnk").cast("long").as("rnk"))
  }

  /** IVF cluster-balance report — the health check before trusting an
    * IVF layout at scale: probe cost is proportional to the probed
    * cells' sizes, so one mega-cell (bad centroids, collapsed training)
    * silently turns "probe 2 of 64 cells" back into a full scan. One
    * row: cells used, vectors, min/max/mean cell size, `imbalance`
    * (max/mean — 1.0 is perfect), `entropy_bits` vs the uniform
    * `log2(n_cells_used)` ceiling.
    *
    * One assignment pass (k fused cosines per row, the
    * [[kmeansStep]] argmax) + a k-row aggregate. All derived doubles
    * divide exact longs — engine-portable after round 6. */
  def clusterBalance(corpus: DataFrame, centroids: Seq[Seq[Double]],
                     vecCol: String = "embedding",
                     hier: Option[CentroidIndex] = None): DataFrame = {
    require(centroids.nonEmpty)
    require(hier.forall(_.fine == centroids),
      "hier index was built over a different centroid set")
    val sizes = corpus
      .filter(dot(col(vecCol), col(vecCol)) > 0.0)
      .select(hier.map(ix =>
          centroidIdHierRounded(normalized(col(vecCol)), ix))
        .getOrElse(centroidIdRounded(normalized(col(vecCol)), centroids))
        .as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("sz"))
    // global share per cell: the window runs over the k-row cell frame,
    // not the corpus — a single partition of k rows is the whole point
    val p = col("sz").cast("double") / sum(col("sz")).over(
      org.apache.spark.sql.expressions.Window.partitionBy())
    sizes
      .withColumn("__plogp", p * log2(p))
      .groupBy()
      .agg(count(lit(1)).as("n_cells_used"),
        sum(col("sz")).as("n_vectors"),
        min(col("sz")).as("min_cell"),
        max(col("sz")).as("max_cell"),
        (-sum(col("__plogp"))).as("__h"))
      .select(col("n_cells_used"), col("n_vectors"), col("min_cell"),
        col("max_cell"),
        round(col("max_cell") * col("n_cells_used") /
          col("n_vectors").cast("double"), 6).as("imbalance"),
        round(col("__h"), 6).as("entropy_bits"))
  }

  /** Diversity-aware top-k: Maximal Marginal Relevance re-ranking
    * (Carbonell & Goldstein '98) of a brute-force shortlist — retrieval
    * that answers "the k most relevant AND mutually distinct results"
    * (a plain top-k from a crawl-dup-heavy corpus returns k copies of
    * one page). Greedy: pick the most relevant, then repeatedly pick
    * `argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)`.
    *
    * Two stages, the [[pqTopKRerank]] shape: a DISTRIBUTED shortlist of
    * `k·overscan` candidates by rounded cosine (one corpus pass +
    * TakeOrdered), then the greedy selection driver-side over the
    * bounded shortlist (k·overscan vectors — the greedy is inherently
    * sequential in k, and k·overscan rows is exactly the state a
    * production re-ranker holds). All cosines and MMR scores are
    * rounded to 6 with id-ascending tie-breaks, so the selection
    * replays externally (the oracle runs the same greedy in a DuckDB
    * recursive CTE).
    *
    * Output: vec_id, `rel` (query cosine, rounded 6), `rank` (1..k in
    * selection order). */
  def topKMmr(corpus: DataFrame, query: Seq[Double], k: Int,
              lambda: Double, overscan: Int = 4,
              vecCol: String = "embedding",
              idCol: String = "vec_id"): DataFrame = {
    require(k > 0 && overscan >= 1 && lambda >= 0 && lambda <= 1)
    val spark = corpus.sparkSession
    val q = array(query.map(lit): _*)
    val short = corpus.filter(dot(col(vecCol), col(vecCol)) > 0.0)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"),
        round(cosine(col(vecCol), q), 6).as("rel"))
      .orderBy(col("rel").desc, col("id").asc)
      .limit(k * overscan)
      .collect()
    def rnd6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ids = short.map(_.getLong(0))
    val vecs = short.map(_.getSeq[Double](1).toArray)
    val rels = short.map(_.getDouble(2))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      rnd6(d / math.sqrt(na * nb))
    }
    val n = ids.length
    val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
    val remaining = scala.collection.mutable.LinkedHashSet(0 until n: _*)
    while (selected.size < math.min(k, n)) {
      val pick =
        if (selected.isEmpty) 0 // shortlist is already (rel desc, id asc)
        else remaining.maxBy { c =>
          val maxSim = selected.map(s => cos(vecs(c), vecs(s))).max
          // (score, -id): ties on the rounded score go to the SMALLER id
          (rnd6(lambda * rels(c) - (1.0 - lambda) * maxSim), -ids(c))
        }
      selected += pick
      remaining -= pick
    }
    import spark.implicits._
    selected.zipWithIndex
      .map { case (i, r) => (ids(i), rels(i), (r + 1).toLong) }
      .toSeq.toDF(idCol, "rel", "rank")
  }

  /** Per-dimension standardization (z-normalization) of an embedding
    * corpus — the feature-preprocessing step before distance-based
    * algorithms that assume isotropic dimensions (kmeans, outlier
    * scores, diagonal-whitened retrieval). Each dimension's mean and
    * SAMPLE stddev come from one posexplode + hash aggregate (dim-scale
    * output), rounded to 6 so the transform replays across engines; a
    * zero-variance dimension maps to 0 (not NaN).
    *
    * Shape: one dim-scale aggregate broadcast back onto the corpus
    * (dim rows — always broadcastable), one narrow transform pass.
    * The per-element round is the array twin of the scalar convention.
    *
    * Output: id col, `std` array<double>. */
  def standardize(corpus: DataFrame, vecCol: String = "embedding",
                  idCol: String = "vec_id"): DataFrame = {
    val stats = corpus
      .select(posexplode(col(vecCol)).as(Seq("__d", "__x")))
      .groupBy(col("__d"))
      .agg(round(avg(col("__x")), 6).as("__mu"),
        round(stddev_samp(col("__x")), 6).as("__sd"))
      .orderBy(col("__d"))
      // null-safe sd read: stddev_samp is NULL for a single-vector corpus
      // — treat it as the documented zero-variance case (maps to 0 in the
      // transform) instead of NPE-ing on Row.getDouble
      .collect().map(r => (r.getDouble(1),
        if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
    val mus = array(stats.map(s => lit(s._1)).toSeq: _*)
    val sds = array(stats.map(s => lit(s._2)).toSeq: _*)
    corpus.select(col(idCol),
      zip_with(col(vecCol).cast("array<double>"),
        zip_with(mus, sds, (m, s) => struct(m.as("m"), s.as("s"))),
        (x, ms) => when(ms.getField("s") > 0.0,
          round((x - ms.getField("m")) / ms.getField("s"), 6))
          .otherwise(lit(0.0))).as("std"))
  }

  /** k-NN label propagation (classification by vote): predict a label
    * for every query vector from the majority label of its `k` nearest
    * LABELED neighbors — the weak-supervision step that turns a small
    * hand-labeled seed set into labels for a whole corpus (quality
    * tiers, topic tags, safety flags) before training on it.
    *
    * Brute verification regime like [[knnGraph]]: labeled side
    * broadcast, per-query rank window group-limited to k, then a tiny
    * per-(query, label) vote count. The vote tie-break is fully
    * deterministic and engine-portable: more votes first, then the
    * SMALLER label (no float in the decision — a summed-score
    * tie-break would hang the argmax on accumulation order). At corpus
    * scale, feed the celled candidates from [[knnGraphCells]] into the
    * same vote instead of the all-pairs join.
    *
    * Output: qid, `pred_label`, `n_votes` (votes for the winner out of
    * the k neighbors). */
  def knnClassify(labeled: DataFrame, queries: DataFrame, k: Int,
                  vecCol: String = "embedding", idCol: String = "vec_id",
                  labelCol: String = "label"): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val lab = labeled.filter(dot(col(vecCol), col(vecCol)) > 0.0)
      .select(col(idCol).as("__nid"), col(vecCol).as("__nv"),
        col(labelCol).as("__nl"))
    val votes = queries.filter(dot(col(vecCol), col(vecCol)) > 0.0)
      .select(col(idCol).as("qid"), col(vecCol).as("__qv"))
      .join(broadcast(lab), col("__nid") =!= col("qid"))
      .withColumn("__score", round(cosine(col("__qv"), col("__nv")), 6))
      // vectors off before the top-k window (the knnGraph payload rule)
      .select(col("qid"), col("__nid"), col("__nl"), col("__score"))
      .withColumn("__rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("__score").desc, col("__nid").asc)))
      .filter(col("__rnk") <= k)
      .groupBy(col("qid"), col("__nl").as("pred_label"))
      .agg(count(lit(1)).as("n_votes"))
    votes
      .withColumn("__vr", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("n_votes").desc, col("pred_label").asc)))
      .filter(col("__vr") === 1)
      .select(col("qid"), col("pred_label"), col("n_votes"))
  }

  /** Cell-probed k-NN label vote — the serving shape of [[knnClassify]].
    * The brute form broadcasts the labeled set and scores every
    * (query, labeled) pair: Θ(q·n) candidates, which at the 1000x
    * ScaleCheck (19.8k queries × 1.6M labeled = 31.7B pairs) filled the
    * disk in the top-k sort spill — the measured intrinsic wall of the
    * pair form. Here labeled vectors land in their rank-1 centroid cell
    * and each query scores only its `probes` probed cells (the
    * [[knnGraphCells]] kernel): per-query cost is probes × cell size,
    * BOUNDED as the corpus grows cells with n. Full probing
    * (`probes == centroids.size`) scores every labeled vector exactly
    * once and is bit-identical to [[knnClassify]] — the exactness
    * escape hatch the gate uses against the brute-force oracle.
    * Output: qid, pred_label, n_votes (same contract as the brute
    * form; same (score desc, id asc) / (votes desc, label asc) ties). */
  def knnClassifyCells(labeled: DataFrame, queries: DataFrame, k: Int,
                       centroids: Seq[Seq[Double]], probes: Int = 2,
                       vecCol: String = "embedding",
                       idCol: String = "vec_id",
                       labelCol: String = "label",
                       hier: Option[CentroidIndex] = None): DataFrame = {
    require(k > 0 && probes > 0 && centroids.nonEmpty)
    require(probes <= centroids.size, "probes must be <= nCells")
    require(hier.forall(_.fine == centroids),
      "hier index was built over a different centroid set")
    import org.apache.spark.sql.expressions.Window
    val probeCells = hier.map(centroidTopCellsHier(col(vecCol), _, probes))
      .getOrElse(graft.functions.VecMath.centroidTopCells(col(vecCol),
        centroids, probes))
    val oneCell = hier.map(centroidTopCellsHier(col(vecCol), _, 1))
      .getOrElse(graft.functions.VecMath.centroidTopCells(col(vecCol),
        centroids, 1))
    val lab = labeled.filter(dot(col(vecCol), col(vecCol)) > 0.0)
      .select(col(idCol).as("__nid"), col(vecCol).as("__nv"),
        col(labelCol).as("__nl"), element_at(oneCell, 1).as("__cell"))
    val votes = queries.filter(dot(col(vecCol), col(vecCol)) > 0.0)
      .select(col(idCol).as("qid"), col(vecCol).as("__qv"),
        explode(probeCells).as("__cell"))
      .join(lab, "__cell")
      .filter(col("__nid") =!= col("qid"))
      .withColumn("__score", round(cosine(col("__qv"), col("__nv")), 6))
      // vectors off before the top-k window (the knnGraph payload rule)
      .select(col("qid"), col("__nid"), col("__nl"), col("__score"))
      .withColumn("__rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("__score").desc, col("__nid").asc)))
      .filter(col("__rnk") <= k)
      .groupBy(col("qid"), col("__nl").as("pred_label"))
      .agg(count(lit(1)).as("n_votes"))
    votes
      .withColumn("__vr", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("n_votes").desc, col("pred_label").asc)))
      .filter(col("__vr") === 1)
      .select(col("qid"), col("pred_label"), col("n_votes"))
  }

  /** Embedding outlier report: vectors whose BEST centroid cosine is
    * below `threshold` — far from every cluster, the "what doesn't fit
    * the corpus" probe (mislabeled data, encoder glitches, novel
    * content worth a look before it trains). One narrow pass computing
    * the same rounded assignment scores as [[clusterStats]].
    *
    * Output: id col, `best_cell`, `best_cos` (rounded 6), ascending =
    * most alien first after the caller's orderBy. */
  def embedOutliers(corpus: DataFrame, centroids: Seq[Seq[Double]],
                    threshold: Double, vecCol: String = "embedding",
                    idCol: String = "vec_id"): DataFrame = {
    require(centroids.nonEmpty)
    val nonZero = corpus.filter(dot(col(vecCol), col(vecCol)) > 0.0)
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(round(cosine(col(vecCol), array(c.map(lit): _*)), 6)
        .as("score"), lit(i).as("cid"))
    }
    val win = if (centroids.size == 1) scored.head else greatest(scored: _*)
    nonZero
      .select(col(idCol), win.getField("cid").as("best_cell"),
        win.getField("score").as("best_cos"))
      .filter(col("best_cos") < threshold)
  }

  /** ANN recall measurement — "measure, don't guess" for the IVF
    * probe-count trade: for a batch of query ids, compare the celled
    * top-k ([[knnGraphCells]] semantics) against the brute-force truth
    * and report recall@k. This is the tuning loop a production ANN
    * deployment runs before picking `probes`; both sides share the
    * rounded-cosine conventions, so the number replays externally.
    *
    * Cost: brute truth = one corpus pass against the broadcast query
    * batch; celled answer = probed cells only. Driver state: four
    * bounded counts. Output (one row): `n_queries`, `k`, `n_truth`
    * (truth pairs, <= k·queries), `n_hits`, `recall` (rounded 6). */
  def annRecall(corpus: DataFrame, k: Int, centroids: Seq[Seq[Double]],
                probes: Int, queryIds: Seq[Long],
                vecCol: String = "embedding",
                idCol: String = "vec_id"): DataFrame = {
    require(k > 0 && probes > 0 && queryIds.nonEmpty)
    import org.apache.spark.sql.expressions.Window
    val spark = corpus.sparkSession
    val nonZero = corpus.filter(dot(col(vecCol), col(vecCol)) > 0.0)
    val q = nonZero.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("qid"), col(vecCol).as("__qv"))
    def topK(scored: DataFrame) = scored
      // vectors off before the top-k window (the knnGraph payload rule)
      .select(col("qid"), col("nid"), col("__s"))
      .withColumn("__rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("__s").desc, col("nid").asc)))
      .filter(col("__rnk") <= k).select(col("qid"), col("nid"))
    val brute = topK(nonZero
      .select(col(idCol).as("nid"), col(vecCol).as("__nv"))
      .join(broadcast(q), col("nid") =!= col("qid"))
      .withColumn("__s", round(cosine(col("__qv"), col("__nv")), 6)))
    val qCells = q.withColumn("__cell", explode(
      graft.functions.VecMath.centroidTopCells(col("__qv"), centroids,
        probes)))
    val assigned = nonZero.select(col(idCol).as("nid"),
      col(vecCol).as("__nv"),
      centroidIdRounded(col(vecCol), centroids).as("__cell"))
    val celled = topK(qCells.join(assigned, "__cell")
      .filter(col("nid") =!= col("qid"))
      .withColumn("__s", round(cosine(col("__qv"), col("__nv")), 6)))
    val nTruth = brute.count()
    val nHits = brute.join(celled, Seq("qid", "nid"), "left_semi").count()
    val nQ = q.count()
    import spark.implicits._
    // no truth pairs (no query id matched a non-zero vector): recall is
    // vacuously perfect — 0/0 would otherwise throw on BigDecimal(NaN)
    val recall = if (nTruth == 0) 1.0
      else BigDecimal(nHits.toDouble / nTruth)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((nQ, k.toLong, nTruth, nHits, recall))
      .toDF("n_queries", "k", "n_truth", "n_hits", "recall")
  }

  /** Per-cell clustering quality report: for each centroid cell, the
    * member count and the distribution (mean/min/max) of member-to-
    * centroid cosine — the cheap "are my clusters tight or mush" check
    * (silhouette needs all-pairs; this is one narrow pass). Assignment
    * uses the same rounded-cosine argmax as every IVF path here, and
    * the member score IS the winning rounded cosine, so the report
    * replays externally given the same centroids.
    *
    * Output: `cell`, `n`, `mean_cos`, `min_cos`, `max_cos` (rounded 6). */
  def clusterStats(corpus: DataFrame, centroids: Seq[Seq[Double]],
                   vecCol: String = "embedding"): DataFrame = {
    require(centroids.nonEmpty)
    val nonZero = corpus.filter(dot(col(vecCol), col(vecCol)) > 0.0)
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(round(cosine(col(vecCol), array(c.map(lit): _*)), 6)
        .as("score"), lit(i).as("cid"))
    }
    val win =
      if (centroids.size == 1) scored.head
      else greatest(scored: _*)
    nonZero
      .select(win.getField("cid").as("cell"),
        win.getField("score").as("__s"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("__s")), 6).as("mean_cos"),
        min(col("__s")).as("min_cos"),
        max(col("__s")).as("max_cos"))
  }

  /** Mutual-kNN clustering over a neighbor graph (the output of
    * [[knnGraph]] or [[knnGraphCells]]): keep only RECIPROCATED edges
    * (i in j's top-k AND j in i's top-k — the standard trick that stops
    * hub vectors from chaining unrelated clusters together), then take
    * connected components. No k-for-k-means to pick: cluster count
    * falls out of the data.
    *
    * Shape: the mutual filter is one self-join of the (qid, neighbor)
    * edge list on the reversed pair — k·n rows a side, never vectors;
    * components are [[Dedup.connectedComponents]]' star-contraction
    * rounds. Output: `vec_id`, `cluster` (smallest reachable id);
    * vectors with no mutual edge are absent (singletons). */
  def knnClusters(graph: DataFrame): DataFrame = {
    val e = graph.select(col("qid"), col("neighbor_id"))
    val mutual = e.alias("l")
      .join(e.alias("r"),
        col("l.qid") === col("r.neighbor_id") &&
          col("l.neighbor_id") === col("r.qid"))
      .filter(col("l.qid") < col("l.neighbor_id"))
      .select(col("l.qid").as("a"), col("l.neighbor_id").as("b"))
    graft.llm.Dedup.connectedComponents(mutual)
      .select(col("node").as("vec_id"), col("component").as("cluster"))
  }

  /** Top right-singular direction of the (uncentered) embedding matrix
    * by deterministic power iteration — the dominant-direction probe
    * used for embedding diagnostics (anisotropy / "rogue dimension"
    * checks) and as the first step of PCA whitening. Uncentered by
    * design: it is the top singular vector of X, not of X - mean
    * (document embeddings are near-centered; centering would add a
    * second distributed moment pass for little signal).
    *
    * Each iteration is ONE distributed pass computing
    * `s = Σ_rows x·(x·v)`: the dot `x·v` is the fused native kernel
    * against the current literal v, the per-dimension sums posexplode
    * into (dim, x_i·dot) rows that map-side combine to `dim` rows per
    * task (the kmeansStep shuffle shape — never n·d rows on the wire).
    * v is then normalized and ROUNDED to 6 decimals on the driver, so
    * every iteration's input is externally replayable: the DuckDB twin
    * unrolls the same iterations and reaches bit-equal rounded state
    * (power iteration is contractive, so the sub-round fp noise of
    * summation order cannot accumulate).
    *
    * Output: one row per dimension — `dim`, `w` (component entry,
    * rounded 6), `eigenvalue` (Rayleigh estimate |s|/n, rounded 6,
    * identical on every row). */
  def powerComponent(corpus: DataFrame, iters: Int = 8,
                     vecCol: String = "embedding"): DataFrame = {
    require(iters >= 1)
    val spark = corpus.sparkSession
    val dim = dimOf(corpus, vecCol)
    val nonZero = corpus.filter(dot(col(vecCol), col(vecCol)) > 0.0)
    val n = nonZero.count()
    require(n > 0, "no non-zero vectors")
    var v: Seq[Double] = Seq.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var sNorm = 0.0
    for (_ <- 0 until iters) {
      val vLit = array(v.map(lit): _*)
      val sums = nonZero
        .select(posexplode(col(vecCol)).as(Seq("dim", "__xi")),
          dot(col(vecCol), vLit).as("__dv"))
        .groupBy(col("dim"))
        .agg(sum(col("__xi").cast("double") * col("__dv")).as("s"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val s = (0 until dim).map(i => sums.getOrElse(i, 0.0))
      sNorm = math.sqrt(s.map(x => x * x).sum)
      v = s.map(x => BigDecimal(x / sNorm)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    import spark.implicits._
    val eig = BigDecimal(sNorm / n)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    v.zipWithIndex.map { case (w, i) => (i, w, eig) }
      .toDF("dim", "w", "eigenvalue")
  }

  /** Scale path for near-dup: pairs colliding in >= 1 of `tables`
    * hyperplane tables, verified exactly. groupBy(bucket) keeps the join
    * bucket-local — never all-pairs. Vectors join back once per
    * DEDUPLICATED pair for scoring — the minhashLsh shape. */
  def nearDupLsh(corpus: DataFrame, threshold: Double,
                 nPlanes: Int = 10, tables: Int = 12,
                 vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    cosinePairs(lshCandidatePairs(corpus, nPlanes, tables, vecCol, idCol),
      corpus, vecCol, idCol)
      .filter(col("score") >= threshold)
  }

  /** Hyperplane-LSH near-dup edges in STAR form — the embedding-side
    * twin of [[graft.llm.Dedup.minhashLshStar]], for feeding
    * [[graft.llm.Dedup.connectedComponents]] on densely-duplicated
    * embedding corpora. [[nearDupLsh]] enumerates every colliding pair,
    * so a d-fold duplicate family (the same vector embedded d times —
    * mirrored pages, re-crawls) costs Θ(d²) verified pairs; clustering
    * only needs a spanning star, so each (table, bucket) emits verified
    * edges from its minimum id. Edges are a subset of [[nearDupLsh]]'s
    * pairs (hub is the bucket min, so `a` < `b`); clusters match the
    * clique clusters whenever every true pair is hub-connected in one
    * of its colliding buckets (d-fold EXACT duplicates share every
    * bucket with their hub, so that regime is deterministic). This is
    * a HIGH-threshold dup-family operator: at loose thresholds cosine
    * is far from transitive, hub verification legitimately breaks
    * bucket connectivity, and clusters will under-merge — use
    * [[nearDupLsh]] + connectedComponents there, or the scored pair
    * list when pairs are the product.
    *
    * `hubSalt` is the degenerate-mega-bucket valve, exactly
    * [[graft.llm.Dedup.minhashLshStar]]'s: with S > 0 the hub window
    * partitions on (table, key, id-hash mod S) so no single WindowExec
    * task buffers a 10⁹-member bucket, and a second cell-scale window
    * (≤ S rows per bucket) links sub-hubs to the bucket minimum —
    * members−1 edges per bucket either way, connectivity identical
    * pre-verification. Default 0 keeps the one-shuffle plan. */
  def nearDupLshStar(corpus: DataFrame, threshold: Double,
                     nPlanes: Int = 10, tables: Int = 12,
                     vecCol: String = "embedding",
                     idCol: String = "vec_id",
                     hubSalt: Int = 0): DataFrame =
    cosinePairs(Dedup.starEdges(
      tableRows(corpus, nPlanes, tables, vecCol, idCol),
      Seq("band", "bandhash"), hubSalt), corpus, vecCol, idCol)
      .filter(col("score") >= threshold)
}
