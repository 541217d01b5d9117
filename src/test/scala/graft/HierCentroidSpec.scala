package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TestData
import graft.functions.VecMath
import graft.llm.Embed

/** Two-level (hierarchical) centroid assignment — the scale-safe sibling
  * of the flat `CentroidTopCells` kernel (VERDICT r11 #1: flat
  * assignment is O(n·k·dim), and with the IVF sizing rule k ∝ n the
  * 1000x ScaleCheck measured 42x wall growth for 10x data on exactly
  * this term).
  *
  * The contract under test: with `coarseProbes == nCoarse` the routed
  * kernel is BIT-IDENTICAL to flat (candidate set = all fine
  * centroids, same round6 scores, same larger-cid ties, same NaN and
  * null semantics); with fewer probes it is approximate but always
  * assigns within a probed group's children, and the routing index is
  * deterministic so assignments replay across runs. */
class HierCentroidSpec extends AnyFunSuite {

  private def randVecs(n: Int, dim: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat).toSeq)
    }
  }

  /** Clustered fine centroids: `groups` well-separated direction groups
    * with `perGroup` jittered members each — the regime a trained IVF
    * centroid set is in, where coarse routing is meaningful. */
  private def clusteredCents(groups: Int, perGroup: Int,
                             dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(11)
    (0 until groups).flatMap { g =>
      val base = Array.tabulate(dim)(d =>
        if (d % groups == g) 1.0 else 0.05)
      (0 until perGroup).map { _ =>
        val v = base.map(_ + rnd.nextDouble() * 0.1)
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / n).toSeq
      }
    }
  }

  test("coarse groups with no fine children are dropped from the " +
      "index (r12 ADVICE: an all-empty probe set would yield a null " +
      "cell that getAs[Int] unboxes to 0, polluting cell 0)") {
    val sp = SparkSpec.spark
    import sp.implicits._
    // identical fine centroids: every fine assigns to ONE coarse group
    // (larger-cid tie break), leaving the other requested groups empty
    val fine = Seq.fill(9)(Seq(1.0, 0.0, 0.0))
    val idx = Embed.buildCentroidIndex(fine, nCoarse = 3, coarseProbes = 3)
    assert(idx.coarse.size == 1 && idx.children.size == 1,
      s"empty groups survived: ${idx.children}")
    assert(idx.children.head.sorted == (0 until 9),
      "the surviving group must hold every fine centroid")
    assert(idx.coarseProbes == 1, "probes must clamp to the kept groups")
    // the REQUESTED knobs survive for sidecar persistence: a replayer
    // rebuilds from these (stride init runs over the requested count)
    assert(idx.nCoarseReq == 3 && idx.probesReq == 3)
    // and the kernel assigns every vector a non-null cell through it
    val df = Seq((1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(0.0f, 1.0f, 0.0f)))
      .toDF("id", "v")
    val nulls = df.select(element_at(
        Embed.centroidTopCellsHier(col("v"), idx, 1), 1).as("c"))
      .filter(col("c").isNull).count()
    assert(nulls == 0, "null cell leaked from the filtered index")
  }

  test("full coarse probing is bit-identical to the flat kernel " +
      "(ties, NaN, floats, rounded and raw)") {
    val sp = SparkSpec.spark
    import sp.implicits._
    // duplicated + scaled centroids force exact ties (cosine is
    // scale-invariant); the zero vector yields all-NaN scores
    val cents = Seq(
      Seq(1.0, 0.0, 0.0, 0.0),
      Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 1.0, 0.0, 0.0),
      Seq(2.0, 0.0, 0.0, 0.0),
      Seq(0.5, 0.5, 0.5, 0.5),
      Seq(0.0, 0.0, 1.0, 0.0),
      Seq(0.0, 0.0, 0.0, 1.0))
    val rows = randVecs(400, 4, 7) :+ (999L, Seq(0f, 0f, 0f, 0f))
    val df = rows.toDF("id", "v").localCheckpoint()
    for (nc <- Seq(1, 2, 3)) {
      val idx0 = Embed.buildCentroidIndex(cents, nCoarse = nc)
      val idx = idx0.copy(coarseProbes = idx0.coarse.size) // probe ALL
      for (probes <- Seq(1, 2, 5); rounded <- Seq(true, false)) {
        val got = df.select(col("id"),
          Embed.centroidTopCellsHier(col("v"), idx, probes, rounded)
            .as("c"))
        val want = df.select(col("id"),
          VecMath.centroidTopCells(col("v"), cents, probes, rounded)
            .as("c"))
        assert(got.exceptAll(want).count() == 0 &&
          want.exceptAll(got).count() == 0,
          s"hier(full) != flat at nCoarse=$nc probes=$probes " +
            s"rounded=$rounded")
      }
    }
  }

  test("null semantics match flat: null element and dim mismatch") {
    val sp = SparkSpec.spark
    import sp.implicits._
    val cents = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0))
    val idx = Embed.buildCentroidIndex(cents, nCoarse = 2)
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, null, 0.0)), // null element
      (2L, Seq[java.lang.Double](1.0, 0.0)),       // dim mismatch
      (3L, Seq[java.lang.Double](0.0, 1.0, 0.0))
    ).toDF("id", "v")
    val out = df.select(col("id"),
      Embed.centroidTopCellsHier(col("v"), idx, 1).as("c")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
        else r.getSeq[Int](1))).toMap
    assert(out(1L) == null && out(2L) == null)
    assert(out(3L) == Seq(1))
  }

  test("buildCentroidIndex: deterministic, children partition the fine " +
      "ids, groups reflect the cluster structure") {
    val cents = clusteredCents(groups = 4, perGroup = 8, dim = 16)
    val a = Embed.buildCentroidIndex(cents)
    val b = Embed.buildCentroidIndex(cents)
    assert(a == b, "same fine set must build the same index")
    assert(a.children.flatten.sorted == cents.indices.toList)
    assert(a.coarse.size == math.ceil(math.sqrt(cents.size)).toInt)
    // a trained coarse grouping on well-separated clusters should not
    // leave everything in one mega-group
    assert(a.children.count(_.nonEmpty) >= 2,
      s"degenerate grouping: ${a.children.map(_.size)}")
  }

  test("reduced probing stays within routed children and agrees with " +
      "flat on clustered data") {
    val sp = SparkSpec.spark
    import sp.implicits._
    val cents = clusteredCents(groups = 5, perGroup = 10, dim = 20)
    val idx = Embed.buildCentroidIndex(cents, coarseProbes = 2)
    val rnd = new scala.util.Random(3)
    // vectors near the centroid directions (the realistic regime)
    val rows = (0 until 300).map { i =>
      val c = cents(rnd.nextInt(cents.size))
      (i.toLong, c.map(x => (x + rnd.nextDouble() * 0.05).toFloat))
    }
    val df = rows.toDF("id", "v").localCheckpoint()
    val hier = df.select(col("id"),
      element_at(Embed.centroidTopCellsHier(col("v"), idx, 1), 1)
        .as("cell"))
    val flat = df.select(col("id"),
      element_at(VecMath.centroidTopCells(col("v"), cents, 1), 1)
        .as("cell"))
    val joined = hier.alias("h").join(flat.alias("f"), "id")
      .select(col("h.cell").as("hc"), col("f.cell").as("fc"))
      .collect()
    val agree = joined.count(r => r.getInt(0) == r.getInt(1))
    // structure: the routed assignment is always a real fine cell
    assert(joined.forall(r => r.getInt(0) >= 0 &&
      r.getInt(0) < cents.size))
    // on clustered data with 2 of ~8 coarse probes the overwhelming
    // majority of assignments equal flat (missing ones are the
    // documented two-level recall trade)
    assert(agree >= (joined.length * 0.9).toInt,
      s"agreement $agree/${joined.length} below the expected regime")
  }

  test("writeIvf(hierAssign) persists its routing: appends land in the " +
      "layout's own cells, and a full-probe hier layout equals flat") {
    val sp = SparkSpec.spark
    import sp.implicits._
    val rows = randVecs(400, 8, 33)
    val df = rows.toDF("vec_id", "embedding").localCheckpoint()
    val (a, b) = (df.filter(col("vec_id") < 300),
      df.filter(col("vec_id") >= 300))
    // hier layout: build from A, append B — B's stored cells must equal
    // what the layout's own (rebuilt-from-meta) routing assigns them
    val tmp = TestData.freshScratch("graft-hier-ivf")
    Embed.writeIvf(a, tmp, nCentroids = 16, rounded = true,
      hierAssign = true)
    Embed.ivfUpdate(b, tmp)
    val cents = Embed.readIvfCentroids(sp, tmp)
    val (nc, cp) = {
      val h = Embed.buildCentroidIndex(cents)
      (h.coarse.size, h.coarseProbes)
    }
    val idx = Embed.buildCentroidIndex(cents, nc, cp)
    val want = b.select(col("vec_id"),
      element_at(Embed.centroidTopCellsHier(col("embedding"), idx, 1), 1)
        .as("cell"))
    val stored = sp.read.parquet(tmp).filter(col("vec_id") >= 300)
      .select(col("vec_id"), col("ivf_cell").cast("int").as("cell"))
    assert(stored.exceptAll(want).count() == 0 &&
      want.exceptAll(stored).count() == 0,
      "append assigned differently than the layout's persisted routing")
    // a full-probe hier layout is cell-for-cell identical to flat
    val tmpH = TestData.freshScratch("graft-hier-full")
    val tmpF = TestData.freshScratch("graft-flat")
    val pinned = Embed.sampleCentroids(df, 9)
    val fullIdx = Embed.buildCentroidIndex(pinned)
    Embed.writeIvf(df, tmpF, centroids = Some(pinned), rounded = true)
    // k = 9 -> nCoarse = 3 and the default coarseProbes = min(3, 4) = 3
    // covers every group, so the hier build IS full-probe here
    assert(fullIdx.coarseProbes == fullIdx.coarse.size)
    Embed.writeIvf(df, tmpH, centroids = Some(pinned), rounded = true,
      hierAssign = true)
    val h = sp.read.parquet(tmpH)
      .select(col("vec_id"), col("ivf_cell").cast("int").as("c"))
    val f = sp.read.parquet(tmpF)
      .select(col("vec_id"), col("ivf_cell").cast("int").as("c"))
    assert(h.exceptAll(f).count() == 0 && f.exceptAll(h).count() == 0)
    // and the IVF-PQ layout's coarse cell takes the same route
    val tmpPH = TestData.freshScratch("graft-hier-pq")
    val tmpPF = TestData.freshScratch("graft-flat-pq")
    Embed.writeIvfPq(df, tmpPF, m = 2, k = 4, iters = 1,
      centroids = Some(pinned))
    Embed.writeIvfPq(df, tmpPH, m = 2, k = 4, iters = 1,
      centroids = Some(pinned), hierAssign = true)
    val ph = sp.read.parquet(tmpPH)
      .select(col("vec_id"), col("ivf_cell").cast("int").as("c"))
    val pf = sp.read.parquet(tmpPF)
      .select(col("vec_id"), col("ivf_cell").cast("int").as("c"))
    assert(ph.exceptAll(pf).count() == 0 && pf.exceptAll(ph).count() == 0)
  }

  test("kmeansCentroids(hierarchical) with full coarse probing equals " +
      "flat training exactly; knnGraphCells(hier) likewise") {
    val sp = SparkSpec.spark
    import sp.implicits._
    val rows = randVecs(500, 8, 21)
    val df = rows.toDF("vec_id", "embedding").localCheckpoint()
    val k = 9
    // full-probe hierarchical: every iteration's candidate set is the
    // whole fine set, so training must be bit-identical to flat
    val flatC = Embed.kmeansCentroids(df, k, iters = 3)
    val hierC = Embed.kmeansCentroids(df, k, iters = 3,
      hierarchical = true, nCoarse = 3, coarseProbes = 3)
    assert(flatC == hierC,
      "full-probe hierarchical Lloyd diverged from flat")
    val idx0 = Embed.buildCentroidIndex(flatC, nCoarse = 3)
    val idx = idx0.copy(coarseProbes = 3)
    val flatG = Embed.knnGraphCells(df, k = 3, flatC, probes = 2)
    val hierG = Embed.knnGraphCells(df, k = 3, flatC, probes = 2,
      hier = Some(idx))
    assert(flatG.exceptAll(hierG).count() == 0 &&
      hierG.exceptAll(flatG).count() == 0,
      "full-probe hier kNN graph diverged from flat")
  }
}
