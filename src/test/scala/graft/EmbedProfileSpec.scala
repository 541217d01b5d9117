package graft

import org.apache.spark.sql.functions._

import graft.llm.{Embed, EmbedProfile}
import graft.sources.TestData

/** The embedding-side profile must COMPOSE the individually-certified
  * rails, not re-implement them (VERDICT r12 #6): `serving.semDedup`
  * is the `embed_semdedup_star` gate composition, `serving.knnClusters`
  * the `embed_knn_clusters` gate composition, and the forced-hier /
  * full-probe shape must stay bit-identical to the flat path
  * (HierCentroidSpec's invariant, restated at the profile level). Runs
  * on the real sf0.001 embeddings so the equalities are about the
  * corpus regime, not a toy fixture. */
class EmbedProfileSpec extends SparkFunSuite {

  private def emb = TestData.table(spark, "/root/testdata/sf0.001",
    "embeddings")

  /** The gates' centroid derivation: first 4 normalized vectors, one
    * rounded Lloyd step (SparkEntry.ivfCentroids). */
  private def gateCentroids: Seq[Seq[Double]] = {
    val e = emb
    val init = e.filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .select(Embed.normalized(col("embedding")))
      .collect().toSeq.map(_.getSeq[Double](0).toSeq)
    val step = Embed.kmeansStep(e, init)
      .select(col("cell"), col("dim"), round(col("m"), 6).as("m"))
      .collect()
    val byCell = step.groupBy(_.getInt(0))
    init.indices.map(c => byCell.get(c).fold(init(c))(
      rs => rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq))
  }

  private def sameRows(got: org.apache.spark.sql.DataFrame,
                       want: org.apache.spark.sql.DataFrame,
                       what: String): Unit =
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0, s"$what diverged")

  test("serving.semDedup reproduces the embed_semdedup_star gate " +
      "composition (flat routing below hierAbove)") {
    val init = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .select(Embed.normalized(col("embedding")))
      .collect().toSeq.map(_.getSeq[Double](0).toSeq)
    val got = EmbedProfile.serving.semDedup(emb, init, threshold = 0.4)
      .select(col("vec_id"))
    val want = Embed.semDedupStar(emb, init, threshold = 0.4)
      .select(col("vec_id"))
    sameRows(got, want, "profile semDedup vs gate composition")
  }

  test("serving.knnClusters reproduces the embed_knn_clusters gate " +
      "composition (2-probe celled graph, mutual-kNN CC)") {
    val cents = gateCentroids
    val got = EmbedProfile.serving.knnClusters(emb, k = 3, cents)
    val want = Embed.knnClusters(
      Embed.knnGraphCells(emb, k = 3, cents, probes = 2))
    sameRows(got, want, "profile knnClusters vs gate composition")
  }

  test("forced-hier full-probe routing is bit-identical to the flat " +
      "path through the profile (the exactness escape hatch)") {
    val cents = gateCentroids
    // hierAbove = 0 forces the two-level kernel; nCoarse == coarseProbes
    // probes every coarse group, which IS flat assignment
    val full = EmbedProfile.serving.copy(hierAbove = 0,
      nCoarse = 2, coarseProbes = 2)
    sameRows(
      full.knnGraph(emb, k = 3, cents),
      Embed.knnGraphCells(emb, k = 3, cents, probes = 2),
      "full-probe hier knnGraph vs flat")
    val init = cents
    sameRows(
      full.semDedup(emb, init, threshold = 0.4).select(col("vec_id")),
      Embed.semDedupStar(emb, init, threshold = 0.4).select(col("vec_id")),
      "full-probe hier semDedup vs flat")
  }

  test("writeLayout persists the profile's routing knobs and append " +
      "replays them from the sidecar (never from the caller)") {
    val sp = spark
    val tmp = TestData.freshScratch("graft_embprof")
    val full = EmbedProfile.serving.copy(hierAbove = 0,
      nCoarse = 2, coarseProbes = 2)
    full.writeLayout(emb.filter(col("vec_id") % 2 === 0), tmp,
      nCentroids = 4, centroids = Some(gateCentroids))
    // append through the OTHER profile: assignment must come from the
    // layout's persisted knobs, so the result is identical anyway
    EmbedProfile.exact.append(emb.filter(col("vec_id") % 2 =!= 0), tmp,
      batchId = Some("b1"))
    val stored = sp.read.parquet(tmp)
    // full-probe hier == flat: cells must match the flat rounded
    // assignment for every row, build and append alike
    val flat = emb.select(col("vec_id"),
      element_at(graft.functions.VecMath.centroidTopCells(
        col("embedding"), gateCentroids, 1, rounded = true), 1)
        .as("want_cell"))
    val joined = stored.select(col("vec_id"), col("ivf_cell"))
      .join(flat, "vec_id")
    assert(joined.filter(col("ivf_cell") =!= col("want_cell")).count() == 0,
      "layout cells diverged from the flat rounded assignment")
    assert(stored.count() == emb.count(), "append lost rows")
  }

  test("writeLayout forwards the profile's routing shape — a full-probe " +
      "profile must not persist a default-probe layout (r13 ADVICE)") {
    // k = 25: the kernel DEFAULT resolves to √25 = 5 coarse groups with
    // 4 probes — a routed, inexact shape. The 4-centroid fixture above
    // can't catch a dropped forward because its default (2 groups,
    // min(2,4) = 2 probes) is full-probe anyway; here the profile's
    // exactness escape hatch (coarseProbes == nCoarse == 5) genuinely
    // DIFFERS from the default, so an unforwarded knob is visible both
    // in the sidecar and (potentially) in boundary-vector cells.
    val tmp = TestData.freshScratch("graft_embprof_route")
    val cents = emb.filter(col("vec_id") < 25).orderBy(col("vec_id"))
      .select(Embed.normalized(col("embedding")))
      .collect().toSeq.map(_.getSeq[Double](0).toSeq)
    val full = EmbedProfile.serving.copy(hierAbove = 0,
      nCoarse = 5, coarseProbes = 5)
    full.writeLayout(emb, tmp, nCentroids = 25, centroids = Some(cents))
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(tmp, "_ivf_meta.txt")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(meta.contains("hierCoarse=5") && meta.contains("hierProbes=5"),
      s"layout sidecar recorded default routing, not the profile's:\n$meta")
    // full-probe == flat: every persisted cell equals the flat rounded
    // assignment (bit-identity the escape hatch exists to guarantee)
    val stored = spark.read.parquet(tmp)
    val flat = emb.select(col("vec_id"),
      element_at(graft.functions.VecMath.centroidTopCells(
        col("embedding"), cents, 1, rounded = true), 1).as("want_cell"))
    assert(stored.select(col("vec_id"), col("ivf_cell")).join(flat, "vec_id")
      .filter(col("ivf_cell") =!= col("want_cell")).count() == 0,
      "full-probe layout cells diverged from the flat rounded assignment")
  }
}
