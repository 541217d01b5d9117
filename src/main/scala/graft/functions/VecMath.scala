package graft.functions

import org.apache.spark.sql.Column

/** Public face of the native vector expressions (implementation lives in
  * `org.apache.spark.sql.graftio.VecMath` — the Expression API's input
  * type classes are `private[sql]`). */
object VecMath {
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftio.VecMath.dot(a, b)
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graftio.VecMath.cosine(a, b)
  def minhashMins(baseHashes: Column, numHashes: Int): Column =
    org.apache.spark.sql.graftio.VecMath.minhashMins(baseHashes, numHashes)
  def simhashVote(hashes: Column): Column =
    org.apache.spark.sql.graftio.VecMath.simhashVote(hashes)
  def centroidTopCells(vec: Column, centroids: Seq[Seq[Double]],
                       probes: Int, rounded: Boolean = true): Column =
    org.apache.spark.sql.graftio.VecMath.centroidTopCells(vec, centroids,
      probes, rounded)
  def hyperplaneKeys(vec: Column, planes: Seq[Seq[Seq[Double]]]): Column =
    org.apache.spark.sql.graftio.VecMath.hyperplaneKeys(vec, planes)
  def hierCentroidTopCells(vec: Column, fine: Seq[Seq[Double]],
                           coarse: Seq[Seq[Double]],
                           children: Seq[Seq[Int]], coarseProbes: Int,
                           probes: Int, rounded: Boolean = true): Column =
    org.apache.spark.sql.graftio.VecMath.hierCentroidTopCells(vec, fine,
      coarse, children, coarseProbes, probes, rounded)
  def evalCells(cells: Column): Seq[Int] =
    org.apache.spark.sql.graftio.VecMath.evalCells(cells)
}
