package org.apache.spark.sql.graftio

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd vector arithmetic over embedding columns.
  *
  * The higher-order-function formulation (`aggregate(zip_with(a, b, _*_),
  * 0.0, _+_)`) is evaluated INTERPRETED by Catalyst — per row it allocates
  * a zipped intermediate array and walks it through lambda closures. At
  * near-dup scale (millions of candidate pairs x 64-dim vectors) that
  * interpretation overhead dominates the whole query. These expressions
  * compile to a tight fused loop (`doGenCode`): no intermediate array, one
  * pass accumulating dot/norms, whole-stage-codegen friendly.
  *
  * Both `array<float>` (the stored embedding type) and `array<double>`
  * (literal query vectors / pre-normalized copies) element types are
  * accepted per side, read directly via `ArrayData.getFloat/getDouble` —
  * no up-cast copy of the float side.
  *
  * Semantics mirror the HOF formulation they replace: NULL result on a
  * NULL input, a length mismatch (zip_with pads with null and the sum
  * collapses to null), or a null element; accumulation is in index order
  * so double rounding is identical.
  */
object VecMath {

  private val AcceptedArray =
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType))

  sealed abstract class VecBinary extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] =
      Seq(AcceptedArray, AcceptedArray)
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true

    @transient protected lazy val leftFloat: Boolean =
      left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    @transient protected lazy val rightFloat: Boolean =
      right.dataType.asInstanceOf[ArrayType].elementType == FloatType

    protected def getL(a: ArrayData, i: Int): Double =
      if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
    protected def getR(a: ArrayData, i: Int): Double =
      if (rightFloat) a.getFloat(i).toDouble else a.getDouble(i)

    protected def genGetL(arr: String, i: String): String =
      if (leftFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
    protected def genGetR(arr: String, i: String): String =
      if (rightFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"

    /** Expression computing the result from accumulated dot / |a|^2 /
      * |b|^2 (java source fragment; variables are in scope). */
    protected def genResult(dot: String, na: String, nb: String): String
    protected def result(dot: Double, na: Double, nb: Double): Double

    protected def nullSafeVecEval(leftV: Any, rightV: Any): Any = {
      val a = leftV.asInstanceOf[ArrayData]
      val b = rightV.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (n != b.numElements()) return null
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val x = getL(a, i); val y = getR(b, i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      result(dot, na, nb)
    }
    override def nullSafeEval(leftV: Any, rightV: Any): Any =
      nullSafeVecEval(leftV, rightV)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val x = ctx.freshName("x")
        val y = ctx.freshName("y")
        s"""
           |final int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |    final double $x = ${genGetL(a, i)};
           |    final double $y = ${genGetR(b, i)};
           |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
           |  }
           |  if (!${ev.isNull}) { ${ev.value} = ${genResult(dot, na, nb)}; }
           |}
         """.stripMargin
      })
  }

  /** `sum_i a_i * b_i` as one fused codegen loop. */
  final case class ArrayDotProduct(left: Expression, right: Expression)
      extends VecBinary {
    override def prettyName: String = "vec_dot"
    override protected def genResult(dot: String, na: String, nb: String) = dot
    override protected def result(dot: Double, na: Double, nb: Double) = dot
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): ArrayDotProduct =
      copy(left = newLeft, right = newRight)
  }

  /** Cosine similarity `dot / (|a| |b|)` in ONE pass over both arrays
    * (neither side needs pre-normalization). Zero-norm input follows IEEE
    * double division (NaN), like the Column-arithmetic formulation. */
  final case class ArrayCosine(left: Expression, right: Expression)
      extends VecBinary {
    override def prettyName: String = "vec_cosine"
    override protected def genResult(dot: String, na: String, nb: String) =
      s"$dot / (Math.sqrt($na) * Math.sqrt($nb))"
    override protected def result(dot: Double, na: Double, nb: Double) =
      dot / (math.sqrt(na) * math.sqrt(nb))
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): ArrayCosine =
      copy(left = newLeft, right = newRight)
  }

  def dot(a: Column, b: Column): Column =
    Columns.of(ArrayDotProduct(Columns.exprOf(a), Columns.exprOf(b)))

  def cosine(a: Column, b: Column): Column =
    Columns.of(ArrayCosine(Columns.exprOf(a), Columns.exprOf(b)))

  /** splitmix64 finalizer over `h + GOLDEN*(i+1)` — the per-permutation
    * hash family for [[MinHashMins]]. Kept as one shared definition so
    * the interpreted and codegen paths cannot diverge. */
  def minhashMix(h: Long, i: Int): Long = {
    var z = h + 0x9e3779b97f4a7c15L * (i + 1).toLong
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** MinHash signature in ONE fused pass: for each of `numHashes`
    * splitmix64-derived permutations, the minimum over the input 64-bit
    * shingle hashes. The higher-order formulation
    * (`transform(0..n, i => array_min(transform(hs, h => xxhash64(h, i))))`)
    * evaluates interpreted and allocates `numHashes` intermediate arrays
    * per document; this loops elements x permutations in generated code
    * with a single primitive output array. An empty input yields
    * Long.MaxValue sentinels (all empty docs still collide in every band,
    * like the null signature of the HOF version; exact verification
    * filters them either way). */
  final case class MinHashMins(child: Expression, numHashes: Int)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with ExpectsInputTypes {
    require(numHashes > 0)
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_mins"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val mins = Array.fill(numHashes)(Long.MaxValue)
      var j = 0
      val n = arr.numElements()
      while (j < n) {
        if (!arr.isNullAt(j)) {
          val h = arr.getLong(j)
          var i = 0
          while (i < numHashes) {
            val z = VecMath.minhashMix(h, i)
            if (z < mins(i)) mins(i) = z
            i += 1
          }
        }
        j += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(mins)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        val mins = ctx.freshName("mins")
        val j = ctx.freshName("j")
        val i = ctx.freshName("i")
        val h = ctx.freshName("h")
        val z = ctx.freshName("z")
        val n = ctx.freshName("n")
        s"""
           |final long[] $mins = new long[$numHashes];
           |java.util.Arrays.fill($mins, Long.MAX_VALUE);
           |final int $n = $arr.numElements();
           |for (int $j = 0; $j < $n; $j++) {
           |  if ($arr.isNullAt($j)) continue;
           |  final long $h = $arr.getLong($j);
           |  for (int $i = 0; $i < $numHashes; $i++) {
           |    long $z = $h + 0x9e3779b97f4a7c15L * (long) ($i + 1);
           |    $z = ($z ^ ($z >>> 30)) * 0xbf58476d1ce4e5b9L;
           |    $z = ($z ^ ($z >>> 27)) * 0x94d049bb133111ebL;
           |    $z = $z ^ ($z >>> 31);
           |    if ($z < $mins[$i]) $mins[$i] = $z;
           |  }
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.expressions
           |  .UnsafeArrayData.fromPrimitiveArray($mins);
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): MinHashMins =
      copy(child = newChild)
  }

  def minhashMins(baseHashes: Column, numHashes: Int): Column =
    Columns.of(MinHashMins(Columns.exprOf(baseHashes), numHashes))

  /** 64-bit SimHash majority vote in ONE fused pass: bit b of the result
    * is set when more than half of the input hashes have bit b set.
    * Replicates the per-bit Column-aggregate formulation exactly,
    * including its null semantics (any null element nulls every vote,
    * collapsing the sketch to 0). */
  final case class SimHashVote(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash_vote"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val counts = new Array[Int](64)
      var j = 0
      while (j < n) {
        if (arr.isNullAt(j)) return 0L
        val h = arr.getLong(j)
        var b = 0
        while (b < 64) { counts(b) += ((h >>> b) & 1L).toInt; b += 1 }
        j += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) { if (2L * counts(b) > n) sig |= 1L << b; b += 1 }
      sig
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        val counts = ctx.freshName("counts")
        val j = ctx.freshName("j")
        val b = ctx.freshName("b")
        val h = ctx.freshName("h")
        val n = ctx.freshName("n")
        val sig = ctx.freshName("sig")
        val anyNull = ctx.freshName("anyNull")
        s"""
           |final int $n = $arr.numElements();
           |final int[] $counts = new int[64];
           |boolean $anyNull = false;
           |for (int $j = 0; $j < $n && !$anyNull; $j++) {
           |  if ($arr.isNullAt($j)) { $anyNull = true; break; }
           |  final long $h = $arr.getLong($j);
           |  for (int $b = 0; $b < 64; $b++) {
           |    $counts[$b] += (int) (($h >>> $b) & 1L);
           |  }
           |}
           |long $sig = 0L;
           |if (!$anyNull) {
           |  for (int $b = 0; $b < 64; $b++) {
           |    if (2L * $counts[$b] > $n) $sig |= 1L << $b;
           |  }
           |}
           |${ev.value} = $sig;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): SimHashVote =
      copy(child = newChild)
  }

  def simhashVote(hashes: Column): Column =
    Columns.of(SimHashVote(Columns.exprOf(hashes)))

  /** Spark `round(x, 6)` for doubles, verbatim (HALF_UP via the decimal
    * string representation; NaN/Infinity pass through) — shared by the
    * interpreted and codegen paths of the centroid kernels so the
    * centroid scores can never drift from the Column-level `round` the
    * SQL oracles replay. */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Euclidean norm, accumulated in index order (the `map(x*x).sum`
    * order of the Column formulation). */
  private def norm(v: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** The one scoring loop of the centroid kernels: the top `cap` of the
    * rows `cand` (ascending ids) of the row-major matrix `mat` by cosine
    * with `v` (norm `nv`; `norms` holds the rows' norms), each score
    * rounded by [[round6]] unless `rounded` is false. Order is score
    * descending with ties to the LARGER id (candidates arrive ascending
    * and an equal score is inserted ahead of its equals — the
    * `greatest`-struct / `reverse(array_sort)` convention), NaN above
    * every real score (`Double.compare`, like Spark's double ordering).
    * Returns the filled ids, best first. */
  private def topRows(v: Array[Double], nv: Double, mat: Array[Double],
                      norms: Array[Double], cand: Array[Int], cap: Int,
                      rounded: Boolean): Array[Int] = {
    val dim = v.length
    val topS = Array.fill(cap)(Double.NegativeInfinity)
    val topC = Array.fill(cap)(-1)
    var filled = 0
    var i = 0
    while (i < cand.length) {
      val c = cand(i)
      var dot = 0.0
      val off = c * dim
      var j = 0
      while (j < dim) { dot += v(j) * mat(off + j); j += 1 }
      val raw = dot / (nv * norms(c))
      val s = if (rounded) round6(raw) else raw
      var p = 0
      while (p < filled && java.lang.Double.compare(s, topS(p)) < 0) p += 1
      if (p < cap) {
        var q = math.min(filled, cap - 1)
        while (q > p) { topS(q) = topS(q - 1); topC(q) = topC(q - 1); q -= 1 }
        topS(p) = s; topC(p) = c
        if (filled < cap) filled += 1
      }
      i += 1
    }
    java.util.Arrays.copyOf(topC, filled)
  }

  /** The shared body of the centroid kernels: copy the vector in once
    * (NULL on a null input, a null element or a dimension mismatch) and
    * hand it to [[top]]. The k x dim loop stays in compiled scala — one
    * virtual call per row, zero closure allocation; only the copy-in is
    * generated, so the method never approaches the 64KB codegen limit no
    * matter how large k grows. */
  sealed abstract class TopCellsKernel
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with ExpectsInputTypes {
    protected def dim: Int

    /** The top cell ids of a copied-in vector, best first. */
    private[graftio] def top(v: Array[Double]): Array[Int]

    override def inputTypes: Seq[AbstractDataType] = Seq(AcceptedArray)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    // returns null for NON-null inputs too (dimension mismatch, null
    // element), so nullability must not follow the child: with a
    // non-nullable child, nullSafeCodeGen binds ev.isNull to the literal
    // `false` and the fragment's `isNull = true` branch is uncompilable
    override def nullable: Boolean = true

    @transient private lazy val childFloat: Boolean =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      if (arr.numElements() != dim) return null
      val v = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        if (arr.isNullAt(i)) return null
        v(i) = if (childFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        i += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(top(v))
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        val self = ctx.addReferenceObj(prettyName, this,
          classOf[TopCellsKernel].getName)
        val v = ctx.freshName("v")
        val i = ctx.freshName("i")
        val bad = ctx.freshName("bad")
        val get =
          if (childFloat) s"(double) $arr.getFloat($i)"
          else s"$arr.getDouble($i)"
        s"""
           |boolean $bad = ($arr.numElements() != $dim);
           |final double[] $v = $bad ? null : new double[$dim];
           |if (!$bad) {
           |  for (int $i = 0; $i < $dim; $i++) {
           |    if ($arr.isNullAt($i)) { $bad = true; break; }
           |    $v[$i] = $get;
           |  }
           |}
           |if ($bad) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = org.apache.spark.sql.catalyst.expressions
           |    .UnsafeArrayData.fromPrimitiveArray($self.top($v));
           |}
         """.stripMargin
      })
  }

  /** Top-`probes` centroid cells of a vector in ONE fused pass — the
    * k-means/IVF assignment and probe-list kernel.
    *
    * The Column formulation (`greatest`/`array_sort` over k
    * `struct(round(cosine(vec, lit-array)), cid)` subtrees) re-reads the
    * vector k times and stops scaling in k: at k=160 cells its generated
    * code degrades to allocation-heavy evaluation and a 100x-volume
    * k-means step ran for half an hour. This expression reads the vector
    * once, loops centroids in primitive arrays (k·dim multiplies total),
    * and keeps an insertion buffer of `probes` entries ([[topRows]]).
    *
    * Semantics are bit-identical to the Column form it replaces:
    * per-cell score = `round(cosine(vec, c), 6)` ([[round6]] = Spark's
    * HALF_UP round; cosine NaN on a zero norm), order = score
    * descending with ties to the LARGER cid (the `greatest`-struct /
    * `reverse(array_sort)` convention, NaN sorting above every real
    * score like Spark's double ordering). Element 0 is therefore the
    * rounded nearest-centroid assignment. NULL on a null input, a null
    * element, or a dimension mismatch. `rounded = false` skips the
    * per-score round — the raw-cosine assignment convention;
    * accumulation order matches the Column form, so raw scores are
    * bit-identical too. */
  final case class CentroidTopCells(child: Expression,
                                    centroids: Seq[Seq[Double]], probes: Int,
                                    rounded: Boolean = true)
      extends TopCellsKernel {
    require(centroids.nonEmpty, "no centroids")
    require(centroids.forall(_.size == centroids.head.size),
      "ragged centroid matrix")
    require(probes >= 1 && probes <= centroids.size,
      s"probes must be in [1, ${centroids.size}]")

    override def prettyName: String = "centroid_top_cells"

    @transient protected lazy val dim: Int = centroids.head.size
    @transient private lazy val flat: Array[Double] =
      centroids.flatten.toArray
    @transient private lazy val norms: Array[Double] =
      centroids.map(c => norm(c.toArray)).toArray
    @transient private lazy val all: Array[Int] =
      Array.range(0, centroids.size)

    private[graftio] def top(v: Array[Double]): Array[Int] =
      topRows(v, norm(v), flat, norms, all, probes, rounded)

    override protected def withNewChildInternal(newChild: Expression): CentroidTopCells =
      copy(child = newChild)
  }

  def centroidTopCells(vec: Column, centroids: Seq[Seq[Double]],
                       probes: Int, rounded: Boolean = true): Column =
    Columns.of(CentroidTopCells(Columns.exprOf(vec), centroids, probes,
      rounded))

  /** Two-level (hierarchical) variant of [[CentroidTopCells]] — the
    * scale-safe assignment kernel for cell counts that grow with the
    * corpus. Flat assignment is O(k·dim) per row; with k ∝ n (the IVF /
    * k-means sizing rule) the whole assignment pass turns O(n²) — the
    * 1000x ScaleCheck measured 42x wall growth for 10x data on exactly
    * this term. Here the k fine centroids are pre-grouped under
    * `coarse.size` ≈ √k routing centroids (driver-side, see
    * `Embed.buildCentroidIndex`): a row scores the coarse set, descends
    * into its `coarseProbes` nearest groups, and scores ONLY those
    * groups' fine children — O((√k + coarseProbes·k/√k)·dim) per row,
    * i.e. O(√k) for balanced groups.
    *
    * Both stages run [[topRows]], so within the probed candidate set the
    * scoring convention is BIT-IDENTICAL to [[CentroidTopCells]]: same
    * `round6` HALF_UP scores (or raw under `rounded = false`),
    * candidates iterated in ascending cid order so equal scores keep the
    * larger cid, NaN sorts above real scores. With `coarseProbes ==
    * coarse.size` the candidate set is ALL fine centroids and the result
    * equals the flat kernel exactly (the equivalence spec's anchor); with
    * fewer probes the assignment is approximate in the standard
    * two-level-IVF sense — a vector whose true nearest fine centroid
    * hides under an unprobed coarse group is assigned to the best probed
    * one. Coarse routing uses the same score/tie convention, so the
    * probe choice itself replays deterministically. */
  final case class HierCentroidTopCells(child: Expression,
                                        fine: Seq[Seq[Double]],
                                        coarse: Seq[Seq[Double]],
                                        fineChildren: Seq[Seq[Int]],
                                        coarseProbes: Int, probes: Int,
                                        rounded: Boolean = true)
      extends TopCellsKernel {
    require(fine.nonEmpty && coarse.nonEmpty, "no centroids")
    require(fine.forall(_.size == fine.head.size) &&
      coarse.forall(_.size == fine.head.size),
      "ragged or mismatched centroid matrices")
    require(fineChildren.size == coarse.size,
      s"children lists (${fineChildren.size}) != coarse count " +
        s"(${coarse.size})")
    require(fineChildren.flatten.sorted == fine.indices.toList,
      "fineChildren must partition the fine centroid ids exactly")
    require(probes >= 1 && probes <= fine.size,
      s"probes must be in [1, ${fine.size}]")
    require(coarseProbes >= 1 && coarseProbes <= coarse.size,
      s"coarseProbes must be in [1, ${coarse.size}]")

    override def prettyName: String = "hier_centroid_top_cells"

    @transient protected lazy val dim: Int = fine.head.size
    @transient private lazy val flatF: Array[Double] = fine.flatten.toArray
    @transient private lazy val fNorms: Array[Double] =
      fine.map(c => norm(c.toArray)).toArray
    @transient private lazy val flatC: Array[Double] = coarse.flatten.toArray
    @transient private lazy val cNorms: Array[Double] =
      coarse.map(c => norm(c.toArray)).toArray
    @transient private lazy val allCoarse: Array[Int] =
      Array.range(0, coarse.size)
    // each child list ascending: candidate iteration order must be
    // ascending GLOBAL cid for the flat kernel's tie convention
    @transient private lazy val childArr: Array[Array[Int]] =
      fineChildren.map(_.toArray.sorted).toArray

    private[graftio] def top(v: Array[Double]): Array[Int] = {
      val nv = norm(v)
      // stage 1: route to the coarseProbes nearest coarse groups
      val groups = topRows(v, nv, flatC, cNorms, allCoarse, coarseProbes,
        rounded)
      // stage 2: gather the probed groups' fine children, ascending cid
      var nCand = 0
      var p = 0
      while (p < groups.length) { nCand += childArr(groups(p)).length; p += 1 }
      val cand = new Array[Int](nCand)
      var o = 0
      p = 0
      while (p < groups.length) {
        val ch = childArr(groups(p))
        System.arraycopy(ch, 0, cand, o, ch.length)
        o += ch.length; p += 1
      }
      java.util.Arrays.sort(cand)
      // stage 3: exact argmax over the candidates, flat conventions
      topRows(v, nv, flatF, fNorms, cand, probes, rounded)
    }

    override protected def withNewChildInternal(
        newChild: Expression): HierCentroidTopCells =
      copy(child = newChild)
  }

  def hierCentroidTopCells(vec: Column, fine: Seq[Seq[Double]],
                           coarse: Seq[Seq[Double]],
                           children: Seq[Seq[Int]], coarseProbes: Int,
                           probes: Int, rounded: Boolean = true): Column =
    Columns.of(HierCentroidTopCells(Columns.exprOf(vec), fine, coarse,
      children, coarseProbes, probes, rounded))

  /** A centroid-cells Column over literal inputs (a single query's probe
    * list), evaluated on the driver: the kernel's own loop, no Spark job.
    * The whole Column tree is converted, literal leaves included (the
    * plain bridge leaves them to the analyzer). */
  def evalCells(cells: Column): Seq[Int] =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(cells.node)
      .eval().asInstanceOf[ArrayData].toIntArray().toSeq

  /** ALL hyperplane-LSH table keys of a vector in one fused kernel —
    * `tables` packed sign-bit keys, each over `nPlanes` hyperplanes
    * (r14). The Column formulation built every table key as an nPlanes-
    * chain of `when(dot(vec, array(<dim literals>)) >= 0, 1<<i)` ORs:
    * at 8 tables x 16 planes x 64 dims that is ~8k literal leaves PER
    * JOIN SIDE — a 350 KB physical plan whose analysis + codegen
    * dominated the LSH gates before a row was read. Here the plane
    * matrix rides along as ONE reference object and the plan carries a
    * single expression node per side.
    *
    * Null semantics replicate the `when` chain bit for bit: a bit is
    * set iff its dot product evaluated NON-null and >= 0, so a null
    * vector, a dimension mismatch, or a null element yields key 0 for
    * every table (never a null key) — the result array is never null. */
  final case class HyperplaneKeys(child: Expression,
                                  planes: Seq[Seq[Seq[Double]]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with ExpectsInputTypes {
    require(planes.nonEmpty && planes.forall(_.nonEmpty), "no planes")
    require(planes.forall(_.size == planes.head.size),
      "ragged table count")
    require(planes.forall(_.forall(_.size == planes.head.head.size)),
      "ragged plane matrix")
    require(planes.head.size <= 64, "more than 64 planes per key")

    override def inputTypes: Seq[AbstractDataType] = Seq(AcceptedArray)
    override def dataType: DataType =
      ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "hyperplane_keys"

    @transient private lazy val childFloat: Boolean =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    @transient private lazy val tables = planes.size
    @transient private lazy val nPlanes = planes.head.size
    @transient private lazy val dim = planes.head.head.size
    @transient private lazy val flat: Array[Double] =
      planes.flatten.flatten.toArray

    /** Packed keys for a valid vector; all-zero keys for `null` (the
      * invalid-input marker — see the null-semantics note above). */
    private[graftio] def keys(v: Array[Double]): Array[Long] = {
      val out = new Array[Long](tables)
      if (v == null) return out
      var t = 0
      while (t < tables) {
        var key = 0L
        var i = 0
        while (i < nPlanes) {
          var dot = 0.0
          val off = (t * nPlanes + i) * dim
          var j = 0
          while (j < dim) { dot += v(j) * flat(off + j); j += 1 }
          if (dot >= 0) key |= 1L << i
          i += 1
        }
        out(t) = key
        t += 1
      }
      out
    }

    private def copyIn(arr: ArrayData): Array[Double] = {
      if (arr.numElements() != dim) return null
      val v = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        if (arr.isNullAt(i)) return null
        v(i) = if (childFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        i += 1
      }
      v
    }

    override def eval(
        input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val in = child.eval(input)
      val v =
        if (in == null) null else copyIn(in.asInstanceOf[ArrayData])
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(keys(v))
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val self = ctx.addReferenceObj("hyperplaneKeys", this,
        classOf[HyperplaneKeys].getName)
      val childGen = child.genCode(ctx)
      val arr = childGen.value
      val v = ctx.freshName("v")
      val i = ctx.freshName("i")
      val get =
        if (childFloat) s"(double) $arr.getFloat($i)"
        else s"$arr.getDouble($i)"
      val resultCode =
        code"""
           |${childGen.code}
           |double[] $v = null;
           |if (!${childGen.isNull} && $arr.numElements() == $dim) {
           |  $v = new double[$dim];
           |  for (int $i = 0; $i < $dim; $i++) {
           |    if ($arr.isNullAt($i)) { $v = null; break; }
           |    $v[$i] = $get;
           |  }
           |}
           |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
           |  org.apache.spark.sql.catalyst.expressions
           |    .UnsafeArrayData.fromPrimitiveArray($self.keys($v));
         """.stripMargin
      ev.copy(code = resultCode,
        isNull = org.apache.spark.sql.catalyst.expressions.codegen
          .FalseLiteral)
    }

    override protected def withNewChildInternal(
        newChild: Expression): HyperplaneKeys =
      copy(child = newChild)
  }

  def hyperplaneKeys(vec: Column, planes: Seq[Seq[Seq[Double]]]): Column =
    Columns.of(HyperplaneKeys(Columns.exprOf(vec), planes))

}
