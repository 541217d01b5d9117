package graft.functions

import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.plan.{Frame, TsStore}

/** SAX (Symbolic Aggregate approXimation) encoding — the Spark analogue of
  * the reference's per-series streaming encoder (reference:
  * libakumuli/query_processing/sax.cpp:1-91, saxencoder.cpp:24-210,
  * saxencoder.h:204-230; exercised by functests/test_sax.py).
  *
  * Per series, in scan order: keep a sliding window of `width` samples;
  * once full, z-normalize the window (sample stddev; if stddev < 1e-10 only
  * the mean is subtracted), bucket each value through the Gaussian
  * cutpoints into `alphabet` letters, and emit the word — with numerosity
  * reduction (consecutive identical words emit once). Output rows replace
  * `value` with the `sax` word; emission starts at the width-th sample.
  *
  * Distribution: repartition by series + sort within partitions — state
  * never leaves the executor, giant series stay single-pass sequential
  * (same shape as Pipe.stateful).
  */
object Sax {

  private val ZnormThreshold = 1e-10
  private val Alphabet = "abcdefghijklmnopqrstu"

  /** The letter for cutpoint-scan index `j` (0-based; index == number of
    * cutpoints at or below the z-score) — the same a..u alphabet
    * [[saxify]] uses, exposed for the declarative motif encoder
    * ([[graft.plan.TsAnalytics.saxMotifs]]). */
  def letter(j: Int): String = Alphabet(j).toString

  /** Gaussian equiprobable cutpoints per alphabet size (public normal-
    * distribution quantiles; reference table saxencoder.cpp:60-131). */
  def cutpoints(n: Int): Array[Double] = {
    require(n >= 1 && n <= 20, "invalid alphabet size") // node range [1,20]
    // quantiles at k/n for k = 1..n-1 of N(0,1), via inverse erf
    Array.tabulate(n - 1)(k => normInv((k + 1).toDouble / n))
  }

  /** Inverse standard-normal CDF — Wichura's algorithm AS 241 (PPND16,
    * Applied Statistics 37, 1988; published algorithm), accurate to full
    * double precision, so cutpoints match the published SAX quantile
    * tables bit-for-bit at test tolerance. */
  private def normInv(p: Double): Double = {
    val q = p - 0.5
    if (math.abs(q) <= 0.425) {
      val r = 0.180625 - q * q
      q * (((((((2.5090809287301226727e+3 * r + 3.3430575583588128105e+4) * r +
        6.7265770927008700853e+4) * r + 4.5921953931549871457e+4) * r +
        1.3731693765509461125e+4) * r + 1.9715909503065514427e+3) * r +
        1.3314166789178437745e+2) * r + 3.3871328727963666080e0) /
        (((((((5.2264952788528545610e+3 * r + 2.8729085735721942674e+4) * r +
          3.9307895800092710610e+4) * r + 2.1213794301586595867e+4) * r +
          5.3941960214247511077e+3) * r + 6.8718700749205790830e+2) * r +
          4.2313330701600911252e+1) * r + 1.0)
    } else {
      var r = if (q < 0) p else 1.0 - p
      r = math.sqrt(-math.log(r))
      val x =
        if (r <= 5.0) {
          r -= 1.6
          (((((((7.74545014278341407640e-4 * r + 2.27238449892691845833e-2) * r +
            2.41780725177450611770e-1) * r + 1.27045825245236838258e0) * r +
            3.64784832476320460504e0) * r + 5.76949722146069140550e0) * r +
            4.63033784615654529590e0) * r + 1.42343711074968357734e0) /
            (((((((1.05075007164441684324e-9 * r + 5.47593808499534494600e-4) * r +
              1.51986665636164571966e-2) * r + 1.48103976427480074590e-1) * r +
              6.89767334985100004550e-1) * r + 1.67638483018380384940e0) * r +
              2.05319162663775882187e0) * r + 1.0)
        } else {
          r -= 5.0
          (((((((2.01033439929228813265e-7 * r + 2.71155556874348757815e-5) * r +
            1.24266094738807843860e-3) * r + 2.65321895265761230930e-2) * r +
            2.96560571828504891230e-1) * r + 1.78482653991729133580e0) * r +
            5.46378491116411436990e0) * r + 6.65790464350110377720e0) /
            (((((((2.04426310338993978564e-15 * r + 1.42151175831644588870e-7) * r +
              1.84631831751005468180e-5) * r + 7.86869131145613259100e-4) * r +
              1.48753612908506148525e-2) * r + 1.36929880922735805310e-1) * r +
              5.99832206555887937690e-1) * r + 1.0)
        }
      if (q < 0) -x else x
    }
  }

  /** Encode one full window to a word (reference: saxencoder.cpp
    * `saxify`). */
  def saxify(
      window: Array[Double], cuts: Array[Double]): String = {
    val n = window.length
    var sum = 0.0; var sqr = 0.0
    var i = 0
    while (i < n) { sum += window(i); sqr += window(i) * window(i); i += 1 }
    val mean = sum / n
    val stddev =
      if (n > 1) math.sqrt((n * sqr - sum * sum) / (n.toDouble * (n - 1)))
      else Double.NaN
    val sb = new StringBuilder(n)
    i = 0
    while (i < n) {
      val v =
        if (stddev < ZnormThreshold) window(i) - mean // incl. NaN stddev
        else (window(i) - mean) / stddev
      // NaN falls through every cutpoint and takes the LAST letter,
      // matching the reference's to_char (saxencoder.cpp:135-142:
      // `value < cuts[i]` is false for NaN at every i)
      var j = 0
      if (v.isNaN) j = cuts.length
      else while (j < cuts.length && v >= cuts(j)) j += 1
      sb.append(Alphabet(j))
      i += 1
    }
    sb.toString
  }

  /** The pipeline node: (sname, ts, value, ...) -> (sname, ts, sax). */
  def node(frame: Frame, alphabet: Int, width: Int): Frame = {
    import TsStore.{Sname, Ts}
    val vc = frame.valueCols.head
    val df = frame.df
    val schema = df.schema
    val nameIdx = schema.fieldIndex(Sname)
    val tsIdx = schema.fieldIndex(Ts)
    val vIdx = schema.fieldIndex(vc)
    val tsOrd = if (frame.backward) col(Ts).desc else col(Ts).asc
    val outSchema = StructType(Seq(
      StructField(Sname, StringType),
      schema(tsIdx),
      StructField("sax", StringType)))
    val cuts = cutpoints(alphabet)

    def encodePartition(entry: String => (Long, Vector[Double]))(
        it: Iterator[Row]): Iterator[Row] = {
      var cur: String = null
      var buf: Array[Double] = null
      var fill = 0
      var last: String = null
      it.flatMap { row =>
        val s = row.getString(nameIdx)
        if (s != cur) {
          cur = s
          buf = new Array[Double](width)
          val (cnt, vals) = entry(s)
          fill = vals.size // = min(cnt, width)
          vals.copyToArray(buf)
          // the word of the entry window was already emitted upstream;
          // numerosity reduction must suppress its repeats here
          last = if (cnt >= width) saxify(buf.take(width), cuts) else null
        }
        if (row.isNullAt(vIdx)) Iterator.empty // missing data not supported
        else {
          // circular-buffer push
          if (fill < width) { buf(fill) = row.getDouble(vIdx); fill += 1 }
          else {
            System.arraycopy(buf, 1, buf, 0, width - 1)
            buf(width - 1) = row.getDouble(vIdx)
          }
          if (fill == width) {
            val word = saxify(buf, cuts)
            if (word != last) {
              last = word
              Iterator.single(Row(s, row.get(tsIdx), word))
            } else Iterator.empty
          } else Iterator.empty
        }
      }
    }

    val out =
      if (ChunkedScan.eligible(df)) {
        // giant series: (series, ts) range partitioning + entry-state
        // handoff. Summary per (partition, series) run = (#samples,
        // last <= width values); entering state replays as a pre-filled
        // window + the word it spells (for cross-chunk numerosity
        // reduction).
        ChunkedScan.keyedScan[
            (Long, Vector[Double]), (Long, Vector[Double])](
          df, Sname, Seq(tsOrd),
          empty = () => (0L, Vector.empty),
          absorbRow = (u, row) =>
            if (row.isNullAt(vIdx)) u
            else (u._1 + 1, (u._2 :+ row.getDouble(vIdx)).takeRight(width)),
          init = () => (0L, Vector.empty),
          advance = (s, u) =>
            (s._1 + u._1, (s._2 ++ u._2).takeRight(width)),
          outSchema)((entry, it) => encodePartition(entry)(it))
      } else df.repartition(col(Sname))
        .sortWithinPartitions(col(Sname), tsOrd)
        .mapPartitions(encodePartition(_ => (0L, Vector.empty)))(
          Encoders.row(outSchema))
    frame.copy(df = out, valueCols = Seq("sax"))
  }
}
