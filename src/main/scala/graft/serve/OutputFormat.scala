package graft.serve

import org.apache.spark.sql.{Dataset, Encoders, Row}

import graft.plan.{Frame, TsStore}

/** Result serialization — the `output {format, timestamp}` clause
  * (reference: akumulid/query_results_pooler.cpp:31-227 CSV, :230-380 RESP;
  * ISO timestamp datetime.cpp:150-172).
  *
  * Row layout (CSV): `sname,timestamp,value[,value...]` — one line per
  * sample; tuple cells that are missing print as empty fields (the
  * reference's presence bitmap, query_results_pooler.cpp:165-191); doubles
  * print like C's `%.17g`; ISO timestamps print basic format
  * `YYYYMMDDThhmmss.fffffffff` (9-digit ns fraction), raw ones as the ns
  * integer.
  *
  * This is the serving edge: a per-partition string map over the final
  * ordered frame, streamed to the client via `toLocalIterator`, one
  * partition at a time — no driver materialization beyond one partition.
  * A small result is one partition of at most the advisory size
  * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`, by the planner's
  * Catalyst estimate); a larger one is range-sorted into partitions AQE
  * coalesces to that size.
  */
object OutputFormat {

  /** CSV lines in reference layout. */
  def csv(frame: Frame, isoTimestamps: Boolean = true): Dataset[String] =
    lines(frame, isoTimestamps, resp = false)

  /** RESP wire form: sname as simple string `+`, timestamp `+iso` (or
    * `:ns`), each value `+%.17g` (reference:
    * query_results_pooler.cpp:230-380). Lines are CRLF-joined per sample. */
  def resp(frame: Frame, isoTimestamps: Boolean = true): Dataset[String] =
    lines(frame, isoTimestamps, resp = true)

  private def lines(frame: Frame, iso: Boolean, resp: Boolean): Dataset[String] = {
    val df = frame.df
    val schema = df.schema
    val nameIdx = schema.fieldIndex(TsStore.Sname)
    val tsIdx = if (schema.fieldNames.contains(TsStore.Ts))
      schema.fieldIndex(TsStore.Ts) else -1
    val vIdxs = frame.valueCols.map(schema.fieldIndex).toArray
    val stringy = frame.valueCols.map(vc =>
      schema(vc).dataType == org.apache.spark.sql.types.StringType).toArray
    df.mapPartitions { it =>
      val sb = new StringBuilder(128)
      it.map { row =>
        sb.clear()
        if (resp) sb.append('+')
        sb.append(row.getString(nameIdx))
        if (tsIdx >= 0) {
          sb.append(if (resp) "\r\n" else ",")
          if (resp && !iso) sb.append(':')
          else if (resp) sb.append('+')
          val ts = row.getLong(tsIdx)
          if (iso) sb.append(isoBasic(ts)) else sb.append(ts)
        }
        var j = 0
        while (j < vIdxs.length) {
          if (row.isNullAt(vIdxs(j))) {
            // missing tuple cell -> empty field (bitmap bit = 0); but a
            // payload-NONE sample (first/last_timestamp aggregates) emits
            // NO field at all (reference: query_results_pooler.cpp:113-130
            // skips the value when FLOAT_BIT is unset)
            if (!frame.omitNullValue) sb.append(if (resp) "\r\n+" else ",")
          } else {
            sb.append(if (resp) "\r\n+" else ",")
            if (stringy(j)) sb.append(row.getString(vIdxs(j)))
            else sb.append(formatG17(row.getDouble(vIdxs(j))))
          }
          j += 1
        }
        sb.toString
      }
    }(Encoders.STRING)
  }

  /** ISO-8601 basic format with 9-digit ns fraction, UTC — matches the
    * reference's `%04d%02d%02dT%02d%02d%02d.%09d`
    * (reference: datetime.cpp:150-172). */
  def isoBasic(tsNs: Long): String = graft.model.AkuTime.formatIso(tsNs)

  /** C `printf("%.17g")` semantics: 17 significant digits, trailing zeros
    * stripped, scientific notation when exp < -4 or >= 17. Java's own %g
    * neither strips zeros nor matches the exponent threshold rule. */
  def formatG17(x: Double): String = {
    if (x.isNaN) return "nan"
    if (x.isInfinite) return if (x > 0) "inf" else "-inf"
    if (x == 0.0) return if (1.0 / x < 0) "-0" else "0"
    // HALF_EVEN: C's %g rounds the exact decimal expansion of the binary
    // value half-to-even; MathContext's default HALF_UP prints one ULP
    // high on exact ties (e.g. 125000000000000.125)
    val bd = new java.math.BigDecimal(x)
      .round(new java.math.MathContext(17, java.math.RoundingMode.HALF_EVEN))
      .stripTrailingZeros()
    val exp = bd.precision() - bd.scale() - 1 // decimal exponent
    if (exp < -4 || exp >= 17) {
      val unscaled = bd.unscaledValue.toString
      val neg = if (unscaled.startsWith("-")) "-" else ""
      val digits = unscaled.stripPrefix("-")
      val mantissa =
        if (digits.length == 1) digits
        else s"${digits.head}.${digits.tail}"
      val sign = if (exp < 0) "-" else "+"
      f"$neg$mantissa%se$sign${math.abs(exp)}%02d"
    } else bd.toPlainString
  }
}
