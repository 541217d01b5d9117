package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional: further args name a subset of gates to dump (targeted
    // re-checks at larger scale factors); oracle_sql.json is filtered to
    // match so scripts/check.py sees a consistent set. Unknown names are
    // an error — a typo would otherwise produce an empty run that
    // check.py reports as vacuously passing.
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown gate name(s): ${unknown.mkString(", ")}")
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // GateNorm: every numeric gate column leaves the engine as int64
    // (ints cast, doubles micro-unit-quantized) and the paired oracle SQL
    // is rewritten with the identical transformation — the mechanical fix
    // for the round-5/6 hash-only reds (HUGEINT→float64 dtype skew and
    // last-ulp double skew). The rewrite is driven by the Spark result
    // schema, captured here per gate.
    val schemas = scala.collection.mutable.Map.empty[String,
      org.apache.spark.sql.types.StructType]
    // Per-gate watchdog (round-7 lesson): one pathological gate must never
    // zero the whole artifact — r7's CORRECTNESS json came back `{}`
    // because a single gate spent 20+ min inside Catalyst planning and the
    // driver's budget ran out before ANY result was written. Each gate runs
    // on a daemon thread under its own job group; on timeout the group is
    // cancelled, the gate is logged as timed out, and the loop moves on.
    // (A driver-side planning hang ignores the cancel — the daemon thread
    // is simply abandoned; it cannot block JVM exit.)
    val gateTimeoutMs =
      sys.env.getOrElse("SPARK_GRAFT_GATE_TIMEOUT_SEC", "300").toLong * 1000L
    // Timed-out gates stay poisoned forever (round-8 advice): the
    // abandoned daemon thread may RESUME after cancelJobGroup (a
    // driver-side planning hang ignores the cancel), submit new jobs,
    // and try to overwrite $outDir/$name concurrently with later gates
    // or the final artifact assembly. The worker re-checks its cancelled
    // flag immediately before the write and before publishing its
    // schema, and the artifact assembly excludes the name regardless.
    val timedOut = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        @volatile var err: Option[Throwable] = None
        val t = new Thread(() => {
          spark.sparkContext.setJobGroup(s"gate-$name", name,
            interruptOnCancel = true)
          try {
            val df = fn(spark, sfDir)
            val schema = df.schema
            if (!timedOut.contains(name)) {
              GateNorm.quantize(df).coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/$name")
              // only a COMPLETE dump publishes its schema: a half-written
              // gate must not get its oracle SQL emitted as if it passed;
              // a CANCELLED gate must not publish even a complete one
              if (!timedOut.contains(name))
                schemas.synchronized { schemas(name) = schema }
            }
          } catch { case e: Throwable => err = Some(e) }
          finally spark.sparkContext.clearJobGroup()
        }, s"verify-$name")
        t.setDaemon(true)
        t.start()
        t.join(gateTimeoutMs)
        if (t.isAlive) {
          timedOut.add(name) // BEFORE the cancel: the worker must see it
          spark.sparkContext.cancelJobGroup(s"gate-$name")
          t.join(15000)
          System.err.println(
            s"[verify] $name timed out after ${gateTimeoutMs / 1000}s")
        } else err.foreach(e =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}"))
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // snapshot under the map's own lock and drop timed-out names: a
    // zombie worker completing mid-assembly must not race this read or
    // resurrect a gate the watchdog already disowned
    val finalSchemas = schemas.synchronized { schemas.toMap }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) =>
        (only.isEmpty || only(k)) && !timedOut.contains(k) }
      .map { case (k, v) =>
        val sql = finalSchemas.get(k).fold(v)(GateNorm.wrapOracle(v, _))
        s"${q(k)}: ${q(sql)}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
