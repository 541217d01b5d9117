package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.io.LineProtocol

/** Per-round benchmark: every gated query at SPARK_GRAFT_SF_DIR, plus an
  * ingestion-throughput microbench against BASELINE.md's write numbers.
  * Failures are reported as explicit error markers (value -1, message in
  * "errors") — never as a fast wall-time. Output: ONE JSON line. */
object Bench {

  /** Render `n` samples as RESP session files (one per session, written in
    * parallel): an 800-series dictionary prelude, then `:id`/`:ts`/`+value`
    * data points — the wire shape a dictionary-enabled TCP client sends. */
  def renderRespSessions(dir: java.io.File, n: Long, sessions: Int): Unit = {
    val metrics = 8; val hosts = 100
    val nSeries = metrics * hosts
    // any session count works: the first (n % sessions) sessions carry
    // one extra sample; ts ranges stay disjoint via the (base+1) stride
    val base = n / sessions
    val rem = (n % sessions).toInt
    if (dir.exists()) dir.listFiles().foreach(_.delete())
    dir.mkdirs()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until sessions).map { s =>
      new Thread(() => try {
        val per = (base + (if (s < rem) 1 else 0)).toInt
        val sb = new java.lang.StringBuilder(per * 44 + nSeries * 32)
        sb.append('*').append(nSeries * 2).append('\n')
        var i = 0
        while (i < nSeries) {
          sb.append("+cpu").append(i % metrics)
            .append(" host=h").append(i / metrics).append('\n')
          sb.append(':').append(i).append('\n')
          i += 1
        }
        var j = 0
        var ts = 1700000000000000000L + s.toLong * (base + 1) * 40000L
        while (j < per) {
          sb.append(':').append(j % nSeries).append('\n')
          sb.append(':').append(ts).append('\n')
          sb.append('+').append((j % 1000).toDouble).append('\n')
          ts += 40000L
          j += 1
        }
        java.nio.file.Files.write(
          new java.io.File(dir, f"session_$s%02d.resp").toPath,
          sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // a swallowed writer failure would otherwise surface later as a
    // baffling "parse bench dropped rows"
    if (!errs.isEmpty) throw new RuntimeException("session render failed",
      errs.peek())
  }

  /** Contention guard (round-6): run `rep` until the two best samples agree
    * within `agree`× (or `maxReps` is hit) and keep the min. A noisy host
    * produces uniformly-inflated single samples; two independent samples
    * that agree are evidence the number is the code's, not the neighbor's. */
  def stableMin(maxReps: Int, agree: Double = 1.5)(rep: Int => Double): Double = {
    val times = scala.collection.mutable.ArrayBuffer[Double]()
    while (times.size < maxReps &&
           (times.size < 2 || { val s = times.sorted; s(1) > s(0) * agree }))
      times += rep(times.size)
    times.min
  }

  /** Evaluation-forcing terminal for gate timing (r13): `count()` lets
    * Catalyst prune a row-preserving gate's computed columns — a Window
    * whose outputs are unreferenced is eliminated outright — so a
    * count-timed wall can measure the SCAN, not the operator (the r13
    * ScaleCheck audit caught sessionize "processing" 100M rows in
    * 0.32s this way). Hashing every output column makes each value
    * load-bearing; map columns go through `to_json` (hash functions
    * reject MapType), and `bit_xor` aggregates the hashes without the
    * ANSI overflow a sum would hit. The gate's terminal ORDER BY still
    * drops under the aggregate — output ordering is the consumer's
    * cost, not the operator's, and keeping it out preserves that
    * boundary consistently across all gates. Returns the row count.
    * BenchSubset and the in-run adjudicator use the same terminal
    * (via [[timedTerminal]]), so floors, re-seeds and adjudication all
    * time one shape per gate.
    *
    * Hashable columns: xxhash64 rejects MapType at ANY nesting depth
    * (array<map>, a map inside a struct field), so any column whose
    * type CONTAINS a map routes through `to_json` — a future gate with
    * a nested map is timed rather than recorded as a bench error. */
  private[graft] def hashableCols(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.types._
    def containsMap(dt: DataType): Boolean = dt match {
      case _: MapType         => true
      case a: ArrayType       => containsMap(a.elementType)
      case s: StructType      => s.fields.exists(f => containsMap(f.dataType))
      case _                  => false
    }
    df.schema.fields.toSeq.map { f =>
      if (containsMap(f.dataType))
        org.apache.spark.sql.functions.to_json(
          org.apache.spark.sql.functions.col(f.name))
      else org.apache.spark.sql.functions.col(f.name)
    }
  }

  def forceTimed(df: org.apache.spark.sql.DataFrame): Long =
    df.agg(count(lit(1)).as("__n"),
        org.apache.spark.sql.functions.bit_xor(
          org.apache.spark.sql.functions.xxhash64(hashableCols(df): _*))
          .as("__h"))
      .head().getLong(0)

  /** Gates timed with the ORDER-PRESERVING terminal: [[forceTimed]]'s
    * aggregate deliberately drops a gate's terminal ORDER BY (output
    * ordering is the consumer's cost), but the reference's merge
    * materializers DO pay time-order output cost on every query — this
    * set closes that gap by measurement rather than argument (VERDICT
    * r13 #6). The gate's own terminal sort is what gets preserved. */
  val orderedTerminalGates: Set[String] = Set("ts_select_ordered")

  /** Order-preserving evaluation-forcing terminal: a per-partition
    * CHAIN hash over every output column consumes each row's value AT
    * ITS POSITION, so Catalyst cannot eliminate the gate's terminal
    * Sort (EliminateSorts drops a sort under an order-agnostic
    * aggregate, but mapPartitions is opaque and order-dependent) — the
    * wall includes the range exchange + per-partition sort the
    * reference pays to emit time-ordered output. Driver receives one
    * (count, hash) pair per partition. Returns the row count. */
  private def orderedTerminal(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.Dataset[(Long, Long)] = {
    val hashed = df.select(org.apache.spark.sql.functions
      .xxhash64(hashableCols(df): _*).as("__h"))
    implicit val enc: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    implicit val enc2: org.apache.spark.sql.Encoder[(Long, Long)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong)
    hashed.as[Long].mapPartitions { it =>
      var h = 0L; var n = 0L
      while (it.hasNext) { h = h * 1315423911L + it.next(); n += 1 }
      Iterator((n, h))
    }
  }

  def forceTimedOrdered(df: org.apache.spark.sql.DataFrame): Long =
    orderedTerminal(df).collect().map(_._1).sum

  /** The ordered terminal's executed-plan string — PlanAudit proves the
    * gate's Sort survives under it (the r13 hollow-terminal lesson:
    * never assume the optimizer left the work in). */
  def orderedTerminalPlan(df: org.apache.spark.sql.DataFrame): String =
    orderedTerminal(df).queryExecution.executedPlan.toString

  /** The terminal dispatcher every timing consumer shares (Bench,
    * BenchSubset, the in-run adjudicator): one shape per gate name, so
    * floors, re-seeds and adjudication always time the same thing. */
  def timedTerminal(name: String,
                    df: org.apache.spark.sql.DataFrame): Long =
    if (orderedTerminalGates(name)) forceTimedOrdered(df)
    else forceTimed(df)

  /** Cross-run floor ledger: per-query best-ever seconds and best-ever
    * ingest rates, persisted in the repo so a contended official run still
    * carries the uncontended signal beside its own numbers. Floors are keyed
    * by query name only — editing a gate's implementation invalidates its
    * floor, so delete the entry from BENCH_floor.json in the same commit.
    * The r13 switch of the timing terminal from count() to [[forceTimed]]
    * invalidated EVERY query floor at once (the hollow-measurement fix);
    * the whole queries ledger was reset and re-seeded in that commit. */
  val floorPath = java.nio.file.Paths.get("BENCH_floor.json")

  /** Plan-regression guard (VERDICT r6 #8): an audited query whose
    * executed-plan exchange count EXCEEDS its ledger floor is a shuffle
    * regression — wall-clock on this host swings 3-30x with contention,
    * but the exchange count of an unchanged plan is deterministic, so
    * this is the one bench signal that can hard-fail. A DELIBERATE plan
    * change (new exchange that buys something) follows the ledger
    * discipline above: delete the query's entry from BENCH_floor.json in
    * the same commit, and the next run re-seeds it. */
  def planRegressions(floor: Map[String, Double],
                      current: Map[String, Int]): Seq[String] =
    current.toSeq.sortBy(_._1).collect {
      case (k, ex) if floor.get(k).exists(ex > _) =>
        s"$k: exchanges $ex > floor ${floor(k).toInt}"
    }

  /** Directory-level partition-pruning evidence (VERDICT r9 #6):
    * (partitions read, partitions total) summed over the PARTITIONED
    * file scans in `df`'s physical plan — (0, 0) when no scan is
    * partition-structured. "Read" re-applies each scan's own static
    * partitionFilters through the public `FileIndex.listFiles` path,
    * i.e. exactly the directory pruning the scan performs at execution;
    * the `pushed_scans` regex cannot see this (cell/step probes prune
    * at the directory level, not via PushedFilters), so IVF and rollup
    * gates prove their pruned fraction here instead of only in specs.
    * Dynamic-pruning subqueries are excluded: they are unevaluable at
    * audit time and only ever prune FURTHER than the static count. */
  def partitionPruning(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    var read = 0
    var total = 0
    df.queryExecution.sparkPlan.foreach {
      case f: FileSourceScanExec if f.relation.partitionSchema.nonEmpty =>
        val static = f.partitionFilters.filterNot(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
        total += f.relation.location.listFiles(Nil, Nil).size
        read += f.relation.location.listFiles(static, Nil).size
      case _ => ()
    }
    (read, total)
  }

  /** Returns (queryFloors, rateFloors, planFloors, provenance,
    * mayPersist). The ledger is bound to one scale factor — numbers from
    * a dev run at sf0.001 must neither read as nor overwrite the official
    * sf0.1 floors, so on an sf mismatch the maps come back empty and the
    * run must not write the file. planFloors = minimum-ever exchange
    * count per audited query; provenance = per-query-floor origin string
    * `<source>@<host>@<date>` (source: `full-run` when the full Bench
    * sweep set the value, `subset-converged` when a BenchSubset
    * `--reseed` recorded its converged isolated minimum). */
  def loadFloor(sfDir: String,
                path: java.nio.file.Path = floorPath)
  : (Map[String, Double], Map[String, Double],
      Map[String, Double], Map[String, String], Boolean) = {
    if (!java.nio.file.Files.exists(path))
      return (Map.empty, Map.empty, Map.empty, Map.empty, true)
    try {
      // minimal flat-JSON parse (string->number / string->string maps);
      // avoids a JSON dep
      val txt = new String(java.nio.file.Files.readAllBytes(path),
        java.nio.charset.StandardCharsets.UTF_8)
      // the exponent needs its own sign: Double.toString(9.5e-4) is
      // "9.5E-4", and a class without '-' would stop the match at "9.5E"
      // and make toDouble throw — blanking the WHOLE ledger (fails
      // closed, but every floor check is lost)
      val entry =
        """"([^"]+)"\s*:\s*(-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)""".r
      val sentry = """"([^"]+)"\s*:\s*"([^"]*)"""".r
      def body(key: String): Option[String] =
        ("\"" + key + "\"\\s*:\\s*\\{").r.findFirstMatchIn(txt)
          // tolerate arbitrary JSON whitespace: locate the key's object
          // by regex, then scan to its closing brace (flat objects only)
          .map(m => txt.substring(m.end, txt.indexOf('}', m.end)))
      def section(key: String): Map[String, Double] =
        body(key).map(b => entry.findAllMatchIn(b)
          .map(e => e.group(1) -> e.group(2).toDouble).toMap)
          .getOrElse(Map.empty)
      def ssection(key: String): Map[String, String] =
        body(key).map(b => sentry.findAllMatchIn(b)
          .map(e => e.group(1) -> e.group(2)).toMap)
          .getOrElse(Map.empty)
      val sfRe = """"sf"\s*:\s*"([^"]*)"""".r
      val ledgerSf = sfRe.findFirstMatchIn(txt).map(_.group(1))
      if (ledgerSf.exists(_ != sfDir))
        (Map.empty, Map.empty, Map.empty, Map.empty, false)
      else (section("queries"), section("rates"), section("plans"),
        ssection("provenance"), true)
    } catch { case _: Throwable =>
      (Map.empty, Map.empty, Map.empty, Map.empty, false) }
  }

  /** Serialize + persist the floor ledger (shared by the full [[Bench]]
    * merge and [[BenchSubset]]'s `--reseed`). Write failures are
    * non-fatal: the ledger is best-effort bookkeeping, never a reason to
    * fail a bench run. */
  def writeFloor(sfDir: String, queries: Map[String, Double],
                 rates: Map[String, Double], plans: Map[String, Double],
                 prov: Map[String, String],
                 path: java.nio.file.Path = floorPath): Unit = {
    def num(m: Map[String, Double], asInt: Boolean = false) =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""$k":${if (asInt) v.toInt.toString else v.toString}""" }
        .mkString("{", ",", "}")
    val provJson = prov.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    try java.nio.file.Files.write(path,
      (s"""{"sf":"$sfDir","queries":${num(queries)},""" +
        s""""rates":${num(rates)},"plans":${num(plans, asInt = true)},""" +
        s""""provenance":$provJson}""" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () }
  }

  /** Query-floor merge with the re-seed guard (VERDICT r10 #4). Returns
    * (mergedFloors, mergedProvenance, refusedSeeds).
    *
    * Merge: per-query min of ledger and this run, pruned to live gates.
    * Provenance: `stamp` on every entry this run SET (new seed or
    * improvement), inherited otherwise. A legacy entry with NO
    * provenance line gets `confirmStamp` when this run REPRODUCED it
    * within 2x (the floor is then auditable: not where the value came
    * from, but a named run that attests it is achievable) — a floor this
    * run could not approach stays unstamped, which is the signal to
    * re-seed it through `BenchSubset --reseed` or retire it.
    *
    * Re-seed guard: a ledger entry whose VALUE was deleted but whose
    * provenance line remains is a half-done re-seed — seeding it from a
    * (possibly contended) full run is exactly the self-fulfilling-floor
    * pattern provenance exists to prevent (r10's doc_simhash re-seed
    * landed ~this-run's value while the converged isolated minimum was
    * 1.7x lower). The seed is REFUSED: the entry stays valueless with
    * its old provenance, keeping the guard armed, and the sanctioned
    * path is `BenchSubset --reseed` (records a converged isolated
    * minimum with `subset-converged` provenance). A FRESH gate (no
    * value, no provenance) seeds normally. */
  def mergeFloors(floorQ0: Map[String, Double], prov0: Map[String, String],
                  okResults: Map[String, Double], gateNames: Set[String],
                  stamp: String, confirmStamp: String = "")
  : (Map[String, Double], Map[String, String], Set[String]) = {
    // every provenance line whose value is absent stays armed — including
    // gates that ERRORED or didn't run this pass. Keying refusal off
    // okResults would drop the orphan line for an absent gate, and the
    // NEXT full run would seed the floor freshly, bypassing exactly the
    // guard the provenance exists to arm.
    val refused = prov0.keySet
      .filter(k => !floorQ0.contains(k) && gateNames(k))
    val floorQ = (floorQ0.keySet ++ okResults.keySet).filter(gateNames)
      .filterNot(refused)
      .map { k =>
        k -> math.min(floorQ0.getOrElse(k, Double.MaxValue),
                      okResults.getOrElse(k, Double.MaxValue))
      }.filter(_._2 < Double.MaxValue).toMap
    val prov = (floorQ.keySet.map { k =>
      val improved = floorQ0.get(k).forall(floorQ(k) < _)
      val inherited = prov0.getOrElse(k, "")
      val confirmed =
        if (inherited.isEmpty &&
            okResults.get(k).exists(_ <= 2 * floorQ(k))) confirmStamp
        else ""
      k -> (if (improved) stamp
            else if (inherited.nonEmpty) inherited
            else confirmed)
    } ++ refused.map(k => k -> prov0(k)))
      .filter(_._2.nonEmpty).toMap
    (floorQ, prov, refused)
  }

  /** Provenance stamp for a floor entry set by the current process. */
  def provStamp(source: String): String = {
    val host = try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Exception => "unknown" }
    s"$source@$host@${java.time.LocalDate.now}"
  }

  /** The one local-mode session posture of every main (Bench,
    * BenchSubset, Verify, ScaleCheck, PlanAudit), so the gates are
    * verified, audited and timed under the same settings: `cpus` task
    * slots and shuffle partitions, UTC. Callers layer their own settings
    * on the builder before `getOrCreate`. */
  def session(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // typed-imperative aggregates (udaf Aggregators: LastTwoAgg,
      // SpaceSaver) run in ObjectHashAggregateExec, which falls back to
      // SORT-based aggregation after 128 distinct keys by default —
      // re-introducing exactly the sort the last-two-samples plan
      // removed. Buffers here are tiny (tens of bytes), so a 64k-key
      // hash map is ~MBs per task: keep the hash regime.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      .config("spark.ui.enabled", "false")
      // local-FS IO: v2 commit (no sequential final renames) and no
      // client-side CRC shadow files — a cluster deployment gets both
      // from its real DFS/object-store committer instead
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.fs.file.impl",
        "org.apache.hadoop.fs.RawLocalFileSystem")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = session(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val skipQueries = sys.env.get("SPARK_GRAFT_BENCH_ONLY").contains("ingest")
    // warm the engine before any timer starts: JVM/codegen/shuffle init
    // otherwise lands on whichever query runs first (~4s on its number)
    // warmup failures must DEGRADE the artifact (the affected queries
    // still report their own errors below), never destroy it: an
    // unguarded warmup turned BENCH_r04 into rc=1 with no JSON at all
    if (!skipQueries) try {
      import spark.implicits._
      spark.range(1000000).select(sum(col("id"))).head()
      Seq(("w", 1)).toDF("a", "b").repartition(2, col("a"))
        .groupBy("a").agg(sum(col("b"))).count()
      SparkEntry.entry(spark).count()
      // the ts gates' events layout is ingest: built before any timer
      graft.sources.TestData.events(spark, sfDir)
    } catch { case e: Throwable =>
      Console.err.println(s"[bench] warmup failed (continuing): ${e.getMessage}")
    }
    val errors = scala.collection.mutable.Map[String, String]()
    val results =
      if (skipQueries) Seq.empty[(String, Double)]
      else SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        def onePass(): Double =
          try {
            val t0 = System.nanoTime()
            timedTerminal(name, fn(spark, sfDir))
            (System.nanoTime() - t0) / 1e9
          } catch { case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.next().take(120)
            -1.0
          }
        // noisy-neighbor guard: this container's per-query wall time
        // swings 3-30x run-to-run under host contention (measured on
        // identical code); a single slow sample on a heavy query would
        // dominate "total". Queries past 2s get ONE retime and keep the
        // min — the ingest stages' best-of-N rule, applied adaptively
        // so the cheap majority still runs once.
        val t1 = onePass()
        val t =
          if (t1 > 2.0) {
            val t2 = onePass()
            // a transient pass-2 failure must not mark a query failed
            // that pass 1 just ran: keep t1, drop the recorded error
            if (t2 >= 0) math.min(t1, t2)
            else { errors.remove(name); t1 }
          } else t1
        name -> t
      }

    // Ingestion throughput against BASELINE.md rows 1-3: REAL wire-format
    // text through the REAL parser and write path. Outside the timers we
    // render n samples of RESP (session dictionary + :id/:ts/+value data
    // points — the reference's high-throughput wire shape,
    // protocolparser.h:133-268) into one file per session. Timed:
    //   parse   = read text + LineProtocol.parseResp -> count
    //   write   = read text + parse + RunLog.spoolResp: durable,
    //             queryable delta-encoded run files — the reference's
    //             WAL-then-tree ingest architecture (input_log.cpp); its
    //             published write numbers pay for exactly this stage
    //   write_clustered = read + parse + Ingest.writeLayout (sorted
    //             partitioned parquet) fully synchronously — the
    //             everything-up-front variant, kept for reference
    //   compact = RunLog.compactRuns: runs -> salted sorted layout, the
    //             maintenance stage (the reference's tree/volume upkeep)
    val n = 8000000L // ~ the reference CI corpus (8.64M pts, roundtrip.sh)
    val sessions = cpus.toInt
    val respDir = new java.io.File("/tmp/graft_bench_resp")
    val benchPath = "/tmp/graft_bench_ingest"
    // same degrade-don't-destroy rule as the query warmup: a broken
    // ingest stage reports rate -1 and the artifact still prints
    val (ingestRate, writeRate, clusteredRate, compactRate) = try {
    renderRespSessions(respDir, n, sessions)

    // warm-up pass (JIT the parser + writer code paths, prime page cache),
    // then measured passes of each stage
    graft.io.Ingest.respFilesFlat(spark, respDir.getPath, Seq("host"))
      .count()

    // Parse rate = read wire text + decode + full RESP protocol parse,
    // every sample materialized as a ParsedSample — the work the
    // reference's TCP parser does per sample (protocolparser.cpp:1-977).
    // Deliberately NOT a Dataset count: that would time catalyst row
    // encoding (storage-write work, charged to the write metric below),
    // not parsing. Best of 3 passes: single-pass wall time on this
    // container swings ~2x with page-cache and GC luck.
    // Best-of-N with the round-6 contention guard: keep sampling (up to 6)
    // until two passes agree within 1.5x, so one noisy-neighbor spike can't
    // stand as the official number.
    val parseSec = stableMin(6) { _ =>
      val t0 = System.nanoTime()
      val parsed = graft.io.Ingest.sessionFiles(spark, respDir.getPath)
        .mapPartitions { it =>
          var c = 0L
          it.foreach { content =>
            val ps = LineProtocol.parseRespText(content)
            while (ps.hasNext) { ps.next(); c += 1 }
          }
          Iterator.single(c)
        }.sum().toLong
      require(parsed == n, s"parse bench dropped rows: $parsed != $n")
      val dt = (System.nanoTime() - t0) / 1e9
      Console.err.println(f"PARSEREP $dt%.2f s")
      dt
    }

    // Write rate = parse + shuffle + in-partition sort + partitioned
    // parquet encode. Best of 3 like the parse metric: the first pass
    // additionally pays whole-stage codegen + JIT for the exchange/sort/
    // parquet paths (~3x on this container), which is startup cost, not
    // throughput.
    val clusteredSec = stableMin(6) { _ =>
      val t0 = System.nanoTime()
      graft.io.Ingest.ingestResp(spark, respDir.getPath, benchPath,
        flattenTags = Seq("host"))
      val dt = (System.nanoTime() - t0) / 1e9
      Console.err.println(f"CLUSTERREP $dt%.2f s")
      dt
    }

    // The ingest WRITE path proper: parse -> durable, queryable run log
    // (RunLog.spoolResp) — the reference's WAL-then-tree architecture
    // (input_log.cpp + in-memory NB+tree; its 16.1M/s pays for exactly
    // this stage, with volume flushes running as maintenance). Our
    // equivalent maintenance is compactRuns (runs -> salted sorted
    // parquet), measured separately below; the fully-synchronous
    // clustered write above is also kept for reference. Each rep spools
    // into a FRESH directory (deletion outside the timer).
    val spoolBase = new java.io.File("/tmp/graft_bench_spool")
    def freshSpool(i: Int): String = {
      val d = new java.io.File(spoolBase, s"rep$i")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(d); d.mkdirs(); d.getPath
    }
    var lastSpoolRep = 0
    val spoolSec = stableMin(6) { i =>
      val dir = freshSpool(i)
      lastSpoolRep = i
      val t0 = System.nanoTime()
      val spooled = graft.io.RunLog.spoolResp(spark, respDir.getPath, dir,
        flattenTags = Seq("host"))
      val dt = (System.nanoTime() - t0) / 1e9
      require(spooled == n, s"spool dropped rows: $spooled != $n")
      Console.err.println(f"SPOOLREP $dt%.2f s")
      dt
    }
    // maintenance: re-cluster the spooled runs into the query layout
    // (the final rep's spool is intact after the loop above)
    val lastSpool = new java.io.File(spoolBase, s"rep$lastSpoolRep").getPath
    val compactSec = stableMin(4) { _ =>
      val t0 = System.nanoTime()
      graft.io.RunLog.compactRuns(spark, lastSpool, benchPath)
      val dt = (System.nanoTime() - t0) / 1e9
      Console.err.println(f"COMPACTREP $dt%.2f s")
      dt
    }
    (n / parseSec, n / spoolSec, n / clusteredSec, n / compactSec)
    } catch { case e: Throwable =>
      errors("ingest_bench") = Option(e.getMessage).getOrElse(e.getClass.getName)
        .linesIterator.next().take(120)
      (-1.0, -1.0, -1.0, -1.0)
    }

    val okResults = results.filter(_._2 >= 0)
    val total = okResults.map(_._2).sum

    // Plan regression tripwire (VERDICT r5 #8, widened r8): audit EVERY
    // gate's executed plan — the old top-10-by-wall-clock set was
    // timing-noise-dependent, so a shuffle regression in a query that
    // drifted out of the top 10 escaped the hard-fail. Plan capture is
    // driver-side and cheap; publish exchange/broadcast/pruned-scan counts
    // plus plan_ms (wall time to MATERIALIZE executedPlan — the round-7
    // BigInteger stats explosion was 20 min of pure planning, invisible to
    // both the exchange guard and the execution floors until it errored).
    val planAudit: Seq[(String, Int, Long, String)] =
      if (skipQueries) Seq.empty
      else SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          val t0 = System.nanoTime()
          val plan = df.queryExecution.executedPlan.toString
          val planMs = (System.nanoTime() - t0) / 1000000L
          val ex = "Exchange (hash|range)partitioning".r.findAllIn(plan).size
          val bc = "BroadcastExchange".r.findAllIn(plan).size
          val scans = "Scan parquet".r.findAllIn(plan).size
          val pushed = "PushedFilters: \\[[^\\]]".r.findAllIn(plan).size
          val (pRead, pTotal) = partitionPruning(df)
          Some((name, ex, planMs,
            s"""{"exchanges":$ex,"broadcasts":$bc,"scans":$scans,""" +
              s""""pushed_scans":$pushed,"parts_read":$pRead,""" +
              s""""parts_total":$pTotal,"plan_ms":$planMs}"""))
        } catch { case _: Throwable => None }
      }
    // Planning-wall-time guard: any single plan materialization past the
    // cap is a planner pathology (stats blowup, rule fixpoint runaway) —
    // absolute threshold, not a ledger: plan time is JIT-noisy run-to-run
    // but healthy plans are ~100ms and the failure mode is minutes.
    val planTimeCapMs =
      sys.env.getOrElse("SPARK_GRAFT_PLAN_CAP_MS", "60000").toLong
    val planTimeRegs = planAudit.collect {
      case (k, _, ms, _) if ms > planTimeCapMs =>
        s"$k: plan_ms $ms > cap $planTimeCapMs"
    }

    // Cross-run contention floor (VERDICT r5 #2): merge this run into the
    // best-ever ledger and publish both. contention_factor is the median
    // this-run/floor ratio over queries the ledger already knew — ~1 on a
    // quiet host, >>1 when the container is degraded (r5's official run
    // measured 3-6x on identical code). A factor > 2 flags the run's own
    // times as unrepresentative; the floor columns carry the real signal.
    val (floorQ0, floorR0, floorP0, prov0, floorPersist) = loadFloor(sfDir)
    // exchange-count guard: evaluated against the PRE-merge ledger, the
    // merged ledger keeps the min so a deliberate improvement ratchets.
    // Ledger hygiene (r7 advice): entries whose gate no longer exists are
    // pruned on merge — a renamed/removed query must not haunt the file.
    val gateNames = SparkEntry.queries.keySet
    val exNow = planAudit.map { case (k, ex, _, _) => k -> ex }.toMap
    val planRegs = planRegressions(floorP0, exNow)
    val floorP = (floorP0.keySet ++ exNow.keySet).filter(gateNames).map { k =>
      k -> math.min(floorP0.getOrElse(k, Double.MaxValue),
        exNow.get(k).map(_.toDouble).getOrElse(Double.MaxValue))
    }.filter(_._2 < Double.MaxValue).toMap
    val (floorQ, prov, refusedSeeds) =
      mergeFloors(floorQ0, prov0, okResults.toMap, gateNames,
        provStamp("full-run"), provStamp("full-run-confirmed"))
    refusedSeeds.foreach(k => Console.err.println(
      s"[bench] REFUSING full-run floor re-seed for $k (provenance " +
        s"'${prov0(k)}' still present); use BenchSubset --reseed, or " +
        "delete the provenance entry too for a deliberate fresh seed"))
    val ratios = okResults.flatMap { case (k, v) =>
      floorQ0.get(k).filter(_ > 0).map(v / _) }.sorted
    val contention =
      if (ratios.isEmpty) 1.0 else ratios(ratios.size / 2)

    val qs = results.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    // compact per-query map for the STDOUT contract line: 3-decimal
    // seconds — the full-precision map stays in BENCH_full.json
    val qsCompact = results.map { case (k, v) => f""""$k":$v%.3f""" }
      .mkString("{", ",", "}")
    val errs = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":"${v.replace("\"", "'")}"""" }
      .mkString("{", ",", "}")
    // The driver's per-round artifact keeps only the LAST ~2000 chars of
    // stdout; with the floor ledger printed last, BENCH_r07/r08's tail
    // showed cross-run minima and this run's own numbers were cut — a
    // regression could never appear in the official artifact (round-8
    // verdict #3). Order the line so the big reference maps (plan audit,
    // floors, full query map) come FIRST and a compact THIS-RUN summary
    // comes last: headline rates, contention, how many queries ran past
    // 2x their floor, and the worst floor-ratio offenders with their
    // this-run seconds. BENCH_full.json still carries everything.
    val over2x = okResults.count { case (k, v) =>
      floorQ0.get(k).exists(f => f > 0 && v > 2 * f) }
    // Self-adjudication (VERDICT r11 #2): a query >2x its floor in the
    // sweep is either a plan regression or the sweep's neighborhood (GC/
    // page-cache state left by the previous 200 queries). Previously only
    // a manual BenchSubset repro could tell them apart — the committed
    // artifact couldn't adjudicate itself. Now the same session re-times
    // exactly the flagged queries in isolation (3 passes, keep the min)
    // and records {run_sec, isolated_min, verdict}: `contention` when the
    // isolated minimum lands back under 2x floor, `regression` when even
    // isolated passes stay over — the one case worth a human's plan read.
    val flagged = okResults.filter { case (k, v) =>
      floorQ0.get(k).exists(f => f > 0 && v > 2 * f) }
    val adjudication = flagged.toSeq.sortBy(_._1).map { case (k, runSec) =>
      val fl = floorQ0(k)
      val isoMin = (0 until 3).map { i =>
        try {
          val t0 = System.nanoTime()
          timedTerminal(k, SparkEntry.queries(k)(spark, sfDir))
          val dt = (System.nanoTime() - t0) / 1e9
          Console.err.println(f"[adjudicate] $k%-32s pass$i $dt%7.3f s")
          dt
        } catch { case _: Throwable => Double.MaxValue }
      }.min
      val verdict =
        if (isoMin == Double.MaxValue) "error"
        else if (isoMin <= 2 * fl) "contention"
        else "regression"
      f""""$k":{"run_sec":$runSec%.3f,"isolated_min":$isoMin%.3f,""" +
        f""""x_floor_isolated":${isoMin / fl}%.2f,"verdict":"$verdict"}"""
    }.mkString("{", ",", "}")
    val worst = okResults
      .flatMap { case (k, v) => floorQ0.get(k).filter(_ > 0)
        .map(f => (k, v, v / f)) }
      .sortBy(-_._3).take(12)
      .map { case (k, v, r) => f""""$k":{"sec":$v%.3f,"x_floor":$r%.2f}""" }
      .mkString("{", ",", "}")
    val json = {
        // floors: best-ever rates (max) and the query-time ledger (min);
        // both survive a contended run to stand beside its raw numbers
        val rateNames = Seq("ingest_samples_per_sec" -> ingestRate,
          "write_samples_per_sec" -> writeRate,
          "write_clustered_samples_per_sec" -> clusteredRate,
          "compact_samples_per_sec" -> compactRate)
        val floorR = rateNames.map { case (k, v) =>
          k -> math.max(floorR0.getOrElse(k, -1.0), v) }.toMap
        val floorRJson = floorR.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        val floorQJson = floorQ.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        val auditJson = planAudit
          .map { case (k, _, _, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        // persist the merged ledger for the next run (repo cwd; committed)
        if (floorPersist) writeFloor(sfDir, floorQ, floorR, floorP, prov)
        s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""plan_audit":$auditJson,"queries_floor":$floorQJson,""" +
        s""""rates_floor":$floorRJson,"queries":$qs,""" +
        // ---- this-run summary from here down: the driver-tail window ----
        s""""errors":$errs,"n_ok":${okResults.size},"n_failed":${errors.size},""" +
        s""""ingest_samples_per_sec":$ingestRate,""" +
        // write_samples_per_sec was REDEFINED in round 4 from the
        // synchronous clustered-parquet write (now published as
        // write_clustered_samples_per_sec) to the run-log spool — the
        // adopted ingest architecture; write_path makes the redefinition
        // explicit in the artifact so r1-r3 comparisons aren't read as a
        // like-for-like speedup
        s""""write_samples_per_sec":$writeRate,"write_path":"runlog_spool",""" +
        s""""write_clustered_samples_per_sec":$clusteredRate,""" +
        s""""compact_samples_per_sec":$compactRate,""" +
        s""""this_run":{"total_sec":$total,"contention_factor":$contention,""" +
        s""""n_over_2x_floor":$over2x,"adjudication":$adjudication,""" +
        s""""worst_vs_floor":$worst},""" +
        s""""sf":"$sfDir"}"""
      }
    // The driver parses ONE JSON line from a bounded stdout tail; the
    // rich artifact grew to ~43 KB and its parse returned null for two
    // rounds straight (PERF_r13/r14 per_query both empty). r15: stdout
    // carries ONLY this compact contract line — same fields, 3-decimal
    // query seconds, no plan-audit/floor/adjudication blocks (those live
    // in BENCH_full.json, committed per round). Methodology (timers,
    // terminals, gate set, reps) is unchanged; only the output shape is.
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
        s""""queries":$qsCompact,"errors":$errs,""" +
        s""""n_ok":${okResults.size},"n_failed":${errors.size},""" +
        f""""ingest_samples_per_sec":$ingestRate%.1f,""" +
        f""""write_samples_per_sec":$writeRate%.1f,""" +
        s""""write_path":"runlog_spool",""" +
        f""""write_clustered_samples_per_sec":$clusteredRate%.1f,""" +
        f""""compact_samples_per_sec":$compactRate%.1f,""" +
        f""""contention_factor":$contention%.3f,""" +
        s""""n_over_2x_floor":$over2x,"sf":"$sfDir"}"""
    println(compact)
    // the complete artifact (full precision, plan audit, floors,
    // adjudication) persists next to the repo so every query stays
    // comparable round-over-round
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_full.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () } // read-only cwd: stdout stands
    spark.stop()
    // hard-fail AFTER the artifact is published: the JSON above still
    // carries the full run, but a shuffle regression must not pass as a
    // green bench (see planRegressions scaladoc for the override path)
    if (planRegs.nonEmpty || planTimeRegs.nonEmpty) {
      planRegs.foreach(r => Console.err.println(s"PLAN REGRESSION $r"))
      planTimeRegs.foreach(r => Console.err.println(s"PLAN TIME $r"))
      sys.exit(2)
    }
  }
}
