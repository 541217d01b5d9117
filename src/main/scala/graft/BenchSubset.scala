package graft

import org.apache.spark.sql.functions._

/** Focused re-timer for a subset of gates: the full [[Bench]] runs all
  * 218 queries back-to-back, so a single number carries whatever GC/JIT
  * state the previous 100 queries left behind. When the official run
  * flags a query >2x its cross-run floor, this tool answers "is that the
  * plan or the neighborhood?" — each named query runs `reps` passes in a
  * fresh-warmed session and reports min/median, which either reproduces
  * the floor (noise: root cause is bench neighborhood) or doesn't (real:
  * go read the plan).
  *
  * Usage: runMain graft.BenchSubset [sfDir] [reps] [--reseed] name...
  * Prints one JSON line
  * {"metric":"bench_subset","queries":{name:{"min":s,"median":s}}}
  * plus per-pass stderr lines.
  *
  * `--reseed` is the SANCTIONED floor-re-seed path (VERDICT r10 #4): for
  * each named query whose passes CONVERGED (median <= 1.3x min — i.e.
  * the isolated minimum is reproducible, not one lucky pass), the ledger
  * entry in BENCH_floor.json is LOWERED-or-seeded to the converged
  * minimum and stamped `subset-converged@host@date` provenance; an
  * existing lower floor is kept (a converged-but-contended subset must
  * not degrade the ledger — delete the value entry first for a
  * deliberate upward re-seed after a plan change). A full
  * Bench run refuses to seed an entry whose value was deleted but whose
  * provenance remains, so deliberate re-seeds flow through here and the
  * ledger records where every floor came from. Unconverged queries are
  * reported and left untouched.
  */
object BenchSubset {
  def main(args: Array[String]): Unit = {
    val reseed = args.contains("--reseed")
    val a = args.filterNot(_ == "--reseed")
    val sfDir = a.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = a.drop(1).headOption.map(_.toInt).getOrElse(3)
    val names = a.drop(2).toSeq
    require(names.nonEmpty, "usage: BenchSubset sfDir reps [--reseed] name...")
    require(!reseed || reps >= 3, "--reseed needs >= 3 reps to converge")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown gate(s): ${unknown.mkString(", ")}")
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same engine warmup as Bench: codegen/shuffle init must not land on
    // the first named query's pass 1
    import spark.implicits._
    spark.range(1000000).select(sum(col("id"))).head()
    Seq(("w", 1)).toDF("a", "b").repartition(2, col("a"))
      .groupBy("a").agg(sum(col("b"))).count()
    graft.sources.TestData.events(spark, sfDir) // ingest, before any timer
    val stats = names.map { name =>
      val times = (0 until reps).map { i =>
        val t0 = System.nanoTime()
        // same forced terminal as Bench: floors, re-seeds and the
        // official sweep must all time ONE shape (r13 hollow-wall fix)
        Bench.timedTerminal(name, SparkEntry.queries(name)(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        Console.err.println(f"[subset] $name%-32s pass$i $dt%7.3f s")
        dt
      }
      val sorted = times.sorted
      val median =
        if (reps % 2 == 1) sorted(reps / 2)
        else (sorted(reps / 2 - 1) + sorted(reps / 2)) / 2.0
      name -> ((times.min, median))
    }
    println(stats.map { case (k, (mn, md)) =>
      f""""$k":{"min":$mn%.3f,"median":$md%.3f}"""
    }.mkString("""{"metric":"bench_subset","queries":{""", ",", "}}"))
    if (reseed) {
      val (q0, r0, p0, prov0, mayPersist) = Bench.loadFloor(sfDir)
      if (!mayPersist)
        Console.err.println(s"[subset] NOT reseeding: ledger is bound to " +
          s"a different sf than $sfDir")
      else {
        val stampVal = Bench.provStamp("subset-converged")
        val (conv, unconv) = stats.partition {
          case (_, (mn, md)) => md <= 1.3 * mn }
        unconv.foreach { case (k, (mn, md)) => Console.err.println(
          f"[subset] NOT reseeding $k: unconverged (min $mn%.3f, " +
            f"median $md%.3f > 1.3x) — rerun on a quieter host") }
        if (conv.nonEmpty) {
          // never RAISE an existing floor: a converged subset on a busy
          // host is still reproducibly-contended, and silently replacing
          // a better floor upward degrades the ledger. An intentional
          // upward re-seed (plan changed) deletes the value entry first
          // — the seed below then records the converged minimum.
          val (seeds, kept) = conv.partition { case (k, (mn, _)) =>
            q0.get(k).forall(mn < _) }
          kept.foreach { case (k, (mn, _)) => Console.err.println(
            f"[subset] keeping floor $k = ${q0(k)}%.3f s (converged " +
              f"$mn%.3f is no better; delete the entry to re-seed up)") }
          // a kept-but-UNSTAMPED floor the converged minimum lands
          // within 2x of gets a confirmation line (same attestation
          // semantics as the full run's `full-run-confirmed`): the
          // legacy value is auditable without being lowered
          val confirmStamp = Bench.provStamp("subset-confirmed")
          val confirms = kept.collect {
            case (k, (mn, _)) if !prov0.contains(k) &&
                q0.get(k).exists(f => mn <= 2 * f) =>
              k -> confirmStamp
          }
          confirms.foreach { case (k, _) => Console.err.println(
            f"[subset] confirmed floor $k = ${q0(k)}%.3f s " +
              f"($confirmStamp)") }
          if (seeds.nonEmpty || confirms.nonEmpty) {
            val q = q0 ++ seeds.map { case (k, (mn, _)) => k -> mn }
            val prov = prov0 ++ confirms ++
              seeds.map { case (k, _) => k -> stampVal }
            Bench.writeFloor(sfDir, q, r0, p0, prov)
            seeds.foreach { case (k, (mn, _)) => Console.err.println(
              f"[subset] reseeded floor $k = $mn%.3f s ($stampVal)") }
          }
        }
      }
    }
    spark.stop()
  }
}
