package graft

/** Dev tool: print the executed plan of named gates (all gates if none
  * named) with exchange/broadcast/group-limit counts — the `.explain`
  * audit loop the build process runs after each operator lands. Usage:
  *   runMain graft.PlanAudit <sfDir> [gate ...]
  */
object PlanAudit {

  /** Column names whose cardinality is CORPUS-INDEPENDENT (a handful of
    * sources/languages/splits no matter how big the data): a Window
    * partitioned only by these funnels ~corpus/n_groups rows through one
    * task at 100 TB — the r13 verdict's named scale-killer shape
    * (`doc_ccnet_bucket`'s ntile-per-source). Operators that genuinely
    * need an in-group rank over such keys go through
    * [[graft.llm.Rank.groupRank]] / [[graft.llm.Rank.stagedTopN]], whose
    * final windows are bounded by a shuffle partition / salts·n rows. */
  val LowCardKeys: Set[String] =
    Set("source", "lang", "language", "split", "stratum", "category")

  /** Every WindowExec and WindowGroupLimitExec in `df`'s executed plan
    * (adaptive plans unwrapped). */
  private def windows(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val out = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = {
      p match {
        case w @ (_: WindowExec | _: WindowGroupLimitExec) => out += w
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    out.toSeq
  }

  /** Partition-key name sets of every Window in `df`'s executed plan
    * (WindowExec and WindowGroupLimitExec; adaptive plans unwrapped).
    * Empty inner seq = an unpartitioned (single-task) window. */
  def windowPartitionKeys(df: org.apache.spark.sql.DataFrame)
      : Seq[Seq[String]] = {
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    windows(df).collect {
      case w: WindowExec => w.partitionSpec
      case w: WindowGroupLimitExec => w.partitionSpec
    }.map(_.flatMap(_.references.map(_.name)).distinct)
  }

  /** WindowGroupLimitExec nodes in `df`'s executed plan (a partial and a
    * final one per rank-filtered window): a top-k window that loses its
    * limit sorts every candidate of a group. */
  def groupLimits(df: org.apache.spark.sql.DataFrame): Int =
    windows(df).count(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowGroupLimitExec])

  /** Windows whose EVERY partition key is a known corpus-independent
    * column — the flagged shape. A window also partitioned by a scaling
    * key (series, doc, cell, salt) is fine: its partitions grow in
    * number, not size. */
  def lowCardWindows(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    windowPartitionKeys(df).filter(ks =>
      ks.nonEmpty && ks.forall(k => LowCardKeys(k.toLowerCase)))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = Bench.session("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { q =>
      println(s"===== $q =====")
      try {
        val df = SparkEntry.queries(q)(spark, sfDir)
        val t0 = System.nanoTime()
        val plan = df.queryExecution.executedPlan.toString
        val planMs = (System.nanoTime() - t0) / 1000000L
        val exchanges = "Exchange hash|Exchange range".r.findAllIn(plan).size
        val bcasts = "BroadcastExchange".r.findAllIn(plan).size
        val (pRead, pTotal) = Bench.partitionPruning(df)
        val lcw = lowCardWindows(df)
        println(s"shuffle-exchanges=$exchanges broadcasts=$bcasts" +
          s" group-limits=${groupLimits(df)} plan_ms=$planMs" +
          (if (pTotal > 0) s" partitions=$pRead/$pTotal" else ""))
        lcw.foreach(ks => println(
          s"LOW_CARD_WINDOW: partitioned only by [${ks.mkString(",")}]" +
            " — single-task group sort at scale"))
        // ordered-terminal gates: prove the timing terminal keeps the
        // gate's Sort (the r13 hollow-terminal lesson — never assume the
        // optimizer left the work in). A missing Sort here means the
        // ordered wall is timing the same shape as the plain one.
        if (Bench.orderedTerminalGates(q)) {
          val tplan = Bench.orderedTerminalPlan(df)
          val hasSort = tplan.linesIterator.exists(_.contains("Sort "))
          println(s"ordered_terminal_sort_present=$hasSort")
          if (!hasSort) println(
            "ORDERED_TERMINAL_HOLLOW: the timing terminal's plan has no" +
              " Sort — the ordered wall would time the unordered shape")
        }
        println(plan.linesIterator.filter(l =>
          l.contains("Exchange") || l.contains("Join") ||
          l.contains("Window") || l.contains("PushedFilters"))
          .mkString("\n"))
      } catch { case e: Throwable =>
        println(s"[audit] $q failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
