package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One recorded interval. `name` starts with its layer (`io.fold`,
  * `plan.plan`, ...); `parent` is the enclosing span on the same thread
  * (0 = root); `req` groups the spans of one request or cycle. */
final case class Span(id: Long, parent: Long, name: String, req: Long,
                      start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Long = end - start
}

/** In-memory span recorder. Disabled (the end-to-end runs) it only runs
  * the body; enabled (the traced run) it keeps every span until the run
  * ends. Parents come from a per-thread stack, so spans nest only within
  * the thread that opened them. */
object Trace {
  @volatile var enabled = false
  private val ids = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, req: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, req, t0, t1))
      }
    }

  /** Record an interval measured elsewhere (a client-side latency, a wait). */
  def record(name: String, req: Long, start: Long, end: Long,
             parent: Long = 0L): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, name, req, start, end))

  def all: Seq[Span] = spans.asScala.toSeq
  def reset(): Unit = spans.clear()

  /** Self time of every span: its duration minus the part of its interval
    * covered by its children (children overlapping each other count once). */
  def selfTimes(ss: Seq[Span]): Map[Long, Long] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Self time summed per layer, in seconds. */
  def selfByLayer(ss: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(ss)
    ss.groupBy(_.layer).map { case (l, xs) => l -> xs.map(s => self(s.id)).sum / 1e9 }
  }

  /** Write every span as one tab-separated line. */
  def dump(f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println("id\tparent\tname\treq\tstart_ns\tend_ns")
      all.sortBy(_.start).foreach(s =>
        w.println(s"${s.id}\t${s.parent}\t${s.name}\t${s.req}\t${s.start}\t${s.end}"))
    } finally w.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail percentile the benchmark reports: p90 when at least ten
    * samples lie beyond it, else the highest nearest-rank percentile that
    * still has ten samples beyond it, never below the upper median. Returns
    * (value, percentile used). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of nothing")
    val s = xs.sorted
    val n = s.length
    val rank90 = math.ceil(0.9 * n).toInt // 1-based nearest rank
    val rank = math.max(math.min(rank90, n - 10), n / 2 + 1)
    (s(rank - 1), rank.toDouble / n)
  }
}
