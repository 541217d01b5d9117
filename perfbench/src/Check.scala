package perfbench

import Gen._

/** Answers recomputed from the generator's closed form, without the engine,
  * and the comparison against a `/api/query` CSV response (raw ns
  * timestamps). Every row is compared in order: key, timestamp, and each
  * value (exact for integer results, 1e-9 relative for ewma/rate). */
object Check {

  /** One output line: `sname,ts,v1[,v2...]`; `text` holds an event body. */
  final case class Row(key: String, ts: Long, nums: Seq[Double], text: String = null)

  def parse(line: String, text: Boolean): Row = {
    val cells = line.split(",", -1)
    require(cells.length >= 3, s"short line '$line'")
    if (text) Row(cells(0), cells(1).toLong, Nil, cells.drop(2).mkString(","))
    else Row(cells(0), cells(1).toLong, cells.drop(2).toSeq.map(_.toDouble))
  }

  /** Series of metric `m` matching the query's tag predicates, by sname. */
  private def tagSets(q: Q): Seq[Int] =
    (0 until TagSets).filter { t =>
      (q.hosts.isEmpty || q.hosts.contains(t / Regions)) &&
        (q.regions.isEmpty || q.regions.contains(t % Regions))
    }.sortBy(tagStr)

  private def rangeKs(q: Q): Range = q.k0 until q.k1

  /** The expected rows of `q`, or None when only its shape is checkable
    * (sax words, see [[check]]). */
  def expected(q: Q, vals: Array[Int], k: Int): Option[Seq[Row]] = {
    def v(s: Int, i: Int): Int = vals(s * k + i)
    val ts = tagSets(q)
    q.kind match {
      case "select" =>
        val ss = ts.map(t => seriesOf(q.metrics.head, t))
        Some(for (i <- rangeKs(q); s <- ss) yield Row(sname(s), Gen.ts(i), Seq(v(s, i).toDouble)))
      case "select-events" =>
        val re = java.util.regex.Pattern.compile(q.regex.get)
        val es = (0 until EventSeries).filter(e => ts.contains(e)).sortBy(e => eventSname(e))
        Some(for (i <- rangeKs(q); e <- es if hasEvent(e, i) && re.matcher(eventBody(e, i)).find())
          yield Row(eventSname(e), Gen.ts(i), Nil, eventBody(e, i)))
      case "aggregate" =>
        val m = Metrics(q.metrics.head)
        val rows = for (t <- ts; f <- q.funcs) yield {
          val s = seriesOf(q.metrics.head, t)
          val xs = rangeKs(q).map(i => (v(s, i), i))
          val (value, at) = f match {
            case "count" => (xs.size.toDouble, xs.last._2)
            case "sum"   => (xs.map(_._1.toLong).sum.toDouble, xs.last._2)
            case "min"   => val x = xs.minBy(p => (p._1, p._2)); (x._1.toDouble, x._2)
            case "max"   => val x = xs.maxBy(p => (p._1, p._2)); (x._1.toDouble, x._2)
          }
          Row(s"$m:$f ${tagStr(t)}", Gen.ts(at), Seq(value))
        }
        Some(rows.sortBy(_.key))
      case "group-aggregate" =>
        val m = Metrics(q.metrics.head)
        val name = q.funcs.map(f => s"$m:$f").mkString("|")
        // group-by-tag host and pivot-by-tag region both keep only region
        val groups = ts.groupBy(t => t % Regions).toSeq
        val rows = for ((r, members) <- groups; b <- rangeKs(q).grouped(q.step)) yield {
          val xs = for (t <- members; i <- b) yield v(seriesOf(q.metrics.head, t), i).toLong
          val cells = q.funcs.map {
            case "count" => xs.size.toDouble
            case "sum"   => xs.sum.toDouble
            case "min"   => xs.min.toDouble
            case "max"   => xs.max.toDouble
          }
          Row(s"$name region=${region(r)}", Gen.ts(b.head), cells)
        }
        Some(rows.sortBy(r => (r.ts, r.key)))
      case "join" =>
        val name = q.metrics.map(Metrics(_)).mkString("|")
        Some(for (i <- rangeKs(q); t <- ts) yield
          Row(s"$name ${tagStr(t)}", Gen.ts(i), q.metrics.map(m => v(seriesOf(m, t), i).toDouble)))
      case "group-aggregate-join" =>
        val name = q.metrics.map(Metrics(_)).mkString("|")
        val rows = for (b <- rangeKs(q).grouped(q.step).toSeq; t <- ts) yield
          Row(s"$name ${tagStr(t)}", Gen.ts(b.head),
            q.metrics.map(m => b.map(i => v(seriesOf(m, t), i).toLong).sum.toDouble))
        Some(rows.sortBy(r => (r.ts, r.key)))
      case "apply" if q.apply.contains("sax") => None
      case "apply" =>
        val ss = ts.map(t => seriesOf(q.metrics.head, t))
        val perSeries = ss.map { s =>
          val xs = rangeKs(q).map(i => v(s, i).toDouble)
          val out = q.apply.get match {
            case "rate" =>
              xs.indices.map { j =>
                val (pv, pt) = if (j == 0) (0.0, 0L) else (xs(j - 1), Gen.ts(q.k0 + j - 1))
                (xs(j) - pv) / ((Gen.ts(q.k0 + j) - pt) / 1e9)
              }
            case "ewma" => ewma(xs, 0.3)
          }
          s -> out
        }.toMap
        Some(for (i <- rangeKs(q); s <- ss) yield
          Row(sname(s), Gen.ts(i), Seq(perSeries(s)(i - q.k0))))
    }
  }

  /** The EWMA forecast: the plain mean over an 11-sample warm-up, then
    * exponential smoothing; each output is the forecast before the sample
    * is folded in. */
  def ewma(xs: Seq[Double], decay: Double): Seq[Double] = {
    var warm = 0
    var value = 0.0
    xs.map { x =>
      val forecast = if (warm <= 10) x else value
      if (warm < 10) { value += x; warm += 1 }
      else if (warm == 10) {
        warm += 1
        value = (value + x) / 11.0
        value = x * decay + value * (1.0 - decay)
      } else value = x * decay + value * (1.0 - decay)
      forecast
    }
  }

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** None when `lines` answer `q`; else the first difference. */
  def check(q: Q, lines: Seq[String], vals: Array[Int], k: Int): Option[String] = {
    expected(q, vals, k) match {
      case Some(want) =>
        val got = try lines.map(parse(_, q.kind == "select-events"))
          catch { case e: Exception => return Some(s"unparseable: ${e.getMessage}") }
        if (got.length != want.length) return Some(s"${got.length} rows, expected ${want.length}")
        got.zip(want).zipWithIndex.collectFirst {
          case ((g, w), i) if g.key != w.key || g.ts != w.ts || g.text != w.text ||
              g.nums.length != w.nums.length || !g.nums.zip(w.nums).forall { case (a, b) => close(a, b) } =>
            s"row $i: got $g, expected $w"
        }
      case None =>
        // sax: one word per emitted point, from the selected series only,
        // in range, time-ordered, over the 4-letter alphabet
        val names = tagSets(q).map(t => sname(seriesOf(q.metrics.head, t))).toSet
        val rows = lines.map(_.split(",", -1))
        rows.zipWithIndex.collectFirst {
          case (c, i) if c.length != 3 || !names(c(0)) || c(1).toLong < Gen.ts(q.k0) ||
              c(1).toLong >= Gen.ts(q.k1) || c(2).isEmpty || !c(2).forall(ch => ch >= 'a' && ch <= 'd') ||
              (i > 0 && c(1).toLong < rows(i - 1)(1).toLong) =>
            s"bad sax row $i: ${c.mkString(",")}"
        }
    }
  }

  /** Series whose (sample count, value sum) differ from the closed form;
    * event series are compared by count only. */
  def storeDiff(got: Map[String, (Long, Double)], expect: Expect): Seq[String] = {
    val want = ((0 until NSeries).map(s => sname(s) -> (expect.count(s), expect.sum(s).toDouble)) ++
      (0 until EventSeries).map(e => eventSname(e) -> (expect.events(e), 0.0))).filter(_._2._1 > 0).toMap
    want.toSeq.sortBy(_._1).collect {
      case (name, (n, s)) if !got.get(name).exists { case (gn, gs) => gn == n && (name.startsWith("!") || gs == s) } =>
        s"$name: got ${got.get(name)}, expected ($n, $s)"
    } ++ got.keySet.diff(want.keySet).toSeq.sorted.map(n => s"unexpected series $n")
  }
}
