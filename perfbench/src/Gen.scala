package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** Seeded data and query generator. The engine only ever sees the bytes
  * and JSON rendered here; the checker recomputes every answer from the
  * same closed form.
  *
  * Series: 8 metrics x 250 hosts x 5 regions = 10,000 numeric series
  * (`cpu.user host=h017 region=r2`), plus 20 event series `!alert ...`.
  * Every numeric series has one sample per 1 s grid step k (ts = T0 + k s);
  * values are integer random walks, so sums and extremes are exact. */
object Gen {
  val Metrics = Array("cpu.sys", "cpu.user", "disk.read", "disk.write",
    "load", "mem.used", "net.rx", "net.tx")
  val Hosts = 250
  val Regions = 5
  val TagSets = Hosts * Regions
  val NSeries = Metrics.length * TagSets
  val EventMetric = "!alert"
  val EventSeries = 20
  val DayNs = 86400L * 1000000000L
  val T0 = 19675L * DayNs // 2023-11-14T00:00:00Z, a day boundary
  val StepNs = 1000000000L
  /** Dictionary ids of session `i` start at `i * IdStride`, so the first
    * id in a spool file names the session that wrote it. */
  val IdStride = 100000L

  def ts(k: Long): Long = T0 + k * StepNs
  def host(h: Int): String = f"h$h%03d"
  def region(r: Int): String = s"r$r"
  def metricOf(s: Int): Int = s / TagSets
  def tagSetOf(s: Int): Int = s % TagSets
  def seriesOf(m: Int, t: Int): Int = m * TagSets + t
  def tagStr(t: Int): String = s"host=${host(t / Regions)} region=${region(t % Regions)}"
  def sname(s: Int): String = s"${Metrics(metricOf(s))} ${tagStr(tagSetOf(s))}"
  def eventSname(e: Int): String = s"$EventMetric ${tagStr(e)}"

  def mix(x0: Long): Long = { // splitmix64 finalizer
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def hash(seed: Long, a: Long, b: Long): Long = mix(seed ^ mix(a * 31L + mix(b)))

  def startValue(seed: Long, s: Int): Int = ((hash(seed, s, -1L) >>> 1) % 1000).toInt
  def stepValue(seed: Long, s: Int, k: Long): Int = ((hash(seed, s, k) >>> 1) % 3).toInt - 1

  def hasEvent(e: Int, k: Long): Boolean = (k + e) % 7 == 0
  def eventBody(e: Int, k: Long): String = s"level=${(k * 31 + e) % 4} code=${(k * 7 + e) % 100}"

  /** Random-walk state of every series; `advance` yields the next grid
    * step's values. */
  final class Walk(seed: Long) {
    val cur: Array[Int] = Array.tabulate(NSeries)(s => startValue(seed, s))
    var k = 0L
    def advance(): Unit = {
      k += 1
      var s = 0
      while (s < NSeries) { cur(s) += stepValue(seed, s, k); s += 1 }
    }
  }

  /** Values of the first `k` grid steps, laid out `s * k + i`. */
  def values(seed: Long, k: Int): Array[Int] = {
    val w = new Walk(seed)
    val out = new Array[Int](NSeries * k)
    var i = 0
    while (i < k) {
      if (i > 0) w.advance()
      var s = 0
      while (s < NSeries) { out(s * k + i) = w.cur(s); s += 1 }
      i += 1
    }
    out
  }

  /** One RESP dictionary session: a dictionary prelude naming `series`
    * (and the event series when `events`), then every sample of grid steps
    * [k0, k0 + nk), time-major. `value(s, k)` supplies the walk. */
  def session(id: Long, series: Array[Int], k0: Long, nk: Int, events: Boolean,
              value: (Int, Long) => Int): Array[Byte] = {
    val base = id * IdStride
    val ne = if (events) EventSeries else 0
    val sb = new java.lang.StringBuilder((series.length * nk) * 36 + series.length * 40)
    sb.append('*').append(2 * (series.length + ne)).append('\n')
    var i = 0
    while (i < series.length) {
      sb.append('+').append(sname(series(i))).append('\n')
      sb.append(':').append(base + i).append('\n')
      i += 1
    }
    var e = 0
    while (e < ne) {
      sb.append('+').append(eventSname(e)).append('\n')
      sb.append(':').append(base + series.length + e).append('\n')
      e += 1
    }
    var k = k0
    while (k < k0 + nk) {
      val t = ts(k)
      i = 0
      while (i < series.length) {
        sb.append(':').append(base + i).append('\n')
        sb.append(':').append(t).append('\n')
        sb.append(':').append(value(series(i), k)).append('\n')
        i += 1
      }
      e = 0
      while (e < ne) {
        if (hasEvent(e, k)) {
          sb.append(':').append(base + series.length + e).append('\n')
          sb.append(':').append(t).append('\n')
          sb.append('+').append(eventBody(e, k)).append('\n')
        }
        e += 1
      }
      k += 1
    }
    sb.toString.getBytes(UTF_8)
  }

  /** Session id encoded in a spool file's first dictionary id. */
  def sessionIdOf(head: String): Long = {
    val lines = head.split('\n')
    require(lines.length >= 3 && lines(2).startsWith(":"), s"not a bench session: ${head.take(40)}")
    lines(2).substring(1).trim.toLong / IdStride
  }

  /** Expected per-series content of a store: sample count and value sum. */
  final class Expect {
    val count = new Array[Long](NSeries)
    val sum = new Array[Long](NSeries)
    val events = new Array[Long](EventSeries)
  }

  /** A corpus: sessions rendered in send order per connection, and the
    * store content they add up to. Connection `c` of `conns` carries the
    * series with `s % conns == c`; connection 0 also carries the events.
    * Each session holds `nk` grid steps, from step 0 on; session ids count
    * from 0 in send order. */
  final case class Corpus(perConn: Array[Array[(Long, Array[Byte], Long)]], expect: Expect)

  def corpus(seed: Long, conns: Int, sessionsPerConn: Int, nk: Int): Corpus = {
    val walk = new Walk(seed)
    val ex = new Expect
    val parts = Array.tabulate(conns)(c => (0 until NSeries).filter(_ % conns == c).toArray)
    val out = Array.fill(conns)(Array.newBuilder[(Long, Array[Byte], Long)])
    var id = 0L
    var j = 0
    while (j < sessionsPerConn) {
      val ks = j.toLong * nk
      // values of this block, advancing the shared walk once per step
      val block = new Array[Int](NSeries * nk)
      var i = 0
      while (i < nk) {
        while (walk.k < ks + i) walk.advance()
        var s = 0
        while (s < NSeries) {
          block(s * nk + i) = walk.cur(s); ex.count(s) += 1; ex.sum(s) += walk.cur(s); s += 1
        }
        var e = 0
        while (e < EventSeries) { if (hasEvent(e, ks + i)) ex.events(e) += 1; e += 1 }
        i += 1
      }
      var c = 0
      while (c < conns) {
        val n = parts(c).length.toLong * nk +
          (if (c == 0) (0 until nk).map(i => (0 until EventSeries).count(e => hasEvent(e, ks + i))).sum else 0)
        out(c) += ((id, session(id, parts(c), ks, nk, c == 0,
          (s, k) => block(s * nk + (k - ks).toInt)), n))
        id += 1
        c += 1
      }
      j += 1
    }
    Corpus(out.map(_.result()), ex)
  }

  // ---- queries -----------------------------------------------------------

  /** One generated query. Grid steps [k0, k1) give the range; `hosts` /
    * `regions` empty = no predicate on that tag. */
  final case class Q(kind: String, metrics: Seq[Int], hosts: Seq[Int], regions: Seq[Int],
                     k0: Int, k1: Int, step: Int = 0, funcs: Seq[String] = Nil,
                     group: Option[String] = None, apply: Option[String] = None,
                     regex: Option[String] = None) {
    def json: String = {
      def arr(xs: Seq[String]) = xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")
      val where = Seq(
        if (hosts.isEmpty) None else Some("\"host\":" + arr(hosts.map(host))),
        if (regions.isEmpty) None else Some("\"region\":" + arr(regions.map(region)))).flatten
      val ms = metrics.map(Metrics(_))
      val head = kind match {
        case "select" | "apply" => "\"select\":\"" + ms.head + "\""
        case "select-events"    => "\"select-events\":\"" + EventMetric + "\""
        case "aggregate"        => "\"aggregate\":{\"" + ms.head + "\":" + arr(funcs) + "}"
        case "group-aggregate"  => "\"group-aggregate\":{\"metric\":\"" + ms.head +
          "\",\"step\":" + (step * StepNs) + ",\"func\":" + arr(funcs) + "}"
        case "join"             => "\"join\":" + arr(ms)
        case "group-aggregate-join" => "\"group-aggregate-join\":{\"metric\":" + arr(ms) +
          ",\"step\":" + (step * StepNs) + ",\"func\":\"" + funcs.head + "\"}"
      }
      val parts = Seq(Some(head),
        Some("\"range\":{\"from\":" + ts(k0) + ",\"to\":" + ts(k1) + "}"),
        if (where.isEmpty) None else Some(where.mkString("\"where\":{", ",", "}")),
        regex.map(r => "\"filter\":\"" + r.replace("\\", "\\\\") + "\""),
        group.map(g => "\"" + g + "\":[\"" + (if (g == "group-by-tag") "host" else "region") + "\"]"),
        apply.map {
          case "ewma" => "\"apply\":[{\"name\":\"ewma\",\"decay\":0.3}]"
          case "rate" => "\"apply\":[{\"name\":\"rate\"}]"
          case "sax"  => "\"apply\":[{\"name\":\"sax\",\"alphabet_size\":4,\"window_width\":8}]"
        },
        Some("\"output\":{\"format\":\"csv\",\"timestamp\":\"raw\"}")).flatten
      parts.mkString("{", ",", "}")
    }
  }

  /** Query kinds per deck of 25, dealt in a fixed interleaved order, so the
    * kind sequence is the same for every seed and any 25 consecutive
    * queries of a client hold this mix. */
  val Deck: Seq[String] = Seq(
    "select", "aggregate", "apply", "group-aggregate", "select-events",
    "select", "join", "aggregate", "apply", "group-aggregate",
    "select", "wide-select", "select-events", "group-aggregate-join", "aggregate",
    "select", "apply", "group-aggregate", "join", "select-events",
    "select", "aggregate", "apply", "group-aggregate", "select")

  /** The query sequence of one client: the deck, starting 8 slots further
    * on per client, over a store of `k` grid steps. Each slot fixes the
    * query's shape: its range width (log-spaced from 1 step to the whole
    * history), how many hosts and regions it selects, its step, and for
    * `apply` and `select-events` (by occurrence in the deck) the function
    * and the filter. The seed picks what the shape is applied to: metrics,
    * hosts, regions and where the range starts. So every run does the same
    * work whatever the seed. One query in 25 is a whole-history select of
    * two regions (500 series, 20k rows at k = 40). */
  def queries(seed: Long, client: Int, k: Int): Iterator[Q] = {
    val rnd = new java.util.SplittableRandom(mix(seed * 1000003L + client))
    def pick(n: Int, of: Int): Seq[Int] =
      rnd.ints(0, of).distinct().limit(n.toLong).toArray.toSeq.sorted
    Iterator.from(8 * client).map(_ % Deck.size).map { i =>
      val kind = Deck(i)
      val nth = Deck.take(i).count(_ == kind)
      val w = math.max(1, math.min(k, math.pow(k.toDouble, (i * 3 % 8) / 7.0).round.toInt))
      val a = rnd.nextInt(k - w + 1)
      val b = a + w
      val m = rnd.nextInt(Metrics.length)
      val hosts = pick(1 + i % 4, Hosts)
      val regions = if (i % 3 == 0) Nil else pick(1 + i % 2, Regions)
      val step = 1 + i * 11 % 20
      kind match {
        case "wide-select" => Q("select", Seq(m), Nil, pick(2, Regions), 0, k)
        case "select" => Q("select", Seq(m), hosts, regions, a, b)
        case "select-events" =>
          Q("select-events", Nil, Nil, regions, a, b,
            regex = Some(if (nth % 2 == 0) "code=1[0-9]$" else "level=[02]"))
        case "aggregate" => Q("aggregate", Seq(m), hosts, regions, a, b, funcs = Seq("count", "max", "min", "sum"))
        case "group-aggregate" =>
          Q("group-aggregate", Seq(m), pick(5 + i * 7 % 20, Hosts), regions, a, b,
            step = step, funcs = Seq("count", "sum", "min", "max"),
            group = Some(if (nth % 2 == 0) "group-by-tag" else "pivot-by-tag"))
        case "join" => Q("join", pick(3, Metrics.length), hosts, regions, a, b)
        case "group-aggregate-join" =>
          Q("group-aggregate-join", pick(2, Metrics.length), hosts, regions, a, b,
            step = step, funcs = Seq("sum"))
        case "apply" =>
          Q("apply", Seq(m), hosts, regions, a, b, apply = Some(Seq("ewma", "rate", "sax")(nth % 3)))
      }
    }
  }
}
