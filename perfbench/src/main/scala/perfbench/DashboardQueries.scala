package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.sketch.Hdr

/** One Grafana panel query of the seeded mix, with what the checker
  * needs to recompute its answer from the raw values. `sources` are the
  * metric names the query reads (one per series for a fan-out); `tier`
  * is the window the planner must pick for `[from, to]`. */
final case class PanelQuery(kind: String, text: String, sources: Seq[String],
                            fns: Seq[String], tier: Long, from: Long, to: Long,
                            fill: Boolean = false, limit: Int = Int.MaxValue,
                            desc: Boolean = false, ratio: Boolean = false)

/** The seeded query mix and the brute-force checker of its answers. */
object DashboardQueries {
  /** The seven panel query kinds, in equal shares. No measured Grafana
    * traffic is available to weight them, so none is favoured; the
    * shares are an assumption, as is the Zipf skew of the metric pick. */
  val Kinds: Seq[String] = Seq("pct_6h", "counter_24h_fill", "percentiles", "regex_fanout",
    "ratio", "star_limit_desc", "list_series")

  /** The seeded query sequence all clients draw from: kinds come in
    * blocks holding each kind once, each block in a seeded order, so
    * the first n queries are the same whatever the clients'
    * interleaving and every run has the same composition. */
  final class QueryStream(data: DashboardData, nowMs: Long, seed: Long) {
    private val rnd = new java.util.Random(seed)
    private val zipf = new Zipf(data.names.length, 1.1)
    private var queue = List.empty[String]
    def next(): PanelQuery = synchronized {
      if (queue.isEmpty) queue = scala.util.Random.javaRandomToRandom(rnd).shuffle(Kinds).toList
      val k = queue.head
      queue = queue.tail
      make(data, nowMs, k, rnd, zipf)
    }
  }

  private val Windows: Seq[Long] = graft.rollup.Rollup.StandardTiers
  private val MinPoints = 100
  private val MaxPoints = 700

  /** The window the reference's resolution rule picks: the configured
    * window nearest the requested one, widened or narrowed until the
    * point count lands in [100, 700] (the request is not forced). */
  def expectedWindow(from: Long, to: Long, requested: Long): Long = {
    val desc = Windows.sortBy(-_)
    def points(w: Long) = math.abs(to - from) / w
    val nearest = desc.foldLeft(desc.last) { (best, w) =>
      if (math.abs(requested - w) < math.abs(requested - best)) w else best
    }
    val p = points(nearest)
    if (p >= MinPoints && p <= MaxPoints) nearest
    else desc.foldLeft(desc.head) { (adj, w) =>
      val np = points(w)
      if (np <= MaxPoints) w else adj
    }
  }

  private def durText(ms: Long): String =
    if (ms % 3600000L == 0) s"${ms / 3600000L}h"
    else if (ms % 60000L == 0) s"${ms / 60000L}m" else s"${ms / 1000L}s"

  /** One seeded query of the given kind; metrics are Zipf-picked by
    * rate rank. `nowMs` is the planner's pinned now. */
  def make(data: DashboardData, nowMs: Long, kind: String, rnd: java.util.Random, zipf: Zipf): PanelQuery = {
    def pick(): String = data.names(zipf.sample(rnd))
    def last(h: Int) = (nowMs - h * 3600000L + 1, nowMs) // `time > now() - Nh`
    kind match {
      case "pct_6h" =>
        val m = pick()
        val req = Seq(10000L, 30000L, 60000L, 300000L)(rnd.nextInt(4))
        val (f, t) = last(6)
        val fns = Seq("p50", "p99")
        PanelQuery(kind, s"""select ${fns.mkString(", ")} from "$m" where time > now() - 6h """ +
          s"group by time(${durText(req)})", Seq(m), fns, expectedWindow(f, t, req), f, t)
      case "counter_24h_fill" =>
        val m = pick() + "_count"
        val (f, t) = last(24)
        PanelQuery(kind, s"""select count from "$m" where time > now() - 24h """ +
          "group by time(5m) fill(0)", Seq(m), Seq("count"), expectedWindow(f, t, 300000L), f, t,
          fill = true)
      case "percentiles" =>
        val m = pick()
        val (f, t) = last(6)
        PanelQuery(kind, s"""select percentiles(50 90 99) from "$m" where time > now() - 6h """ +
          "group by time(1m)", Seq(m), Seq("p50", "p90", "p99"), expectedWindow(f, t, 60000L), f, t)
      case "regex_fanout" =>
        // one service's login and search metrics (timers and counters)
        val svc = pick().takeWhile(_ != '_')
        val re = if (svc == "view") "view.*" else s"${svc}_(login|search).*"
        val srcs = data.names.filter(n => n.matches(re)).flatMap(n => Seq(n, n + "_count")).toSeq
          .++(if (svc == "view") Seq("view_gauge") else Nil).sorted
        val (f, t) = last(6)
        PanelQuery(kind, s"""select count from "$re" where time > now() - 6h group by time(5m)""",
          srcs, Seq("count"), expectedWindow(f, t, 300000L), f, t)
      case "ratio" =>
        val a = pick(); var b = pick()
        while (b == a) b = pick()
        val (f, t) = last(6)
        PanelQuery(kind, s"""select a.count / b.count as ratio from "${a}_count" as a, "${b}_count" as b """ +
          "where time > now() - 6h group by time(5m)", Seq(a + "_count", b + "_count"), Seq("ratio"),
          expectedWindow(f, t, 300000L), f, t, ratio = true)
      case "star_limit_desc" =>
        val m = pick()
        val (f, t) = last(6)
        val fns = graft.ql.InfluxAst.Fn.Histogram
        PanelQuery(kind, s"""select * from "$m" where time > now() - 6h group by time(5m) """ +
          "limit 20 order desc", Seq(m), fns, expectedWindow(f, t, 300000L), f, t, limit = 20,
          desc = true)
      case "list_series" =>
        val svc = pick().takeWhile(_ != '_')
        PanelQuery(kind, s"list series /$svc/", Nil, Nil, 0L, 0L, 0L)
    }
  }

  // ---- brute force ------------------------------------------------------

  /** (count, min, max, percentile → value) of one bucket, from one Hdr
    * built over every raw value in it. */
  final case class Bucket(count: Long, min: Long, max: Long, hdr: Hdr)

  private def bucket(data: DashboardData, metric: String, start: Long, w: Long): Bucket = {
    val base = metric.stripSuffix("_count").stripSuffix("_gauge")
    val m = data.byName(base)
    if (metric.endsWith("_count")) Bucket(data.countIn(m, start, start + w), 0, 0, null)
    else {
      val vs = data.floored(m, start, start + w).filter(_ >= 0)
      val h = Hdr.empty
      vs.foreach(v => h.record(v))
      Bucket(vs.length.toLong, if (vs.isEmpty) 0 else vs.min, if (vs.isEmpty) 0 else vs.max, h)
    }
  }

  private def value(b: Bucket, fn: String, w: Long): Double = fn match {
    case "count" => b.count.toDouble
    case "min" => b.min.toDouble
    case "max" => b.max.toDouble
    case "mean" => if (b.count == 0) 0.0 else b.hdr.meanLong.toDouble
    case "cpm" => b.count / (w / 60000.0)
    case p =>
      val q = graft.ql.InfluxAst.Fn.Percentiles.find(_._1 == p).get._2
      b.hdr.valueAtPercentile(if (q == 999) 99.9 else q.toDouble).toDouble
  }

  private def round4(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Grid times with data for `metric` in [from, to], ascending. */
  private def times(data: DashboardData, q: PanelQuery, metric: String): Seq[Long] = {
    val first = ((q.from + q.tier - 1) / q.tier) * q.tier
    val grid = first to q.to by q.tier
    if (q.fill) grid else grid.filter(b => bucket(data, metric, b, q.tier).count > 0)
  }

  private val mapper = new ObjectMapper()

  /** Checks one response body against brute force over the raw values.
    * Returns the mismatches found (empty = correct). */
  def check(data: DashboardData, q: PanelQuery, body: String): Seq[String] = {
    val root: JsonNode = try mapper.readTree(body) catch { case e: Exception => return Seq(s"bad json: $e") }
    val series = (0 until root.size()).map(root.get)
    val errs = Seq.newBuilder[String]
    def err(s: String): Unit = errs += s"${q.kind} [${q.text}]: $s"
    if (q.kind == "list_series") {
      val re = s"(?i).*${q.text.stripPrefix("list series /").stripSuffix("/")}.*"
      val catalog = data.names.toSeq.flatMap(n => Seq(n, n + "_count")) :+ "view_gauge"
      val want = catalog.filter(_.matches(re)).sorted
      val pts = series.headOption.map(_.get("points")).toSeq.flatMap(p => (0 until p.size()).map(p.get))
      val got = pts.map(_.get(1).asText()).sorted
      if (got != want) err(s"list series returned ${got.size} names, expected ${want.size}")
      return errs.result()
    }
    // expected series: (series name, metric, label, fn)
    val expected: Seq[(String, String)] =
      if (q.ratio) Seq(("", "ratio"))
      else for (m <- q.sources; fn <- q.fns) yield (m, fn)
    if (series.size != expected.size)
      err(s"${series.size} series, expected ${expected.size}")
    else expected.zip(sortedAsPlanner(series, q)).foreach { case ((metric, fn), s) =>
      val name = s.get("name").asText()
      val label = s.get("columns").get(1).asText()
      if (name != metric || label != fn) err(s"series ($name, $label), expected ($metric, $fn)")
      val p = s.get("points")
      val got = (0 until p.size()).map(i => (p.get(i).get(0).asLong(), p.get(i).get(1).asDouble()))
      val want: Seq[(Long, Double)] =
        if (q.ratio) {
          val Seq(a, b) = q.sources
          val ta = times(data, q, a).toSet
          times(data, q, b).filter(ta).map { t =>
            val ca = bucket(data, a, t, q.tier).count.toDouble
            val cb = bucket(data, b, t, q.tier).count.toDouble
            t -> round4(ca / cb)
          }
        } else {
          val ts0 = times(data, q, metric)
          val ts = if (q.desc) ts0.reverse.take(q.limit) else ts0.take(q.limit)
          ts.map(t => t -> round4(value(bucket(data, metric, t, q.tier), fn, q.tier)))
        }
      if (got.map(_._1) != want.map(_._1))
        err(s"$metric.$fn: ${got.size} points at the wrong times or tier " +
          s"(expected ${want.size} points of the ${q.tier} ms tier)")
      else got.zip(want).find { case (g, w) =>
        if (q.ratio) math.abs(g._2 - w._2) > 5e-5 else g._2 != w._2
      }.foreach { case (g, w) => err(s"$metric.$fn at ${g._1}: got ${g._2}, expected ${w._2}") }
    }
    errs.result()
  }

  /** The planner orders series by (source id, field); regex sources
    * fan out in catalog (name) order. */
  private def sortedAsPlanner(series: Seq[JsonNode], q: PanelQuery): Seq[JsonNode] =
    if (q.ratio) series
    else series.sortBy(s => (q.sources.indexOf(s.get("name").asText()),
      q.fns.indexOf(s.get("columns").get(1).asText())))
}
