package perfbench

import graft.sketch.Hdr

/** The dashboard checker must accept the merged-histogram answer and
  * reject an answer whose coarse-bucket percentile is the average of
  * the finer buckets' percentiles. */
object CheckerSelfTest {
  def run(): Seq[String] = {
    val data = DashboardData.generate(7, DashboardData.Small)
    val m = data.names(0) // the highest-rate metric
    val w = 300000L
    val to = data.endMs
    val from = to - 6 * 3600000L + 1
    val q = PanelQuery("pct_6h", s"""select p99 from "$m" where time > now() - 6h group by time(5m)""",
      Seq(m), Seq("p99"), w, from, to)
    val first = ((from + w - 1) / w) * w
    val buckets = (first to to by w).filter(b => data.countIn(data.byName(m), b, b + w) > 0)
    def hdrOf(start: Long, len: Long) = {
      val h = Hdr.empty
      data.floored(data.byName(m), start, start + len).filter(_ >= 0).foreach(v => h.record(v))
      h
    }
    def body(points: Seq[(Long, Double)]) =
      s"""[{"name":"$m","columns":["time","p99"],"points":[""" +
        points.map { case (t, v) => s"[$t,$v]" }.mkString(",") + "]}]"
    val merged = buckets.map(b => b -> hdrOf(b, w).valueAtPercentile(99).toDouble)
    // p99 of each 30 s sub-bucket, averaged: what a percentile-averaging
    // rollup would report for the 5 m bucket
    val averaged = buckets.map { b =>
      val subs = (b until b + w by 30000L).map(s => hdrOf(s, 30000L)).filterNot(_.isEmpty)
      b -> BigDecimal(subs.map(_.valueAtPercentile(99).toDouble).sum / subs.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val errs = Seq.newBuilder[String]
    val good = DashboardQueries.check(data, q, body(merged))
    if (good.nonEmpty) errs += s"merged-histogram answer rejected: ${good.head}"
    if (averaged == merged) errs += "averaged percentiles equal merged ones; fabricate a different case"
    else if (DashboardQueries.check(data, q, body(averaged)).isEmpty)
      errs += "average-of-percentiles answer accepted"
    errs.result()
  }
}
