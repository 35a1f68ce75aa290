package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

/** The `ingest` workload's inputs, all built and gzip-compressed before
  * the run starts: one MetricBatch body per scheduled post, with
  * generator-stamped event timestamps, and what each (metric, 30 s
  * bucket) must add up to once ingested.
  *
  * Event time runs `Speedup` times faster than wall time from `eventStart`,
  * so the stream's 30 s watermark and the 30 s tier close within a
  * wall second or two and a short run sees many closed buckets. */
final class IngestPlan(val metrics: Array[String], val types: Array[String],
                       val bodies: Array[Array[Byte]], val offsetNs: Array[Long],
                       val eventTs: Array[Long], val eventStart: Long,
                       val expected: Map[(String, Long), IngestPlan.Bucket],
                       val valuesPosted: Long, val digest: String) {
  def posts: Int = bodies.length
  /** Event time of a wall offset since the schedule's origin. */
  def eventAt(offsetNs: Long): Long = eventStart + offsetNs / 1000000L * IngestPlan.Speedup
}

object IngestPlan {
  val Speedup = 30L
  val BucketMs = 30000L
  val Timers = 160
  val Counters = 40
  val MetricsPerPost = 25
  val ValuesPerMeasurement = 20

  /** Non-negative value count and sum of one bucket, and the wall offset
    * of the post that carried its last value. */
  final case class Bucket(count: Long, sum: Long, lastOffsetNs: Long)

  def build(seed: Long, ratePerS: Int, seconds: Double): IngestPlan = {
    val rnd = new java.util.Random(seed * 0x2545F4914F6CDD1DL + 5)
    val metrics = Array.tabulate(Timers + Counters)(i =>
      if (i < Timers) f"ing_t$i%03d" else f"ing_c${i - Timers}%03d")
    val types = Array.tabulate(metrics.length)(i => if (i < Timers) "timer" else "counter")
    // seed-shuffled rate ranks
    val rank = (0 until metrics.length).toArray
    (rank.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1); val t = rank(i); rank(i) = rank(j); rank(j) = t
    }
    val zipf = new Zipf(metrics.length, 0.9)
    val mu = Array.fill(metrics.length)(2.0 + 6.0 * rnd.nextDouble())
    val eventStart = (19723L + rnd.nextInt(300)) * 86400000L + 3600000L
    val n = math.max(1, math.round(ratePerS * seconds).toInt)
    val acc = mutable.HashMap.empty[(String, Long), Bucket]
    var posted = 0L
    val offsets = Array.tabulate(n)(i => i * 1000000000L / ratePerS)
    val eventTs = offsets.map(o => eventStart + o / 1000000L * Speedup)
    val bodies = Array.tabulate(n) { i =>
      val chosen = mutable.LinkedHashSet.empty[Int]
      while (chosen.size < MetricsPerPost) chosen += rank(zipf.sample(rnd))
      val ts = eventTs(i)
      val bucket = ts - ts % BucketMs
      val json = chosen.toSeq.map { m =>
        val vs = Array.fill(ValuesPerMeasurement) {
          val v =
            if (types(m) == "counter") (1 + rnd.nextInt(5)).toDouble
            else math.min(DashboardData.Ceiling, math.rint(math.exp(mu(m) + rnd.nextGaussian()) * 100) / 100)
          if (rnd.nextDouble() < 0.02) -v else v
        }
        posted += vs.length
        val ok = vs.filter(_ >= 0).map(v => math.floor(v).toLong)
        if (ok.nonEmpty) {
          val b = acc.getOrElse((metrics(m), bucket), Bucket(0, 0, 0))
          acc((metrics(m), bucket)) = Bucket(b.count + ok.length, b.sum + ok.sum, offsets(i))
        }
        s"""{"name":"${metrics(m)}","mtype":"${types(m)}","measurements":[{"ts":$ts,"values":[""" +
          vs.map(v => if (v == math.rint(v)) v.toLong.toString else v.toString).mkString(",") + "]}]}"
      }.mkString("""{"metrics":[""", ",", "]}")
      json
    }
    new IngestPlan(metrics, types, bodies.map(gzip), offsets, eventTs, eventStart, acc.toMap, posted,
      Util.digestStrings(bodies))
  }

  def gzip(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(s.getBytes(UTF_8)); gz.close()
    bos.toByteArray
  }
}
