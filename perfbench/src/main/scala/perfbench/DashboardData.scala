package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** A seeded metric set in the `events.parquet` layout, so that an
  * unmodified `RollupJob.run` builds every tier from it: each
  * `event_type` becomes a timer, `<event_type>_count` a counter, and the
  * `view` events also feed the `view_gauge` gauge.
  *
  * Rates per metric are Zipf-skewed; values are long-tailed (log-normal
  * with rare outliers up to the HDR ceiling of 3.6e7). Timestamps are
  * whole milliseconds, so the raw values the checker keeps are exactly
  * what the rollup reads back.
  *
  * The distribution parameters are assumptions, not fitted to measured
  * traffic: Zipf s = 1.1 over metrics, per-metric log-normal mu drawn
  * from [2, 9] and sigma from [0.4, 2], and 0.1 % outliers drawn
  * uniformly from [1e6, 3.6e7].
  */
final class DashboardData(val names: Array[String], val startMs: Long, val endMs: Long,
                          val ts: Array[Array[Long]], val values: Array[Array[Double]]) {

  val byName: Map[String, Int] = names.zipWithIndex.toMap
  def valueCount: Long = ts.map(_.length.toLong).sum

  /** Floored values of metric `m` with start <= ts < end. */
  def floored(m: Int, start: Long, end: Long): Array[Long] = {
    val t = ts(m)
    val lo = lowerBound(t, start)
    val hi = lowerBound(t, end)
    Array.tabulate(hi - lo)(i => math.floor(values(m)(lo + i)).toLong)
  }

  def countIn(m: Int, start: Long, end: Long): Long =
    (lowerBound(ts(m), end) - lowerBound(ts(m), start)).toLong

  private def lowerBound(a: Array[Long], x: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (a(mid) < x) lo = mid + 1 else hi = mid }
    lo
  }

  /** Order-independent digest of the generated inputs. */
  def digest: String = Util.digest(names.indices.flatMap { m =>
    val buf = java.nio.ByteBuffer.allocate(16 * ts(m).length)
    ts(m).indices.foreach { i =>
      buf.putLong(ts(m)(i)); buf.putLong(java.lang.Double.doubleToLongBits(values(m)(i)))
    }
    Seq(names(m).getBytes("UTF-8"), buf.array())
  })

  /** Write `<dir>/events.parquet`, rows in time order. */
  def write(spark: SparkSession, dir: Path): Unit = {
    val n = valueCount.toInt
    val order = new Array[Long](n) // (ts << 20 | metric) packed for a primitive sort
    val at = new Array[Int](names.length)
    var k = 0
    names.indices.foreach { m =>
      ts(m).indices.foreach { i => order(k) = ((ts(m)(i) - startMs) << 20) | m; k += 1 }
    }
    java.util.Arrays.sort(order)
    val rows = Array.tabulate[Row](n) { id =>
      val m = (order(id) & 0xfffff).toInt
      val i = at(m); at(m) += 1
      Row(id.toLong, new java.sql.Timestamp(ts(m)(i)), id % 9973L, names(m), values(m)(i), "")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 4), DashboardData.schema)
      .write.mode("overwrite").parquet(dir.resolve("events.parquet").toString)
  }
}

object DashboardData {
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  val Ceiling = 3.6e7
  val Ops: Seq[String] =
    Seq("login", "search", "checkout", "render", "upload", "query", "auth", "cache", "queue", "index")

  /** Size of one generated set. */
  final case class Size(services: Int, events: Int, hours: Int)
  val Full = Size(services = 40, events = 160000, hours = 30)
  val Small = Size(services = 4, events = 10000, hours = 30)

  /** Metric names: `svcNN_<op>` plus `view` (whose events also feed the
    * `view_gauge` gauge), ranked by rate in a seed-shuffled order. */
  def generate(seed: Long, size: Size): DashboardData = {
    val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 17)
    val base = (for (s <- 0 until size.services; op <- Ops) yield f"svc$s%02d_$op") :+ "view"
    val names = {
      val a = base.toArray
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    // the data ends on a whole hour of a seeded day in 2024
    val day = 19723L + rnd.nextInt(300) // 2024-01-01 + [0, 300) days
    val endMs = day * 86400000L + (12 + rnd.nextInt(12)) * 3600000L
    val startMs = endMs - size.hours * 3600000L
    val span = endMs - startMs
    val zipf = new Zipf(names.length, 1.1)
    val ts = new Array[Array[Long]](names.length)
    val values = new Array[Array[Double]](names.length)
    names.indices.foreach { m =>
      val n = math.max(20, math.round(size.events * zipf.weight(m)).toInt)
      val mu = 2.0 + 7.0 * rnd.nextDouble()
      val sigma = 0.4 + 1.6 * rnd.nextDouble()
      val t = Array.fill(n)(startMs + (rnd.nextDouble() * span).toLong)
      java.util.Arrays.sort(t)
      ts(m) = t
      values(m) = Array.fill(n) {
        val v =
          if (rnd.nextDouble() < 0.001) 1e6 + rnd.nextDouble() * (Ceiling - 1e6)
          else math.exp(mu + sigma * rnd.nextGaussian())
        math.min(Ceiling, math.rint(v * 100) / 100)
      }
    }
    new DashboardData(names, startMs, endMs, ts, values)
  }
}
