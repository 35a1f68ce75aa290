package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{JsonSerializer, ObjectMapper, SerializerProvider}
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Command-line options shared by every workload. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      tiny: Boolean, workDir: Path, dataDir: Path)

/** One reported metric. */
final case class Metric(value: Double, unit: String)

/** What a workload returns: its metrics, operation accounting, and any
  * extra detail for the run artifact. `checks` lists the failed
  * correctness checks; the run is correct only when it is empty. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = Metric(value, unit)
  def fail(msg: String): Unit = synchronized { checks += msg }
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
}

object Log {
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${Host.sinceJvmStart()}%7.2fs] $msg")
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of an unsorted sample. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "quantile of an empty sample")
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
}

object Util {
  /** Hex prefix of the SHA-256 of `parts`, in order. */
  def digest(parts: Iterable[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p))
    md.digest().take(8).map("%02x".format(_)).mkString
  }
  def digestStrings(xs: Iterable[String]): String = digest(xs.map(_.getBytes(UTF_8)))

  /** Runs `f` over `xs` on `n` threads. */
  def parallel[A](xs: Seq[A], n: Int)(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try xs.map(x => pool.submit(new Runnable { def run(): Unit = f(x) })).foreach(_.get())
    finally pool.shutdown()
  }
}

/** Zipf(s) sampler over ranks 0 until n, by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def weight(k: Int): Double = cdf(k) - (if (k == 0) 0.0 else cdf(k - 1))
  def sample(rnd: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Process and host readings that make a contended run visible. */
object Host {
  private def statusField(name: String): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(name + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def loadavg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim

  def peakRssMb(): Double = statusField("VmHWM") / 1024.0
  def involuntaryCtxSwitches(): Long = statusField("nonvoluntary_ctxt_switches")

  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }

  /** Wall clock since the JVM started, in seconds. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** (steal, total) jiffies of the whole host, from /proc/stat. */
  def hostJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  /** Snapshot taken at run start and end. */
  final case class Snap(wallNs: Long, cpuNs: Long, invol: Long, load: String, jiffies: (Long, Long))
  def snap(): Snap = Snap(System.nanoTime(), cpuNanos(), involuntaryCtxSwitches(), loadavg(), hostJiffies())

  def contention(start: Snap, end: Snap): Map[String, Any] = {
    val wall = (end.wallNs - start.wallNs) / 1e9
    val cpu = (end.cpuNs - start.cpuNs) / 1e9
    Map("loadavg_start" -> start.load, "loadavg_end" -> end.load,
      "wall_s" -> wall, "process_cpu_s" -> cpu,
      "cpu_per_wall" -> (if (wall > 0) cpu / wall else 0.0),
      "involuntary_ctx_switches" -> (end.invol - start.invol),
      "peak_rss_mb" -> peakRssMb(),
      "host_steal_share" -> {
        val total = end.jiffies._2 - start.jiffies._2
        if (total > 0) (end.jiffies._1 - start.jiffies._1).toDouble / total else 0.0
      },
      "cores" -> Runtime.getRuntime.availableProcessors())
  }
}

/** JSON for the result line and the run artifact; a NaN or infinite
  * double is written as null. */
object Json {
  private val finite = new JsonSerializer[java.lang.Double] {
    def serialize(d: java.lang.Double, g: JsonGenerator, p: SerializerProvider): Unit =
      if (d.isNaN || d.isInfinite) g.writeNull() else g.writeNumber(d.doubleValue)
  }
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule).registerModule(
    new SimpleModule().addSerializer(classOf[java.lang.Double], finite)
      .addSerializer(java.lang.Double.TYPE, finite))

  def apply(v: Any): String = mapper.writeValueAsString(v)
}

object Files2 {
  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  /** Total size of the regular files under `dir`, excluding Spark's
    * checksum and metadata side files. */
  def bytesUnder(dir: java.io.File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) {
      val n = dir.getName
      if (n.startsWith(".") || n.startsWith("_")) 0L else dir.length()
    } else Option(dir.listFiles()).toSeq.flatten.map(bytesUnder).sum
}
