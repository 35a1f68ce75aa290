package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Set-up accounting. The input preparation runs several times and its
  * median is kept, so that one slow repetition does not move `setup_s`;
  * session start and warm-up run once. `setup_s` is process start to
  * the first timed operation, with the repeated preparation counted
  * once at its median. Each repetition's time goes to the artifact. */
final class Setup(val reps: Int = 3) {
  private val prepS = ArrayBuffer.empty[Double]
  var seconds: Double = 0.0
  def lastRep: Int = reps - 1
  def prepTimes: Seq[Double] = prepS.toSeq

  def prepare[T](f: Int => T): T = {
    var out: Option[T] = None
    (0 until reps).foreach { r =>
      val t0 = System.nanoTime()
      out = Some(f(r))
      prepS += (System.nanoTime() - t0) / 1e9
    }
    out.get
  }

  def done(): Unit =
    seconds = Host.sinceJvmStart() - prepS.sum + (if (prepS.isEmpty) 0.0 else Stats.median(prepS))
}

/** Benchmark entry point, started by run.py:
  * `--workload <dashboard|ingest|pipeline> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> --data <dir> [--tiny]`.
  * Prints one JSON result line on stdout; writes the run artifact and,
  * when traced, the spans under the work directory. */
object Main {
  def main(args: Array[String]): Unit = {
    val start = Host.snap()
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(
      workload = kv("workload"), seed = kv("seed").toLong, seconds = kv("seconds").toInt,
      trace = kv.getOrElse("trace", "0") == "1", tiny = args.contains("--tiny"),
      workDir = Paths.get(kv("work")).toAbsolutePath, dataDir = Paths.get(kv("data")).toAbsolutePath)
    Files.createDirectories(o.workDir)
    if (o.workload == "checker-selftest") {
      val errs = CheckerSelfTest.run()
      errs.foreach(e => System.err.println(s"[perfbench] checker self-test: $e"))
      println(Json(Map("correct" -> errs.isEmpty, "attempted" -> 2, "failed" -> errs.size,
        "metrics" -> Map.empty[String, Metric])))
      System.exit(0)
    }

    val spark = session(o.workDir)
    val counters = SparkCounters.register(spark.sparkContext)
    val tracer = new Tracer(o.trace)
    val res = new Result
    // a traced run does not report setup_s, so it prepares its inputs once
    val setup = new Setup(if (o.trace) 1 else 3)
    try {
      o.workload match {
        case "dashboard" => Dashboard.run(spark, o, tracer, counters, res, setup)
        case "ingest" => Ingest.run(spark, o, tracer, counters, res, setup)
        case "pipeline" => Pipeline.run(spark, o, tracer, counters, res, setup)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.fail(s"run aborted: $e")
        res.failed += 1
        res.attempted = math.max(res.attempted, 1)
    }
    if (!o.trace) {
      res.put("setup_s", setup.seconds, "s")
      res.detail("setup_prep_s") = setup.prepTimes
    }
    val contention = Host.contention(start, Host.snap())
    spark.stop()

    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}${if (o.tiny) "-tiny" else ""}"
    val line = Json(Map(
      "correct" -> res.checks.isEmpty, "attempted" -> math.max(1L, res.attempted),
      "failed" -> res.failed, "metrics" -> res.metrics))
    Files2.write(o.workDir.resolve(s"artifact-$tag.json"), Json(Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "result" -> scala.collection.immutable.ListMap(
        "correct" -> res.checks.isEmpty, "attempted" -> res.attempted, "failed" -> res.failed),
      "metrics" -> res.metrics, "failed_checks" -> res.checks.take(50),
      "detail" -> res.detail, "contention" -> contention)) + "\n")
    if (o.trace) Files2.write(o.workDir.resolve(s"spans-$tag.json"), tracer.toJson + "\n")
    System.err.println(s"[perfbench] contention ${Json(contention)}")
    System.err.println(s"[perfbench] detail ${Json(res.detail)}")
    res.checks.take(20).foreach(c => System.err.println(s"[perfbench] check failed: $c"))
    println(line)
    System.exit(0)
  }

  /** local[4] session with the engine's settings. Parquet row groups are
    * 1 MiB, so a day partition of a tier table spans several row groups
    * at this data size, as it would at production size with the
    * default row-group size. */
  def session(work: Path): SparkSession = {
    val s = graft.GraftSession.builder(4, 4)
      .appName("perfbench")
      .config("spark.hadoop.parquet.block.size", (1 << 20).toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
