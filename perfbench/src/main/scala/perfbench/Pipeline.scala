package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum, xxhash64}

/** `pipeline`: sequential passes over eight LLM-data pipeline queries on
  * the fixed document and embedding tables; the query order is
  * reshuffled by the seed in every pass. Each output is forced by
  * hashing every column and the hash is checked against the reference
  * recorded from the seed commit. The batch is one pass and a query is
  * one pipeline query: `batch_s` is the median pass, the `query_*`
  * metrics are over every query run in the timed passes. */
object Pipeline {
  val Queries: Seq[String] = Seq("d_doremi_weights", "d_training_doremi", "d_bigram_logprob",
    "d_ppx_buckets", "d_pmi_pairs", "d_curation_funnel", "d_minhash_lsh", "e_ivf_topk")
  val Tables: Seq[String] = Seq("documents", "embeddings")

  /** Sum over rows of the all-column xxhash64, modulo a prime: the
    * forcing expression of `graft.Bench.force`, kept as a value. */
  def allColumnHash(df: DataFrame): Long = {
    val h = xxhash64(df.columns.toIndexedSeq.map(col): _*) % 1000000007L
    val r = df.agg(sum(h)).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  def reference(dataDir: Path, set: String): Map[String, Long] = {
    val p = dataDir.resolve("pipeline").resolve("reference_hashes.json")
    if (!p.toFile.exists()) return Map.empty
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile).get(set)
    Queries.map(q => q -> node.get(q).asLong()).toMap
  }

  def run(spark: SparkSession, o: Opts, tracer: Tracer, counters: SparkCounters,
          res: Result, setup: Setup): Unit = {
    val sc = spark.sparkContext
    val set = if (o.tiny) "sf0.001" else "sf0.01"
    val fn = graft.SparkEntry.queries
    // set-up: stage the input tables in the run's work dir, then one
    // untimed pass over the small tables, 4 queries at a time, to
    // compile every plan shape
    val in = setup.prepare { rep =>
      val dst = o.workDir.resolve(s"pipeline_in$rep")
      Files.createDirectories(dst)
      Tables.foreach { t =>
        Files.copy(o.dataDir.resolve("pipeline").resolve(set).resolve(s"$t.parquet"),
          dst.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
      }
      dst
    }
    // the inputs are the fixed tables and the seeded pass order
    res.detail("input_digest") = Util.digest(Tables.map(t => Files.readAllBytes(in.resolve(s"$t.parquet"))) :+
      scala.util.Random.javaRandomToRandom(new java.util.Random(o.seed)).shuffle(Queries).mkString(",").getBytes)
    if (!o.tiny) Util.parallel(Queries, 4) { q =>
      allColumnHash(fn(q)(spark, o.dataDir.resolve("pipeline/sf0.001").toString))
    }
    setup.done()
    Log("pipeline: timed passes")

    val ref = reference(o.dataDir, set)
    val passes = mutable.ArrayBuffer.empty[Double]
    val wall = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    val hashes = mutable.LinkedHashMap.empty[String, Long]
    val orders = mutable.ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    val rnd = new java.util.Random(o.seed)
    var pass = 0
    // passes run back to back while the next one is expected to end
    // before the deadline; the first always runs
    while (pass == 0 || (!o.tiny && System.nanoTime() + (passes.last * 1e9).toLong <= deadline)) {
      val order = scala.util.Random.javaRandomToRandom(rnd).shuffle(Queries)
      orders += order.mkString(",")
      val p0 = System.nanoTime()
      order.foreach { q =>
        sc.setJobGroup(s"p$pass.$q", q)
        res.attempted += 1
        val t0 = System.nanoTime()
        val h = try tracer.span(s"ops.$q", pass.toLong) {
            val df = tracer.span("ops.plan", pass.toLong) { fn(q)(spark, in.toString) }
            Some(tracer.span("ops.execute", pass.toLong) { allColumnHash(df) })
          } catch { case e: Exception => res.fail(s"$q threw $e"); None }
        wall.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
        sc.clearJobGroup()
        h match {
          case Some(v) if ref.get(q).contains(v) => hashes(q) = v
          case Some(v) => hashes(q) = v; res.fail(s"$q hash $v != reference ${ref.get(q)}"); res.failed += 1
          case None => res.failed += 1
        }
      }
      passes += (System.nanoTime() - p0) / 1e9
      Log(f"pipeline: pass $pass ${passes.last}%.2f s")
      pass += 1
    }
    res.detail("passes") = passes.size
    res.detail("pass_s") = passes.toSeq
    res.detail("hashes") = hashes
    res.detail("order") = orders.toSeq
    res.detail("query_ms") = wall.map { case (q, ms) => q -> ms.toSeq }
    val queryMs = wall.values.flatten.toSeq
    if (tracer.enabled) {
      SparkCounters.drain(sc)
      Queries.foreach { q =>
        val gs = (0 until pass).map(p => counters.group(s"p$p.$q"))
        def per(f: counters.Acc => Long) = gs.map(f(_).toDouble).sum / gs.size
        res.put(s"ops.$q.wall_ms", Stats.median(wall(q)), "ms")
        res.put(s"ops.$q.jobs", per(_.jobs), "count")
        res.put(s"ops.$q.tasks", per(_.tasks), "count")
        res.put(s"ops.$q.executor_run_ms", per(_.runMs), "ms")
        res.put(s"ops.$q.shuffle_bytes", per(_.shuffleWrite), "bytes")
        res.put(s"ops.$q.spill_bytes", per(_.spill), "bytes")
      }
      // the workload-independent layer metrics: a query is one pipeline
      // query, the batch is one pass
      val gs = counters.groups("p")
      counters.totals(gs, queryMs.size).foreach { case (k, v, u) => res.put(s"spark.${k}_per_query", v, u) }
      counters.totals(gs, pass).foreach { case (k, v, u) => res.put(s"spark.batch_$k", v, u) }
      res.put("query.plan_ms", Stats.median(tracer.durationsMs("ops.plan")), "ms")
      res.put("query.execute_ms", Stats.median(tracer.durationsMs("ops.execute")), "ms")
      res.put("traced.batch_s", Stats.median(passes), "s")
      res.put("traced.query_p50_ms", Stats.median(queryMs), "ms")
    } else {
      res.put("batch_s", Stats.median(passes), "s")
      res.put("query_p50_ms", Stats.median(queryMs), "ms")
      res.put("query_p95_ms", Stats.quantile(queryMs, 0.95), "ms")
      res.put("queries_per_s", (queryMs.size - res.failed) / passes.sum, "1/s")
    }
  }
}
