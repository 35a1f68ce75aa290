package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{avg, col, length}

import graft.Tables
import graft.planner.{DashboardStore, InfluxPlanner, InfluxProtocol, TierSummaryProvider}
import graft.ql.InfluxParser
import graft.rollup.{Rollup, RollupJob}
import graft.server.HttpFacade
import graft.sources.TierStore

/** `dashboard`: a timed rollup pass builds the tiers from a seeded
  * metric set, then 4 closed-loop clients send seeded Grafana panel
  * queries over HTTP. Every answer is checked against brute force over
  * the raw values. The batch is the rollup pass (`batch_s`) and a query
  * is one HTTP panel query. */
object Dashboard {
  val Clients = 4
  val TimeoutMs = 10000L

  private final case class Sample(q: PanelQuery, status: Int, body: String, ms: Double)

  def run(spark: SparkSession, o: Opts, tracer: Tracer, counters: SparkCounters,
          res: Result, setup: Setup): Unit = {
    val sc = spark.sparkContext
    val size = if (o.tiny) DashboardData.Small else DashboardData.Full

    // ---- set-up: inputs, then a warm-up rollup and one query per kind
    val data = setup.prepare { rep =>
      val d = DashboardData.generate(o.seed, size)
      d.write(spark, o.workDir.resolve(s"data$rep"))
      d
    }
    val dataDir = o.workDir.resolve(s"data${setup.lastRep}")
    res.detail("input_digest") = data.digest
    res.detail("metrics") = data.names.length * 2 + 1
    res.detail("input_values") = data.valueCount
    Log("dashboard: warm-up")
    val warm = DashboardData.generate(o.seed + 1, DashboardData.Small)
    warm.write(spark, o.workDir.resolve("warm"))
    RollupJob.run(spark, o.workDir.resolve("warm").toString, o.workDir.resolve("warm_tiers").toString)
    Log("dashboard: warm rollup done")
    withFacade(spark, o.workDir.resolve("warm_tiers"), warm.endMs, o.workDir) { (planner, port) =>
      // one query of each kind, from 4 clients at once
      val rnd = new java.util.Random(o.seed)
      val zipf = new Zipf(warm.names.length, 1.1)
      val oneOfEach = DashboardQueries.Kinds.map(k => DashboardQueries.make(warm, warm.endMs, k, rnd, zipf))
      Util.parallel(oneOfEach, Clients) { q =>
        new Http(port, TimeoutMs).get(Http.query(q.text))
        if (tracer.enabled) InfluxProtocol.toInfluxSeries(planner.execute(spark, q.text))
      }
    }
    setup.done()
    Log("dashboard: timed rollup")

    // ---- timed rollup pass
    val tierDir = o.workDir.resolve("tiers")
    sc.setJobGroup("rollup", "RollupJob.run")
    val r0 = System.nanoTime()
    tracer.span("rollup.job", 0L) { RollupJob.run(spark, dataDir.toString, tierDir.toString) }
    val rollupS = (System.nanoTime() - r0) / 1e9
    sc.clearJobGroup()
    res.detail("rollup_input_values") = data.valueCount
    res.detail("tier_bytes") = Files2.bytesUnder(tierDir.toFile)
    res.detail("tier_bytes_per_value") = Files2.bytesUnder(tierDir.toFile).toDouble / data.valueCount
    if (tracer.enabled) {
      SparkCounters.drain(sc)
      res.put("traced.batch_s", rollupS, "s")
      counters.totals(Seq(counters.group("rollup")), 1).foreach { case (k, v, u) => res.put(s"spark.batch_$k", v, u) }
      val bytes = Files2.bytesUnder(tierDir.toFile).toDouble
      res.put("sources.bytes_written", bytes, "bytes")
      res.put("sources.stored_bytes_per_value", bytes / data.valueCount, "bytes")
      res.put("sketch.bytes_per_sketch", spark.read.parquet(tierDir.resolve("hist_30000").toString)
        .agg(avg(length(col("sketch")))).head().getDouble(0), "bytes")
      tracedRollupSteps(spark, dataDir, o.workDir.resolve("tiers_steps"), tracer, res)
    } else res.put("batch_s", rollupS, "s")

    // ---- query phase
    Log("dashboard: query phase")
    withFacade(spark, tierDir, data.endMs, o.workDir) { (planner, port) =>
      val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
      val reqIds = new AtomicLong(0L)
      val store = new TierStore(spark, tierDir.toString)
      val parser = new InfluxParser(() => data.endMs)
      // one untimed query loads the provider's catalog
      new Http(port, TimeoutMs).get(Http.query("list series /svc/"))
      val t0 = System.nanoTime()
      val deadline = t0 + o.seconds * 1000000000L
      val fixedPerClient = if (o.tiny) 10 else Int.MaxValue
      val queries = new DashboardQueries.QueryStream(data, data.endMs, o.seed)
      val threads = (0 until Clients).map { c =>
        new Thread(() => {
          val http = new Http(port, TimeoutMs)
          var n = 0
          while (n < fixedPerClient && (o.tiny || System.nanoTime() < deadline)) {
            val q = queries.next()
            val req = reqIds.incrementAndGet()
            // traced: the in-process chain and the HTTP request of the same
            // query, in alternating order so neither always runs second
            if (tracer.enabled && req % 2 == 0) inProcess(spark, planner, parser, store, q, req, tracer)
            val s0 = System.nanoTime()
            val (status, body) = tracer.span("server.http", req) { http.get(Http.query(q.text)) }
            samples.add(Sample(q, status, body, (System.nanoTime() - s0) / 1e6))
            if (tracer.enabled && req % 2 == 1) inProcess(spark, planner, parser, store, q, req, tracer)
            n += 1
          }
        }, s"dashboard-client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val wallS = (System.nanoTime() - t0) / 1e9

      Log("dashboard: checking answers")
      // ---- correctness and accounting
      import scala.jdk.CollectionConverters._
      val all = samples.asScala.toSeq
      val latencies = all.map { s =>
        val errs =
          if (s.status != 200) Seq(s"${s.q.kind}: HTTP ${s.status}")
          else DashboardQueries.check(data, s.q, s.body)
        errs.take(2).foreach(res.fail)
        if (errs.nonEmpty) { res.failed += 1; TimeoutMs.toDouble } else s.ms
      }
      res.attempted += all.size
      res.detail("responses_digest") = Util.digestStrings(all.map(s => s.q.text + "\n" + s.body).sorted)
      res.detail("queries") = all.size
      res.detail("queries_by_kind") = all.groupBy(_.q.kind).map { case (k, v) => k -> v.size }
      res.detail("median_ms_by_kind") = all.groupBy(_.q.kind).map { case (k, v) => k -> Stats.median(v.map(_.ms)) }
      val completed = all.size - res.failed
      // a traced client sends every query twice: in process and over HTTP
      val minQueries = if (tracer.enabled) MinQueries / 2 else MinQueries
      if (!o.tiny) res.check(all.size >= minQueries, s"only ${all.size} queries in the phase (need >= $minQueries)")
      if (tracer.enabled) {
        SparkCounters.drain(sc)
        tracedQueryMetrics(tracer, counters, all.size, res)
        res.put("traced.query_p50_ms", Stats.median(latencies), "ms")
      } else {
        res.put("query_p50_ms", Stats.median(latencies), "ms")
        res.put("query_p95_ms", Stats.quantile(latencies, 0.95), "ms")
        res.put("queries_per_s", completed / wallS, "1/s")
      }
    }
    // The traced run also drives a short live-ingest leg, so the POST,
    // parse, streaming and cascade layers are measured even though
    // `ingest` is not one of the benchmark's timed workloads.
    if (tracer.enabled && !o.tiny) {
      Log("dashboard: traced live-ingest leg")
      Ingest.run(spark, o.copy(seconds = IngestLegSeconds), tracer, counters, res, new Setup(1))
    }
  }

  val IngestLegSeconds = 8
  /** Fewest queries a phase must complete for its p95 to be reported. */
  val MinQueries = 40

  /** The in-process chain of one query, each layer call in its own span,
    * under a Spark job group per operation. */
  private def inProcess(spark: SparkSession, planner: InfluxPlanner, parser: InfluxParser,
                        store: TierStore, q: PanelQuery, req: Long, tracer: Tracer): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"q$req", q.kind)
    tracer.span("query", req) {
      tracer.span("ql.parse", req) {
        if (parser.parseListSeries(q.text).isEmpty) parser.parseQuery(q.text)
      }
      val results = tracer.span("planner.execute", req) { planner.execute(spark, q.text) }
      tracer.span("planner.collect", req) { InfluxProtocol.toInfluxSeries(results) }
    }
    q.sources.headOption.foreach { m =>
      sc.setJobGroup(s"s$req", "slice")
      val kind = if (m.endsWith("_count")) "counter" else "hist_summary"
      tracer.span("sources.slice", req) { store.slice(kind, q.tier, q.from, q.to, Some(m)).collect() }
    }
    sc.clearJobGroup()
  }

  private def tracedQueryMetrics(tracer: Tracer, counters: SparkCounters, n: Int, res: Result): Unit = {
    def med(name: String) = Stats.median(tracer.durationsMs(name))
    res.put("ql.parse_ms", med("ql.parse"), "ms")
    // the workload-independent names: planning is InfluxPlanner.execute,
    // execution is InfluxProtocol.toInfluxSeries, where the jobs run
    res.put("query.plan_ms", med("planner.execute"), "ms")
    res.put("query.execute_ms", med("planner.collect"), "ms")
    res.put("sources.slice_ms", med("sources.slice"), "ms")
    val chain = tracer.all.filter(_.name == "query").map(s => s.req -> s.ms).toMap
    val overhead = tracer.all.filter(_.name == "server.http").flatMap(s => chain.get(s.req).map(s.ms - _))
    res.put("server.overhead_ms", Stats.median(overhead), "ms")
    counters.totals(counters.groups("q"), n).foreach { case (k, v, u) => res.put(s"spark.${k}_per_query", v, u) }
  }

  /** The rollup's layer calls made one at a time, in cascade order, each
    * materialized before the next: raw tier, each tier-up step, each
    * summary table, and every TierStore append. */
  private def tracedRollupSteps(spark: SparkSession, dataDir: Path, out: Path,
                                tracer: Tracer, res: Result): Unit = {
    val store = new TierStore(spark, out.toString)
    val meas = Rollup.eventsAsMeasurements(Tables.events(spark, dataDir.toString))
    def force(df: org.apache.spark.sql.DataFrame) = { val c = df.cache(); c.count(); c }
    var prev = tracer.span("rollup.raw", 0L) { force(Rollup.rawHistogramTier(meas)) }
    tracer.span("sources.append", 0L) { store.append("hist", Rollup.RawGroupMs, prev) }
    val cached = mutable.ArrayBuffer(prev)
    Rollup.StandardTiers.foreach { d =>
      val tier = tracer.span(s"rollup.tier_up.${tierName(d)}", 0L) { force(Rollup.histogramTierUp(prev, d)) }
      tracer.span("sources.append", 0L) { store.append("hist", d, tier) }
      val summary = tracer.span("rollup.summary", 0L) { force(Rollup.histogramSummaries(tier)) }
      tracer.span("sources.append", 0L) { store.append("hist_summary", d, summary) }
      cached ++= Seq(tier, summary)
      prev = tier
    }
    cached.foreach(_.unpersist(blocking = true))
    res.put("rollup.raw_ms", tracer.durationsMs("rollup.raw").sum, "ms")
    Rollup.StandardTiers.foreach { d =>
      val n = s"rollup.tier_up.${tierName(d)}"
      res.put(s"rollup.tier_up_ms.${tierName(d)}", tracer.durationsMs(n).sum, "ms")
    }
    res.put("rollup.summary_ms", tracer.durationsMs("rollup.summary").sum, "ms")
    res.put("sources.append_ms", tracer.durationsMs("sources.append").sum, "ms")
  }

  def tierName(d: Long): String =
    if (d % 3600000L == 0) s"${d / 3600000L}h" else if (d % 60000L == 0) s"${d / 60000L}m" else s"${d / 1000L}s"

  /** A facade over materialized tiers with the planner's now pinned. */
  private def withFacade[T](spark: SparkSession, tierDir: Path, nowMs: Long, work: Path)
                           (body: (InfluxPlanner, Int) => T): T = {
    val planner = new InfluxPlanner(new TierSummaryProvider(spark, tierDir.toString), () => nowMs)
    val facade = new HttpFacade(spark, planner, new DashboardStore(work.resolve("dashboards").toString))
    val port = facade.start()
    try body(planner, port) finally facade.stop()
  }
}
