package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.planner.{DashboardStore, InfluxPlanner, InfluxProtocol, Metric => GMetric}
import graft.rollup.Rollup
import graft.server.HttpFacade
import graft.streaming.{StreamingIngest, StreamingTierProvider}

/** `ingest`: an open-loop generator POSTs pre-built gzip MetricBatch
  * bodies to `/khronus/metrics` at a fixed offered rate. The facade's
  * ingest sink appends each parsed batch to a landing table that a
  * StreamingIngest raw-tier stream and counter stream read; a fixed
  * tick runs the incremental cascade; the same facade's planner over
  * StreamingTierProvider answers InfluxQL on the live tiers.
  *
  * It runs traced only (the leg at the end of a traced `dashboard` run,
  * or standalone for the self-test) and reports per-layer metrics. */
object Ingest {
  /** Offered load in posts per second: a little over half of what the
    * ingest sink sustains on 4 cores. */
  val Rate = 3
  val Senders = 4
  val TimeoutMs = 10000L
  val TriggerMs = 2000L
  val TickMs = 4000L
  val LiveQueryEveryMs = 1000L

  private val landingSchema = StructType(Seq(
    StructField("metric", StringType), StructField("mtype", StringType),
    StructField("ts_ms", LongType), StructField("value", LongType)))

  def run(spark: SparkSession, o: Opts, tracer: Tracer, counters: SparkCounters,
          res: Result, setup: Setup): Unit = {
    val sc = spark.sparkContext
    val rate = if (o.tiny) 10 else Rate
    val seconds = if (o.tiny) 3.0 else o.seconds.toDouble
    val plan = setup.prepare(_ => IngestPlan.build(o.seed, rate, seconds))
    res.detail("input_digest") = plan.digest
    res.detail("posts_planned") = plan.posts
    res.detail("offered_rate_posts_per_s") = rate
    res.detail("values_per_post") = IngestPlan.MetricsPerPost * IngestPlan.ValuesPerMeasurement

    val base = o.workDir.resolve("ingest")
    val landing = base.resolve("landing").toString
    java.nio.file.Files.createDirectories(base.resolve("landing"))
    val ingest = new StreamingIngest(spark, base.resolve("tiers").toString)
    def meas: DataFrame = spark.readStream.schema(landingSchema).parquet(landing)
    val streams: Seq[StreamingQuery] = Seq(
      ingest.startRawTier(meas, Trigger.ProcessingTime(TriggerMs)),
      ingest.startCounterTier(meas, Trigger.ProcessingTime(TriggerMs)))

    // the sink: FIFO single-thread pool, so the k-th call is the k-th
    // accepted post; callback start/end are kept for queue and land time
    val sinkStart = new ConcurrentLinkedQueue[java.lang.Long]()
    val sinkEnd = new ConcurrentLinkedQueue[java.lang.Long]()
    val sinkErrors = new AtomicLong(0L)
    val metricsList = plan.metrics.indices.map(i => GMetric(plan.metrics(i), plan.types(i)))
    val t0Holder = new AtomicLong(Long.MaxValue)
    def eventNow(): Long = plan.eventAt(math.max(0L, System.nanoTime() - t0Holder.get))
    val planner = new InfluxPlanner(new StreamingTierProvider(spark, ingest, metricsList), () => eventNow())
    val facade = new HttpFacade(spark, planner,
      new DashboardStore(o.workDir.resolve("dashboards").toString),
      df => {
        val s = System.nanoTime()
        sinkStart.add(s)
        try df.write.mode("append").parquet(landing)
        catch { case e: Exception => sinkErrors.incrementAndGet(); throw e }
        finally sinkEnd.add(System.nanoTime())
      })
    val port = facade.start()

    try {
      // warm-up: one post spanning the four hours before the run through
      // the whole path. The cascade reads each tier from the one below,
      // so every tier table must hold a closed bucket before ticks start.
      val warmTs = (plan.eventStart - 4 * 3600000L) until (plan.eventStart - 600000L) by 60000L
      def warmMeasurements(v: String) = warmTs.map(t => s"""{"ts":$t,"values":[$v]}""").mkString(",")
      val warmBody = s"""{"metrics":[{"name":"warmup","mtype":"timer","measurements":[${warmMeasurements("1,2,3")}]},""" +
        s"""{"name":"warmup_count","mtype":"counter","measurements":[${warmMeasurements("1")}]}]}"""
      Log("ingest: session ready; warm-up post")
      new Http(port, TimeoutMs).postGzip("/khronus/metrics", IngestPlan.gzip(warmBody))
      while (sinkEnd.size < 1) Thread.sleep(20)
      val warmTiers = Seq(ingest.tierPath(Rollup.StandardTiers.last), ingest.counterTierPath(Rollup.StandardTiers.last))
      val warmDeadline = System.nanoTime() + 60000000000L
      while (!warmTiers.forall(new java.io.File(_).exists()) && System.nanoTime() < warmDeadline) {
        settle(streams, warmTs.last - 30000L)
        ingest.runCascadeIncrement(); ingest.runCounterCascadeIncrement()
      }
      sinkStart.clear(); sinkEnd.clear()
      setup.done()
      Log("ingest: steady phase starts")

      // ---- steady phase: open-loop senders, cascade tick, live reads
      val accepted = new ConcurrentLinkedQueue[(Int, Long, Long, Int)]() // (post, sendNs, doneNs, status)
      val t0 = System.nanoTime() + 200000000L
      val t0Wall = System.currentTimeMillis() + 200L
      t0Holder.set(t0)
      val stop = new AtomicBoolean(false)
      val senders = (0 until Senders).map { c =>
        new Thread(() => {
          val http = new Http(port, TimeoutMs)
          var i = c
          while (i < plan.posts) {
            val due = t0 + plan.offsetNs(i)
            var now = System.nanoTime()
            while (now < due) { java.util.concurrent.locks.LockSupport.parkNanos(due - now); now = System.nanoTime() }
            val (status, _) = http.postGzip("/khronus/metrics", plan.bodies(i))
            accepted.add((i, now, System.nanoTime(), status))
            i += Senders
          }
        }, s"ingest-sender-$c")
      }
      val firstSeen = new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Long]()
      val tickMs = new ConcurrentLinkedQueue[java.lang.Double]()
      val ticks = new AtomicLong(0L)
      def poll(): Unit = {
        val now = System.nanoTime()
        Seq(StreamingIngest.HistKind -> ingest.tierPath(IngestPlan.BucketMs),
          StreamingIngest.CounterKind -> ingest.counterTierPath(IngestPlan.BucketMs)).foreach { case (kind, path) =>
          if (new java.io.File(path).exists()) {
            spark.catalog.refreshByPath(path)
            ingest.store.slice(kind, IngestPlan.BucketMs, plan.eventStart, plan.eventStart + 86400000L)
              .select("metric", "bucket_start").collect()
              .foreach(r => firstSeen.putIfAbsent((r.getString(0), r.getLong(1)), now))
          }
        }
      }
      val ticker = new Thread(() => {
        var k = 0L
        while (!stop.get) {
          val due = t0 + k * TickMs * 1000000L
          val now = System.nanoTime()
          if (now < due) Thread.sleep((due - now) / 1000000L + 1)
          else {
            sc.setJobGroup(s"tick$k", "cascade")
            val s = System.nanoTime()
            tracer.span("rollup.cascade_increment", k) {
              ingest.runCascadeIncrement(); ingest.runCounterCascadeIncrement()
            }
            tickMs.add((System.nanoTime() - s) / 1e6)
            sc.setJobGroup(s"poll$k", "poll")
            poll()
            sc.clearJobGroup()
            ticks.incrementAndGet()
            k += 1
          }
        }
      }, "ingest-tick")
      val liveMs = new ConcurrentLinkedQueue[java.lang.Double]()
      val liveFailed = new AtomicLong(0L)
      val reader = new Thread(() => {
        val rnd = new java.util.Random(o.seed)
        var k = 1L
        while (!stop.get) {
          val due = t0 + k * LiveQueryEveryMs * 1000000L
          val now = System.nanoTime()
          if (now < due) Thread.sleep((due - now) / 1000000L + 1)
          else {
            val readable = firstSeen.keySet().asScala.map(_._1).filter(_.startsWith("ing_")).toSeq.sorted
            if (readable.nonEmpty) {
              val m = readable(rnd.nextInt(readable.size))
              val q = s"""select count from "$m" where time > now() - 5m force group by time(30s)"""
              val s = System.nanoTime()
              val ok = tracer.span("planner.live_query", k) {
                try { InfluxProtocol.toInfluxSeries(planner.execute(spark, q)); true }
                catch { case e: Exception => if (liveFailed.get == 0) Log(s"live query failed: $e"); false }
              }
              liveMs.add((System.nanoTime() - s) / 1e6)
              if (!ok) liveFailed.incrementAndGet()
            }
            k += 1
          }
        }
      }, "ingest-live-reader")
      senders.foreach(_.start()); ticker.start(); reader.start()
      senders.foreach(_.join())
      val postEnd = System.nanoTime()
      Log(s"ingest: all posts sent; sink done ${sinkEnd.size}")
      // let the sink drain the accepted posts, then close the phase
      while (sinkEnd.size < plan.posts && System.nanoTime() - postEnd < 30000000000L) Thread.sleep(20)
      // one more tick and trigger with no new posts, so buckets the posted
      // data already closed become readable the normal way
      Thread.sleep(TickMs + TriggerMs)
      val steadyEnd = System.nanoTime()
      val steadyWall = (steadyEnd - t0) / 1e9
      val steadyEndWall = t0Wall + (steadyEnd - t0) / 1000000L
      def wallOf(iso: String) = java.time.Instant.parse(iso).toEpochMilli
      val progress = streams.flatMap(_.recentProgress.toSeq)
        .filter(p => wallOf(p.timestamp) >= t0Wall && wallOf(p.timestamp) <= steadyEndWall)
      stop.set(true)
      ticker.join(); reader.join()

      Log(s"ingest: draining; sink done ${sinkEnd.size}")
      // ---- drain: a closer batch moves the watermark past every bucket
      // two closer values: the later one moves the watermark, the earlier
      // one lands in the raw tier past every posted bucket, which is what
      // closes the last 30 s buckets
      val closer = s"""{"metrics":[{"name":"closer","mtype":"timer","measurements":[""" +
        s"""{"ts":${plan.eventTs.last + 60000},"values":[1]},{"ts":${plan.eventTs.last + 600000},"values":[1]}]},""" +
        s"""{"name":"closer_count","mtype":"counter","measurements":[""" +
        s"""{"ts":${plan.eventTs.last + 60000},"values":[1]},{"ts":${plan.eventTs.last + 600000},"values":[1]}]}]}"""
      new Http(port, TimeoutMs).postGzip("/khronus/metrics", IngestPlan.gzip(closer))
      while (sinkEnd.size < plan.posts + 1 && System.nanoTime() - steadyEnd < 30000000000L) Thread.sleep(20)
      // the closer's watermark step emits the last windows in a following
      // batch, so keep ticking until every posted bucket is readable
      val drainEnd = System.nanoTime() + 40000000000L
      var pending = plan.expected.size
      while (pending > 0 && System.nanoTime() < drainEnd) {
        settle(streams, plan.eventTs.last + 600000L - 30000L)
        ingest.runCascadeIncrement(); ingest.runCounterCascadeIncrement()
        poll()
        pending = plan.expected.keySet.count(k => !firstSeen.containsKey(k))
      }
      res.check(pending == 0, s"$pending posted buckets never became readable")

      Log("ingest: reconciling")
      // ---- accounting and correctness
      val acc = accepted.asScala.toSeq
      val non200 = acc.count(_._4 != 200)
      res.attempted += plan.posts + liveMs.size
      res.failed += non200 + liveFailed.get + sinkErrors.get
      res.check(non200 == 0, s"$non200 posts answered non-200")
      res.check(sinkErrors.get == 0, s"${sinkErrors.get} ingest sink calls failed")
      res.check(liveFailed.get == 0, s"${liveFailed.get} live queries failed")
      res.check(acc.size == plan.posts, s"${acc.size} of ${plan.posts} posts sent")
      reconcile(spark, ingest, plan, res)

      val sendLag = acc.map { case (i, send, _, _) => (send - (t0 + plan.offsetNs(i))) / 1e6 }
      // freshness is sampled over the buckets the posted data itself
      // closes: a 30 s bucket needs a raw 5 s bucket past its end, which
      // the 30 s watermark emits once event time is 65 s past the bucket
      val closable = plan.eventTs.last - 75000L
      val fresh = plan.expected.toSeq.collect { case (key, b) if key._2 <= closable =>
        Option(firstSeen.get(key)).map(seen => (seen - (t0 + b.lastOffsetNs)) / 1e9)
      }.flatten
      res.detail("posts") = acc.size
      res.detail("values_posted") = plan.valuesPosted
      res.detail("freshness_samples") = fresh.size
      res.detail("buckets_expected") = plan.expected.size
      res.detail("steady_wall_s") = steadyWall
      res.detail("live_queries") = liveMs.size
      res.detail("ticks") = ticks.get
      res.check(fresh.size >= 20 || o.tiny, s"only ${fresh.size} freshness samples")

      SparkCounters.drain(sc)
      val starts = sinkStart.asScala.toSeq.take(plan.posts)
      val ends = sinkEnd.asScala.toSeq.take(plan.posts)
      val doneSorted = acc.map(_._3).sorted
      res.put("server.ingest_queue_ms", Stats.median(starts.zip(doneSorted).map { case (s, d) => (s - d) / 1e6 }), "ms")
      res.put("ingest.land_ms", Stats.median(starts.zip(ends).map { case (s, e) => (e - s) / 1e6 }), "ms")
      val batches = progress.filter(_.numInputRows > 0)
      val batchMs = batches.map(p => p.durationMs.get("triggerExecution").toDouble)
      res.put("streaming.batch_ms", if (batchMs.isEmpty) 0.0 else Stats.median(batchMs), "ms")
      res.put("streaming.busy_ratio",
        progress.map(p => p.durationMs.get("triggerExecution").toDouble).sum / 1000.0 / steadyWall / streams.size, "ratio")
      val ratios = batches.filter(_.processedRowsPerSecond > 0).map(p => p.inputRowsPerSecond / p.processedRowsPerSecond)
      res.put("streaming.input_vs_processed_rows_per_s", if (ratios.isEmpty) 0.0 else Stats.median(ratios), "ratio")
      val lags = progress.flatMap { p =>
        Option(p.eventTime.get("watermark")).map { wm =>
          val eventNowMs = plan.eventAt((wallOf(p.timestamp) - t0Wall) * 1000000L)
          (eventNowMs - wallOf(wm)) / 1000.0 / IngestPlan.Speedup
        }
      }.filter(_ >= 0)
      res.put("streaming.watermark_lag_s", if (lags.isEmpty) 0.0 else Stats.median(lags), "s")
      // every batch of the run, warm-up and closer included
      res.put("streaming.input_rows", streams.flatMap(_.recentProgress).map(_.numInputRows.toDouble).sum, "count")
      res.put("rollup.cascade_increment_ms", Stats.median(tickMs.asScala.map(_.toDouble)), "ms")
      val tickGroups = counters.groups("tick")
      res.put("spark.jobs_per_tick", tickGroups.map(_.jobs.toDouble).sum / math.max(1, tickGroups.size), "count")
      res.put("planner.live_query_ms", if (liveMs.isEmpty) 0.0 else Stats.median(liveMs.asScala.map(_.toDouble)), "ms")
      res.put("generator.send_lag_p99_ms", Stats.quantile(sendLag, 0.99), "ms")
      res.put("generator.send_lag_max_ms", sendLag.max, "ms")
      res.put("ingest.values_posted", plan.valuesPosted.toDouble, "count")
      res.put("rollup.closed_buckets", plan.expected.size.toDouble, "count")
      res.put("traced.freshness_p50_s", if (fresh.isEmpty) 0.0 else Stats.median(fresh), "s")
    } finally {
      streams.foreach(s => try s.stop() catch { case _: Exception => () })
      facade.stop()
    }
  }

  /** Waits until each stream has processed everything landed so far and
    * has run a batch at watermark `watermarkMs`: the watermark a batch
    * computes takes effect in the next one, which emits the windows it
    * closes. */
  private def settle(streams: Seq[StreamingQuery], watermarkMs: Long): Unit = {
    def at(s: StreamingQuery) = Option(s.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .exists(w => java.time.Instant.parse(w).toEpochMilli >= watermarkMs)
    streams.foreach(_.processAllAvailable())
    val deadline = System.nanoTime() + 5 * TriggerMs * 1000000L
    while (!streams.forall(at) && System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** Exactly-once reconciliation: per (metric, 30 s bucket), the 30 s
    * tier holds the non-negative value count (timers) or value sum
    * (counters) that was posted. */
  private def reconcile(spark: SparkSession, ingest: StreamingIngest, plan: IngestPlan, res: Result): Unit = {
    val hist = Rollup.histogramSummaries(ingest.tier(IngestPlan.BucketMs))
      .groupBy("metric", "bucket_start").agg(sum("count").as("count"))
    val counter = spark.read.parquet(ingest.counterTierPath(IngestPlan.BucketMs))
      .groupBy("metric", "bucket_start").agg(sum("count").as("count"))
    val got = (hist.collect() ++ counter.collect())
      .filter(r => r.getString(0).startsWith("ing_"))
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val timers = plan.metrics.zip(plan.types).toMap
    val bad = plan.expected.toSeq.filter { case (k, b) =>
      val want = if (timers(k._1) == "timer") b.count else b.sum
      !got.get(k).contains(want)
    }
    val extra = got.keySet -- plan.expected.keySet
    res.check(bad.isEmpty, s"${bad.size} (metric, bucket) pairs differ from what was posted, e.g. ${bad.take(3)}")
    res.check(extra.isEmpty, s"${extra.size} unexpected (metric, bucket) pairs, e.g. ${extra.take(3)}")
    res.detail("reconciled_buckets") = plan.expected.size - bad.size
    res.detail("tier_digest") = Util.digestStrings(got.toSeq.map { case ((m, b), c) => s"$m,$b,$c" }.sorted)
  }
}
