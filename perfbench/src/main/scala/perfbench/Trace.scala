package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call into a layer: `parent` is the enclosing span's id (0
  * at the top), `req` groups the spans of one request. Times are
  * System.nanoTime values. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder around the benchmark's calls into the program. Spans
  * stay in memory and are written when the run ends. When disabled,
  * [[span]] only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[T](name: String, req: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, req, name, t0, t1))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def durationsMs(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  /** Self time per span: its duration minus the union of its direct
    * children's intervals. */
  def selfMs: Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
          val lo = math.max(a, end)
          if (b > lo) (acc + (b - lo), b) else (acc, end)
        }._1
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  def toJson: String = {
    val self = selfMs
    Json(all.sortBy(_.startNs).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ms" -> self(s.id))))
  }
}

/** Scheduler counters per Spark job group, from a listener the
  * benchmark registers: jobs, stages, tasks, executor run time, input
  * bytes, shuffle write bytes and spill bytes. */
final class SparkCounters extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var inputBytes = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  private val byGroup = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    acc(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => acc(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = acc(g)
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Counters of one group; call after its jobs have ended and
    * [[SparkCounters.drain]] has let the listener bus catch up. */
  def group(g: String): Acc = synchronized { byGroup.getOrElse(g, new Acc) }
  def groups(prefix: String): Seq[Acc] = synchronized {
    byGroup.collect { case (k, v) if k.startsWith(prefix) => v }.toSeq
  }

  /** The groups' counters summed and divided by `n`, as (name, value,
    * unit). */
  def totals(accs: Seq[Acc], n: Int): Seq[(String, Double, String)] = {
    def t(f: Acc => Long) = accs.map(f(_).toDouble).sum / math.max(1, n)
    Seq(("jobs", t(_.jobs), "count"), ("stages", t(_.stages), "count"), ("tasks", t(_.tasks), "count"),
      ("executor_run_ms", t(_.runMs), "ms"), ("input_bytes", t(_.inputBytes), "bytes"),
      ("shuffle_write_bytes", t(_.shuffleWrite), "bytes"), ("spill_bytes", t(_.spill), "bytes"))
  }
}

object SparkCounters {
  def register(sc: SparkContext): SparkCounters = {
    val c = new SparkCounters
    sc.addSparkListener(c)
    c
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(sc: SparkContext): Unit = org.apache.spark.ListenerBusAccess.waitUntilEmpty(sc)
}
