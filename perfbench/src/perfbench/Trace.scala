package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One wall-clock base for every span: epoch microseconds derived from
  * `nanoTime`, so spans from driver threads, task threads and listener
  * events (epoch millis) line up. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** A timed interval at a layer boundary.
  *
  * `parent` is set for spans opened on a benchmark thread. Spans that
  * happen where the benchmark has no thread of its own (Spark jobs, RPC
  * calls inside tasks) carry only their Spark job group and are attached
  * at report time to the innermost span of that group that contains
  * them. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    group: String, startUs: Long, endUs: Long, floating: Boolean = false)

/** In-memory span recorder plus the per-layer counters the listeners
  * feed. Recording is off until `enabled` is set, so the untraced part
  * of a run pays one volatile read per boundary. */
object Trace {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new InheritableThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def newId(): Long = ids.incrementAndGet()
  def currentId: Long = current.get()

  /** Run `body` as a child span of the calling thread's current span. */
  def span[T](name: String, layer: String, group: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current.get()
      current.set(id)
      val t0 = Clock.nowUs
      try body
      finally {
        current.set(parent)
        spans.add(Span(id, parent, name, layer, group, t0, Clock.nowUs))
      }
    }

  def add(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  // ---- counters (sums over the traced part of the run) ----
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()
  def count(name: String, v: Double = 1.0): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def counter(name: String): Double =
    Option(counters.get(name)).map(_.sum()).getOrElse(0.0)

  /** Peaks (e.g. state-store rows, persisted RDDs). */
  private val peaks = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  def peak(name: String, v: Double): Unit =
    if (enabled) peaks.merge(name, v, (a, b) => math.max(a, b))
  def peakOf(name: String): Double = Option(peaks.get(name)).map(_.doubleValue).getOrElse(0.0)

  /** Samples whose median is reported (e.g. scrape latency). */
  private val samples = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  def sample(name: String, v: Double): Unit =
    if (enabled) samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)
  def median(name: String): Double =
    Option(samples.get(name)).map(_.asScala.toIndexedSeq.sorted).filter(_.nonEmpty)
      .map(xs => (xs((xs.size - 1) / 2) + xs(xs.size / 2)) / 2).getOrElse(0.0)

  val jobGroupKey = "spark.jobGroup.id"
}

/** Spark jobs as floating spans (attached by job group) plus the task
  * metrics of the `exec` layer. */
final class ExecListener extends SparkListener {
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Trace.enabled) {
      val group = Option(e.properties).map(_.getProperty(Trace.jobGroupKey)).orNull
      starts.put(e.jobId, (e.time * 1000L, group))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = starts.remove(e.jobId)
    if (s != null && Trace.enabled) {
      Trace.count("exec.jobs")
      Trace.add(Span(Trace.newId(), 0L, s"job-${e.jobId}", "exec", s._2,
        s._1, math.max(s._1, e.time * 1000L), floating = true))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (Trace.enabled) {
      Trace.count("exec.tasks")
      if (e.reason != org.apache.spark.Success) Trace.count("exec.tasks_failed")
      val m = e.taskMetrics
      if (m != null) {
        Trace.count("exec.task_run_s", m.executorRunTime / 1e3)
        Trace.count("exec.task_cpu_s", m.executorCpuTime / 1e9)
        Trace.count("exec.gc_s", m.jvmGCTime / 1e3)
        Trace.count("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        Trace.count("exec.shuffle_read_bytes",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
        Trace.count("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
}

/** Catalyst phase times from each action's `QueryPlanningTracker`.
  * Registered through `spark.sql.queryExecutionListeners`, so child
  * sessions (pipelines, streaming gates) report too. */
final class PlanListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit =
    if (Trace.enabled) {
      Trace.count("plan.executions")
      qe.tracker.phases.foreach { case (phase, summary) =>
        Trace.count(s"plan.${phase}_s", summary.durationMs / 1e3)
      }
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** Per-trigger phases of every micro-batch (`StreamingQueryProgress`).
  * Registered through `spark.sql.streaming.streamingQueryListeners`. */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (Trace.enabled) {
      val p = e.progress
      Trace.count("stream.epochs")
      p.durationMs.asScala.foreach { case (k, v) =>
        val key = if (k == "triggerExecution") "trigger" else k
        Trace.count(s"stream.${key}_s", v.longValue / 1e3)
      }
      p.stateOperators.foreach { op =>
        Trace.peak("stream.state_rows", op.numRowsTotal.toDouble)
        Trace.peak("stream.state_bytes", op.memoryUsedBytes.toDouble)
      }
    }
}

/** Self time per layer: a span's duration minus the part of it that its
  * children cover. Floating spans are attached first. */
object TraceReport {
  private val tolUs = 1000L // listener times are whole milliseconds

  private def innermost(cands: Seq[Span], s: Span): Long = {
    val inside = cands.filter(c => c.id != s.id &&
      c.startUs <= s.startUs + tolUs && c.endUs >= s.endUs - tolUs)
    if (inside.isEmpty) 0L else inside.minBy(c => c.endUs - c.startUs).id
  }

  def resolve(spans: Seq[Span]): Seq[Span] = {
    val (floating, fixed) = spans.partition(_.floating)
    val fixedByGroup = fixed.filter(_.group != null).groupBy(_.group)
    val (jobs, calls) = floating.partition(_.layer == "exec")
    val jobsResolved = jobs.map(j =>
      j.copy(parent = innermost(fixedByGroup.getOrElse(j.group, Nil), j)))
    val withJobs = (fixed ++ jobsResolved).filter(_.group != null).groupBy(_.group)
    val callsResolved = calls.map(c =>
      c.copy(parent = innermost(withJobs.getOrElse(c.group, Nil), c)))
    fixed ++ jobsResolved ++ callsResolved
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** (self seconds per layer, unattributed seconds of the pass spans,
    * summed pass wall seconds). */
  def selfTimes(spans: Seq[Span]): (Map[String, Double], Double, Double) = {
    val children = spans.filter(_.parent != 0L).groupBy(_.parent)
    val self = spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
      s -> (s.endUs - s.startUs - covered(kids, s.startUs, s.endUs)) / 1e6
    }
    val byLayer = self.groupBy(_._1.layer).map { case (l, xs) => l -> xs.map(_._2).sum }
    val passes = self.filter(_._1.name == "pass")
    (byLayer, passes.map(_._2).sum,
      passes.map(p => (p._1.endUs - p._1.startUs) / 1e6).sum)
  }

  def write(spans: Seq[Span], path: java.nio.file.Path, workload: String, seed: Long): Unit = {
    val lines = spans.sortBy(_.startUs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.q(s.name)},"layer":${Json.q(s.layer)},""" +
        s""""group":${Json.q(s.group)},"start_us":${s.startUs},"end_us":${s.endUs},""" +
        s""""workload":${Json.q(workload)},"seed":$seed}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
