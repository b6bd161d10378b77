package graft.pipeline

import java.util.concurrent.atomic.LongAdder
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution metrics — the Spark analog of the reference's per-query
  * QueryMetadata {Rows, Bytes, Elapsed} accumulated from progress
  * callbacks (internal/engine/engine.go:15-22,
  * internal/engine/impl/local/conn_pool.go:183-196) and the Finalizer's
  * items/sec log (internal/pipeline/finalizer.go:53-61).
  *
  * A QueryExecutionListener sees every completed action; output rows and
  * scan bytes come from the physical plan's SQL metrics. It keeps only
  * running totals, so a `--follow` daemon's metrics memory and scrape
  * cost stay constant however many actions it runs.
  */
object Metrics {

  final class Listener extends QueryExecutionListener {
    /** Completed actions, failed ones included. */
    val queries = new LongAdder
    val failed = new LongAdder
    /** Rows, scan bytes and wall millis summed over successful actions. */
    val outputRows = new LongAdder
    val scanBytes = new LongAdder
    val elapsedMs = new LongAdder

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      // AQE wraps the real plan in adaptive/stage nodes with no metrics
      def unwrap(p: SparkPlan): SparkPlan = p match {
        case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
        case q: QueryStageExec => unwrap(q.plan)
        case other => other
      }
      def firstRows(p: SparkPlan): Long = {
        val u = unwrap(p)
        u.metrics.get("numOutputRows").map(_.value).getOrElse(
          u.children.headOption.map(firstRows).getOrElse(-1L))
      }
      def leaves(p: SparkPlan): Seq[SparkPlan] = {
        val u = unwrap(p)
        if (u.children.isEmpty) Seq(u) else u.children.flatMap(leaves)
      }
      val plan = unwrap(qe.executedPlan)
      outputRows.add(math.max(0L, firstRows(plan)))
      scanBytes.add(math.max(0L,
        leaves(plan).flatMap(_.metrics.get("filesSize").map(_.value)).sum))
      elapsedMs.add(durationNs / 1000000)
      // last, so a reader that sees the count also sees its totals
      queries.increment()
    }

    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = {
      failed.increment()
      queries.increment()
    }
  }

  private val listeners =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Listener]()

  /** Install (idempotently) and return the session's listener. */
  def register(spark: SparkSession): Listener =
    listeners.computeIfAbsent(spark, s => {
      val l = new Listener
      s.listenerManager.register(l)
      l
    })

  /** The session's listener, if one is installed. */
  def listener(spark: SparkSession): Option[Listener] =
    Option(listeners.get(spark))

  /** Finalizer-style throughput summary. */
  def throughput(result: PipelineRunner.Result): String =
    f"${result.batches} batches, ${result.items} items in " +
      f"${result.elapsedSec}%.1fs = ${result.itemsPerSec}%.1f items/s"
}
