package graft.pipeline

import java.util.concurrent.atomic.AtomicReference
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Try
import scala.util.control.NonFatal

/** Micro-batch pipeline runtime — the Spark-first re-expression of the
  * reference's Go operator chain (SURVEY.md §2.A):
  *
  *  - Init        (internal/pipeline/init.go:26-66)     → `resume()` probe
  *  - TipTracker  (internal/pipeline/tip_tracker.go)    → `tip()` poll loop
  *  - Batcher     (internal/pipeline/batcher.go:59-91)  → range splitter
  *  - Stage×N     (internal/pipeline/stage.go:73-118)   → `workers` driver
  *    threads submitting concurrent Spark jobs (intra-batch parallelism
  *    is Spark's own task scheduler; `workers` only overlaps batches)
  *  - Sequencer   (internal/pipeline/sequencer.go:24-84)→ ordered-commit
  *    gate: batch k's sink publish waits for k-1's commit
  *  - Finalizer   (internal/pipeline/finalizer.go:28-70)→ items/sec metric
  *
  * Each batch: transform, which also writes the batch once into a
  * private staging directory (the reference's buffer table,
  * examples/ethereum_blocks/create_buffer.sql:1), unordered and in
  * parallel with its peers → ordered publish of the staged files into
  * the sink by rename (write_to_sink.sql). Nothing is persisted, so
  * nothing is left to free (delete_buffer.sql). Re-runs are safe
  * because the sink dedups on read and `resume` re-reads max(key)+1 —
  * the ReplacingMergeTree contract.
  */
object PipelineRunner {

  /** One micro-batch: closed offset interval, monotonic sequence number
    * (internal/pipeline/types.go:17-23). */
  final case class Batch(number: Long, start: Long, end: Long)

  final case class Config(
      maxBatchSize: Long = 100, // internal/pipeline/batcher.go:18
      workers: Int = 2, // examples/ethereum_blocks/pipeline.yaml:26
      defaultStart: Long = 0,
      forceStart: Option[Long] = None, // internal/pipeline/init.go:33
      stopAfterBatches: Option[Long] = None, // tip_tracker.go:86 analog
      tipPollIntervalMs: Long = 10000, // tip_tracker.go:26
      followTip: Boolean = false, // false = run-to-tip once (AvailableNow)
      /** followTip stall budget: polls with no tip movement before giving
        * up. Defaults to follow-FOREVER (the reference's tip_tracker
        * semantics) — run-to-tip-once callers should use followTip=false,
        * not a small idle budget; tests may bound it explicitly. */
      maxIdlePolls: Long = Long.MaxValue)

  final case class Result(batches: Long, items: Long, elapsedSec: Double) {
    def itemsPerSec: Double = if (elapsedSec > 0) items / elapsedSec else 0
  }

  trait Definition {
    /** Resume probe (start.sql): next offset to process, if the sink has
      * any data. Called at the start of every pass, a forced one too, so
      * a staging definition drops a crashed run's leftovers here. */
    def resume(spark: SparkSession): Option[Long]
    /** Tip probe (tip.sql): highest processable offset right now. */
    def tip(spark: SparkSession): Long
    /** The batch transform (create_buffer.sql): offset range → rows.
      * Runs unordered, concurrently with its peers, so a sink-writing
      * definition stages its write here ([[SinkTable.stage]]). */
    def transform(spark: SparkSession, batch: Batch): DataFrame
    /** Ordered commit (write_to_sink.sql): publishes what `transform`
      * staged for `df` ([[SinkTable.publish]]). */
    def commit(spark: SparkSession, batch: Batch, df: DataFrame): Unit
    /** Session conf scoped around the whole pass, every batch's
      * transform and commit — the reference's per-stage
      * ClickhouseSettings (internal/pipeline/stage.go:66,88-90).
      * Restored after the pass. */
    def transformConf: Map[String, String] = Map.empty
  }

  /** Apply conf pairs, run body, restore previous values. */
  def withSessionConf[T](spark: SparkSession, conf: Map[String, String])(body: => T): T =
    if (conf.isEmpty) body
    else {
      val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => try spark.conf.unset(k) catch { case _: Exception => () }
      }
    }

  /** Split [start, tip] into closed ranges of maxBatchSize
    * (internal/pipeline/batcher.go:59-91). */
  def plan(start: Long, tip: Long, maxBatchSize: Long, firstNumber: Long = 0): Seq[Batch] = {
    require(maxBatchSize > 0, "maxBatchSize must be positive")
    var s = start
    var num = firstNumber
    val out = Seq.newBuilder[Batch]
    while (s <= tip) {
      val e = math.min(s + maxBatchSize - 1, tip)
      out += Batch(num, s, e)
      num += 1
      s = e + 1
    }
    out.result()
  }

  /** Ordered-commit gate (internal/pipeline/sequencer.go:52-80): commits
    * strictly in batch-number order, whatever order workers finish in.
    * `poison()` wakes every waiter after a failure so nothing deadlocks. */
  final class Sequencer(first: Long) {
    private var next = first
    private var poisoned = false
    /** Returns true when it is this batch's turn; false if poisoned. */
    def awaitTurn(number: Long): Boolean = synchronized {
      while (number != next && !poisoned) wait()
      !poisoned
    }
    def release(number: Long): Unit = synchronized {
      if (!poisoned && number == next) { next += 1; notifyAll() }
    }
    def poison(): Unit = synchronized { poisoned = true; notifyAll() }
  }

  /** Run one pipeline pass. Worker threads overlap batch compute; the
    * Sequencer serializes only the commit step. */
  def run(spark: SparkSession, defn: Definition, conf: Config): Result = {
    val t0 = System.nanoTime()
    // before resume: on a session made for this run, resume runs its
    // first query, so the setting still takes effect
    graft.Sessions.shareCode(spark)
    // resume runs on a forced start too: it also drops what a crashed
    // run staged and never published
    val resumed = defn.resume(spark)
    val start = conf.forceStart.orElse(resumed).getOrElse(conf.defaultStart)
    var totalItems = 0L
    var totalBatches = 0L
    var from = start
    var continue = true
    var idlePolls = 0L
    // ONE tip probe per loop turn (tip.sql is an RPC round-trip; probing
    // again after each pass doubled per-iteration latency). followTip
    // sleeps between polls and gives up after `maxIdlePolls` stalled
    // polls (MaxValue = daemon-style follow-forever). Run-to-tip-once
    // (followTip=false) probes the tip exactly ONCE — AvailableNow
    // semantics: process what was available at start, don't pay a
    // second probe (for SQL-template pipelines that probe is a full
    // scalar query over the source view) just to learn nothing moved.
    while (continue) {
      val tip = defn.tip(spark)
      if (from > tip) {
        if (!conf.followTip || idlePolls >= conf.maxIdlePolls) continue = false
        else { Thread.sleep(conf.tipPollIntervalMs); idlePolls += 1 }
      } else {
        idlePolls = 0L
        var batches = plan(from, tip, conf.maxBatchSize, firstNumber = totalBatches)
        conf.stopAfterBatches.foreach { lim =>
          batches = batches.take(math.max(0, (lim - totalBatches)).toInt)
        }
        if (batches.isEmpty) continue = false
        else {
          // fetch-stage settings scope the WHOLE batch pass, not each
          // batch: with workers > 1 a per-batch set/restore would strip
          // the conf from a still-running peer (the reference avoids
          // this with per-conn settings; Spark session conf is global)
          withSessionConf(spark, defn.transformConf) {
            runBatches(spark, defn, conf, batches)
          }
          totalBatches += batches.length
          totalItems += batches.map(b => b.end - b.start + 1).sum
          from = batches.last.end + 1
          if (!conf.followTip ||
              conf.stopAfterBatches.exists(totalBatches >= _)) continue = false
        }
      }
    }
    Result(totalBatches, totalItems, (System.nanoTime() - t0) / 1e9)
  }

  private def runBatches(spark: SparkSession, defn: Definition, conf: Config,
      batches: Seq[Batch]): Unit = {
    val seq = new Sequencer(batches.head.number)
    val failure = new AtomicReference[Throwable]()
    val pool = Executors.newFixedThreadPool(math.max(1, conf.workers))
    val done = new CountDownLatch(batches.length)
    batches.foreach { batch =>
      pool.submit(new Runnable {
        def run(): Unit = {
          try {
            spark.sparkContext.setJobGroup(s"batch-${batch.number}",
              s"batch ${batch.number} [${batch.start}, ${batch.end}]")
            // the transform (and its staged write) runs unordered; it is
            // skipped once a peer has failed, and its own failure waits
            // for the batch's turn, so every earlier batch still commits
            val df = Try(if (failure.get() == null) Some(defn.transform(spark, batch)) else None)
            if (seq.awaitTurn(batch.number)) {
              // Record a failure BEFORE releasing the gate and re-check
              // under it: otherwise a later batch could commit after an
              // earlier one failed, and the next resume (max(key)+1)
              // would silently skip the failed range — a gap.
              // awaitTurn/release synchronize, so the failure write is
              // visible to the next waiter.
              try {
                if (failure.get() == null) df.get.foreach(defn.commit(spark, batch, _))
              } catch {
                case NonFatal(e) =>
                  failure.compareAndSet(null, e)
                  throw e
              } finally seq.release(batch.number)
            }
          } catch {
            case NonFatal(e) =>
              failure.compareAndSet(null, e)
              seq.poison()
          } finally done.countDown()
        }
      })
    }
    done.await()
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.MINUTES)
    val err = failure.get()
    if (err != null) throw err
  }

  /** Memory-class failure detector, mirroring the reference's retry
    * trigger (pipeline_retrier.go:47 retries ONLY MemoryLimitExceeded).
    * A deterministic bug must surface on attempt 1, not after 3 full
    * re-runs; transient shuffle-fetch loss is included because a shrunk
    * re-run also heals executor-loss-by-OOM. */
  def isMemoryClass(e: Throwable): Boolean = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
    chain.exists { t =>
      t.isInstanceOf[OutOfMemoryError] ||
      t.getClass.getName.contains("OutOfMemory") || {
        val m = Option(t.getMessage).getOrElse("")
        m.contains("MemoryLimitExceeded") || m.contains("memory limit") ||
        m.contains("maxResultSize") || m.contains("OutOfMemory") ||
        m.contains("FetchFailed")
      }
    }
  }

  /** Retry wrapper (internal/pipeline_retrier/pipeline_retrier.go:20-64):
    * on a memory-class failure, shrink the batch size ×factor and re-run
    * the WHOLE pipeline — safe because resume() re-reads the sink. Any
    * other failure propagates immediately. */
  def runWithRetry(spark: SparkSession, defn: Definition, conf: Config,
      maxRetries: Int = 3, shrinkFactor: Double = 0.8): Result = {
    var attempt = 0
    var c = conf
    while (true) {
      try return run(spark, defn, c)
      catch {
        case NonFatal(e) if attempt < maxRetries && isMemoryClass(e) =>
          attempt += 1
          c = c.copy(maxBatchSize = math.max(1, (c.maxBatchSize * shrinkFactor).toLong))
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
