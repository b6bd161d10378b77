package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** One timed operation of a workload: a pipeline batch, a query, or a
  * curation step. `ok` is false when it threw or its output check
  * failed; failed ops are excluded from latency samples. `check` names
  * an output the orchestrator compares against the DuckDB oracle. */
final case class Op(name: String, seconds: Double, ok: Boolean, check: String = null)

/** What one workload needs from the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val data: String,
    val work: Path) {
  val ops = ArrayBuffer.empty[Op]
  private val dirs = new java.util.concurrent.atomic.AtomicLong()
  /** A fresh directory under the run's work dir. */
  def freshDir(tag: String): String = {
    val d = work.resolve(s"$tag-${dirs.incrementAndGet()}")
    Files.createDirectories(d.getParent)
    d.toString
  }
  def record(op: Op): Unit = synchronized { ops += op }
}

/** A closed-loop workload: `warmUp` runs once before timing (its wall
  * is part of `setup_s`), then `pass` repeats until the time is used.
  * A pass returns the items it completed and the seconds they took,
  * which exclude its output checks. */
trait Workload {
  /** Unit of `items_per_s`. */
  def itemName: String
  def warmUp(ctx: Ctx): Unit
  def pass(ctx: Ctx, number: Int): (Long, Double)
  /** Passes timed even when they outlast `--seconds`. */
  def minPasses: Int = 1
  def close(): Unit = ()
  /** Outputs (name -> parquet dir) written during warm-up for the
    * orchestrator's oracle check, and the oracle SQL for each. */
  def checks: Seq[(String, String, String)] = Nil
}

/** Entry point: `Main --workload W --seed N --seconds S --trace 0|1
  * --data DIR --work DIR --out FILE`. Prints progress on stderr and
  * writes one JSON document with the raw samples to `--out`. */
object Main {
  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  /** `local[cpus]` with every scratch directory under `work`; the
    * listeners are registered only for a traced run. */
  def session(work: Path, cpus: Int, traced: Boolean): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // room for every class the generated code of a run compiles: with
      // Spark's default of 100 entries, each curation pass evicts and
      // recompiles ~270 classes, and the Janino and JIT work that follows
      // outweighs the operators being timed
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (traced)
      builder
        .config("spark.extraListeners", classOf[ExecListener].getName)
        .config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
        .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.EvmFunctions.registerAll(spark)
    graft.functions.HexExpressions.registerAll(spark)
    spark
  }

  /** Used heap once garbage is gone. Spark's ContextCleaner drops
    * shuffle, broadcast and RDD state only after a GC has queued their
    * references, so collect and let it run a few times; the lowest
    * reading is what stays. */
  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = session(work, cpus, traced)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[perfbench] session up ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s after JVM start")
    val ctx = new Ctx(spark, seed, opts("data"), work)
    val wl: Workload = workloadName match {
      case "chain_etl" => new ChainEtl(cpus)
      case "curation" => new Curation
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    wl.warmUp(ctx)
    ctx.ops.clear()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    /** Whole passes until `budget` seconds are used, and at least the
      * workload's `minPasses`: every part of the run times the same mix
      * of operations. Each pass starts from a collected heap. */
    def measure(budget: Double): (Seq[Op], Seq[(Long, Double)], Double) = {
      ctx.ops.clear()
      val deadline = System.nanoTime() + (budget * 1e9).toLong
      val passes = ArrayBuffer.empty[(Long, Double)]
      do {
        System.gc()
        passes += Trace.span("pass", "bench") { wl.pass(ctx, passes.size) }
      } while (passes.size < wl.minPasses || System.nanoTime() < deadline)
      (ctx.ops.toList, passes.toList, retainedHeapMb())
    }

    def part(label: String, m: (Seq[Op], Seq[(Long, Double)], Double)): String = {
      val (ops, passes, heap) = m
      val opsJson = ops.map(o =>
        s"""{"name":${Json.q(o.name)},"s":${fmt(o.seconds)},"ok":${o.ok},"check":${Json.q(o.check)}}""")
      val passJson = passes.map { case (i, s) => s"""{"items":$i,"wall_s":${fmt(s)}}""" }
      System.err.println(s"[perfbench] $label: ${ops.size} ops in ${passes.size} passes: " +
        passes.map { case (i, s) => f"$i ${wl.itemName} in $s%.2f s" }.mkString(", "))
      s""""$label":{"passes":${passJson.mkString("[", ",", "]")},"heap_retained_mb":${fmt(heap)},""" +
        s""""ops":${opsJson.mkString("[", ",", "]")}}"""
    }

    val untraced = part("untraced", measure(if (traced) seconds / 2 else seconds))
    val tracedPart =
      if (!traced) ""
      else {
        Trace.enabled = true
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val measured = measure(seconds / 2)
        Trace.count("exec.codegen_compiles", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles).toDouble)
        val m = part("traced", measured)
        Thread.sleep(300) // let the listener bus drain the last events
        Trace.enabled = false
        val spans = TraceReport.resolve(Trace.all)
        TraceReport.write(spans, work.resolve(s"trace-$workloadName-$seed.jsonl"),
          workloadName, seed)
        val (self, unattributed, passWall) = TraceReport.selfTimes(spans)
        val layers = Layers.collect(self, unattributed, passWall, measured._1.size)
        "," + m + s""","layers":{${layers.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString(",")}}"""
      }

    val checks = wl.checks.map { case (n, dir, sql) =>
      s""""$n":{"dir":${Json.q(dir)},"sql":${Json.q(sql)}}"""
    }
    val json = s"""{"workload":"$workloadName","seed":$seed,""" +
      s""""setup_s":${fmt(setupS)},$untraced$tracedPart,"checks":{${checks.mkString(",")}}}"""
    Files.writeString(Paths.get(opts("out")), json)
    wl.close()
    spark.stop()
  }
}

object Json {
  /** A JSON string literal, or `null`. */
  def q(s: String): String = if (s == null) "null" else "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Every per-layer metric, zero where a layer did no work on the
  * workload. Layers are named after the engine's modules. */
object Layers {
  val counters = Seq(
    "pipeline.resume_s", "pipeline.tip_s", "pipeline.transform_plan_s",
    "pipeline.buffer_wait_s", "pipeline.commit_s", "pipeline.batches",
    "pipeline.retries", "pipeline.batches_failed",
    "sink.readback_s", "sink.append_s",
    "sink.compact_s", "sink.rescreen_s",
    "evm.rpc_calls", "evm.rpc_client_s", "evm.rpc_server_s", "evm.rpc_bytes",
    "evm.rpc_errors",
    "obs.scrapes",
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s", "plan.executions",
    "sql.build_s", "sql.execute_s",
    "exec.jobs", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "exec.tasks_failed", "exec.codegen_compiles",
    "curation.minhash_s", "curation.simhash_s", "curation.decontam_s",
    "curation.cosine_lsh_s", "curation.audio_landmark_s",
    "curation.leaked_rdds",
    "stream.epochs", "stream.trigger_s", "stream.latestOffset_s", "stream.addBatch_s",
    "stream.queryPlanning_s", "stream.walCommit_s", "stream.commitOffsets_s")
  val peaks = Seq("sink.files", "sink.bytes_per_row", "curation.persisted_rdds_peak", "stream.state_rows", "stream.state_bytes")
  val selfLayers = Seq("pipeline", "sink", "evm", "queries", "operators", "streaming", "exec")

  def collect(self: Map[String, Double], unattributed: Double, passWall: Double,
      ops: Int): Seq[(String, Double)] =
    counters.map(k => k -> Trace.counter(k)) ++
      peaks.map(k => k -> Trace.peakOf(k)) ++
      Seq("obs.scrape_p50_s" -> Trace.median("obs.scrape_s"),
        "exec.jobs_per_op" -> (if (ops > 0) Trace.counter("exec.jobs") / ops else 0.0)) ++
      selfLayers.map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0)) ++
      Seq("trace.unattributed_s" -> unattributed,
        "trace.unattributed_share" -> (if (passWall > 0) unattributed / passWall else 0.0))
}
