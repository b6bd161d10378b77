package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicReference
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.evm.{FakeChain, Hex, Json => EvmJson, Rpc}
import graft.pipeline.{PipelineConfig, PipelineRunner, PrometheusEndpoint, SinkTable, SqlPipeline, Templates}

/** JSON-RPC 2.0 over loopback HTTP, answering from a [[FakeChain]], so
  * that pipelines take the production `Rpc.HttpTransport` path. The chain
  * is swapped per window; handler threads are bounded by `threads`. */
final class RpcServer(threads: Int) {
  val chain = new AtomicReference[FakeChain]()
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = com.sun.net.httpserver.HttpServer.create(
    new InetSocketAddress("127.0.0.1", 0), 64)
  server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
    val t0 = System.nanoTime()
    val req = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val doc = EvmJson.parse(req).asInstanceOf[Map[String, Any]]
    val id = EvmJson.render(doc.getOrElse("id", null))
    val params = doc.get("params") match {
      case Some(xs: List[_]) => xs
      case _ => Nil
    }
    val body =
      try {
        val result = chain.get().call(doc("method").toString, params)
        s"""{"jsonrpc":"2.0","id":$id,"result":$result}"""
      } catch {
        case e: Rpc.RpcException =>
          s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32000,"message":${Json.q(e.getMessage)}}}"""
      }
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
    Trace.count("evm.rpc_server_s", (System.nanoTime() - t0) / 1e9)
    Trace.count("evm.rpc_bytes", (req.length + bytes.length).toDouble)
  })
  server.setExecutor(pool)
  server.start()

  val url = s"http://127.0.0.1:${server.getAddress.getPort}/"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

/** Client-side timing around the engine's own HTTP transport. Calls run
  * inside Spark tasks, so their spans float and attach by job group. */
final class TimingTransport(inner: Rpc.Transport) extends Rpc.Transport {
  def call(method: String, params: List[Any]): String = {
    val t0 = Clock.nowUs
    val group = Option(org.apache.spark.TaskContext.get())
      .map(_.getLocalProperty(Trace.jobGroupKey)).orNull
    try inner.call(method, params)
    catch {
      case e: Throwable => Trace.count("evm.rpc_errors"); throw e
    } finally {
      val t1 = Clock.nowUs
      Trace.count("evm.rpc_calls")
      Trace.count("evm.rpc_client_s", (t1 - t0) / 1e6)
      Trace.add(Span(Trace.newId(), 0L, method, "evm", group, t0, t1, floating = true))
    }
  }
}

/** Times every Definition entry point. A batch runs from transform start
  * to commit end; `buffer_wait` is transform return to commit entry
  * (buffer materialization plus the Sequencer's ordered-commit wait). */
final class TimedDefinition(inner: PipelineRunner.Definition, pipeline: String) extends PipelineRunner.Definition {
  /** (span id, parent, group, transform start, transform end) per batch. */
  private val open = new ConcurrentHashMap[Long, (Long, Long, String, Long, Long)]()
  val batches = ArrayBuffer.empty[Op]
  var resumes = 0

  private def timed[T](name: String, metric: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try Trace.span(name, "pipeline")(body)
    finally Trace.count(metric, (System.nanoTime() - t0) / 1e9)
  }

  def resume(spark: SparkSession): Option[Long] = {
    resumes += 1
    timed("resume", "pipeline.resume_s")(inner.resume(spark))
  }
  def tip(spark: SparkSession): Long = timed("tip", "pipeline.tip_s")(inner.tip(spark))

  def transform(spark: SparkSession, batch: PipelineRunner.Batch): DataFrame = {
    val group = spark.sparkContext.getLocalProperty(Trace.jobGroupKey)
    val t0 = Clock.nowUs
    try inner.transform(spark, batch)
    catch { case e: Throwable => fail(batch, t0); throw e }
    finally open.put(batch.number, (Trace.newId(), Trace.currentId, group, t0, Clock.nowUs))
  }

  def commit(spark: SparkSession, batch: PipelineRunner.Batch, df: DataFrame): Unit = {
    val t2 = Clock.nowUs
    try inner.commit(spark, batch, df)
    catch { case e: Throwable => fail(batch, t2); throw e }
    val t3 = Clock.nowUs
    val (id, parent, group, t0, t1) = open.remove(batch.number)
    Trace.add(Span(id, parent, s"batch-${batch.number}", "pipeline", group, t0, t3))
    Trace.add(Span(Trace.newId(), id, "transform_plan", "pipeline", group, t0, t1))
    Trace.add(Span(Trace.newId(), id, "buffer_wait", "pipeline", group, t1, t2))
    Trace.add(Span(Trace.newId(), id, "commit", "sink", group, t2, t3))
    Trace.count("pipeline.transform_plan_s", (t1 - t0) / 1e6)
    Trace.count("pipeline.buffer_wait_s", (t2 - t1) / 1e6)
    Trace.count("pipeline.commit_s", (t3 - t2) / 1e6)
    Trace.count("sink.append_s", (t3 - t2) / 1e6)
    Trace.count("pipeline.batches")
    batches.synchronized { batches += Op(pipeline, (t3 - t0) / 1e6, ok = true) }
  }

  private def fail(batch: PipelineRunner.Batch, t0: Long): Unit = {
    Trace.count("pipeline.batches_failed")
    batches.synchronized { batches += Op(pipeline, (Clock.nowUs - t0) / 1e6, ok = false) }
  }

  override def transformConf: Map[String, String] = inner.transformConf
}

/** `chain_etl`: catch-up of one chain window through the nine example
  * pipelines in dependency order, with each pipeline.yaml's own
  * MaxBatchSize and Workers, against the loopback JSON-RPC server.
  * One op is one pipeline batch; one pass is one window into fresh
  * sinks; the items are the window's blocks.
  *
  * The chain spaces blocks 3200 s apart (27 blocks per UTC day) and every
  * window starts on a day boundary and spans `days` whole days, so the two
  * daily exports always run `days - 1` one-day batches (the newest day is
  * withheld as the export tip). The seed picks the first window. */
final class ChainEtl(cpus: Int, days: Int = 5) extends Workload {
  def itemName = "blocks"

  val blockTime = 3200L
  val perDay = 27L
  private val window = perDay * days
  private val examples = "examples"

  var server: RpcServer = _
  private var prom: PrometheusEndpoint = _
  @volatile private var scraping = true
  private var scraper: Thread = _

  private val transferEvent = "'event Transfer(address indexed,address indexed,uint256)'"
  private val transferCall = "'function transfer(address,uint256)(bool)'"

  /** First block of window k: day-aligned (n = 2 mod 27 puts block n at
    * 00:00 UTC) and distinct per seed. */
  def windowStart(seed: Long, k: Int): Long =
    2L + perDay * (1000L + math.floorMod(seed, 100000L) * 10L) + k * window

  /** `startAtWindow`: an empty sink resumes at the window's first block
    * (the exports instead start at the source's first day). */
  private case class Spec(name: String, dir: String, vars: Map[String, String],
      startAtWindow: Boolean)

  private def specs(base: String, url: String): Seq[Spec] = {
    def p(n: String) = s"$base/$n"
    Seq(
      Spec("blocks", "ethereum_blocks_spark",
        Map("RPC_ENDPOINT" -> url, "SINK_PATH" -> p("blocks")), true),
      Spec("transactions", "ethereum_transactions_spark",
        Map("RPC_ENDPOINT" -> url, "SINK_PATH" -> p("transactions")), true),
      Spec("logs", "ethereum_logs_spark",
        Map("RPC_ENDPOINT" -> url, "SINK_PATH" -> p("logs")), true),
      Spec("traces", "ethereum_traces_spark",
        Map("RPC_ENDPOINT" -> url, "SINK_PATH" -> p("traces")), true),
      Spec("decoded_logs", "ethereum_decoded_logs_spark",
        Map("SOURCE_PATH" -> p("logs"), "SINK_PATH" -> p("decoded_logs"),
          "EVENT_SIGS" -> transferEvent), true),
      Spec("decoded_traces", "ethereum_decoded_traces_spark",
        Map("SOURCE_PATH" -> p("traces"), "SINK_PATH" -> p("decoded_traces"),
          "CALL_SIGS" -> transferCall), true),
      Spec("erc20_balances", "ethereum_token_erc20_balances_spark",
        Map("SOURCE_PATH" -> p("logs"), "SINK_PATH" -> p("erc20_balances"),
          "RPC_ENDPOINT" -> url), true),
      Spec("decoded_logs_export", "decoded_logs_to_daily_parquet_file_spark",
        Map("SOURCE_PATH" -> p("decoded_logs"), "TARGET_PATH" -> p("decoded_logs_export")),
        false),
      Spec("blocks_export", "table_to_daily_parquet_file_spark",
        Map("SOURCE_PATH" -> p("blocks"), "SOURCE_KEYS" -> "number",
          "TARGET_PATH" -> p("blocks_export")), false))
  }

  /** SqlPipeline.run with the timing decorator spliced in: same child
    * session, function registration, stage conf and setup files. */
  private def runPipeline(spark: SparkSession, spec: Spec, from: Long): TimedDefinition = {
    val dir = s"$examples/${spec.dir}"
    val session = spark.newSession()
    graft.functions.EvmFunctions.registerAll(session)
    graft.functions.HexExpressions.registerAll(session)
    val (yamlText, templates) = SqlPipeline.loadPipeline(dir)
    val config = PipelineConfig.parse(yamlText)
    config.sparkConf.foreach { case (k, v) => session.conf.set(k, v) }
    config.setupFiles.foreach { f =>
      templates.get(f).foreach(t => session.sql(Templates.render(t, spec.vars)))
    }
    val defn = new TimedDefinition(SqlPipeline.definition(dir, spec.vars), spec.name)
    val runner = config.toRunnerConfig
    PipelineRunner.runWithRetry(session, defn,
      if (spec.startAtWindow) runner.copy(defaultStart = from) else runner)
    defn
  }

  def startServices(ctx: Ctx): Unit = {
    // with the scraper, the helper threads stay within nproc
    server = new RpcServer(math.max(1, cpus - 1))
    Rpc.register(server.url, new TimingTransport(new Rpc.HttpTransport(server.url)))
    // the scrape endpoint is up during every run, as in PipelineMain
    prom = PrometheusEndpoint.start(ctx.spark, 0)
    val metricsUrl = new java.net.URI(s"http://127.0.0.1:${prom.port}/metrics").toURL
    scraper = new Thread(() => {
      while (scraping) {
        val t0 = System.nanoTime()
        try {
          val in = metricsUrl.openStream()
          try in.readAllBytes() finally in.close()
          Trace.count("obs.scrapes")
          Trace.sample("obs.scrape_s", (System.nanoTime() - t0) / 1e9)
        } catch { case _: java.io.IOException => () }
        try Thread.sleep(500) catch { case _: InterruptedException => () }
      }
    }, "perfbench-scraper")
    scraper.setDaemon(true)
    scraper.start()
  }

  /** A two-day window runs every pipeline, both exports included. */
  def warmUp(ctx: Ctx): Unit = {
    startServices(ctx)
    runWindow(ctx, windowStart(ctx.seed, -1), 2, record = false)
  }

  private var windowNo = 0

  def pass(ctx: Ctx, number: Int): (Long, Double) = {
    val from = windowStart(ctx.seed, windowNo)
    windowNo += 1
    (window, runWindow(ctx, from, days, record = true))
  }

  /** Runs the nine pipelines in order from block `from` to the chain
    * tip at `url`, each into its sink under `base`; returns the batches,
    * plus one failed op for a pipeline that threw. */
  def catchUp(spark: SparkSession, base: String, url: String, from: Long): Seq[Op] =
    specs(base, url).flatMap { spec =>
      try {
        val d = Trace.span(spec.name, "pipeline") { runPipeline(spark, spec, from) }
        Trace.count("pipeline.retries", math.max(0, d.resumes - 1).toDouble)
        d.batches
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] pipeline ${spec.name} failed: $e")
          Seq(Op(spec.name, 0.0, ok = false))
      }
    }

  /** Runs one window; returns the seconds the nine pipelines took. */
  private def runWindow(ctx: Ctx, from: Long, nDays: Int, record: Boolean): Double = {
    val to = from + perDay * nDays - 1
    server.chain.set(new FakeChain(to, blockTime))
    val base = ctx.freshDir("window")
    val t0 = System.nanoTime()
    val ops = catchUp(ctx.spark, base, server.url, from)
    val wall = (System.nanoTime() - t0) / 1e9
    val failed = scala.collection.mutable.Set.empty[String] ++ ops.filterNot(_.ok).map(_.name)
    val (bad, rows) = Trace.span("readback", "sink") {
      val t = System.nanoTime()
      try ChainCheck.mismatches(ctx.spark, base, from, to, perDay)
      finally Trace.count("sink.readback_s", (System.nanoTime() - t) / 1e9)
    }
    if (bad.nonEmpty) System.err.println(s"[perfbench] window $from: output mismatch in ${bad.mkString(", ")}")
    failed ++= bad
    sinkStats(base, rows)
    if (record) ops.foreach(o => ctx.record(if (failed(o.name)) o.copy(ok = false) else o))
    else if (failed.nonEmpty)
      throw new IllegalStateException(s"warm-up window failed: ${failed.mkString(", ")}")
    deleteTree(java.nio.file.Paths.get(base))
    wall
  }

  /** Files and bytes per row over every sink of the window. */
  private def sinkStats(base: String, rows: Long): Unit = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(base))
    try {
      val parquet = files.filter(p => p.toString.endsWith(".parquet")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
      Trace.peak("sink.files", parquet.length.toDouble)
      Trace.peak("sink.bytes_per_row",
        parquet.map(java.nio.file.Files.size).sum.toDouble / math.max(1L, rows))
    } finally files.close()
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }

  override def close(): Unit = {
    scraping = false
    if (scraper != null) { scraper.interrupt(); scraper.join(5000) }
    if (prom != null) prom.stop()
    if (server != null) server.stop()
  }
}

/** Sink contents against FakeChain's closed form: block n carries
  * n mod 3 transactions, each with one Transfer log and one trace
  * (a create trace when (n + i) mod 7 == 0, else a transfer call). */
object ChainCheck {
  private def hexCol(df: DataFrame, c: String): Column =
    if (df.schema(c).dataType == BinaryType) lower(hex(col(c)))
    else regexp_replace(lower(col(c)), "^0x", "")

  private def hx(b: Array[Byte]): String = Hex.encode(b).stripPrefix("0x").toLowerCase

  private def rows(df: DataFrame, cols: Column*): Set[String] =
    df.select(concat_ws("|", cols.map(_.cast("string")): _*)).collect().map(_.getString(0)).toSet

  /** Names of the sinks whose contents differ from the closed form, and
    * the rows all sinks should hold. */
  def mismatches(spark: SparkSession, base: String, from: Long, to: Long,
      perDay: Long): (Seq[String], Long) = {
    val blocks = from to to
    val txs = for (n <- blocks; i <- 0 until FakeChain.nTx(n)) yield (n, i)
    val lastDay = from + ((to - from + 1) / perDay - 1) * perDay
    def read(name: String, keys: String*) = SinkTable(s"$base/$name", keys).read(spark)
    def exported(name: String) = spark.read.parquet(s"$base/$name")

    val expected: Seq[(String, () => Set[String], Set[String])] = Seq(
      ("blocks", () => { val d = read("blocks", "number"); rows(d, col("number"), hexCol(d, "hash")) },
        blocks.map(n => s"$n|${hx(FakeChain.h32(s"block$n"))}").toSet),
      ("transactions", () => {
        val d = read("transactions", "block_number", "transaction_index")
        rows(d, col("block_number"), col("transaction_index"), hexCol(d, "hash"))
      }, txs.map { case (n, i) => s"$n|$i|${hx(FakeChain.h32(s"tx$n-$i"))}" }.toSet),
      ("logs", () => {
        val d = read("logs", "block_number", "log_index")
        rows(d, col("block_number"), col("log_index"), hexCol(d, "address"))
      }, txs.map { case (n, i) => s"$n|$i|${hx(FakeChain.tokenAddress(i))}" }.toSet),
      ("traces", () => {
        val d = read("traces", "block_number", "transaction_index", "trace_address")
        rows(d, col("block_number"), col("transaction_index"), col("type"))
      }, txs.map { case (n, i) =>
        s"$n|$i|${if ((n + i) % 7 == 0) "create" else "call"}" }.toSet),
      ("decoded_logs", () => {
        val d = read("decoded_logs", "address", "signature", "block_number", "log_index")
        rows(d, col("block_number"), col("log_index"))
      }, txs.map { case (n, i) => s"$n|$i" }.toSet),
      ("decoded_traces", () => {
        val d = read("decoded_traces", "to", "signature", "block_number",
          "transaction_index", "trace_address")
        rows(d, col("block_number"), col("transaction_index"))
      }, txs.filter { case (n, i) => (n + i) % 7 != 0 }.map { case (n, i) => s"$n|$i" }.toSet),
      ("erc20_balances", () => {
        val d = read("erc20_balances", "wallet_address", "token_address", "block_number")
        rows(d, col("block_number"), hexCol(d, "wallet_address"), hexCol(d, "token_address"))
      }, txs.flatMap { case (n, i) => Seq(0, 1).map(side =>
        s"$n|${hx(FakeChain.walletAddress(n, i, side))}|${hx(FakeChain.tokenAddress(i))}") }.toSet),
      ("decoded_logs_export", () => rows(exported("decoded_logs_export"),
        col("block_number"), col("log_index")),
        txs.filter(_._1 < lastDay).map { case (n, i) => s"$n|$i" }.toSet),
      ("blocks_export", () => rows(exported("blocks_export"), col("number")),
        blocks.filter(_ < lastDay).map(_.toString).toSet))

    val bad = expected.flatMap { case (name, got, want) =>
      val ok = try {
        val g = got()
        if (g != want)
          System.err.println(s"[perfbench] $name: ${g.size} rows, expected ${want.size}; " +
            s"e.g. got ${(g -- want).take(2)} missing ${(want -- g).take(2)}")
        g == want
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $name: read failed: $e"); false
      }
      if (ok) None else Some(name)
    }
    (bad, expected.map(_._3.size.toLong).sum)
  }
}
