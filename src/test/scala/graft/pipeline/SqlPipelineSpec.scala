package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.evm.Rpc

/** Config-driven pipeline: yaml + Spark-SQL templates run end-to-end
  * with no compiled pipeline code — the reference's `pipeline <url>` UX
  * (cmd/pipeline/pipeline.go:43-159). */
class SqlPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("sql-pipeline-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val exampleDir = SqlPipeline.exampleDir("ethereum_blocks_spark")

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-sqlpipe-$name")
      .resolve("sink").toString

  test("ethereum_blocks example runs end-to-end from config") {
    graft.functions.EvmFunctions.registerAll(spark)
    graft.functions.HexExpressions.registerAll(spark)
    val sinkPath = tmp("blocks")
    val vars = Map(
      "RPC_ENDPOINT" -> "fake://chain?tip=20",
      "SINK_PATH" -> sinkPath)
    val res = SqlPipeline.run(spark, exampleDir, vars,
      c => c.copy(maxBatchSize = 7, workers = 2))
    assert(res.items == 21)

    val got = SinkTable(sinkPath, Seq("number"), Some("timestamp")).read(spark)
    assert(got.count() == 21)

    assertDigest(got, 21, "34624dc3c7e20b6209121884e532d3d23e31c0f94481c4452dd0c5f747cb6b75")
    assert(got.columns.length == 23) // the reference table's columns, no bookkeeping

    // resume: a second run finds max(number)+1 > tip and does nothing
    val res2 = SqlPipeline.run(spark, exampleDir, vars)
    assert(res2.items == 0)
  }

  test("derived pipeline (decoded logs) runs from config over a source sink") {
    graft.functions.EvmFunctions.registerAll(spark)
    graft.functions.HexExpressions.registerAll(spark)
    val logsPath = logsSink("dl-logs", "fake://chain?tip=20")
    val dir = dirOf("ethereum_decoded_logs_spark")
    val sinkPath = tmp("dl-decoded")
    val res = SqlPipeline.run(spark, dir, Map(
      "SOURCE_PATH" -> logsPath,
      "SINK_PATH" -> sinkPath,
      "EVENT_SIGS" -> "'event Transfer(address indexed,address indexed,uint256)'"))
    assert(res.items == 21)
    val decoded = SinkTable(sinkPath,
      Seq("address", "signature", "block_number", "log_index")).read(spark)
    // one Transfer log per fake tx, all decode against the candidate sig
    val expected = (0L to 20L).map(_ % 3).sum
    assert(decoded.count() == expected)
    assert(decoded.filter(col("signature") =!=
      "Transfer(address,address,uint256)").count() == 0)
    assert(decoded.filter(get_json_object(col("inputs"), "$.arg2").isNull)
      .count() == 0)
  }

  private def dirOf(name: String): String = SqlPipeline.exampleDir(name)

  private def register(): Unit = {
    graft.functions.EvmFunctions.registerAll(spark)
    graft.functions.HexExpressions.registerAll(spark)
  }

  /** sha-256 over a frame's column names, then its rows rendered one
    * per line, sorted (binary as hex, timestamps as epoch millis). */
  private def digest(df: DataFrame): String = {
    def render(v: Any): String = v match {
      case null => "null"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
      case t: java.sql.Timestamp => t.getTime.toString
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
      case o => String.valueOf(o)
    }
    val text = (df.columns.mkString("|") +:
      df.collect().map(_.toSeq.map(render).mkString("|")).sorted).mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** A config sink over `fake://chain?tip=20` against its pinned digest.
    * Each digest was recorded while the hand-compiled DataFrame copy of
    * the pipeline still existed, and both produced exactly these rows. */
  private def assertDigest(got: DataFrame, rows: Long, expected: String): Unit = {
    assert(got.count() == rows)
    val d = digest(got)
    assert(d == expected, s"${got.columns.toSeq}: digest $d")
  }

  private val endpoint = "fake://chain?tip=20"

  /** An upstream logs sink, filled by the logs example config. */
  private def logsSink(name: String, rpc: String = endpoint): String = {
    val path = tmp(name)
    SqlPipeline.run(spark, dirOf("ethereum_logs_spark"),
      Map("RPC_ENDPOINT" -> rpc, "SINK_PATH" -> path), c => c.copy(maxBatchSize = 21))
    path
  }

  /** An upstream blocks sink, filled by the blocks example config. */
  private def blocksSink(name: String, rpc: String,
      c: PipelineRunner.Config => PipelineRunner.Config): String = {
    val path = tmp(name)
    SqlPipeline.run(spark, exampleDir, Map("RPC_ENDPOINT" -> rpc, "SINK_PATH" -> path), c)
    path
  }

  test("ethereum_logs example matches the compiled logs transform") {
    register()
    val sinkPath = tmp("cfg-logs")
    val res = SqlPipeline.run(spark, dirOf("ethereum_logs_spark"),
      Map("RPC_ENDPOINT" -> endpoint, "SINK_PATH" -> sinkPath),
      c => c.copy(maxBatchSize = 7, workers = 2))
    assert(res.batches == 3)
    val got = SinkTable(sinkPath, Seq("block_number", "log_index"),
      Some("timestamp")).read(spark)
    assertDigest(got, 21, "63ebf90bf0759c542935c572589a952698965707bf599878dcea3f39082f63fa")
  }

  test("ethereum_transactions example matches the compiled transform incl. conditionals") {
    register()
    val sinkPath = tmp("cfg-txs")
    val vars = Map("RPC_ENDPOINT" -> endpoint, "SINK_PATH" -> sinkPath,
      "ENABLE_DENCUN" -> "true", "ENABLE_OP_STACK" -> "true")
    SqlPipeline.run(spark, dirOf("ethereum_transactions_spark"), vars,
      c => c.copy(maxBatchSize = 7, workers = 2))
    val got = SinkTable(sinkPath, Seq("block_number", "transaction_index"),
      Some("timestamp")).read(spark)
    assertDigest(got, 21, "b938b3a0f4bc76e8c6a059194a3a8551fe40cd3c2d07377495f1bd147597a8dc")
    // template conditionals gate the column families off too
    val barePath = tmp("cfg-txs-bare")
    SqlPipeline.run(spark, dirOf("ethereum_transactions_spark"),
      Map("RPC_ENDPOINT" -> endpoint, "SINK_PATH" -> barePath),
      c => c.copy(maxBatchSize = 3, stopAfterBatches = Some(1)))
    val bare = spark.read.parquet(barePath)
    assert(!bare.columns.contains("max_fee_per_blob_gas"))
    assert(!bare.columns.contains("l1_fee"))
  }

  test("ethereum_traces example matches the compiled transform (computed-index receipts)") {
    register()
    val sinkPath = tmp("cfg-traces")
    SqlPipeline.run(spark, dirOf("ethereum_traces_spark"),
      Map("RPC_ENDPOINT" -> endpoint, "SINK_PATH" -> sinkPath),
      c => c.copy(maxBatchSize = 7, workers = 2))
    val got = SinkTable(sinkPath,
      Seq("block_number", "transaction_index", "trace_address"),
      Some("timestamp")).read(spark)
    assertDigest(got, 21, "d8f18394253aa9e3e3536e5bbe238f5577ee079b33517d472479942d951f92d0")
  }

  test("ethereum_decoded_traces example matches the compiled derived transform") {
    register()
    val tracesPath = tmp("cfg-dtr-src")
    SqlPipeline.run(spark, dirOf("ethereum_traces_spark"),
      Map("RPC_ENDPOINT" -> endpoint, "SINK_PATH" -> tracesPath),
      c => c.copy(maxBatchSize = 21))
    val sinkPath = tmp("cfg-dtr-out")
    val res = SqlPipeline.run(spark, dirOf("ethereum_decoded_traces_spark"), Map(
      "SOURCE_PATH" -> tracesPath,
      "SINK_PATH" -> sinkPath,
      "CALL_SIGS" -> "'function transfer(address,uint256)(bool)'"))
    assert(res.items > 0)
    val got = SinkTable(sinkPath,
      Seq("to", "signature", "block_number", "transaction_index", "trace_address"),
      Some("timestamp")).read(spark)
    // the reference's q0 projects a SUBSET of trace columns
    // (create_buffer.sql:5-25), and so does the sink
    assertDigest(got, 18, "f23d3e69ea689c67d81c0ede9f7c3a200ed55910818ed3c4a3eba03848305cb4")
  }

  test("ethereum_token_erc20_balances example matches the compiled derived transform") {
    register()
    val logsPath = logsSink("cfg-bal-src")
    val sinkPath = tmp("cfg-bal-out")
    val res = SqlPipeline.run(spark, dirOf("ethereum_token_erc20_balances_spark"), Map(
      "SOURCE_PATH" -> logsPath,
      "SINK_PATH" -> sinkPath,
      "RPC_ENDPOINT" -> endpoint))
    assert(res.items > 0)
    val got = SinkTable(sinkPath,
      Seq("wallet_address", "token_address", "block_number"),
      Some("timestamp")).read(spark)
    assertDigest(got, 42, "ba4dbf284601fdb25894873578deb92996d8dc7629545fe43ff854429f7eee0e")
  }

  test("erc20 balances: a transport error fails the batch, a revert yields null") {
    register()
    val logsPath = logsSink("bal-err-src")
    // the erc20 config over a transport whose every call throws `error`
    def balances(name: String, error: Rpc.RpcException): (Try[PipelineRunner.Result], String) = {
      val url = s"test://erc20-$name"
      Rpc.register(url, new Rpc.Transport {
        def call(method: String, params: List[Any]): String = throw error
      })
      val sinkPath = tmp(s"bal-err-$name")
      (Try(SqlPipeline.run(spark, dirOf("ethereum_token_erc20_balances_spark"),
        Map("SOURCE_PATH" -> logsPath, "SINK_PATH" -> sinkPath, "RPC_ENDPOINT" -> url))),
        sinkPath)
    }
    // io, timeout, 5xx or 429: the batch fails and publishes nothing, so
    // a rerun fetches the balances instead of keeping null rows
    val (down, downPath) = balances("down",
      new Rpc.RpcException("HTTP 503 from test", retryable = true))
    val causes = Iterator.iterate(down.failed.get)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("HTTP 503 from test")),
      causes)
    val published = java.nio.file.Paths.get(downPath)
    assert(!java.nio.file.Files.exists(published) || {
      val files = java.nio.file.Files.walk(published)
      try !files.iterator().asScala.exists(_.toString.endsWith(".parquet"))
      finally files.close()
    })
    // a revert is an answer, not an outage: the rows land with null balances
    val (reverted, revertPath) = balances("revert", new Rpc.RpcException("execution reverted"))
    assert(reverted.get.items > 0)
    val rows = SinkTable(revertPath, Seq("wallet_address", "token_address", "block_number"))
      .read(spark)
    assert(rows.count() == 42)
    assert(rows.filter(col("raw_balance").isNotNull || col("token_symbol").isNotNull)
      .count() == 0)
  }

  test("table_to_daily_parquet_file example exports day partitions up to yesterday") {
    register()
    // blocktime=14400 → 6 blocks/day → 21 blocks span ~3.5 days
    val multi = "fake://chain?tip=20&blocktime=14400"
    val blocksPath = blocksSink("cfg-exp-src", multi, _.copy(maxBatchSize = 21))
    val targetPath = tmp("cfg-exp-out")
    val vars = Map("SOURCE_PATH" -> blocksPath, "SOURCE_KEYS" -> "number",
      "TARGET_PATH" -> targetPath)
    val res = SqlPipeline.run(spark, dirOf("table_to_daily_parquet_file_spark"), vars)
    assert(res.batches > 0)
    val out = spark.read.parquet(targetPath)
    // everything before the newest source day is exported, nothing after
    val src = SinkTable(blocksPath, Seq("number")).read(spark)
      .withColumn("d", to_date(col("timestamp")))
    val maxDay = src.agg(max(col("d"))).head().getDate(0)
    val expected = src.filter(col("d") < lit(maxDay)).count()
    assert(out.count() == expected && expected > 0)
    assert(out.select(col("date")).distinct().count() >= 3)
    // resume: nothing new to export on a second run
    assert(SqlPipeline.run(spark, dirOf("table_to_daily_parquet_file_spark"), vars).items == 0)
  }

  test("table_to_daily_parquet_file re-run from an exported day keeps one copy per day") {
    register()
    val multi = "fake://chain?tip=20&blocktime=14400"
    val blocksPath = blocksSink("cfg-rerun-src", multi, _.copy(maxBatchSize = 21))
    val targetPath = tmp("cfg-rerun-out")
    val vars = Map("SOURCE_PATH" -> blocksPath, "SOURCE_KEYS" -> "number",
      "TARGET_PATH" -> targetPath)
    val dir = dirOf("table_to_daily_parquet_file_spark")
    SqlPipeline.run(spark, dir, vars)
    def perDay(df: org.apache.spark.sql.DataFrame) = df.groupBy(col("date"))
      .agg(count(lit(1)).as("n"), countDistinct(col("number")).as("k"))
      .collect().map(r => r.getDate(0).toString -> ((r.getLong(1), r.getLong(2)))).toMap
    val exported = perDay(spark.read.parquet(targetPath))
    val days = exported.keys.toSeq.sorted
    assert(days.size >= 3)
    // force the pass back to the first exported day: every day re-exports
    val firstDay = java.time.LocalDate.parse(days.head).toEpochDay
    val res = SqlPipeline.run(spark, dir, vars, c => c.copy(forceStart = Some(firstDay)))
    assert(res.batches == days.size)
    // each day's partition holds exactly one copy of that day's source rows
    val source = SinkTable(blocksPath, Seq("number")).read(spark)
      .withColumn("date", to_date(col("timestamp")))
    val expected = perDay(source).filter { case (d, _) => days.contains(d) }
    assert(expected.values.forall { case (n, k) => n == k && n > 0 })
    assert(perDay(spark.read.parquet(targetPath)) == expected)
    assert(exported == expected)
  }

  test("daily export keeps every day when concurrent batches straddle a month boundary") {
    register()
    // one block a day at 22:13 UTC from 2023-11-14: blocks 16-20 are
    // Nov 30 - Dec 4, so the export's first day batch is the only one in
    // November, and all four start together
    val chain = "fake://chain?tip=20&blocktime=86400"
    val blocksPath = blocksSink("cfg-month-src", chain,
      _.copy(maxBatchSize = 5, defaultStart = 16))
    val expected = (16L to 19L).map(n => java.time.Instant.ofEpochSecond(
      1700000000L + 86400L * n).toString.take(10) -> 1L).toMap
    (1 to 3).foreach { round =>
      val targetPath = tmp(s"cfg-month-out$round")
      val r = SqlPipeline.run(spark, dirOf("table_to_daily_parquet_file_spark"),
        Map("SOURCE_PATH" -> blocksPath, "SOURCE_KEYS" -> "number", "TARGET_PATH" -> targetPath),
        c => c.copy(workers = 4))
      assert(r.batches == 4)
      val got = spark.read.parquet(targetPath).groupBy(col("date")).count()
        .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      assert(got == expected, s"round $round")
    }
  }

  test("decoded_logs_to_daily_parquet_file example exports the decoded sink") {
    register()
    val multi = "fake://chain?tip=20&blocktime=14400"
    val logsPath = logsSink("cfg-dexp-logs", multi)
    val decodedPath = tmp("cfg-dexp-dec")
    SqlPipeline.run(spark, dirOf("ethereum_decoded_logs_spark"), Map(
      "SOURCE_PATH" -> logsPath, "SINK_PATH" -> decodedPath,
      "EVENT_SIGS" -> "'event Transfer(address indexed,address indexed,uint256)'"))
    val targetPath = tmp("cfg-dexp-out")
    val res = SqlPipeline.run(spark,
      dirOf("decoded_logs_to_daily_parquet_file_spark"),
      Map("SOURCE_PATH" -> decodedPath, "TARGET_PATH" -> targetPath))
    assert(res.batches > 0)
    val out = spark.read.parquet(targetPath)
    assert(out.count() > 0)
    assert(out.columns.contains("inputs") && out.columns.contains("date"))
  }

  test("pipeline config loads from an http URL (reference OBJSTR loading)") {
    register()
    // serve the blocks example dir over HTTP; the loader fetches
    // pipeline.yaml, derives the template set from it, fetches each
    val dirFile = new java.io.File(exampleDir)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/pipe/", { exchange =>
      val name = exchange.getRequestURI.getPath.stripPrefix("/pipe/")
      val f = new java.io.File(dirFile, name)
      if (f.isFile) {
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        exchange.sendResponseHeaders(200, bytes.length)
        exchange.getResponseBody.write(bytes)
      } else exchange.sendResponseHeaders(404, -1)
      exchange.close()
    })
    server.start()
    try {
      val url = s"http://localhost:${server.getAddress.getPort}/pipe"
      val sinkPath = tmp("url-blocks")
      val res = SqlPipeline.run(spark, url,
        Map("RPC_ENDPOINT" -> "fake://chain?tip=20", "SINK_PATH" -> sinkPath),
        c => c.copy(maxBatchSize = 7, workers = 2))
      assert(res.items == 21)
      assert(SinkTable(sinkPath, Seq("number"), Some("timestamp"))
        .read(spark).count() == 21)
    } finally server.stop(0)
  }

  test("per-stage settings apply during the stage and restore after") {
    register()
    val dir = java.nio.file.Files.createTempDirectory("graft-stageconf")
    def write(name: String, text: String): Unit =
      java.nio.file.Files.writeString(dir.resolve(name), text)
    write("pipeline.yaml",
      """Batcher:
        |  MaxBatchSize: 10
        |Sink:
        |  Path: "{{.SINK_PATH}}"
        |  Keys: n
        |Steps:
        |  - Stage:
        |      Files:
        |        - create_buffer.sql
        |      ClickhouseSettings:
        |        spark.sql.session.timeZone: UTC+05:00
        |  - Sequencer: {}
        |  - Stage:
        |      Files:
        |        - write_to_sink.sql
        |      Settings:
        |        output_format_parquet_compression_method: gzip
        |""".stripMargin)
    write("create_buffer.sql",
      """create temporary table buffer_{{.START}}_{{.END}} as (
        |  select id as n, current_timezone() as tz
        |  from range({{.START}}, {{.END}} + 1))""".stripMargin)
    write("write_to_sink.sql", "insert into sink select * from buffer_{{.START}}_{{.END}}")
    write("start.sql", "select max(n) + 1 as start from sink")
    write("tip.sql", "select 4 as tip")
    val before = spark.conf.get("spark.sql.session.timeZone")
    val sinkPath = tmp("stageconf")
    SqlPipeline.run(spark, dir.toString, Map("SINK_PATH" -> sinkPath))
    // the stage's statements ran (and were planned) under the scoped
    // setting; the session value is restored afterwards
    val got = SinkTable(sinkPath, Seq("n")).read(spark)
    assert(got.count() == 5)
    assert(got.filter(col("tz") === "UTC+05:00").count() == 5)
    assert(spark.conf.get("spark.sql.session.timeZone") == before)
    // the commit stage's setting applied to the batch's staged write
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(sinkPath))
    try assert(files.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet"))
      .forall(_.endsWith(".gz.parquet")))
    finally files.close()
  }

  test("a commit stage may not run other SQL before an insert into sink") {
    val dir = java.nio.file.Files.createTempDirectory("graft-commitorder")
    def write(name: String, text: String): Unit =
      java.nio.file.Files.writeString(dir.resolve(name), text)
    write("pipeline.yaml",
      """Sink:
        |  Path: "{{.SINK_PATH}}"
        |  Keys: n
        |Steps:
        |  - Stage:
        |      Files:
        |        - create_buffer.sql
        |  - Sequencer: {}
        |  - Stage:
        |      Files:
        |        - make_view.sql
        |        - write_to_sink.sql
        |""".stripMargin)
    write("create_buffer.sql",
      "create temporary view buffer_{{.START}} as (select id as n from range({{.START}}, {{.END}} + 1))")
    write("make_view.sql", "create or replace temporary view doubled as select n * 2 as n from buffer_{{.START}}")
    write("write_to_sink.sql", "insert into sink select * from doubled")
    write("start.sql", "select max(n) + 1 as start from sink")
    write("tip.sql", "select 4 as tip")
    val vars = Map("SINK_PATH" -> tmp("commitorder"))
    // the insert is staged with the transform, before make_view.sql runs
    val e = intercept[IllegalArgumentException](SqlPipeline.definition(dir.toString, vars))
    assert(e.getMessage.contains("doubled"), e.getMessage)
    // the same statement after the insert is fine
    write("pipeline.yaml", java.nio.file.Files.readString(dir.resolve("pipeline.yaml"))
      .replace("- make_view.sql\n        - write_to_sink.sql",
        "- write_to_sink.sql\n        - make_view.sql"))
    SqlPipeline.definition(dir.toString, vars)
  }

  test("pipeline config loads from a Hadoop-FS URL (object-store deploy shape)") {
    register()
    // file:// is resolved through the same Hadoop FileSystem API an
    // s3a:// / gs:// deploy would hit (the reference's OBJSTR loader,
    // cmd/main.go:25) — unlike http, the FS can LIST, so the template
    // set matches the local loader's exactly
    val absDir = new java.io.File(exampleDir).getAbsolutePath
    val (localYaml, localTemplates) = SqlPipeline.loadPipeline(absDir)
    val (fsYaml, fsTemplates) = SqlPipeline.loadPipeline(s"file://$absDir")
    assert(fsYaml == localYaml)
    assert(fsTemplates == localTemplates)
    // reference CLI shape: the path may be the yaml FILE itself
    // (templates from its parent dir), and --template-path overrides
    // the template dir independently of the yaml location
    val (yamlDirect, tmplDirect) =
      SqlPipeline.loadPipeline(s"file://$absDir/pipeline.yaml")
    assert(yamlDirect == localYaml && tmplDirect == localTemplates)
    val (yamlTp, tmplTp) = SqlPipeline.loadPipeline(
      s"$absDir/pipeline.yaml", templatePath = Some(absDir))
    assert(yamlTp == localYaml && tmplTp == localTemplates)
    // and the whole pipeline runs end-to-end from the FS URL
    val sinkPath = tmp("fs-blocks")
    val res = SqlPipeline.run(spark, s"file://$absDir",
      Map("RPC_ENDPOINT" -> "fake://chain?tip=20", "SINK_PATH" -> sinkPath),
      c => c.copy(maxBatchSize = 7, workers = 2))
    assert(res.items == 21)
    assert(SinkTable(sinkPath, Seq("number"), Some("timestamp"))
      .read(spark).count() == 21)
  }

  test("cluster config: spark:// master and s3a:// sink path thread through unchanged") {
    // SPARK_MASTER is the reference's RemoteEngine knob
    // (internal/engine/impl/remote/remote_engine.go:10-45) — the CLI
    // must hand it to the session builder verbatim
    assert(PipelineMain.resolveMaster(
      Map("SPARK_MASTER" -> "spark://controller:7077")) == "spark://controller:7077")
    assert(PipelineMain.resolveMaster(
      Map("SPARK_MASTER" -> "k8s://https://api:6443")) == "k8s://https://api:6443")
    assert(PipelineMain.resolveMaster(Map.empty) == "local[*]")
    // an object-store sink path must reach the writer untouched (no
    // local-path normalization): scheme, bucket, templated suffix intact
    val spec = SqlPipeline.sinkSpec(
      """Sink:
        |  Path: "s3a://warehouse/eth/{{.TABLE}}"
        |  Keys: number
        |""".stripMargin, Map("TABLE" -> "blocks"))
    assert(spec.path == "s3a://warehouse/eth/blocks")
    assert(spec.table.path == "s3a://warehouse/eth/blocks")
  }

  test("a missing or empty Keys fails when the definition is built") {
    def rejected(section: String)(build: => Any): Unit = {
      val e = intercept[IllegalArgumentException](build)
      assert(e.getMessage.contains(s"$section.Keys"), e.getMessage)
    }
    // no Keys and no SINK_KEYS var: no silent dedup on `number`
    rejected("Sink")(SqlPipeline.sinkSpec("Sink:\n  Path: /tmp/x\n", Map.empty))
    // Keys rendered empty from a missing template var: no key `""`
    rejected("Sink")(SqlPipeline.sinkSpec(
      "Sink:\n  Path: /tmp/x\n  Keys: \"{{.KEYS}}\"\n", Map.empty))
    rejected("Source")(SqlPipeline.sourceSpec("Source:\n  Path: /tmp/s\n", Map.empty))
    // the export example's source keys come from SOURCE_KEYS
    val exportDir = dirOf("table_to_daily_parquet_file_spark")
    val vars = Map("SOURCE_PATH" -> "/tmp/s", "TARGET_PATH" -> tmp("keys-export"))
    rejected("Source")(SqlPipeline.definition(exportDir, vars))
    // an export sink needs no keys; a replacing one may take SINK_KEYS
    assert(SqlPipeline.definition(exportDir, vars + ("SOURCE_KEYS" -> "number")) != null)
    assert(SqlPipeline.sinkSpec("Sink:\n  Path: /tmp/x\n", Map("SINK_KEYS" -> "n")).keys == Seq("n"))
  }

  test("sink spec falls back to SINK_* vars when yaml has no Sink section") {
    val spec = SqlPipeline.sinkSpec("Batcher:\n  MaxBatchSize: 5\n",
      Map("SINK_PATH" -> "/tmp/x", "SINK_KEYS" -> "a, b", "SINK_VERSION" -> "ts"))
    assert(spec.path == "/tmp/x")
    assert(spec.keys == Seq("a", "b"))
    assert(spec.version.contains("ts"))
  }
}
