package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.EvmFunctions._
import graft.pipeline.{AbiDictionary, SinkTable, SqlPipeline}
import graft.pipeline.PipelineRunner.Batch
import graft.pipeline.SqlPipeline.exampleDir
import Util._

/** EVM/blockchain operator surface exposed to the driver gate. RPC-fed
  * queries run against the deterministic fake chain (`fake://`), so every
  * run yields identical rows; results are rows-only-checked except the
  * hex codec which DuckDB can oracle.
  */
object EvmOps extends QueryPack {

  /** The fake chain every pipeline query reads; the example configs
    * append their own `#fail-on-…` transport flags. */
  private val endpoint = "fake://chain?tip=20"
  private val transferEvent = "'event Transfer(address indexed,address indexed,uint256)'"

  private def registerFns(s: SparkSession): Unit = {
    graft.functions.EvmFunctions.registerAll(s)
    graft.functions.HexExpressions.registerAll(s)
  }

  private def tmpSink(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-q-$tag").resolve("sink").toString

  /** Blocks 0-20 as one batch of the example config `name`'s transform
    * stage: its buffer rows, no sink. */
  private def buffer(s: SparkSession, name: String, vars: Map[String, String]): DataFrame = {
    registerFns(s)
    SqlPipeline.buffer(s, exampleDir(name), vars, Batch(0, 0, 20))
  }

  /** A fresh sink filled by the example config `name` to the chain's tip
    * in 21-block batches; returns its path. */
  private def sink(s: SparkSession, tag: String, name: String,
      vars: Map[String, String]): String = {
    val path = tmpSink(tag)
    SqlPipeline.run(s, exampleDir(name), vars + ("SINK_PATH" -> path),
      c => c.copy(maxBatchSize = 21))
    path
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // hex quantity codec — oracle-able against DuckDB to_hex.
    "e51_hex_codec" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.HexExpressions._
      t(s, dir, "orders")
        .select($"o_orderkey",
          evmHexEncodeQuantityN($"o_orderkey").as("hex_q"),
          evmHexDecodeLongN(evmHexEncodeQuantityN($"o_orderkey")).as("roundtrip"))
        .orderBy($"o_orderkey")
    }),

    // keccak256 over table data (native codegen'd expression). DuckDB
    // has no keccak, so the gate is a pinned 50-row golden
    // (PinnedGoldens) over a deterministic key sample.
    "e52_keccak256" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.HexExpressions._
      t(s, dir, "part")
        .filter($"p_partkey" % 40 === 0)
        .select($"p_partkey",
          evmHexEncodeN(keccak256N($"p_name".cast("binary"))).as("name_hash"))
        .orderBy($"p_partkey")
    }),

    // blocks fetch+extract transform (no sink) over the fake chain.
    // U256 columns are emitted as exact decimal strings — DECIMAL output
    // is not canonicalized stably by the driver's hasher.
    "e53_blocks_transform" -> ((s, _) => {
      import graft.functions.HexExpressions.u256ToStringN
      buffer(s, "ethereum_blocks_spark", Map("RPC_ENDPOINT" -> endpoint))
        .select(col("number"), col("timestamp"), evmHexEncode(col("hash")).as("hash_hex"),
          col("gas_used"), u256ToStringN(col("base_fee_per_gas")).as("base_fee_per_gas"))
        .orderBy(col("number"))
    }),

    // logs fetch: double explode + broadcast header join.
    "e54_logs_transform" -> ((s, _) => {
      buffer(s, "ethereum_logs_spark", Map("RPC_ENDPOINT" -> endpoint))
        .select(col("block_number"), col("log_index"),
          evmHexEncode(col("address")).as("address_hex"),
          size(col("topics")).as("n_topics"))
        .orderBy(col("block_number"), col("log_index"))
    }),

    // transactions: the parallel zip-explode of txs with receipts,
    // including the Dencun + OP-stack conditional column families.
    "e55_transactions_transform" -> ((s, _) => {
      import graft.functions.HexExpressions.u256ToStringN
      buffer(s, "ethereum_transactions_spark", Map("RPC_ENDPOINT" -> endpoint,
          "ENABLE_DENCUN" -> "true", "ENABLE_OP_STACK" -> "true"))
        .select(col("block_number"), col("transaction_index"), col("gas"),
          col("cumulative_gas_used"), col("status"),
          u256ToStringN(col("value")).as("value"),
          col("blob_gas_used"), col("is_system_tx"), col("l1_gas_used"),
          u256ToStringN(col("deposit_nonce")).as("deposit_nonce"))
        .orderBy(col("block_number"), col("transaction_index"))
    }),

    // end-to-end micro-batch pipeline: fetch → ordered commit → dedup read
    // (the blocks config; e61 runs it again over its own sink).
    "e56_blocks_pipeline" -> ((s, _) => {
      val path = tmpSink("blocks")
      SqlPipeline.run(s, exampleDir("ethereum_blocks_spark"),
        Map("RPC_ENDPOINT" -> endpoint, "SINK_PATH" -> path),
        c => c.copy(maxBatchSize = 7, workers = 2))
      SinkTable(path, Seq("number"), Some("timestamp")).read(s)
        .select(col("number"), col("gas_used"), col("size"))
        .orderBy(col("number"))
    }),

    // config-driven pipeline: yaml + Spark-SQL templates, no compiled
    // pipeline code (reference `pipeline <url>` UX), restarted: the
    // blocks config runs twice into one sink, the second run a
    // `forceStart` re-ingest from block 0 (the re-run a fixed transform
    // needs). Every block then has two published versions, and the
    // last-write-wins read must return the rows of one run.
    "e61_config_pipeline" -> ((s, _) => {
      graft.functions.EvmFunctions.registerAll(s)
      graft.functions.HexExpressions.registerAll(s)
      val path = java.nio.file.Files.createTempDirectory("graft-q-sqlpipe")
        .resolve("sink").toString
      def run(start: Option[Long]) = graft.pipeline.SqlPipeline.run(s,
        exampleDir("ethereum_blocks_spark"),
        Map("RPC_ENDPOINT" -> "fake://chain?tip=20", "SINK_PATH" -> path),
        c => c.copy(maxBatchSize = 7, workers = 2, forceStart = start))
      val first = run(None)
      val again = run(Some(0L))
      val sink = SinkTable(path, Seq("number"), Some("timestamp"))
      require(again.items == first.items && sink.readRaw(s).count() == 2 * first.items,
        s"the re-ingest published ${again.items} of ${first.items} blocks")
      sink.read(s).select(col("number"), col("gas_used"), col("size"))
        .orderBy(col("number"))
    }),

    // config-driven DERIVED pipeline: upstream logs sink → decoded sink,
    // defined entirely as yaml + SQL templates (Source section).
    "e62_config_derived" -> ((s, _) => {
      graft.functions.EvmFunctions.registerAll(s)
      graft.functions.HexExpressions.registerAll(s)
      val logsPath = sink(s, "dl-src", "ethereum_logs_spark", Map("RPC_ENDPOINT" -> endpoint))
      val sinkPath = java.nio.file.Files.createTempDirectory("graft-q-dl-out")
        .resolve("sink").toString
      graft.pipeline.SqlPipeline.run(s, exampleDir("ethereum_decoded_logs_spark"), Map(
        "SOURCE_PATH" -> logsPath,
        "SINK_PATH" -> sinkPath,
        "EVENT_SIGS" -> transferEvent))
      SinkTable(sinkPath, Seq("address", "signature", "block_number", "log_index"))
        .read(s)
        .select(col("block_number"), col("log_index"), col("signature"),
          get_json_object(col("inputs"), "$.arg2").as("amount"))
        .orderBy(col("block_number"), col("log_index"))
    }),

    // ABI event decode against the dictionary (signature + inputs JSON).
    "e57_decoded_logs" -> ((s, _) => {
      val lookup = AbiDictionary.builtin.lookupUdf(s)
      buffer(s, "ethereum_logs_spark", Map("RPC_ENDPOINT" -> endpoint))
        .withColumn("evt_json", evmDecodeEvent(col("topics"), col("data"),
          lookup(element_at(col("topics"), 1))))
        .filter(get_json_object(col("evt_json"), "$.error").isNull)
        .select(col("block_number"), col("log_index"),
          get_json_object(col("evt_json"), "$.value.signature").as("signature"),
          get_json_object(col("evt_json"), "$.value.inputs.arg2").as("amount"))
        .orderBy(col("block_number"), col("log_index"))
    }),

    // ABI call decode (selector match on trace input/output).
    "e58_decoded_traces" -> ((s, _) => {
      val lookup = AbiDictionary.builtin.lookupUdf(s)
      buffer(s, "ethereum_traces_spark", Map("RPC_ENDPOINT" -> endpoint))
        .filter(length(col("input")) >= 4)
        .withColumn("call_json", evmDecodeCall(col("input"), col("output"),
          lookup(substring(col("input"), 1, 4))))
        .filter(get_json_object(col("call_json"), "$.error").isNull)
        .select(col("block_number"), col("transaction_index"),
          evmHexEncode(col("transaction_from")).as("transaction_from"),
          col("transaction_status"),
          get_json_object(col("call_json"), "$.value.signature").as("signature"),
          get_json_object(col("call_json"), "$.value.outputs.arg0").as("success"))
        .orderBy(col("block_number"), col("transaction_index"))
    }),

    // VariantType open-schema decode: inputs as Spark 4 variant, fields
    // extracted with variant_get (no JSON re-parse) — rows-only.
    "e60_decoded_logs_variant" -> ((s, _) => {
      val logsPath = sink(s, "vlogs", "ethereum_logs_spark", Map("RPC_ENDPOINT" -> endpoint))
      buffer(s, "ethereum_decoded_logs_spark",
          Map("SOURCE_PATH" -> logsPath, "EVENT_SIGS" -> transferEvent))
        .withColumn("inputs", parse_json(col("inputs")))
        .select(col("block_number"), col("log_index"), col("signature"),
          expr("variant_get(inputs, '$.arg2', 'string')").as("amount"),
          expr("variant_get(inputs, '$.arg0', 'string')").as("sender"))
        .orderBy(col("block_number"), col("log_index"))
    }),

    // dedup-then-RPC: erc20 balances over a fake-chain logs sink.
    "e59_erc20_balances" -> ((s, _) => {
      val logsPath = sink(s, "logs", "ethereum_logs_spark", Map("RPC_ENDPOINT" -> endpoint))
      buffer(s, "ethereum_token_erc20_balances_spark",
          Map("SOURCE_PATH" -> logsPath, "RPC_ENDPOINT" -> endpoint))
        .select(col("block_number"), evmHexEncode(col("wallet_address")).as("wallet_hex"),
          evmHexEncode(col("token_address")).as("token_hex"),
          col("token_symbol"), col("token_decimals").cast("int").as("token_decimals"),
          graft.functions.HexExpressions.u256ToStringN(col("raw_balance")).as("raw_balance"))
        .orderBy(col("block_number"), col("wallet_hex"), col("token_hex"))
    }),

    // ------------------------------------------------------------------
    // Config-dir ports of the remaining reference pipelines (e63-e69):
    // each runs a yaml+SQL-template directory via SqlPipeline (no
    // compiled transform) and projects driver-stable columns.

    // zip-explode + Dencun/OP conditional families, in template form.
    "e63_config_transactions" -> ((s, _) => {
      import graft.functions.HexExpressions.u256ToStringN
      registerFns(s)
      val path = tmpSink("cfg-txs")
      graft.pipeline.SqlPipeline.run(s, exampleDir("ethereum_transactions_spark"),
        Map("RPC_ENDPOINT" -> "fake://chain?tip=20", "SINK_PATH" -> path,
          "ENABLE_DENCUN" -> "true", "ENABLE_OP_STACK" -> "true"),
        c => c.copy(maxBatchSize = 7, workers = 2))
      SinkTable(path, Seq("block_number", "transaction_index"), Some("timestamp"))
        .read(s)
        .select(col("block_number"), col("transaction_index"), col("gas"),
          col("cumulative_gas_used"), col("status"),
          u256ToStringN(col("value")).as("value"),
          col("blob_gas_used"), col("is_system_tx"), col("l1_gas_used"),
          u256ToStringN(col("deposit_nonce")).as("deposit_nonce"))
        .orderBy(col("block_number"), col("transaction_index"))
    }),

    // chained ARRAY JOIN (receipts → logs) in template form.
    "e64_config_logs" -> ((s, _) => {
      registerFns(s)
      val path = tmpSink("cfg-logs")
      graft.pipeline.SqlPipeline.run(s, exampleDir("ethereum_logs_spark"),
        Map("RPC_ENDPOINT" -> "fake://chain?tip=20", "SINK_PATH" -> path),
        c => c.copy(maxBatchSize = 7, workers = 2))
      SinkTable(path, Seq("block_number", "log_index"), Some("timestamp")).read(s)
        .select(col("block_number"), col("log_index"),
          evmHexEncode(col("address")).as("address_hex"),
          size(col("topics")).as("n_topics"))
        .orderBy(col("block_number"), col("log_index"))
    }),

    // computed-index receipts[pos+1] lookup in template form.
    "e65_config_traces" -> ((s, _) => {
      import graft.functions.HexExpressions.u256ToStringN
      registerFns(s)
      val path = tmpSink("cfg-traces")
      graft.pipeline.SqlPipeline.run(s, exampleDir("ethereum_traces_spark"),
        Map("RPC_ENDPOINT" -> "fake://chain?tip=20", "SINK_PATH" -> path),
        c => c.copy(maxBatchSize = 7, workers = 2))
      SinkTable(path, Seq("block_number", "transaction_index", "trace_address"),
          Some("timestamp")).read(s)
        .select(col("block_number"), col("transaction_index"), col("type"),
          col("gas"), col("gas_used"),
          u256ToStringN(col("value")).as("value"),
          evmHexEncode(col("transaction_from")).as("transaction_from"),
          col("transaction_status"))
        .orderBy(col("block_number"), col("transaction_index"))
    }),

    // derived call-decode over a traces sink, in template form.
    "e66_config_decoded_traces" -> ((s, _) => {
      registerFns(s)
      val tracesPath = sink(s, "cfg-dtr-src", "ethereum_traces_spark",
        Map("RPC_ENDPOINT" -> endpoint))
      val path = tmpSink("cfg-dtr-out")
      graft.pipeline.SqlPipeline.run(s, exampleDir("ethereum_decoded_traces_spark"),
        Map("SOURCE_PATH" -> tracesPath, "SINK_PATH" -> path,
          "CALL_SIGS" -> "'function transfer(address,uint256)(bool)'"))
      SinkTable(path,
          Seq("to", "signature", "block_number", "transaction_index", "trace_address"),
          Some("timestamp")).read(s)
        .select(col("block_number"), col("transaction_index"), col("signature"),
          get_json_object(col("outputs"), "$.arg0").as("success"),
          get_json_object(col("inputs"), "$.arg1").as("amount"))
        .orderBy(col("block_number"), col("transaction_index"))
    }),

    // the 5-CTE aggregate-then-RPC chain, in template form.
    "e67_config_erc20_balances" -> ((s, _) => {
      import graft.functions.HexExpressions.u256ToStringN
      registerFns(s)
      val logsPath = sink(s, "cfg-bal-src", "ethereum_logs_spark",
        Map("RPC_ENDPOINT" -> endpoint))
      val path = tmpSink("cfg-bal-out")
      graft.pipeline.SqlPipeline.run(s,
        exampleDir("ethereum_token_erc20_balances_spark"),
        Map("SOURCE_PATH" -> logsPath, "SINK_PATH" -> path,
          "RPC_ENDPOINT" -> endpoint))
      SinkTable(path, Seq("wallet_address", "token_address", "block_number"),
          Some("timestamp")).read(s)
        .select(col("block_number"), evmHexEncode(col("wallet_address")).as("wallet_hex"),
          evmHexEncode(col("token_address")).as("token_hex"),
          col("token_symbol"), col("token_decimals").cast("int").as("token_decimals"),
          u256ToStringN(col("raw_balance")).as("raw_balance"))
        .orderBy(col("block_number"), col("wallet_hex"), col("token_hex"))
    }),

    // daily-parquet export of an events sink — COMPUTED DuckDB oracle
    // (the only e6x whose inputs come from the sf dir, not the fake
    // chain). Bounded to the first 10 source days so the 1-day batches
    // stay cheap at any sf.
    "e68_config_daily_export" -> ((s, dir) => {
      registerFns(s)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts").as("timestamp"))
      val minDay = ev.agg(min(to_date(col("timestamp")))).head().getDate(0)
      val bounded = ev.filter(to_date(col("timestamp")) < date_add(lit(minDay), 6))
      val srcPath = tmpSink("cfg-exp-src")
      SinkTable(srcPath, Seq("event_id"), Some("timestamp")).append(bounded, 0)
      val targetPath = tmpSink("cfg-exp-out")
      graft.pipeline.SqlPipeline.run(s, exampleDir("table_to_daily_parquet_file_spark"),
        Map("SOURCE_PATH" -> srcPath, "SOURCE_KEYS" -> "event_id",
          "TARGET_PATH" -> targetPath))
      s.read.parquet(targetPath)
        .select(col("event_id"), col("date").cast("string").as("date"))
        .orderBy(col("event_id"))
    }),

    // daily-parquet export of a decoded-logs sink over a slow multi-day
    // fake chain (blocktime=14400 → 6 blocks/day).
    "e69_config_decoded_logs_export" -> ((s, _) => {
      registerFns(s)
      val multi = "fake://chain?tip=20&blocktime=14400"
      val logsPath = sink(s, "cfg-dexp-logs", "ethereum_logs_spark", Map("RPC_ENDPOINT" -> multi))
      val decodedPath = sink(s, "cfg-dexp-dec", "ethereum_decoded_logs_spark",
        Map("SOURCE_PATH" -> logsPath, "EVENT_SIGS" -> transferEvent))
      val targetPath = tmpSink("cfg-dexp-out")
      graft.pipeline.SqlPipeline.run(s,
        exampleDir("decoded_logs_to_daily_parquet_file_spark"),
        Map("SOURCE_PATH" -> decodedPath, "TARGET_PATH" -> targetPath))
      s.read.parquet(targetPath)
        .select(col("block_number"), col("log_index"), col("signature"),
          get_json_object(col("inputs"), "$.arg2").as("amount"),
          col("date").cast("string").as("date"))
        .orderBy(col("block_number"), col("log_index"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "e51_hex_codec" ->
      """SELECT o_orderkey, '0x' || lower(to_hex(o_orderkey)) AS hex_q,
        o_orderkey AS roundtrip
        FROM orders ORDER BY o_orderkey""",
    // the export withholds the newest day of the 6-day bounded slice
    // (tip = yesterday), so exported days are [d0, d0+5)
    "e68_config_daily_export" ->
      """WITH b AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events)
        SELECT e.event_id,
               CAST(CAST(e.ts AS DATE) AS VARCHAR) AS date
        FROM events e, b
        WHERE CAST(e.ts AS DATE) < b.d0 + 5
        ORDER BY e.event_id"""
  )
}
