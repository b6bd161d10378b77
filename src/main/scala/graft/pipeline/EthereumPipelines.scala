package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.EvmFunctions._
import graft.evm.{Hex, Json, Rpc}
import PipelineRunner.{Batch, Definition}

/** The reference's example pipelines re-expressed as declarative Spark
  * transforms (reference SQL under examples/…/create_buffer.sql; see
  * SURVEY.md §2.B/§2.C for the construct-by-construct mapping).
  *
  * Shape per pipeline: `spark.range(start, end+1)` (generate_series) →
  * `ethereum_rpc` UDF (one JSON-RPC call per block, executor-side) →
  * `from_json` typed extraction (JSONExtract 'Tuple(…)') → hex-decode
  * projections → ReplacingMergeTree-style sink.
  *
  * Scale notes: the RPC stage partitions by block range so executor-side
  * HTTP fan-out is even; decode/projection stays in whole-stage codegen
  * except the scalar UDF calls themselves; the per-block JSON documents
  * never hit the driver.
  */
object EthereumPipelines {

  // --------------------------------------------------------------- helpers

  /** Driver-side tip probe (tip.sql:1-14): single scalar via the same
    * transport the executors use. */
  def rpcTip(endpoint: String, latestStatus: String = "latest"): Long = {
    val resp = Rpc.ethereumRpc("eth_getBlockByNumber",
      Seq("\"" + latestStatus + "\"", "false"), endpoint)
    Json.parse(resp) match {
      case m: Map[String, Any] @unchecked => m.get("value") match {
        case Some(b: Map[String, Any] @unchecked) =>
          Hex.decodeLong(b("number").toString)
        case _ => throw new IllegalStateException(s"no tip in $resp")
      }
    }
  }

  /** Offset range source — generate_series
    * (examples/ethereum_blocks/create_buffer.sql:7-11). One partition per
    * worker-core slice of the range so RPC calls fan out evenly. */
  def blockNumbers(spark: SparkSession, batch: Batch): DataFrame = {
    val n = batch.end - batch.start + 1
    val parts = math.max(1, math.min(n, spark.sparkContext.defaultParallelism)).toInt
    spark.range(batch.start, batch.end + 1, 1, parts).toDF("n")
  }

  // native codegen'd expressions on the hot decode path (UDF-free)
  private def decodeHex(c: Column): Column = graft.functions.HexExpressions.evmHexDecodeN(c)
  private def decodeLongCol(c: Column): Column = graft.functions.HexExpressions.evmHexDecodeLongN(c)
  /** UInt256-ranged quantities (tx value, gas_price, difficulty, fee
    * fields…) land as canonical 32-byte binary (functions/U256.scala —
    * full 2^256 range, numeric ordering under binary compare). The old
    * DECIMAL(38,18) view capped the integer part below 1e20, silently
    * overflowing e.g. a 1,000-ETH transfer (1e21 wei). */
  private def decodeBig(c: Column): Column =
    graft.functions.HexExpressions.evmHexDecodeU256N(c)
  private def tsOf(c: Column): Column =
    timestamp_seconds(decodeLongCol(c))

  // ---------------------------------------------------------------- blocks

  /** examples/ethereum_blocks/create_buffer.sql:13-36 typed extraction. */
  val blockHeaderSchema: StructType = StructType(Seq(
    "timestamp", "baseFeePerGas", "blobGasUsed", "difficulty", "excessBlobGas",
    "extraData", "gasLimit", "gasUsed", "hash", "miner", "mixHash", "nonce",
    "number", "parentBeaconBlockRoot", "parentHash", "receiptsRoot",
    "sha3Uncles", "size", "stateRoot", "totalDifficulty", "transactionsRoot",
    "withdrawalsRoot").map(StructField(_, StringType)) :+
    StructField("uncles", ArrayType(StringType)))

  private def rpcValue(resp: Column, schema: DataType): Column =
    from_json(get_json_object(resp, "$.value"), schema)

  def blocksTransform(spark: SparkSession, batch: Batch, endpoint: String): DataFrame =
    blocksProject(blockNumbers(spark, batch), endpoint)

  /** The fetch+typed-extraction projection over any DataFrame of block
    * numbers `n` — shared by the batch pipeline and the `graft-blocks`
    * streaming source (composability: stream and batch run the SAME
    * declarative transform). */
  def blocksProject(numbers: DataFrame, endpoint: String): DataFrame = {
    val raw = numbers.withColumn("resp",
      ethereumRpc(lit("eth_getBlockByNumber"),
        array(graft.functions.HexExpressions.evmHexEncodeQuantityN(col("n")), lit("false")), lit(endpoint)))
    val b = rpcValue(col("resp"), blockHeaderSchema)
    raw.select(
      tsOf(b("timestamp")).as("timestamp"),
      decodeBig(b("baseFeePerGas")).as("base_fee_per_gas"),
      decodeLongCol(b("blobGasUsed")).as("blob_gas_used"),
      decodeBig(b("difficulty")).as("difficulty"),
      decodeLongCol(b("excessBlobGas")).as("excess_blob_gas"),
      decodeHex(b("extraData")).as("extra_data"),
      decodeLongCol(b("gasLimit")).as("gas_limit"),
      decodeLongCol(b("gasUsed")).as("gas_used"),
      decodeHex(b("hash")).as("hash"),
      decodeHex(b("miner")).as("miner"),
      decodeHex(b("mixHash")).as("mix_hash"),
      decodeBig(b("nonce")).as("nonce"),
      decodeLongCol(b("number")).as("number"),
      decodeHex(b("parentBeaconBlockRoot")).as("parent_beacon_block_root"),
      decodeHex(b("parentHash")).as("parent_hash"),
      decodeHex(b("receiptsRoot")).as("receipts_root"),
      decodeHex(b("sha3Uncles")).as("sha3_uncles"),
      decodeLongCol(b("size")).as("size"),
      decodeHex(b("stateRoot")).as("state_root"),
      decodeBig(b("totalDifficulty")).as("total_difficulty"),
      decodeHex(b("transactionsRoot")).as("transactions_root"),
      transform(b("uncles"), u => decodeHex(u)).as("uncles"),
      decodeHex(b("withdrawalsRoot")).as("withdrawals_root"))
  }

  def blocks(endpoint: String, sinkPath: String): Definition = new StagedDefinition.IntoSink(
      SinkTable(sinkPath, Seq("number"), Some("timestamp")), "number") {
    def tip(spark: SparkSession): Long = rpcTip(endpoint)
    protected def buffer(spark: SparkSession, batch: Batch): DataFrame =
      blocksTransform(spark, batch, endpoint)
  }

  // ------------------------------------------------------------------ logs

  /** eth_getBlockReceipts projection for logs
    * (examples/ethereum_logs/create_buffer.sql:61-77). */
  val receiptLogsSchema: DataType = ArrayType(StructType(Seq(
    StructField("from", StringType),
    StructField("status", StringType),
    StructField("transactionHash", StringType),
    StructField("transactionIndex", StringType),
    StructField("logs", ArrayType(StructType(Seq(
      StructField("removed", BooleanType),
      StructField("logIndex", StringType),
      StructField("address", StringType),
      StructField("data", StringType),
      StructField("topics", ArrayType(StringType)))))))))

  /** Minimal header dep (examples/ethereum_logs/create_buffer.sql:13-38). */
  val headerDepSchema: StructType = StructType(Seq(
    StructField("timestamp", StringType),
    StructField("number", StringType),
    StructField("hash", StringType)))

  /** Block-header dependency (timestamp, hash, number per n), later
    * broadcast-joined — probe side ≤ batch size rows
    * (examples/ethereum_logs/create_buffer.sql:96 left join). */
  def headerDeps(spark: SparkSession, batch: Batch, endpoint: String): DataFrame = {
    val d = rpcValue(col("resp"), headerDepSchema)
    blockNumbers(spark, batch).withColumn("resp",
        ethereumRpc(lit("eth_getBlockByNumber"),
          array(graft.functions.HexExpressions.evmHexEncodeQuantityN(col("n")), lit("false")), lit(endpoint)))
      .select(col("n"), tsOf(d("timestamp")).as("timestamp"),
        decodeHex(d("hash")).as("block_hash"),
        decodeLongCol(d("number")).as("block_number"))
  }

  def logsTransform(spark: SparkSession, batch: Batch, endpoint: String): DataFrame = {
    val deps = headerDeps(spark, batch, endpoint)
    val logs = blockNumbers(spark, batch).withColumn("resp",
        ethereumRpc(lit("eth_getBlockReceipts"),
          array(graft.functions.HexExpressions.evmHexEncodeQuantityN(col("n"))), lit(endpoint)))
      .select(col("n"), explode(rpcValue(col("resp"), receiptLogsSchema)).as("r"))
      .select(col("n"),
        decodeHex(col("r.from")).as("transaction_from"),
        decodeLongCol(col("r.status")).cast("byte").as("transaction_status"),
        decodeHex(col("r.transactionHash")).as("transaction_hash"),
        decodeLongCol(col("r.transactionIndex")).cast("int").as("transaction_index"),
        explode(col("r.logs")).as("l"))
      .select(col("n"), col("transaction_from"), col("transaction_status"),
        col("transaction_hash"), col("transaction_index"),
        col("l.removed").as("removed"),
        decodeLongCol(col("l.logIndex")).cast("int").as("log_index"),
        decodeHex(col("l.address")).as("address"),
        decodeHex(col("l.data")).as("data"),
        transform(col("l.topics"), t => decodeHex(t)).as("topics"))
    logs.join(broadcast(deps), Seq("n"), "left")
      .select("timestamp", "block_hash", "block_number", "transaction_from",
        "transaction_status", "transaction_hash", "transaction_index",
        "removed", "log_index", "address", "data", "topics")
  }

  def logs(endpoint: String, sinkPath: String): Definition = new StagedDefinition.IntoSink(
      SinkTable(sinkPath, Seq("block_number", "log_index"), Some("timestamp")), "block_number") {
    def tip(spark: SparkSession): Long = rpcTip(endpoint)
    protected def buffer(spark: SparkSession, batch: Batch): DataFrame =
      logsTransform(spark, batch, endpoint)
  }

  // ---------------------------------------------------------- transactions

  /** eth_getBlockByNumber(true) tx schema
    * (examples/ethereum_transactions/create_buffer.sql:22-64 plus the
    * Dencun/OP-stack tx-side optional fields). */
  val txSchema: DataType = StructType(Seq(
    StructField("timestamp", StringType),
    StructField("transactions", ArrayType(StructType(Seq(
      StructField("accessList", ArrayType(StructType(Seq(
        StructField("address", StringType),
        StructField("storageKeys", ArrayType(StringType)))))),
      StructField("blockHash", StringType),
      StructField("blockNumber", StringType),
      StructField("chainId", StringType),
      StructField("from", StringType),
      StructField("gas", StringType),
      StructField("gasPrice", StringType),
      StructField("hash", StringType),
      StructField("input", StringType),
      StructField("maxFeePerGas", StringType),
      StructField("maxPriorityFeePerGas", StringType),
      StructField("nonce", StringType),
      StructField("r", StringType),
      StructField("s", StringType),
      StructField("to", StringType),
      StructField("transactionIndex", StringType),
      StructField("type", StringType),
      StructField("v", StringType),
      StructField("value", StringType),
      StructField("yParity", StringType),
      StructField("maxFeePerBlobGas", StringType),
      StructField("blobVersionedHashes", ArrayType(StringType)),
      StructField("sourceHash", StringType),
      StructField("mint", StringType),
      StructField("isSystemTx", StringType)))))))

  /** Flat receipt projection
    * (examples/ethereum_transactions/create_buffer.sql:73-99), including
    * the Dencun + OP-stack optional receipt fields (:140-161) — absent
    * keys parse to null, so the schema is safe on any chain. */
  val receiptFlatSchema: DataType = ArrayType(StructType(Seq(
    StructField("contractAddress", StringType),
    StructField("cumulativeGasUsed", StringType),
    StructField("effectiveGasPrice", StringType),
    StructField("gasUsed", StringType),
    StructField("root", StringType),
    StructField("status", StringType),
    StructField("blobGasUsed", StringType),
    StructField("blobGasPrice", StringType),
    StructField("depositNonce", StringType),
    StructField("depositReceiptVersion", StringType),
    StructField("l1GasPrice", StringType),
    StructField("l1GasUsed", StringType),
    StructField("l1Fee", StringType),
    StructField("l1FeeScalar", StringType),
    StructField("l1BlobBaseFee", StringType),
    StructField("l1BaseFeeScalar", StringType),
    StructField("l1BlobBaseFeeScalar", StringType))))

  /** The parallel ARRAY JOIN (`array join block.transactions as tx,
    * receipts as r`, examples/ethereum_transactions/create_buffer.sql:161):
    * equal-length arrays zip POSITIONALLY — arrays_zip + one explode,
    * never a cross product (SURVEY.md §7 trap #3). */
  def transactionsTransform(spark: SparkSession, batch: Batch, endpoint: String,
      enableDencun: Boolean = true, enableOpStack: Boolean = false): DataFrame = {
    val raw = blockNumbers(spark, batch)
      .withColumn("block_resp", ethereumRpc(lit("eth_getBlockByNumber"),
        array(evmHexEncodeInt(col("n")), lit("true")), lit(endpoint)))
      .withColumn("rcpt_resp", ethereumRpc(lit("eth_getBlockReceipts"),
        array(graft.functions.HexExpressions.evmHexEncodeQuantityN(col("n"))), lit(endpoint)))
    val block = rpcValue(col("block_resp"), txSchema)
    // {{ if .ENABLE_DENCUN }} column family
    // (examples/ethereum_transactions/create_buffer.sql:140-145)
    val dencunCols =
      if (!enableDencun) Seq.empty[Column]
      else Seq(
        decodeBig(col("z.tx.maxFeePerBlobGas")).as("max_fee_per_blob_gas"),
        transform(col("z.tx.blobVersionedHashes"), h => decodeHex(h))
          .as("blob_versioned_hashes"),
        decodeLongCol(col("z.r.blobGasUsed")).as("blob_gas_used"),
        decodeBig(col("z.r.blobGasPrice")).as("blob_gas_price"))
    // {{ if .ENABLE_OP_STACK }} column family (:147-160)
    val opStackCols =
      if (!enableOpStack) Seq.empty[Column]
      else Seq(
        decodeHex(col("z.tx.sourceHash")).as("source_hash"),
        decodeBig(col("z.tx.mint")).as("mint"),
        when(length(col("z.tx.isSystemTx")) > 0, col("z.tx.isSystemTx"))
          .otherwise(lit("false")).cast("boolean").as("is_system_tx"),
        decodeBig(col("z.r.depositNonce")).as("deposit_nonce"),
        decodeLongCol(col("z.r.depositReceiptVersion")).as("deposit_receipt_version"),
        decodeBig(col("z.r.l1GasPrice")).as("l1_gas_price"),
        decodeLongCol(col("z.r.l1GasUsed")).as("l1_gas_used"),
        decodeBig(col("z.r.l1Fee")).as("l1_fee"),
        decodeLongCol(col("z.r.l1FeeScalar")).as("l1_fee_scalar"),
        decodeBig(col("z.r.l1BlobBaseFee")).as("l1_blob_base_fee"),
        decodeLongCol(col("z.r.l1BaseFeeScalar")).as("l1_base_fee_scalar"),
        decodeLongCol(col("z.r.l1BlobBaseFeeScalar")).as("l1_blob_base_fee_scalar"))
    val baseCols = Seq(
        col("timestamp"),
        transform(col("z.tx.accessList"), a => struct(
          decodeHex(a.getField("address")).as("address"),
          transform(a.getField("storageKeys"), k => decodeHex(k)).as("storage_keys")))
          .as("access_list"),
        decodeHex(col("z.tx.blockHash")).as("block_hash"),
        decodeLongCol(col("z.tx.blockNumber")).as("block_number"),
        decodeLongCol(col("z.tx.chainId")).cast("int").as("chain_id"),
        decodeHex(col("z.tx.from")).as("from"),
        decodeLongCol(col("z.tx.gas")).as("gas"),
        decodeBig(col("z.tx.gasPrice")).as("gas_price"),
        decodeHex(col("z.tx.hash")).as("hash"),
        decodeHex(col("z.tx.input")).as("input"),
        decodeBig(col("z.tx.maxFeePerGas")).as("max_fee_per_gas"),
        decodeBig(col("z.tx.maxPriorityFeePerGas")).as("max_priority_fee_per_gas"),
        decodeBig(col("z.tx.nonce")).as("nonce"),
        decodeHex(col("z.tx.r")).as("r"),
        decodeHex(col("z.tx.s")).as("s"),
        decodeHex(col("z.tx.to")).as("to"),
        decodeLongCol(col("z.tx.transactionIndex")).cast("int").as("transaction_index"),
        decodeLongCol(col("z.tx.type")).cast("short").as("type"),
        decodeHex(col("z.tx.v")).as("v"),
        decodeBig(col("z.tx.value")).as("value"),
        decodeLongCol(col("z.tx.yParity")).cast("byte").as("y_parity"),
        decodeHex(col("z.r.contractAddress")).as("contract_address"),
        decodeLongCol(col("z.r.cumulativeGasUsed")).as("cumulative_gas_used"),
        decodeBig(col("z.r.effectiveGasPrice")).as("effective_gas_price"),
        decodeLongCol(col("z.r.gasUsed")).as("gas_used"),
        decodeHex(col("z.r.root")).as("root"),
        decodeLongCol(col("z.r.status")).cast("byte").as("status"))
    raw
      .select(col("n"), tsOf(block("timestamp")).as("timestamp"),
        explode(arrays_zip(
          block("transactions").as("tx"),
          rpcValue(col("rcpt_resp"), receiptFlatSchema).as("r"))).as("z"))
      .select(baseCols ++ dencunCols ++ opStackCols: _*)
  }

  def transactions(endpoint: String, sinkPath: String,
      enableDencun: Boolean = true, enableOpStack: Boolean = false): Definition =
    new StagedDefinition.IntoSink(SinkTable(sinkPath,
        Seq("block_number", "transaction_index"), Some("timestamp")), "block_number") {
      def tip(spark: SparkSession): Long = rpcTip(endpoint)
      protected def buffer(spark: SparkSession, batch: Batch): DataFrame =
        transactionsTransform(spark, batch, endpoint, enableDencun, enableOpStack)
    }

  // ---------------------------------------------------------------- traces

  /** trace_block projection (examples/ethereum_traces/create_buffer.sql:
    * 93-129 single ARRAY JOIN + computed-index receipts lookup :136-139). */
  val traceSchema: DataType = ArrayType(StructType(Seq(
    StructField("transactionPosition", LongType),
    StructField("transactionHash", StringType),
    StructField("subtraces", IntegerType),
    StructField("traceAddress", ArrayType(IntegerType)),
    StructField("type", StringType),
    StructField("error", StringType),
    StructField("action", StructType(Seq(
      StructField("callType", StringType),
      StructField("from", StringType),
      StructField("gas", StringType),
      StructField("input", StringType),
      StructField("to", StringType),
      StructField("value", StringType),
      StructField("address", StringType),
      StructField("balance", StringType),
      StructField("refundAddress", StringType),
      StructField("author", StringType),
      StructField("rewardType", StringType),
      StructField("init", StringType)))),
    StructField("result", StructType(Seq(
      StructField("gasUsed", StringType),
      StructField("output", StringType),
      StructField("address", StringType),
      StructField("code", StringType)))))))

  /** Per-block receipts kept as an UNEXPLODED array so traces can do the
    * computed-index lookup `receipts[transaction_position + 1]`
    * (examples/ethereum_traces/create_buffer.sql:136-139). */
  val receiptRefSchema: DataType = ArrayType(StructType(Seq(
    StructField("from", StringType),
    StructField("status", StringType),
    StructField("transactionHash", StringType),
    StructField("transactionIndex", StringType))))

  def receiptDeps(spark: SparkSession, batch: Batch, endpoint: String): DataFrame =
    blockNumbers(spark, batch).withColumn("resp",
        ethereumRpc(lit("eth_getBlockReceipts"),
          array(graft.functions.HexExpressions.evmHexEncodeQuantityN(col("n"))), lit(endpoint)))
      .select(col("n"), rpcValue(col("resp"), receiptRefSchema).as("receipts"))

  def tracesTransform(spark: SparkSession, batch: Batch, endpoint: String): DataFrame = {
    val deps = headerDeps(spark, batch, endpoint)
    val rdeps = receiptDeps(spark, batch, endpoint)
    val traces = blockNumbers(spark, batch).withColumn("resp",
        ethereumRpc(lit("trace_block"),
          array(graft.functions.HexExpressions.evmHexEncodeQuantityN(col("n"))), lit(endpoint)))
      .select(col("n"), explode(rpcValue(col("resp"), traceSchema)).as("t"))
      .select(col("n"),
        col("t.transactionPosition").cast("int").as("transaction_index"),
        col("t.subtraces").as("subtraces"),
        col("t.traceAddress").as("trace_address"),
        col("t.type").as("type"),
        col("t.error").as("error"),
        col("t.action.callType").as("call_type"),
        decodeHex(col("t.action.from")).as("from"),
        decodeLongCol(col("t.action.gas")).as("gas"),
        decodeHex(col("t.action.input")).as("input"),
        decodeHex(col("t.action.to")).as("to"),
        decodeBig(col("t.action.value")).as("value"),
        decodeHex(col("t.action.address")).as("address"),
        decodeBig(col("t.action.balance")).as("balance"),
        decodeHex(col("t.action.refundAddress")).as("refund_address"),
        decodeHex(col("t.action.author")).as("author"),
        col("t.action.rewardType").as("reward_type"),
        decodeHex(col("t.action.init")).as("init"),
        decodeHex(col("t.result.address")).as("result_address"),
        decodeHex(col("t.result.code")).as("result_code"),
        decodeLongCol(col("t.result.gasUsed")).as("gas_used"),
        decodeHex(col("t.result.output")).as("output"))
    // Computed-index array access: the 1-based receipts[pos + 1] lookup is
    // Spark's 0-based get(receipts, pos) — null-safe on missing positions
    // (reward traces) and out-of-range, with no ANSI index error.
    val rcpt = get(col("receipts"), col("transaction_index"))
    traces.join(broadcast(deps), Seq("n"), "left")
      .join(broadcast(rdeps), Seq("n"), "left")
      .withColumn("transaction_from", decodeHex(rcpt.getField("from")))
      .withColumn("transaction_status",
        decodeLongCol(rcpt.getField("status")).cast("byte"))
      .withColumn("transaction_hash", decodeHex(rcpt.getField("transactionHash")))
      .select("timestamp", "block_hash", "block_number", "transaction_from",
        "transaction_status", "transaction_hash", "transaction_index",
        "subtraces", "trace_address", "type", "error",
        "call_type", "from", "gas", "input", "to", "value", "address",
        "balance", "refund_address", "author", "reward_type", "init",
        "result_address", "result_code", "gas_used", "output")
  }

  def traces(endpoint: String, sinkPath: String): Definition = new StagedDefinition.IntoSink(
      SinkTable(sinkPath, Seq("block_number", "transaction_index", "trace_address"),
        Some("timestamp")), "block_number") {
    def tip(spark: SparkSession): Long = rpcTip(endpoint)
    protected def buffer(spark: SparkSession, batch: Batch): DataFrame =
      tracesTransform(spark, batch, endpoint)
  }
}
