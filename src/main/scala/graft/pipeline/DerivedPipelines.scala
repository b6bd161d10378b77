package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.EvmFunctions._
import graft.evm.Hex
import PipelineRunner.{Batch, Definition}

/** Derived pipelines: source sink → transform → new sink. No RPC fan-out
  * per row (except erc20's dedup-then-call); tip = max(block_number) of
  * the upstream sink (examples/ethereum_decoded_logs/tip.sql:1-3).
  */
object DerivedPipelines {

  /** ABI-decoding dictionary (examples/ethereum_decoded_logs/
    * create_evm_abi_decoding_dictionary.sql:1-8): selector ("0x…" hex of
    * topic0 or 4-byte selector) → candidate fullsigs. Loaded driver-side
    * and broadcast — the Spark analog of layout(hashed()) + dictGet. */
  final case class AbiDictionary(entries: Map[String, Seq[String]]) {
    def lookupUdf(spark: SparkSession): org.apache.spark.sql.expressions.UserDefinedFunction = {
      val bc = spark.sparkContext.broadcast(entries)
      udf((selector: Array[Byte]) =>
        if (selector == null) Seq.empty[String]
        else bc.value.getOrElse(Hex.encode(selector), Seq.empty[String]))
    }
  }

  object AbiDictionary {
    /** Parquet dictionary source (schema selector/fullsigs). */
    def fromParquet(spark: SparkSession, path: String): AbiDictionary =
      AbiDictionary(spark.read.parquet(path)
        .select(col("selector"), col("fullsigs"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).toSeq)
        .toMap)

    /** HTTP(S) parquet dictionary source — the reference's
      * `source(http(url … format 'Parquet'))`
      * (examples/ethereum_decoded_logs/
      * create_evm_abi_decoding_dictionary.sql:6-7): download to a local
      * temp file, then read. file:// and bare paths load directly. */
    def fromUrl(spark: SparkSession, url: String): AbiDictionary =
      if (url.startsWith("http://") || url.startsWith("https://")) {
        val tmp = java.nio.file.Files.createTempFile("graft-dict", ".parquet")
        val in = java.net.URI.create(url).toURL.openStream()
        try java.nio.file.Files.copy(in, tmp,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        finally in.close()
        try fromParquet(spark, tmp.toString)
        finally java.nio.file.Files.deleteIfExists(tmp)
      } else fromParquet(spark, url.stripPrefix("file://"))

    /** TTL-refreshed dictionary handle — the `lifetime(min X max Y)`
      * clause: `current()` re-resolves the source when the TTL lapses
      * between batch epochs; within a window every lookup sees one
      * consistent snapshot. The concrete TTL is drawn per refresh from
      * [minTtlMs, maxTtlMs] (ClickHouse's jitter, which staggers refresh
      * storms when many workers share a source). */
    final class Refreshing(load: () => AbiDictionary, minTtlMs: Long, maxTtlMs: Long) {
      private final case class State(dict: AbiDictionary, expiresAt: Long)
      private val state = new java.util.concurrent.atomic.AtomicReference[State]
      private val rnd = new java.util.Random()

      private def refresh(): State = {
        val span = math.max(0L, maxTtlMs - minTtlMs)
        val ttl = minTtlMs + (if (span == 0) 0L else rnd.nextLong(span + 1))
        State(load(), System.currentTimeMillis() + ttl)
      }

      def current(): AbiDictionary = {
        val s = state.get()
        if (s != null && System.currentTimeMillis() < s.expiresAt) s.dict
        else synchronized {
          val s2 = state.get()
          if (s2 != null && System.currentTimeMillis() < s2.expiresAt) s2.dict
          else { val n = refresh(); state.set(n); n.dict }
        }
      }
    }

    def refreshing(spark: SparkSession, url: String,
        minTtlMs: Long = 3600000, maxTtlMs: Long = 7200000): Refreshing =
      new Refreshing(() => fromUrl(spark, url), minTtlMs, maxTtlMs)

    /** Standard ERC-20-ish defaults for the fake chain / tests. */
    def builtin: AbiDictionary = {
      val transferTopic = Hex.encode(graft.evm.FakeChain.transferTopic0)
      val transferSel = Hex.encode(
        graft.evm.Abi.parseFullSig("function transfer(address,uint256)(bool)").selector)
      AbiDictionary(Map(
        transferTopic -> Seq("event Transfer(address indexed,address indexed,uint256)"),
        transferSel -> Seq("function transfer(address,uint256)(bool)")))
    }
  }

  private def sourceRange(source: SinkTable, spark: SparkSession, batch: Batch): DataFrame =
    source.read(spark)
      .filter(col("block_number") >= batch.start && col("block_number") <= batch.end)

  // ---------------------------------------------------------- decoded logs

  /** examples/ethereum_decoded_logs/create_buffer.sql: filter
    * length(topics)>0, decode against dictGet candidates, keep successes. */
  def decodedLogsTransform(spark: SparkSession, batch: Batch,
      source: SinkTable, dict: AbiDictionary): DataFrame = {
    val lookup = dict.lookupUdf(spark)
    sourceRange(source, spark, batch)
      .filter(size(col("topics")) > 0)
      .withColumn("evt_json", evmDecodeEvent(col("topics"), col("data"),
        lookup(element_at(col("topics"), 1))))
      .filter(get_json_object(col("evt_json"), "$.error").isNull)
      .withColumn("signature", get_json_object(col("evt_json"), "$.value.signature"))
      .withColumn("inputs", get_json_object(col("evt_json"), "$.value.inputs"))
      .drop("evt_json", "topics", "data")
  }

  /** Variant-typed flavor (SURVEY.md §7 hard part #5): the open-schema
    * `inputs` column lands as Spark 4 VariantType (the analog of the
    * reference's experimental JSON column type,
    * examples/ethereum_decoded_logs/create_table.sql:12) — binary-encoded,
    * shreddable, queryable with variant_get without re-parsing. */
  def decodedLogsVariantTransform(spark: SparkSession, batch: Batch,
      source: SinkTable, dict: AbiDictionary): DataFrame = {
    val lookup = dict.lookupUdf(spark)
    sourceRange(source, spark, batch)
      .filter(size(col("topics")) > 0)
      .withColumn("evt_json", evmDecodeEvent(col("topics"), col("data"),
        lookup(element_at(col("topics"), 1))))
      .filter(get_json_object(col("evt_json"), "$.error").isNull)
      .withColumn("signature", get_json_object(col("evt_json"), "$.value.signature"))
      .withColumn("inputs", parse_json(get_json_object(col("evt_json"), "$.value.inputs")))
      .drop("evt_json", "topics", "data")
  }

  def decodedLogs(sourcePath: String, sinkPath: String, dict: AbiDictionary): Definition =
    new StagedDefinition.IntoSink(SinkTable(sinkPath,
        Seq("address", "signature", "block_number", "log_index"), Some("timestamp")),
        "block_number") {
      val source: SinkTable = SinkTable(sourcePath, Seq("block_number", "log_index"))
      def tip(spark: SparkSession): Long =
        source.maxKey(spark, "block_number").getOrElse(-1L)
      protected def buffer(spark: SparkSession, batch: Batch): DataFrame =
        decodedLogsTransform(spark, batch, source, dict)
    }

  // -------------------------------------------------------- decoded traces

  /** examples/ethereum_decoded_traces/create_buffer.sql: filter
    * length(input)>=4, decode call against left(input,4) candidates. */
  def decodedTracesTransform(spark: SparkSession, batch: Batch,
      source: SinkTable, dict: AbiDictionary): DataFrame = {
    val lookup = dict.lookupUdf(spark)
    sourceRange(source, spark, batch)
      .filter(length(col("input")) >= 4)
      .withColumn("call_json", evmDecodeCall(col("input"), col("output"),
        lookup(substring(col("input"), 1, 4))))
      .filter(get_json_object(col("call_json"), "$.error").isNull)
      .withColumn("signature", get_json_object(col("call_json"), "$.value.signature"))
      .withColumn("inputs", get_json_object(col("call_json"), "$.value.inputs"))
      .withColumn("outputs", get_json_object(col("call_json"), "$.value.outputs"))
      .drop("call_json", "input", "output")
  }

  def decodedTraces(sourcePath: String, sinkPath: String, dict: AbiDictionary): Definition =
    new StagedDefinition.IntoSink(SinkTable(sinkPath,
        Seq("to", "signature", "block_number", "transaction_index", "trace_address"),
        Some("timestamp")), "block_number") {
      val source: SinkTable = SinkTable(sourcePath,
        Seq("block_number", "transaction_index", "trace_address"))
      def tip(spark: SparkSession): Long =
        source.maxKey(spark, "block_number").getOrElse(-1L)
      protected def buffer(spark: SparkSession, batch: Batch): DataFrame =
        decodedTracesTransform(spark, batch, source, dict)
    }

  // -------------------------------------------------------- erc20 balances

  /** examples/ethereum_token_erc20_balances/create_buffer.sql: Transfer
    * logs → sender∪recipient balance touches (UNION ALL) → dedup per
    * (wallet, token, block) → ONE balanceOf/symbol/decimals RPC per group
    * (the reference's aggregate-then-RPC pattern, :37-64,66-89). */
  def erc20BalancesTransform(spark: SparkSession, batch: Batch,
      source: SinkTable, endpoint: String): DataFrame = {
    val transferSig = "event Transfer(address indexed,address indexed,uint256)"
    val topic0 = graft.evm.FakeChain.transferTopic0
    val logs = sourceRange(source, spark, batch)
      .filter(size(col("topics")) === 3 &&
        element_at(col("topics"), 1) === lit(topic0))
      .withColumn("evt_json", evmDecodeEvent(col("topics"), col("data"),
        array(lit(transferSig))))
      .filter(get_json_object(col("evt_json"), "$.error").isNull)
    val transfers = logs.select(
      col("timestamp"), col("block_hash"), col("block_number"),
      col("address").as("token_address"),
      get_json_object(col("evt_json"), "$.value.inputs.arg0").as("sender"),
      get_json_object(col("evt_json"), "$.value.inputs.arg1").as("recipient"),
      get_json_object(col("evt_json"), "$.value.inputs.arg2").as("amount"))
    // UNION ALL of both sides, then multi-key dedup (:74-88)
    val touched = transfers
      .select(col("timestamp"), col("block_hash"), col("block_number"),
        col("token_address"), col("sender").as("wallet_address"))
      .unionByName(transfers.select(col("timestamp"), col("block_hash"),
        col("block_number"), col("token_address"), col("recipient").as("wallet_address")))
      .groupBy(col("wallet_address"), col("token_address"), col("block_number"))
      .agg(first(col("timestamp")).as("timestamp"), first(col("block_hash")).as("block_hash"))
    // one symbol()/decimals() call per distinct token (:37-64)
    val tokens = touched.select(col("token_address")).distinct()
      .withColumn("token_hex", evmHexEncode(col("token_address")))
      .withColumn("symbol", get_json_object(
        ethereumRpcCall(col("token_hex"), lit("function symbol()(string)"),
          lit(""), lit(-1L), lit(endpoint)), "$.value.arg0"))
      .withColumn("decimals", get_json_object(
        ethereumRpcCall(col("token_hex"), lit("function decimals()(uint8)"),
          lit(""), lit(-1L), lit(endpoint)), "$.value.arg0").cast("int"))
    // raw_balance is UInt256: canonical 32-byte binary in the sink (the
    // exact wire value), with the Float64 `balance` convenience alongside.
    val balances = touched
      .withColumn("raw_balance_str", get_json_object(
        ethereumRpcCall(evmHexEncode(col("token_address")),
          lit("function balanceOf(address)(uint256)"),
          to_json(array(col("wallet_address"))),
          col("block_number"), lit(endpoint)), "$.value.arg0"))
    balances.join(broadcast(tokens.drop("token_hex")), Seq("token_address"), "left")
      .select(col("timestamp"), col("block_hash"), col("block_number"),
        evmHexDecode(col("wallet_address")).as("wallet_address"),
        col("token_address"),
        col("symbol").as("token_symbol"),
        col("decimals").cast("byte").as("token_decimals"),
        graft.functions.U256.u256FromString(col("raw_balance_str")).as("raw_balance"),
        (col("raw_balance_str").cast("double") / pow(lit(10.0), col("decimals")))
          .as("balance"))
  }

  def erc20Balances(sourcePath: String, sinkPath: String, endpoint: String): Definition =
    new StagedDefinition.IntoSink(SinkTable(sinkPath,
        Seq("wallet_address", "token_address", "block_number"), Some("timestamp")),
        "block_number") {
      val source: SinkTable = SinkTable(sourcePath, Seq("block_number", "log_index"))
      def tip(spark: SparkSession): Long =
        source.maxKey(spark, "block_number").getOrElse(-1L)
      protected def buffer(spark: SparkSession, batch: Batch): DataFrame =
        erc20BalancesTransform(spark, batch, source, endpoint)
    }

  // ------------------------------------------------- daily parquet export

  /** One export batch: the source rows of its epoch-day range, with
    * their `date`. */
  def dailyExportTransform(spark: SparkSession, batch: Batch, source: SinkTable): DataFrame =
    // batch offsets are epoch days → prune the source scan to the
    // yyyyMM `_part` partitions covering them; without this every
    // 1-day batch re-lists and row-group-scans the ENTIRE table
    source.readPruned(spark, Some(source.monthsOfDayRange(batch.start, batch.end)))
      .withColumn("date", to_date(col("timestamp")))
      .filter(datediff(col("date"), lit("1970-01-01")).between(batch.start, batch.end))

  /** examples/decoded_logs_to_daily_parquet_file/transform.sql:1-9 +
    * examples/table_to_daily_parquet_file: partitioned export, one
    * directory per day; offsets are day ordinals (epoch days), tip is
    * yesterday relative to the newest source row (tip.sql:1-3). */
  def dailyExport(sourcePath: String, sourceKeys: Seq[String], targetPath: String):
      Definition = new StagedDefinition(targetPath) {
    val source: SinkTable = SinkTable(sourcePath, sourceKeys)

    protected def next(spark: SparkSession): Option[Long] = {
      // start.sql:2-12: probe already-exported partitions; empty target →
      // start from the source's first day (NOT day ordinal 0/1970, which
      // would plan ~20k empty one-day batches)
      val fs = new org.apache.hadoop.fs.Path(targetPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val exported =
        if (!fs.exists(new org.apache.hadoop.fs.Path(targetPath))) None
        else {
          val days = spark.read.parquet(targetPath)
            .select(datediff(col("date"), lit("1970-01-01")).cast("long").as("d"))
            .agg(max(col("d"))).head()
          if (days.isNullAt(0)) None else Some(days.getLong(0) + 1)
        }
      exported.orElse {
        val row = source.read(spark)
          .agg(min(datediff(to_date(col("timestamp")), lit("1970-01-01")))).head()
        if (row.isNullAt(0)) None else Some(row.getInt(0).toLong)
      }
    }

    def tip(spark: SparkSession): Long = {
      val row = source.read(spark)
        .agg(max(datediff(to_date(col("timestamp")), lit("1970-01-01")))).head()
      if (row.isNullAt(0)) -1L else row.getInt(0).toLong - 1 // yesterday
    }

    protected def buffer(spark: SparkSession, batch: Batch): DataFrame =
      dailyExportTransform(spark, batch, source)

    protected def stage(spark: SparkSession, batch: Batch, df: DataFrame): Seq[Staging.Staged] =
      Seq(Staging.stagePartitions(df, targetPath, "date", batch.number))
  }
}
