package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.PipelineRunner.{Batch, Config}

/** End-to-end pipeline tests against the deterministic fake chain
  * (SURVEY.md §5: goldens derive from the stub transport since the
  * reference ships no fixtures). */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.EvmFunctions.registerAll(s)
    graft.functions.HexExpressions.registerAll(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-$name").resolve("sink").toString

  private val endpoint = "fake://chain?tip=25"

  /** The example config `name` as a Definition over `endpoint`. */
  private def config(name: String, vars: (String, String)*): PipelineRunner.Definition =
    SqlPipeline.definition(SqlPipeline.exampleDir(name), Map("RPC_ENDPOINT" -> endpoint) ++ vars)

  /** A logs sink at `path`, filled by the logs example config. */
  private def logsSink(path: String): Unit =
    PipelineRunner.run(spark, config("ethereum_logs_spark", "SINK_PATH" -> path),
      Config(maxBatchSize = 26))

  private val transferEvent = "'event Transfer(address indexed,address indexed,uint256)'"

  test("plan splits ranges like the reference Batcher") {
    val batches = PipelineRunner.plan(0, 25, 10)
    assert(batches == Seq(Batch(0, 0, 9), Batch(1, 10, 19), Batch(2, 20, 25)))
    assert(PipelineRunner.plan(5, 4, 10).isEmpty)
  }

  test("sequencer commits in order under out-of-order completion") {
    val seq = new PipelineRunner.Sequencer(0)
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (0 until 8).reverse.map { i =>
      new Thread(() => {
        Thread.sleep((8 - i) * 10L) // later batches finish first
        if (seq.awaitTurn(i)) { order.add(i); seq.release(i) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(order.toArray.toSeq == (0 until 8).map(_.toLong))
  }

  test("blocks pipeline: end-to-end, resume, idempotent re-run") {
    val path = tmp("blocks")
    val defn = config("ethereum_blocks_spark", "SINK_PATH" -> path)
    val sink = SinkTable(path, Seq("number"), Some("timestamp"))

    val r1 = PipelineRunner.run(spark, defn,
      Config(maxBatchSize = 10, workers = 3))
    assert(r1.batches == 3 && r1.items == 26)
    val rows = sink.read(spark)
    assert(rows.count() == 26)
    // spot-check block 7 against the fake chain's pure functions
    val b7 = rows.filter(org.apache.spark.sql.functions.col("number") === 7).head()
    assert(b7.getAs[java.sql.Timestamp]("timestamp").getTime ==
      graft.evm.FakeChain.timestampOf(7) * 1000)
    assert(b7.getAs[Array[Byte]]("hash")
      .sameElements(graft.evm.FakeChain.h32("block7")))

    // resume: nothing new below tip → zero batches
    val r2 = PipelineRunner.run(spark, defn, Config(maxBatchSize = 10))
    assert(r2.batches == 0)
    assert(sink.read(spark).count() == 26)

    // forced overlap re-run: at-least-once writes, effectively-once reads
    val r3 = PipelineRunner.run(spark, defn,
      Config(maxBatchSize = 10, forceStart = Some(20)))
    assert(r3.items == 6)
    assert(sink.readRaw(spark).count() == 32) // 26 + 6 duplicates
    assert(sink.read(spark).count() == 26) // dedup view unchanged
  }

  test("logs pipeline produces one Transfer log per fake tx") {
    val path = tmp("logs")
    val defn = config("ethereum_logs_spark", "SINK_PATH" -> path)
    PipelineRunner.run(spark, defn, Config(maxBatchSize = 10, workers = 2))
    val sink = SinkTable(path, Seq("block_number", "log_index"))
    val logs = sink.read(spark)
    // fake chain: block n has n % 3 txs, each with exactly one log
    val expected = (0L to 25L).map(_ % 3).sum
    assert(logs.count() == expected)
    import org.apache.spark.sql.functions._
    assert(logs.filter(size(col("topics")) === 3).count() == expected)
  }

  test("transactions pipeline zips txs with receipts positionally") {
    val path = tmp("tx")
    val defn = config("ethereum_transactions_spark", "SINK_PATH" -> path,
      "ENABLE_DENCUN" -> "true")
    PipelineRunner.run(spark, defn, Config(maxBatchSize = 13))
    val sink = SinkTable(path, Seq("block_number", "transaction_index"))
    val txs = sink.read(spark)
    import org.apache.spark.sql.functions._
    val expected = (0L to 25L).map(_ % 3).sum
    assert(txs.count() == expected)
    // positional zip correctness: receipt status belongs to the same index
    assert(txs.filter(col("status") =!= 1).count() == 0)
    assert(txs.filter(col("cumulative_gas_used") ===
      (col("transaction_index") + 1) * 21000).count() == expected)
    // Dencun optional columns decode (fake chain emits maxFeePerBlobGas=1;
    // U256 columns are canonical 32-byte binary)
    import graft.functions.HexExpressions.u256ToStringN
    assert(txs.filter(u256ToStringN(col("max_fee_per_blob_gas")) === "1")
      .count() == expected)
    assert(txs.filter(org.apache.spark.sql.functions.size(
      col("blob_versioned_hashes")) === 0).count() == expected)
  }

  test("traces pipeline decodes action/result sections") {
    val path = tmp("traces")
    val defn = config("ethereum_traces_spark", "SINK_PATH" -> path)
    PipelineRunner.run(spark, defn, Config(maxBatchSize = 26))
    val sink = SinkTable(path,
      Seq("block_number", "transaction_index", "trace_address"))
    val traces = sink.read(spark)
    import org.apache.spark.sql.functions._
    assert(traces.count() == (0L to 25L).map(_ % 3).sum)
    val expectedCreates = (0L to 25L).flatMap(n =>
      (0 until graft.evm.FakeChain.nTx(n)).map(i => (n, i)))
      .count { case (n, i) => (n + i) % 7 == 0 }
    val creates = traces.filter(col("type") === "create")
    assert(creates.count() == expectedCreates)
    // contract-creation traces carry init + result address/code
    assert(creates.filter(col("result_address").isNull || col("init").isNull)
      .count() == 0)
    assert(creates.filter(col("call_type").isNotNull).count() == 0)
    val calls = traces.filter(col("type") === "call")
    assert(calls.filter(col("gas_used") === 20000L).count() == calls.count())
    // receipts[transaction_position + 1] computed-index enrichment: the
    // receipt at the trace's position carries the tx sender and status=1,
    // and its hash agrees with the trace's own transaction hash
    assert(traces.filter(col("transaction_status") =!= 1).count() == 0)
    assert(traces.filter(col("transaction_from") === col("from"))
      .count() == traces.count())
    assert(traces.filter(col("transaction_hash").isNull).count() == 0)
  }

  test("transactions op-stack conditional family decodes receipt fields") {
    val batch = PipelineRunner.Batch(0, 0, 12)
    val txDir = SqlPipeline.exampleDir("ethereum_transactions_spark")
    val txs = SqlPipeline.buffer(spark, txDir, Map("RPC_ENDPOINT" -> endpoint,
      "ENABLE_DENCUN" -> "true", "ENABLE_OP_STACK" -> "true"), batch)
    import org.apache.spark.sql.functions._
    assert(txs.columns.contains("l1_fee") && txs.columns.contains("source_hash"))
    assert(txs.filter(col("is_system_tx")).count() == 0)
    assert(txs.filter(col("l1_gas_used") === col("transaction_index") + 1600)
      .count() == txs.count())
    // whale transfers (>1e20 wei — beyond DECIMAL(38,18)) survive the
    // canonical U256 binary form exactly (round-2 overflow landmine)
    import graft.functions.HexExpressions.u256ToStringN
    val whale = txs.filter(col("block_number") === 2 && col("transaction_index") === 1)
      .select(u256ToStringN(col("value"))).head().getString(0)
    assert(whale == graft.evm.FakeChain.valueOf(2, 1).toString)
    assert(BigInt(whale) > BigInt(10).pow(20))
    // flags off → the families are absent (template-var keyed projection)
    val bare = SqlPipeline.buffer(spark, txDir, Map("RPC_ENDPOINT" -> endpoint), batch)
    assert(!bare.columns.contains("max_fee_per_blob_gas"))
    assert(!bare.columns.contains("l1_fee"))
  }

  test("decoded logs pipeline: dictionary decode keeps only matches") {
    val logsPath = tmp("logs2")
    logsSink(logsPath)
    val decodedPath = tmp("decoded")
    val defn = config("ethereum_decoded_logs_spark", "SOURCE_PATH" -> logsPath,
      "SINK_PATH" -> decodedPath, "EVENT_SIGS" -> transferEvent)
    PipelineRunner.run(spark, defn, Config(maxBatchSize = 1000))
    val decoded = SinkTable(decodedPath,
      Seq("address", "signature", "block_number", "log_index")).read(spark)
    import org.apache.spark.sql.functions._
    assert(decoded.count() == (0L to 25L).map(_ % 3).sum)
    assert(decoded.filter(col("signature") === "Transfer(address,address,uint256)")
      .count() == decoded.count())
    // inputs JSON contains the deterministic amount for a known row
    val row = decoded.filter(col("block_number") === 7 && col("log_index") === 0).head()
    val amount = graft.evm.FakeChain.amountOf(7, 0)
    assert(row.getAs[String]("inputs").contains(s""""arg2":$amount"""))
  }

  test("erc20 balances pipeline: dedup-then-rpc with token metadata join") {
    val logsPath = tmp("logs3")
    logsSink(logsPath)
    val balPath = tmp("balances")
    val defn = config("ethereum_token_erc20_balances_spark", "SOURCE_PATH" -> logsPath,
      "SINK_PATH" -> balPath)
    PipelineRunner.run(spark, defn, Config(maxBatchSize = 1000))
    val bal = SinkTable(balPath,
      Seq("wallet_address", "token_address", "block_number")).read(spark)
    import org.apache.spark.sql.functions._
    assert(bal.count() > 0)
    assert(bal.filter(col("token_symbol").isin("TOK0", "TOK1")).count() == bal.count())
    assert(bal.filter(col("token_decimals").isin(6.toByte, 18.toByte)).count() == bal.count())
    assert(bal.filter(col("raw_balance").isNull).count() == 0)
    // balance = raw / 10^decimals (raw_balance is canonical U256 binary)
    val r = bal.head()
    val raw = graft.functions.U256.toBigInt(r.getAs[Array[Byte]]("raw_balance")).toDouble
    val dec = r.getAs[Byte]("token_decimals").toInt
    assert(math.abs(r.getAs[Double]("balance") - raw / math.pow(10, dec)) < 1e-9)
  }

  test("retrier shrinks batch size and recovers") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger()
    val committed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val defn = new PipelineRunner.Definition {
      def resume(s: SparkSession): Option[Long] = None
      def tip(s: SparkSession): Long = 19
      def transform(s: SparkSession, b: Batch) = {
        if (attempts.getAndIncrement() == 0)
          throw new RuntimeException("simulated MemoryLimitExceeded")
        s.range(b.start, b.end + 1).toDF("n")
      }
      def commit(s: SparkSession, b: Batch, df: org.apache.spark.sql.DataFrame): Unit =
        committed.add(b.number)
    }
    val r = PipelineRunner.runWithRetry(spark, defn,
      Config(maxBatchSize = 10), maxRetries = 2)
    assert(r.items == 20)
    assert(r.batches == 3) // 20 items at shrunken size 8 → 3 batches
  }

  test("retrier does NOT retry deterministic failures") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger()
    val defn = new PipelineRunner.Definition {
      def resume(s: SparkSession): Option[Long] = None
      def tip(s: SparkSession): Long = 9
      def transform(s: SparkSession, b: Batch) = {
        attempts.incrementAndGet()
        throw new IllegalStateException("schema mismatch: deterministic bug")
      }
      def commit(s: SparkSession, b: Batch, df: org.apache.spark.sql.DataFrame): Unit = ()
    }
    val e = intercept[IllegalStateException] {
      PipelineRunner.runWithRetry(spark, defn, Config(maxBatchSize = 10))
    }
    assert(e.getMessage.contains("deterministic bug"))
    assert(attempts.get() == 1) // surfaced on attempt 1, no 3x re-run
  }

  test("a failed commit frees every persisted batch buffer") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val defn = new PipelineRunner.Definition {
      def resume(s: SparkSession): Option[Long] = None
      def tip(s: SparkSession): Long = 29
      def transform(s: SparkSession, b: Batch) = s.range(b.start, b.end + 1).toDF("n")
      def commit(s: SparkSession, b: Batch, df: org.apache.spark.sql.DataFrame): Unit =
        throw new IllegalStateException("simulated sink failure")
    }
    val e = intercept[IllegalStateException] {
      PipelineRunner.run(spark, defn, Config(maxBatchSize = 10))
    }
    assert(e.getMessage.contains("simulated sink failure"))
    // a daemon retrying this batch would otherwise leak one buffer per attempt
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("a failed transform publishes every earlier batch and nothing after it") {
    val path = tmp("staged-fail")
    val staging = java.nio.file.Paths.get(path + "_staging")
    val sink = SinkTable(path, Seq("number"), Some("timestamp"))
    val blocks = SqlPipeline.definition(SqlPipeline.exampleDir("ethereum_blocks_spark"),
      Map("RPC_ENDPOINT" -> "fake://chain?tip=24", "SINK_PATH" -> path))
    val failAt = new java.util.concurrent.atomic.AtomicLong(2) // -1: no batch fails
    val defn = new PipelineRunner.Definition {
      def resume(s: SparkSession): Option[Long] = blocks.resume(s)
      def tip(s: SparkSession): Long = blocks.tip(s)
      def transform(s: SparkSession, b: Batch) =
        if (b.number == failAt.get()) throw new IllegalStateException(s"batch ${b.number} broke")
        else blocks.transform(s, b)
      def commit(s: SparkSession, b: Batch, df: org.apache.spark.sql.DataFrame): Unit =
        blocks.commit(s, b, df)
    }
    val e = intercept[IllegalStateException] {
      PipelineRunner.run(spark, defn, Config(maxBatchSize = 5, workers = 4))
    }
    assert(e.getMessage.contains("batch 2 broke"))
    def numbers = sink.read(spark).select("number").collect().map(_.getLong(0)).sorted.toSeq
    // batches 0-1 published; batch 3 staged concurrently but never published
    assert(numbers == (0L until 10L) && sink.readRaw(spark).count() == 10)
    assert(java.nio.file.Files.isDirectory(staging))
    assert(defn.resume(spark) == Some(10L))
    assert(!java.nio.file.Files.exists(staging)) // resume dropped the orphaned staging

    failAt.set(-1)
    val r = PipelineRunner.run(spark, defn, Config(maxBatchSize = 5, workers = 4))
    assert(r.batches == 3 && r.items == 15) // resumed at block 10
    assert(numbers == (0L until 25L)) // gap-free
    assert(sink.readRaw(spark).count() == 25) // nothing from the failed run leaked in
    assert(!java.nio.file.Files.exists(staging)) // a clean run leaves no staging behind

    // a forced start skips the resume offset, not the staging cleanup:
    // batches 2-3 of this crashed re-run stage and are never published
    failAt.set(1)
    intercept[IllegalStateException] {
      PipelineRunner.run(spark, defn, Config(maxBatchSize = 5, workers = 4, forceStart = Some(0)))
    }
    assert(java.nio.file.Files.isDirectory(staging))
    failAt.set(-1)
    val forced = PipelineRunner.run(spark, defn,
      Config(maxBatchSize = 5, workers = 4, forceStart = Some(5)))
    assert(forced.batches == 4 && forced.items == 20)
    assert(!java.nio.file.Files.exists(staging))
    assert(numbers == (0L until 25L))
    // 25 rows, then the crashed re-run's batch 0 (5), then the forced pass
    // (20): nothing the crashed re-run staged was published
    assert(sink.readRaw(spark).count() == 50)
  }

  test("sink compact drops superseded versions but keeps dedup semantics") {
    val path = tmp("compact")
    val sink = SinkTable(path, Seq("k"), Some("ts"))
    import org.apache.spark.sql.functions._
    def batch(seq: Long, v: String) =
      sink.append(spark.range(0, 100).toDF("k")
        .withColumn("ts", to_timestamp(lit("2024-01-01")))
        .withColumn("v", lit(v)), seq)
    batch(0, "old"); batch(1, "new") // same keys, superseding write
    val before = sink.readRaw(spark).count()
    assert(before == 200)
    sink.compact(spark)
    assert(sink.readRaw(spark).count() == 100) // superseded rows gone
    val read = sink.read(spark)
    assert(read.count() == 100)
    assert(read.filter(col("v") =!= "new").count() == 0) // winners kept
    batch(2, "newer") // appends after compact still dedup correctly
    assert(sink.read(spark).filter(col("v") =!= "newer").count() == 0)
  }
}
