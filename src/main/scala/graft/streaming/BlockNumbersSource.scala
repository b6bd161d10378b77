package graft.streaming

import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.evm.{Json, Rpc}

/** DataSource V2 streaming source `graft-blocks`: an unbounded stream of
  * block numbers whose offsets ARE chain heights — the reference's
  * TipTracker + Batcher (internal/pipeline/tip_tracker.go:32-96,
  * batcher.go:24-94) expressed as a Spark `MicroBatchStream`:
  *
  *  - `latestOffset()`  = tip poll (tip.sql), capped by
  *    `maxBlocksPerTrigger` (the reference's MaxBatchSize)
  *  - `planInputPartitions(start, end)` = the Batcher's range split
  *  - Spark's own offset log + epoch commit = Init/resume + Sequencer
  *    (checkpointed exactly-once, ordered by construction)
  *
  * Options: `endpoint` (rpc url; fake:// for tests), `startBlock`,
  * `maxBlocksPerTrigger`, `numPartitions`, `latestStatus`
  * (latest|safe|finalized — the reference's LATEST_BLOCK_STATUS knob).
  *
  * Usage: spark.readStream.format("graft-blocks").option("endpoint", …)
  * .load() → a stream of rows (n: long). Each micro-batch holds a
  * contiguous range of heights, so `foreachBatch` can run the batch
  * pipelines' own transform over `[min n, max n]`
  * (`SqlPipeline.buffer` of examples/ethereum_blocks_spark).
  */
class BlockNumbersSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-blocks"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BlockNumbersSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new BlockNumbersTable(new CaseInsensitiveStringMap(properties))
}

object BlockNumbersSource {
  val schema: StructType = new StructType().add("n", LongType, nullable = false)
}

final class BlockNumbersTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "graft_block_numbers"
  override def schema(): StructType = BlockNumbersSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = BlockNumbersSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new BlockNumbersStream(
            endpoint = options.get("endpoint"),
            startBlock = options.getLong("startBlock", 0L),
            maxPerTrigger = options.getLong("maxBlocksPerTrigger", 100L),
            numPartitions = options.getInt("numPartitions", 4),
            latestStatus = options.getOrDefault("latestStatus", "latest"))
      }
    }
}

/** Offset = next block number to read (exclusive end of what's done). */
final case class BlockOffset(next: Long) extends Offset {
  override def json(): String = next.toString
}

final class BlockNumbersStream(endpoint: String, startBlock: Long,
    maxPerTrigger: Long, numPartitions: Int, latestStatus: String)
    extends MicroBatchStream with SupportsAdmissionControl {

  require(endpoint != null, "option 'endpoint' is required")

  private def tip(): Long = {
    val resp = Rpc.ethereumRpc("eth_getBlockByNumber",
      Seq("\"" + latestStatus + "\"", "false"),
      endpoint + "#fail-on-error=true&fail-on-null=true")
    Json.parse(resp) match {
      case m: Map[String, Any] @unchecked =>
        m("value") match {
          case b: Map[String, Any] @unchecked =>
            graft.evm.Hex.decodeLong(b("number").toString)
          case other => throw new IllegalStateException(s"bad tip: $other")
        }
    }
  }

  override def initialOffset(): Offset = BlockOffset(startBlock)

  override def latestOffset(): Offset = BlockOffset(tip() + 1)

  /** Admission control: one trigger admits at most maxPerTrigger blocks —
    * the reference's MaxBatchSize (internal/pipeline/batcher.go:18). */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxPerTrigger)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[BlockOffset].next
    val head = tip() + 1
    val cap = limit match {
      case m: ReadMaxRows => s + m.maxRows()
      case _ => head
    }
    // clamp to >= start: if the endpoint's tip regresses below the
    // committed offset (reorg / load-balanced nodes), the offset log
    // must stay monotonic — emit an empty batch, never move backwards
    BlockOffset(math.max(s, math.min(head, cap)))
  }

  override def reportLatestOffset(): Offset = BlockOffset(tip() + 1)

  override def deserializeOffset(json: String): Offset = BlockOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[BlockOffset].next
    val e = end.asInstanceOf[BlockOffset].next // exclusive
    if (e <= s) return Array.empty
    val n = e - s
    val parts = math.max(1, math.min(numPartitions.toLong, n)).toInt
    (0 until parts).map { i =>
      val lo = s + i * n / parts
      val hi = s + (i + 1) * n / parts
      BlockRangePartition(lo, hi): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BlockRangeReaderFactory

  override def commit(end: Offset): Unit = () // offset log is the commit

  override def stop(): Unit = ()
}

final case class BlockRangePartition(start: Long, end: Long) extends InputPartition

final class BlockRangeReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[BlockRangePartition]
    new PartitionReader[InternalRow] {
      private var cur = p.start - 1
      override def next(): Boolean = { cur += 1; cur < p.end }
      override def get(): InternalRow = InternalRow(cur)
      override def close(): Unit = ()
    }
  }
}
