package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end tests of the graft-blocks DSv2 MicroBatchStream. */
class BlockStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("streams block numbers to the tip in rate-limited micro-batches") {
    val stream = spark.readStream.format("graft-blocks")
      .option("endpoint", "fake://chain?tip=57")
      .option("maxBlocksPerTrigger", 10)
      .load()
    val q = stream.writeStream.format("memory").queryName("blk").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("blk").select("n").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0L to 57L))
    // admission control: no micro-batch admitted more than 10 blocks
    val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(sizes.nonEmpty && sizes.forall(_ <= 10))
  }

  test("checkpoint restart resumes from the committed offset, exactly-once") {
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val out = Files.createTempDirectory("graft-stream-out").resolve("data").toString
    def run(tip: Int): Unit = {
      val stream = spark.readStream.format("graft-blocks")
        .option("endpoint", s"fake://chain?tip=$tip")
        .option("maxBlocksPerTrigger", 7)
        .load()
      val q = stream.writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run(20)
    run(35) // tip advanced; must resume at 21, not re-emit 0..20
    val got = spark.read.parquet(out).select("n").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0L to 35L), "exactly-once across restarts")
  }

  test("composes with the shared blocks projection") {
    import graft.pipeline.{PipelineRunner, SqlPipeline}
    graft.functions.EvmFunctions.registerAll(spark)
    graft.functions.HexExpressions.registerAll(spark)
    val stream = spark.readStream.format("graft-blocks")
      .option("endpoint", "fake://chain?tip=12")
      .load()
    // each micro-batch is a contiguous height range: the blocks
    // config's own transform runs over [min n, max n]
    val dir = SqlPipeline.exampleDir("ethereum_blocks_spark")
    val out = Files.createTempDirectory("graft-blkproj").resolve("data").toString
    val project: (org.apache.spark.sql.DataFrame, Long) => Unit = (batch, id) => {
      val r = batch.agg(min(col("n")), max(col("n")), count(lit(1))).head()
      if (!r.isNullAt(0)) {
        assert(r.getLong(2) == r.getLong(1) - r.getLong(0) + 1, s"batch $id is not contiguous")
        SqlPipeline.buffer(spark, dir, Map("RPC_ENDPOINT" -> "fake://chain?tip=12"),
            PipelineRunner.Batch(id, r.getLong(0), r.getLong(1)))
          .write.mode("append").parquet(out)
      }
    }
    val q = stream.writeStream.foreachBatch(project).start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.read.parquet(out)
    assert(rows.count() == 13)
    val b7 = rows.filter(col("number") === 7).head()
    assert(b7.getAs[Long]("gas_used") == 21000L * graft.evm.FakeChain.nTx(7))
  }
}
