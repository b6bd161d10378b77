package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-18 pipeline optimizations, pinned:
  *
  *  - SinkTable.append persists nothing: it stages the batch in one
  *    write job and publishes it by rename. An insert-select over a
  *    cached view must not gain a second persisted copy, and an
  *    uncached input must not be persisted either — both must append
  *    correctly and leave nothing persisted behind.
  *  - SqlPipeline pins one resolved source file-index per tip probe:
  *    transforms between probes reuse the resolution, while a follow
  *    poll's tip() refresh MUST see source files that landed after the
  *    previous pass (the freshness contract that bounds the pinning).
  */
class Round18Spec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("round18-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-r18-$name")
      .resolve("sink").toString

  test("append over a cached buffer skips the second persist; uncached input still appends") {
    import spark.implicits._
    val path = tmp("appendcache")
    val sink = SinkTable(path, Seq("k"))

    // commit-stage shape: buffer persisted + materialized, insert-select
    // over its view
    val buffer = (0L until 10L).map(k => (k, s"v$k")).toDF("k", "v")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    buffer.count()
    buffer.createOrReplaceTempView("r18_buffer")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    sink.append(spark.sql("select * from r18_buffer"), 0L)
    // the append added no persisted RDD of its own
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore,
      "append persisted a second copy above the cached buffer")
    buffer.unpersist(blocking = true)
    spark.catalog.dropTempView("r18_buffer")

    // uncached input: appends too, and leaves nothing persisted
    val extra = (10L until 15L).map(k => (k, s"v$k")).toDF("k", "v")
    sink.append(extra, 1L)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "append leaked a persisted RDD on the uncached path")

    val got = sink.read(spark).orderBy("k").collect()
    assert(got.length == 15)
    assert(got.map(_.getLong(0)).toSeq == (0L until 15L))
  }

  test("dedupOnRead over a pinned raw frame equals a pruned read") {
    import spark.implicits._
    val path = tmp("dedupraw")
    val sink = SinkTable(path, Seq("k"), Some("ts"))
    val mk = (k: Long, v: String) =>
      (k, v, java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))
    sink.append(Seq(mk(1, "old"), mk(2, "old")).toDF("k", "v", "ts"), 0L)
    sink.append(Seq(mk(1, "new")).toDF("k", "v", "ts"), 1L)
    val raw = sink.readRaw(spark)
    val viaPinned = sink.dedupOnRead(raw, Some(Seq("202403")))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val viaRead = sink.read(spark, Seq("202403"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(viaPinned == viaRead)
    assert(viaPinned == Seq((1L, "new"), (2L, "old")))
  }

  test("pinned source refreshes at tip(): a follow poll sees newly landed source rows") {
    import spark.implicits._
    graft.functions.EvmFunctions.registerAll(spark)
    graft.functions.HexExpressions.registerAll(spark)
    // upstream logs sink at tip 10, filled by the logs example config
    val logsPath = tmp("r18-logs")
    def logsTo(tip: Int, batchSize: Long): Unit =
      SqlPipeline.run(spark, SqlPipeline.exampleDir("ethereum_logs_spark"),
        Map("RPC_ENDPOINT" -> s"fake://chain?tip=$tip", "SINK_PATH" -> logsPath),
        c => c.copy(maxBatchSize = batchSize))
    logsTo(10, 11)
    val dir = SqlPipeline.exampleDir("ethereum_decoded_logs_spark")
    val vars = Map(
      "SOURCE_PATH" -> logsPath,
      "SINK_PATH" -> tmp("r18-decoded"),
      "EVENT_SIGS" -> "'event Transfer(address indexed,address indexed,uint256)'")
    val defn = SqlPipeline.definition(dir, vars)
    val session = spark.newSession()
    graft.functions.EvmFunctions.registerAll(session)
    graft.functions.HexExpressions.registerAll(session)
    assert(defn.tip(session) == 10L)
    // source advances AFTER the probe (a follow-mode pass boundary)
    logsTo(15, 5)
    // the next poll's refresh must see the newly landed files: the
    // probed tip equals the source sink's REAL high-water mark (not
    // the stale pre-advance 10)
    val highWater = SinkTable(logsPath, Seq("block_number", "log_index"))
      .read(spark).agg(max(col("block_number"))).head().getLong(0)
    assert(highWater > 10L)
    assert(defn.tip(session) == highWater)
  }
}
