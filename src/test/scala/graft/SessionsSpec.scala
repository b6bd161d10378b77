package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{PipelineRunner, SinkTable, SqlPipeline}

/** `Sessions.shareCode`: a pipeline run or a stream gate started again
  * in a fresh child session reuses the generated classes of the first
  * run instead of compiling them again, and gives the same rows. */
class SessionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Classes Janino compiled while `body` ran (codegen cache misses). */
  private def compiles[A](body: => A): (A, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  /** sha-256 over the rows rendered one per line, sorted. */
  private def digest(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "null"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
      case o => String.valueOf(o)
    }
    val text = rows.map(_.toSeq.map(render).mkString("|")).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private val blocks = SqlPipeline.exampleDir("ethereum_blocks_spark")
  private val chain = "fake://chain?tip=20"

  test("a config pipeline run again in a fresh child session compiles nothing") {
    def run(): DataFrame = {
      val sink = java.nio.file.Files.createTempDirectory("graft-sessions-blocks")
        .resolve("sink").toString
      val res = SqlPipeline.run(spark, blocks, Map("RPC_ENDPOINT" -> chain, "SINK_PATH" -> sink),
        c => c.copy(maxBatchSize = 7, workers = 2))
      assert(res.items == 21)
      SinkTable(sink, Seq("number"), Some("timestamp")).read(spark)
    }
    val (first, _) = compiles(run())
    val (second, again) = compiles(run())
    assert(again == 0, s"the second run compiled $again classes")
    assert(digest(second.collect()) == digest(first.collect()))

    // control: the same batch's buffer in a child that keeps its own
    // class loader compiles the classes the runs above already hold
    val isolated = spark.newSession()
    graft.functions.EvmFunctions.registerAll(isolated)
    graft.functions.HexExpressions.registerAll(isolated)
    val (rows, control) = compiles(SqlPipeline.buffer(isolated, blocks,
      Map("RPC_ENDPOINT" -> chain), PipelineRunner.Batch(0, 0, 6)).collect())
    assert(rows.length == 7)
    assert(control > 0, "an isolated child session compiled nothing")
  }

  test("an st gate started again compiles nothing") {
    // st65 streams two copies of `<dir>/events.parquet`, one file
    val dir = java.nio.file.Files.createTempDirectory("graft-sessions-events")
    val written = dir.resolve("written")
    spark.range(0, 200).selectExpr("id as event_id", "concat('type', id % 3) as event_type",
        "cast(id % 7 as double) / 4 as value", "timestamp_micros(id * 1000000) as ts")
      .coalesce(1).write.parquet(written.toString)
    java.nio.file.Files.move(written.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      .toPath, dir.resolve("events.parquet"))
    val gate = SparkEntry.queries("st65_stream_dedup")
    val (first, _) = compiles(gate(spark, dir.toString).collect())
    val (second, again) = compiles(gate(spark, dir.toString).collect())
    assert(first.map(_.getLong(1)).sum == 200)
    assert(again == 0, s"the second start compiled $again classes")
    assert(digest(second) == digest(first))
  }

  test("a media st gate started again compiles nothing") {
    // st89 folds its landmark buckets through StreamingNearDup.hits,
    // whose List[Long] state encoder is resolved once per JVM. The gate
    // call stages and drains the stream; the vote over the drained sink
    // runs at collect, and adaptive execution may pick its broadcast
    // side by which query stage finishes first, so only the start is
    // counted
    val gate = SparkEntry.queries("st89_stream_onset_landmark_dedup")
    val first = gate(spark, "").collect()
    val (voted, again) = compiles(gate(spark, ""))
    val second = voted.collect()
    assert(first.nonEmpty)
    assert(again == 0, s"the second start compiled $again classes")
    assert(digest(second) == digest(first))
  }
}
