package graft.tools

import org.apache.spark.sql.SparkSession

import graft.pipeline.{PipelineRunner, SqlPipeline}

/** Long-run soak of the config-driven pipeline (round-17 task 5).
  *
  * The round-16 scoped-release work asserted zero leaked persistent
  * RDDs per QUERY under bench/verify scope; the production claim — a
  * long-running tip-follow `SqlPipeline` does not accumulate
  * checkpoint blocks or heap — was untested. This drives the real
  * blocks pipeline (examples/ethereum_blocks_spark, the reference's
  * ethereum_blocks) through N single-block batches against the
  * deterministic fake chain in ONE session, sampling
  * `sc.getPersistentRDDs.size` and used heap at every ordered commit,
  * and writes a JSON artifact with a pass/fail flatness verdict:
  *
  *  - persistent-RDD count must stay bounded by the worker count while
  *    running (each in-flight batch holds exactly its own buffer) and
  *    return to ZERO at the end — flat, not growing with batch number;
  *  - the post-GC heap floor at the end must sit within noise of the
  *    floor measured early (<= 1.5x + 64 MB slack).
  *
  * Usage: SoakPipeline [nBatches] [outPath]
  */
object SoakPipeline {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.filter(_.forall(_.isDigit)).map(_.toInt)
      .getOrElse(600)
    val outPath = args.lift(1).getOrElse("soak_r17.json")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.EvmFunctions.registerAll(spark)
    graft.functions.HexExpressions.registerAll(spark)

    val dir = SqlPipeline.exampleDir("ethereum_blocks_spark")
    val sink = java.nio.file.Files.createTempDirectory("graft-soak")
      .resolve("sink").toString
    val vars = Map(
      "RPC_ENDPOINT" -> s"fake://chain?tip=${n + 10}",
      "SINK_PATH" -> sink)

    val rt = Runtime.getRuntime
    def usedMb: Long = (rt.totalMemory() - rt.freeMemory()) >> 20
    def gcFloorMb: Long = { System.gc(); Thread.sleep(200); usedMb }

    // (batch, persistentRddCount, usedHeapMb) at every ordered commit
    val samples = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
    // post-GC heap floors at checkpoints (batch -> mb)
    val floors = scala.collection.mutable.LinkedHashMap.empty[Long, Long]

    val base = SqlPipeline.definition(dir, vars)
    val defn = new PipelineRunner.Definition {
      def resume(s: SparkSession): Option[Long] = base.resume(s)
      def tip(s: SparkSession): Long = base.tip(s)
      def transform(s: SparkSession, b: PipelineRunner.Batch) =
        base.transform(s, b)
      def commit(s: SparkSession, b: PipelineRunner.Batch,
          df: org.apache.spark.sql.DataFrame): Unit = {
        base.commit(s, b, df)
        samples += ((b.number, s.sparkContext.getPersistentRDDs.size, usedMb))
        if (b.number % 100 == 99) floors(b.number) = gcFloorMb
      }
      override def transformConf: Map[String, String] = base.transformConf
    }
    val t0 = System.nanoTime()
    val res = PipelineRunner.run(spark, defn,
      PipelineRunner.Config(maxBatchSize = 1, workers = 2,
        followTip = true, stopAfterBatches = Some(n.toLong),
        tipPollIntervalMs = 50))
    val wall = (System.nanoTime() - t0) / 1e9

    val rddFinal = spark.sparkContext.getPersistentRDDs.size
    val rddMax = samples.map(_._2).max
    val floorSeq = floors.toSeq
    val floorFirst = floorSeq.headOption.map(_._2).getOrElse(0L)
    val floorLast = floorSeq.lastOption.map(_._2).getOrElse(0L)
    // rddMax: each of the 2 workers holds its in-flight buffer, and the
    // replacing sink's dedup-on-read may pin one base persist during a
    // commit — bounded by construction, never batch-proportional
    val pass = rddFinal == 0 && rddMax <= 4 &&
      floorLast <= floorFirst * 3 / 2 + 64
    val every = math.max(1, samples.size / 60)
    val sampleJson = samples.zipWithIndex
      .filter { case (_, i) => i % every == 0 || i == samples.size - 1 }
      .map { case ((b, r, h), _) => s"[$b,$r,$h]" }.mkString("[", ",", "]")
    val floorJson = floorSeq.map { case (b, m) => s"[$b,$m]" }
      .mkString("[", ",", "]")
    val json =
      s"""{"metric":"soak","batches":${res.batches},"items":${res.items},""" +
      s""""wall_sec":${math.round(wall * 10) / 10.0},""" +
      s""""rdd_max":$rddMax,"rdd_final":$rddFinal,""" +
      s""""heap_floor_first_mb":$floorFirst,"heap_floor_last_mb":$floorLast,""" +
      s""""heap_floors":$floorJson,"pass":$pass,""" +
      s""""samples_batch_rdd_heapmb":$sampleJson}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      json + "\n")
    println(json)
    spark.stop()
    if (!pass) sys.exit(1)
  }
}
