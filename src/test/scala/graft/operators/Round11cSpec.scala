package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{AudioInterval, AudioOnset,
  AudioSpectralLandmark}

/** Round-11 continuation: the ONSET-INTERVAL-RATIO tier — speed-change
  * / time-stretch tolerant audio dedup (the last audio scope line) —
  * and its persisted-index member. */
class Round11cSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The m120 fixture: variable-length beat segments; re-uploads are
    * sped up 5% (pitch AND tempo), trimmed 50 ms, muxed at 44.1 kHz. */
  private def corpus: DataFrame = {
    val s = spark
    import s.implicits._
    val rows =
      (0L until 10L).map(id =>
        (id, Multimodal.syntheticWavBeats(id, 8000, ms = 1248))) ++
      (20L until 30L).map(id =>
        (id, Multimodal.syntheticWavBeats(id - 20, 44100, ms = 1000,
          offsetMs = 50, speedNum = 21, speedDen = 20)))
    rows.toDF("doc_id", "payload")
  }

  private def crossPairs(df: DataFrame): Array[(Long, Long)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 10 && b >= 20 }

  test("spectral tiers structurally miss a 5% speed-changed re-upload") {
    implicit val s: SparkSession = spark
    val onset = crossPairs(
      Multimodal.pairs(AudioOnset())(corpus, maxDf = 64))
    val grid = crossPairs(
      Multimodal.pairs(AudioSpectralLandmark())(corpus, maxDf = 64))
    info(s"onset-spectral cross pairs: ${onset.length}, " +
      s"grid-spectral cross pairs: ${grid.length}")
    assert(onset.isEmpty,
      s"onset-spectral tier matched speed-changed pairs: ${onset.toSeq}")
    assert(grid.isEmpty,
      s"grid-spectral tier matched speed-changed pairs: ${grid.toSeq}")
  }

  test("interval-ratio tier lands all 10 speed-changed re-uploads") {
    implicit val s: SparkSession = spark
    val pairs = Multimodal.pairs(AudioInterval())(corpus, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cross = pairs.filter { case (a, b, _) => a < 10 && b >= 20 }
    info(cross.sortBy(_._1).map { case (a, b, f) => s"($a,$b,$f)" }
      .mkString(", "))
    assert(cross.map { case (a, b, _) => (a, b) }.toSet ==
      (0L until 10L).map(i => (i, i + 20L)).toSet,
      s"expected exactly the 10 master-reupload pairs, got ${cross.toSeq}")
  }

  test("interval index: screen catches speed change; append == rebuild; version enforced") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val masters = (0L until 8L).map(id =>
      (id, Multimodal.syntheticWavBeats(id, 8000, ms = 1248)))
      .toDF("doc_id", "payload")
    val late = (8L until 10L).map(id =>
      (id, Multimodal.syntheticWavBeats(id, 8000, ms = 1248)))
      .toDF("doc_id", "payload")
    val probes = ((20L until 26L).map(id =>
      (id, Multimodal.syntheticWavBeats(id - 20, 44100, ms = 1000,
        offsetMs = 50, speedNum = 21, speedDen = 20))) ++
      Seq(128L, 129L).map(id =>
        (id, Multimodal.syntheticWavBeats(id, 44100, ms = 1000))))
      .toDF("doc_id", "payload")

    val idx = Multimodal.index(AudioInterval())(masters)
    val verdicts = Multimodal.screen(AudioInterval())(probes, idx)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert((20L until 26L).forall(id => verdicts(id) == false),
      s"speed-changed probes not all caught: $verdicts")
    assert(verdicts(128L) && verdicts(129L),
      s"decoys not kept: $verdicts")

    // append == rebuild (the IncrementalIndex contract)
    val appended = idx.unionByName(
      Multimodal.index(AudioInterval())(late))
    val rebuilt = Multimodal.index(AudioInterval())(masters.unionByName(late))
    assert(appended.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(appended).isEmpty,
      "append != rebuild for the interval index")

    // cross-version stamps rejected both directions
    val foreign = idx.withColumn("fp_ver", lit(Multimodal.OnsetFpVersion))
    val e1 = intercept[IllegalArgumentException] {
      Multimodal.screen(AudioInterval())(probes, foreign).collect()
    }
    assert(e1.getMessage.contains("rebuild"))
    val e2 = intercept[IllegalArgumentException] {
      Multimodal.screen(AudioOnset())(probes,
        idx.withColumnRenamed("lm", "lm")).collect()
    }
    assert(e2.getMessage.contains("rebuild"))
  }
}
