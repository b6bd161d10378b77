package graft.operators

import graft.fixtures.Media
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{AudioOnset, AudioOnsetRolling}

/** Round-11 continuation: the ROLLING-RMS onset tier (noisy-floor
  * audio — the last onset-family scope line) and its fixtures. */
class Round11bSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The m119 fixture: beat-gated tone mixtures over a CONTINUOUS
    * 60 Hz hum floor at 1/16 full scale — the gaps are never quiet. */
  private def noisy(id: Long, rate: Int, ms: Int, offsetMs: Int = 0) =
    Media.syntheticWavTones(id, rate, ms = ms, offsetMs = offsetMs,
      gateMs = 32, segMs = 96, permMs = 32, floorNum = 1, floorDen = 16)

  private def noisyCorpus = {
    val s = spark
    import s.implicits._
    val rows = (0L until 10L).map(id => (id, noisy(id, 8000, 1248))) ++
      (20L until 30L).map(id => (id, noisy(id - 20, 44100, 1120, offsetMs = 50)))
    rows.toDF("doc_id", "payload")
  }

  test("threshold onset tiers find ZERO onsets on noisy-floor audio (structural miss)") {
    implicit val s: SparkSession = spark
    val docs = noisyCorpus
    val abs = AudioOnset().landmarks(docs).count()
    val frac = AudioOnset(thresholdFrac = 0.125).landmarks(docs).count()
    info(s"absolute-tier landmarks: $abs, peak-frac landmarks: $frac")
    assert(abs == 0, s"absolute tier found $abs landmarks on noisy floor")
    assert(frac == 0, s"peak-frac tier found $frac landmarks on noisy floor")
  }

  test("rolling-built onset index screens a noisy corpus the threshold-built index is EMPTY on") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val masters = (0L until 8L).map(id => (id, noisy(id, 8000, 1248)))
      .toDF("doc_id", "payload")
    val probes = ((20L until 26L).map(id =>
      (id, noisy(id - 20, 44100, 1120, offsetMs = 50))) ++
      Seq(128L, 129L).map(id => (id, noisy(id, 44100, 1120))))
      .toDF("doc_id", "payload")
    // the threshold detector finds no onsets on this corpus at all —
    // a threshold-built index is EMPTY, the structural miss in index form
    assert(Multimodal.index(AudioOnset())(masters).count() == 0L,
      "threshold-built index of a noisy corpus should be empty")
    val idx = Multimodal.index(AudioOnsetRolling())(masters)
    assert(idx.count() > 0L)
    val verdicts = Multimodal.screen(AudioOnsetRolling())(probes, idx)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert((20L until 26L).forall(id => verdicts(id) == false),
      s"noisy re-uploads not all caught: $verdicts")
    assert(verdicts(128L) && verdicts(129L), s"decoys not kept: $verdicts")
  }

  test("rolling-RMS onset tier lands all 10 noisy trimmed+resampled re-uploads") {
    implicit val s: SparkSession = spark
    val pairs = Multimodal.pairs(AudioOnsetRolling())(noisyCorpus, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2))
    info(pairs.mkString("\n"))
    val planted = pairs.filter(p => p._2 == p._1 + 20)
    assert(planted.length == 10,
      s"expected 10 planted pairs, got ${planted.length}: ${pairs.mkString(", ")}")
    assert(pairs.length == planted.length,
      s"spurious pairs: ${pairs.filterNot(p => p._2 == p._1 + 20).mkString(", ")}")
  }

  test("rolling-RMS detector also covers the SILENT-gap fixture (superset of the threshold tier)") {
    implicit val s: SparkSession = spark
    val sDocs = {
      val sp = spark
      import sp.implicits._
      val rows = (0L until 4L).map(id => (id,
        Media.syntheticWavTones(id, 8000, ms = 1248, gateMs = 32,
          segMs = 96, permMs = 32))) ++
        (20L until 24L).map(id => (id,
          Media.syntheticWavTones(id - 20, 44100, ms = 1120,
            offsetMs = 50, gateMs = 32, segMs = 96, permMs = 32)))
      rows.toDF("doc_id", "payload")
    }
    val pairs = Multimodal.pairs(AudioOnsetRolling())(sDocs, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    info(pairs.mkString(", "))
    (0L until 4L).foreach { i =>
      assert(pairs.contains((i, i + 20)), s"silent-gap pair ($i, ${i + 20}) missed")
    }
  }
}
