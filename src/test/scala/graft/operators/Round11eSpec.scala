package graft.operators

import graft.fixtures.Media
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{AudioChroma, AudioInterval, AudioOnset}

/** Round-11 continuation: the PITCH-CLASS (constant-Q chroma) tier —
  * integer-semitone pitch/speed-shifted re-uploads of METRONOMIC
  * audio, the class where the interval-ratio tier is degenerate and
  * every fixed-Hz spectral tier breaks. */
class Round11eSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The m124 fixture: metronomic beats (uniform 96 ms segments);
    * re-uploads sped up one SEMITONE (196/185 ~ 2^(1/12) to 4 ppm),
    * trimmed 50 ms, muxed at 44.1 kHz. */
  private def corpus: DataFrame = {
    val s = spark
    import s.implicits._
    val rows =
      (0L until 10L).map(id => (id, Media.syntheticWavBeats(id, 8000,
        ms = 1248, uniformSegMs = 96))) ++
      (20L until 30L).map(id => (id, Media.syntheticWavBeats(id - 20,
        44100, ms = 1000, offsetMs = 50, speedNum = 196, speedDen = 185,
        uniformSegMs = 96)))
    rows.toDF("doc_id", "payload")
  }

  test("interval tier is DEGENERATE on a metronomic corpus (one shared landmark, zero discrimination)") {
    implicit val s: SparkSession = spark
    val lms = AudioInterval().landmarks(corpus).collect()
    val values = lms.map(_.getAs[Long]("lm")).toSet
    info(s"distinct interval landmarks across 20 docs: ${values.size}")
    assert(values.size == 1,
      s"metronomic corpus should collapse to the all-ratios-1 landmark, got $values")
    // every doc pairs with every other — all-pairs false positives
    val pairs = Multimodal.pairs(AudioInterval())(corpus, maxDf = 64)
      .count()
    assert(pairs == 190L,
      s"expected the degenerate all-pairs result (190), got $pairs")
  }

  test("fixed-Hz spectral onset tier misses the semitone-shifted copies") {
    implicit val s: SparkSession = spark
    val cross = Multimodal.pairs(AudioOnset())(corpus, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 10 && b >= 20 }
    info(s"onset-spectral cross pairs: ${cross.toSeq}")
    assert(cross.isEmpty,
      s"fixed-Hz onset tier matched pitch-shifted pairs: ${cross.toSeq}")
  }

  test("chroma tier lands all 10 semitone-shifted re-uploads, nothing else") {
    implicit val s: SparkSession = spark
    val pairs = Multimodal.pairs(AudioChroma())(corpus, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    info(pairs.sortBy(_._1).map { case (a, b, f) => s"($a,$b,$f)" }
      .mkString(", "))
    assert(pairs.map { case (a, b, _) => (a, b) }.toSet ==
      (0L until 10L).map(i => (i, i + 20L)).toSet,
      s"expected exactly the 10 master-reupload pairs, got ${pairs.toSeq}")
  }

  /** The m126 fixture: a QUARTER-tone speed-up (176/171 ~ 2^(1/24) to
    * 60 ppm) — half a band step for the semitone bank, a whole step
    * for the 24-division bank. */
  private def quarterCorpus: DataFrame = {
    val s = spark
    import s.implicits._
    val rows =
      (0L until 10L).map(id => (id, Media.syntheticWavBeats(id, 8000,
        ms = 1248, uniformSegMs = 96))) ++
      (20L until 30L).map(id => (id, Media.syntheticWavBeats(id - 20,
        44100, ms = 1000, offsetMs = 50, speedNum = 176, speedDen = 171,
        uniformSegMs = 96)))
    rows.toDF("doc_id", "payload")
  }

  test("24-division bank lands the quarter-tone shift the semitone bank degrades on") {
    implicit val s: SparkSession = spark
    val semitone = Multimodal.pairs(AudioChroma())(quarterCorpus, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 10 && b >= 20 }
    val quarter = Multimodal.pairs(AudioChroma(div = 24))(quarterCorpus,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a < 10 && b >= 20 }
    info(s"semitone-bank cross pairs: ${semitone.length}; " +
      s"24-division: ${quarter.sortBy(_._1).map { case (a, b, f) =>
        s"($a,$b,$f)" }.mkString(", ")}")
    assert(quarter.map { case (a, b, _) => (a, b) }.toSet ==
      (0L until 10L).map(i => (i, i + 20L)).toSet,
      s"24-division bank should land all 10, got ${quarter.toSeq}")
    assert(semitone.length < quarter.length,
      s"semitone bank should degrade on a half-band shift " +
        s"(got ${semitone.length} vs ${quarter.length})")
  }

  test("chroma index: screen catches the semitone shift; append == rebuild; version enforced") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val masters = (0L until 8L).map(id =>
      (id, Media.syntheticWavBeats(id, 8000, ms = 1248,
        uniformSegMs = 96))).toDF("doc_id", "payload")
    val late = (8L until 10L).map(id =>
      (id, Media.syntheticWavBeats(id, 8000, ms = 1248,
        uniformSegMs = 96))).toDF("doc_id", "payload")
    val probes = ((20L until 26L).map(id =>
      (id, Media.syntheticWavBeats(id - 20, 44100, ms = 1000,
        offsetMs = 50, speedNum = 196, speedDen = 185,
        uniformSegMs = 96))) ++
      Seq(128L, 129L).map(id =>
        (id, Media.syntheticWavBeats(id, 44100, ms = 1000,
          uniformSegMs = 96))))
      .toDF("doc_id", "payload")

    val idx = Multimodal.index(AudioChroma())(masters)
    val verdicts = Multimodal.screen(AudioChroma())(probes, idx)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert((20L until 26L).forall(id => verdicts(id) == false),
      s"semitone-shifted probes not all caught: $verdicts")
    assert(verdicts(128L) && verdicts(129L), s"decoys not kept: $verdicts")

    val appended = idx.unionByName(Multimodal.index(AudioChroma())(late))
    val rebuilt = Multimodal.index(AudioChroma())(masters.unionByName(late))
    assert(appended.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(appended).isEmpty,
      "append != rebuild for the chroma index")

    val foreign = idx.withColumn("fp_ver", lit(Multimodal.OnsetFpVersion))
    val e = intercept[IllegalArgumentException] {
      Multimodal.screen(AudioChroma())(probes, foreign).collect()
    }
    assert(e.getMessage.contains("rebuild"))
  }
}
