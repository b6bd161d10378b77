package graft.operators

import graft.fixtures.Media
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{VideoPeak, VideoScale}

/** Round-11 continuation: the crop+RESIZE compound for VIDEO
  * (m147/m148/st108) — pooled per-frame constellation codes. A video
  * re-upload cropped at any offset AND rescaled (the 1080p->720p
  * repost shape), optionally trimmed, lands where the exact-pixel
  * video peak tier is structurally blind: interpolation rewrites
  * every frame byte. */
class Round11kSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Blob-frame masters + crop-and-resize probes (one with a leading
    * trim) + decoys. */
  private def corpus = {
    val s = spark
    import s.implicits._
    ((0L until 6L).map(id => (id, Media.syntheticAviBlobs(id, 6))) ++
      Seq(
        20L -> Media.aviCropResizeDib(
          Media.syntheticAviBlobs(0, 6), 12, 8, 92, 88, 96, 96),
        21L -> Media.aviCropResizeDib(
          Media.syntheticAviBlobs(1, 6), 8, 8, 88, 88, 112, 112),
        22L -> Media.aviCropResizeDib(
          Media.syntheticAviBlobs(2, 6), 16, 12, 88, 84, 64, 64),
        23L -> Media.aviCropResizeDib(
          Media.syntheticAviBlobs(3, 6), 12, 8, 92, 88, 96, 96,
          fromFrame = 2)
      ) ++
      Seq(140L, 141L).map(id =>
        (id, Media.syntheticAviBlobs(id, 6))))
      .toDF("doc_id", "payload")
  }

  test("round-trip: blob AVI frames decode back and yield coarse peaks") {
    val fs = Multimodal.containerFrames(
      Media.syntheticAviBlobs(0, 6)).get
    assert(fs.length == 6)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(fs.head))
    assert(img.getWidth == 96 && img.getHeight == 96)
    val peaks = Multimodal.coarsePeakCells(Multimodal.lumaPlane(img),
      96, 96, 4, 6)
    assert(peaks.size == 8,
      s"every isolated blob must yield exactly one peak: ${peaks.size}")
  }

  test("exact-pixel video peak tier is blind to crop+resize") {
    implicit val s: SparkSession = spark
    val exact = Multimodal.pairs(VideoPeak())(corpus, minMatch = 0.05,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.isEmpty,
      s"exact video peak tier must miss resampled crops: ${exact.toSeq}")
  }

  test("video constellation tier lands every crop+resize probe incl. the trim compound") {
    implicit val s: SparkSession = spark
    val pairs = Multimodal.pairs(VideoScale())(corpus, minMatch = 0.4,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      Set((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L)),
      s"unexpected video scale pairs: ${pairs.toSeq}")
    assert(pairs.forall(_._3 >= 0.49),
      s"true pairs must score >= 0.49: ${pairs.toSeq}")
    val loose = Multimodal.pairs(VideoScale())(corpus, minMatch = 0.1,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filterNot(p => Set((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L))
        .contains((p._1, p._2)))
    assert(loose.forall(_._3 <= 0.25),
      s"noise pairs must stay <= 0.25: ${loose.toSeq}")
  }

  test("video scale index: append == rebuild; screen catches resized crops; stamp enforced") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val masters = (0L until 6L).map(id =>
      (id, Media.syntheticAviBlobs(id, 6))).toDF("doc_id", "payload")
    val late = Seq((6L, Media.syntheticAviBlobs(6L, 6)))
      .toDF("doc_id", "payload")
    val appended = Multimodal.index(VideoScale())(masters)
      .unionByName(Multimodal.index(VideoScale())(late))
    val rebuilt = Multimodal.index(VideoScale())(masters.unionByName(late))
    assert(appended.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(appended).isEmpty,
      "append != rebuild for the video constellation index")
    val probes = Seq(
      20L -> Media.aviCropResizeDib(
        Media.syntheticAviBlobs(0, 6), 12, 8, 92, 88, 96, 96),
      21L -> Media.aviCropResizeDib(
        Media.syntheticAviBlobs(1, 6), 8, 8, 88, 88, 112, 112),
      130L -> Media.syntheticAviBlobs(130L, 6))
      .toDF("doc_id", "payload")
    val out = Multimodal.screen(VideoScale())(probes,
      Multimodal.index(VideoScale())(masters), minMatch = 0.4)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(out == Set((20L, false), (21L, false), (130L, true)),
      s"unexpected video screen verdicts: $out")
    val foreign = Multimodal.index(VideoScale())(masters)
      .withColumn("fp_ver", lit(Multimodal.PeakFpVersion))
    val e = intercept[IllegalArgumentException] {
      Multimodal.screen(VideoScale())(probes, foreign).collect()
    }
    assert(e.getMessage.contains("rebuild"))
  }
}
