package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{PHash, PHashCrop, VideoCrop, VideoShift}

/** Round-11 continuation: the CROP-TOLERANT image tier — structured
  * crops (center / quadrant, the thumbnail and crop-to-subject
  * classes) via canonical-window hashes from one decode. */
class Round11fSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The m128 fixture: 8 64x64 masters; probes are lossless PNG crops
    * of their pixel fields — six on canonical windows, ONE (id 26) at
    * an arbitrary offset that matches no window (the scope edge). */
  private def corpus: DataFrame = {
    val s = spark
    import s.implicits._
    val rows =
      (0L until 8L).map(id => (id, Multimodal.syntheticPng(id, 64, 64))) ++
      Seq(
        20L -> Multimodal.syntheticPngCrop(0, 16, 16, 48, 48), // win 2
        21L -> Multimodal.syntheticPngCrop(1, 16, 16, 48, 48), // win 2
        22L -> Multimodal.syntheticPngCrop(2, 0, 0, 32, 32),   // win 3
        23L -> Multimodal.syntheticPngCrop(3, 32, 0, 64, 32),  // win 4
        24L -> Multimodal.syntheticPngCrop(4, 8, 8, 56, 56),   // win 1
        25L -> Multimodal.syntheticPngCrop(5, 32, 32, 64, 64), // win 6
        26L -> Multimodal.syntheticPngCrop(6, 20, 12, 52, 44), // no win
        27L -> Multimodal.syntheticPngCrop(7, 0, 32, 32, 64)   // win 5
      ) ++
      Seq(140L, 141L).map(id => (id, Multimodal.syntheticPng(id, 64, 64)))
    rows.toDF("doc_id", "payload")
  }

  test("window 0 reproduces pHash64 bit-exactly") {
    val png = Multimodal.syntheticPng(5, 64, 64)
    val full = Multimodal.pHash64(png).get
    val win0 = Multimodal.pHash64CropWindows(png).get
      .find(_._1 == 0).get._2
    assert(full == win0, f"full $full%016x != window-0 $win0%016x")
  }

  test("plain pHash tier misses every crop") {
    val cross = Multimodal.pairs(PHash)(corpus, maxDist = 3, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 8 && b >= 20 }
    info(s"plain-tier cross pairs: ${cross.toSeq}")
    assert(cross.isEmpty, s"plain pHash matched crops: ${cross.toSeq}")
  }

  test("crop tier lands every canonical-window crop at dist 0; arbitrary offset misses") {
    val rows = Multimodal.pairs(PHashCrop())(corpus, maxDist = 3, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getInt(4)))
    info(rows.sortBy(_._1).map { case (a, b, wa, wb, d) =>
      s"($a,$b,w$wa-w$wb,d$d)" }.mkString(", "))
    val expected = Set(
      (0L, 20L, 2, 0, 0), (1L, 21L, 2, 0, 0), (2L, 22L, 3, 0, 0),
      (3L, 23L, 4, 0, 0), (4L, 24L, 1, 0, 0), (5L, 25L, 6, 0, 0),
      (7L, 27L, 5, 0, 0))
    assert(rows.toSet == expected,
      s"expected exactly the 7 window crops at dist 0, got ${rows.toSeq}")
    assert(!rows.exists { case (a, b, _, _, _) => b == 26L || a == 26L },
      "arbitrary-offset crop should not match (out of scope by design)")
  }

  /** The m132 fixture: 48x48 masters (divisible by both the eighths
    * and sixths bases); probes are off-center 2/3-size crops on the
    * thirds anchor grid — outside the base 7-window set. */
  private def thirdsCorpus: DataFrame = {
    val s = spark
    import s.implicits._
    val rows =
      (0L until 6L).map(id => (id, Multimodal.syntheticPng(id, 48, 48))) ++
      Seq(
        20L -> Multimodal.syntheticPngCrop(0, 8, 0, 40, 32, 48, 48),   // win 8
        21L -> Multimodal.syntheticPngCrop(1, 16, 16, 48, 48, 48, 48), // win 15
        22L -> Multimodal.syntheticPngCrop(2, 0, 8, 32, 40, 48, 48),   // win 10
        23L -> Multimodal.syntheticPngCrop(3, 8, 8, 40, 40, 48, 48)    // win 11
      ) ++
      Seq(140L, 141L).map(id => (id, Multimodal.syntheticPng(id, 48, 48)))
    rows.toDF("doc_id", "payload")
  }

  test("thirds ladder lands off-center 2/3 crops the base window set misses") {
    val base = Multimodal.pairs(PHashCrop())(thirdsCorpus, maxDist = 3,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 6 && b >= 20 }
    info(s"base-set cross pairs: ${base.toSeq}")
    assert(base.isEmpty,
      s"base window set matched thirds crops: ${base.toSeq}")
    val ext = Multimodal.pairs(PHashCrop(extended = true))(thirdsCorpus,
      maxDist = 3, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getInt(4)))
    info(ext.sortBy(_._1).map { case (a, b, wa, wb, d) =>
      s"($a,$b,w$wa-w$wb,d$d)" }.mkString(", "))
    assert(ext.toSet == Set(
      (0L, 20L, 8, 0, 0), (1L, 21L, 15, 0, 0), (2L, 22L, 10, 0, 0),
      (3L, 23L, 11, 0, 0)),
      s"expected the 4 thirds-window crops at dist 0, got ${ext.toSeq}")
  }

  /** The m130 fixture: 32x32 24-frame masters; probes are DIB window
    * renders (center 50%/75%, TL quadrant), leading-trimmed 2 frames. */
  private def videoCorpus: DataFrame = {
    val s = spark
    import s.implicits._
    val rows =
      (0L until 6L).map(id =>
        (id, Multimodal.syntheticAvi(id, 24, w = 32, h = 32))) ++
      Seq(
        20L -> Multimodal.syntheticAvi(0, 20, w = 16, h = 16,
          frameOffset = 2, srcX0 = 8, srcY0 = 8),  // win 2 (center 50%)
        21L -> Multimodal.syntheticAvi(1, 20, w = 16, h = 16,
          frameOffset = 2, srcX0 = 0, srcY0 = 0),  // win 3 (TL quadrant)
        22L -> Multimodal.syntheticAvi(2, 20, w = 24, h = 24,
          frameOffset = 2, srcX0 = 4, srcY0 = 4),  // win 1 (center 75%)
        23L -> Multimodal.syntheticAvi(3, 20, w = 16, h = 16,
          frameOffset = 2, srcX0 = 16, srcY0 = 16) // win 6 (BR quadrant)
      ) ++
      Seq(140L, 141L).map(id =>
        (id, Multimodal.syntheticAvi(id, 24, w = 32, h = 32)))
    rows.toDF("doc_id", "payload")
  }

  test("whole-frame video tiers miss a cropped re-upload; crop channels land it") {
    implicit val s: SparkSession = spark
    val plain = Multimodal.pairs(VideoShift(every = 1))(videoCorpus, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 6 && b >= 20 }
    info(s"whole-frame tier cross pairs: ${plain.toSeq}")
    assert(plain.isEmpty,
      s"whole-frame landmarks matched crops: ${plain.toSeq}")
    val rows = Multimodal.videoLandmarkPairsCrop(videoCorpus, maxDf = 64,
      f = VideoCrop(every = 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getDouble(4)))
    info(rows.sortBy(_._1).map { case (a, b, wa, wb, f) =>
      s"($a,$b,w$wa-w$wb,$f)" }.mkString(", "))
    assert(rows.map { case (a, b, wa, wb, _) => (a, b, wa, wb) }.toSet ==
      Set((0L, 20L, 2, 0), (1L, 21L, 3, 0), (2L, 22L, 1, 0),
        (3L, 23L, 6, 0)),
      s"expected the 4 window-channel crop pairs, got ${rows.toSeq}")
    assert(rows.forall(_._5 == 1.0),
      s"trimmed crop channels should match exactly: ${rows.toSeq}")
  }

  test("video crop index: append == rebuild; cross-family stamp rejected") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val masters = (0L until 4L).map(id =>
      (id, Multimodal.syntheticAvi(id, 24, w = 32, h = 32)))
      .toDF("doc_id", "payload")
    val late = (4L until 6L).map(id =>
      (id, Multimodal.syntheticAvi(id, 24, w = 32, h = 32)))
      .toDF("doc_id", "payload")
    val idx = Multimodal.videoCropLandmarkIndex(masters,
      f = VideoCrop(every = 1))
    val appended = idx.unionByName(
      Multimodal.videoCropLandmarkIndex(late, f = VideoCrop(every = 1)))
    val rebuilt = Multimodal.videoCropLandmarkIndex(masters.unionByName(late),
      f = VideoCrop(every = 1))
    assert(appended.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(appended).isEmpty,
      "append != rebuild for the video crop index")
    val probes = Seq(20L -> Multimodal.syntheticAvi(0, 20, w = 16,
      h = 16, frameOffset = 2, srcX0 = 8, srcY0 = 8))
      .toDF("doc_id", "payload")
    val foreign = idx.withColumn("fp_ver",
      lit(Multimodal.VideoSkipFpVersion))
    val e = intercept[IllegalArgumentException] {
      Multimodal.screen(VideoCrop(every = 1))(probes, foreign).collect()
    }
    assert(e.getMessage.contains("rebuild"))
  }
}
