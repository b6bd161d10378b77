package graft.operators

import graft.fixtures.Media
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{ImagePeak, PHashCrop, VideoCrop}

/** Round-11 continuation: the ARBITRARY-OFFSET crop tier —
  * content-anchored peak-patch landmarks (m136/m137/st101), the
  * audio onset-anchoring trick in 2D. A strict local maximum of the
  * box-smoothed luma and its raw-pixel patch depend only on a fixed
  * neighborhood of the peak, so any lossless crop that keeps that
  * neighborhood reproduces the landmark bit-exactly. */
class Round11hSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The m136 fixture: masters + arbitrary-offset lossless crops,
    * including m128's pinned-miss (20,12,52,44) window. */
  private def corpus = {
    val s = spark
    import s.implicits._
    ((0L until 8L).map(id => (id, Media.syntheticPng(id, 64, 64))) ++
      Seq(
        20L -> Media.syntheticPngCrop(6, 20, 12, 52, 44),
        21L -> Media.syntheticPngCrop(0, 11, 7, 43, 39),
        22L -> Media.syntheticPngCrop(1, 5, 21, 37, 53),
        23L -> Media.syntheticPngCrop(2, 17, 3, 49, 35)
      ) ++
      Seq(140L, 141L).map(id => (id, Media.syntheticPng(id, 64, 64))))
      .toDF("doc_id", "payload")
  }

  test("canonical-window tier (even extended) is blind to arbitrary-offset crops") {
    implicit val s: SparkSession = spark
    val cross = Multimodal.pairs(PHashCrop(extended = true))(corpus,
      maxDist = 3, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 8 && b >= 20 && b < 24 }
    assert(cross.isEmpty,
      s"window tier must miss arbitrary-offset crops: ${cross.toSeq}")
  }

  test("a lossless crop's peak-patch hashes are a subset of its master's") {
    val master = Multimodal.peakPatchHashes(
      Media.syntheticPng(6, 64, 64)).get.toSet
    val crop = Multimodal.peakPatchHashes(
      Media.syntheticPngCrop(6, 20, 12, 52, 44)).get.toSet
    assert(crop.nonEmpty, "crop must yield interior peaks")
    assert(crop.subsetOf(master),
      s"crop peaks must reproduce master peaks bit-exactly " +
        s"(missing: ${(crop -- master).take(3)})")
  }

  test("peak tier lands every arbitrary-offset crop at 1.0; decoys share nothing") {
    implicit val s: SparkSession = spark
    val pairs = Multimodal.pairs(ImagePeak())(corpus, minMatch = 0.6,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSet == Set((6L, 20L, 1.0), (0L, 21L, 1.0),
      (1L, 22L, 1.0), (2L, 23L, 1.0)),
      s"unexpected peak pairs: ${pairs.toSeq}")
  }

  test("window-channel video tier (even extended) is blind to arbitrary-offset video crops") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val corpus = (Seq(0L, 1L, 10L, 11L).map(id =>
        (id, Media.syntheticAvi(id, 24, w = 48, h = 48))) ++
      Seq(20L -> Media.syntheticAvi(0, 20, w = 28, h = 24,
        frameOffset = 2, srcX0 = 7, srcY0 = 11)))
      .toDF("doc_id", "payload")
    val cross = Multimodal.videoLandmarkPairsCrop(corpus, maxDf = 64,
      f = VideoCrop(every = 1, extended = true))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => b == 20L || a == 20L }
    assert(cross.isEmpty,
      s"window-channel tier must miss arbitrary-offset video crops: ${cross.toSeq}")
  }

  test("a cropped+trimmed video's pooled peak hashes are a subset of its master's") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val media = Seq(
      (0L, Media.syntheticAvi(0, 24, w = 48, h = 48)),
      (20L, Media.syntheticAvi(0, 20, w = 28, h = 24,
        frameOffset = 2, srcX0 = 7, srcY0 = 11)))
      .toDF("doc_id", "payload")
    val lms = Multimodal.VideoPeak(every = 1).landmarks(media)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val master = lms.filter(_._1 == 0L).map(_._2).toSet
    val crop = lms.filter(_._1 == 20L).map(_._2).toSet
    assert(crop.nonEmpty && crop.subsetOf(master),
      s"video crop peaks must reproduce master peaks bit-exactly " +
        s"(missing: ${(crop -- master).take(3)})")
  }

  test("plain peak tier misses a rotated crop; dihedral orient-0 is bit-identical to plain") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val rotCrop = Media.pngDihedral(
      Media.syntheticPngCrop(6, 20, 12, 52, 44), 1)
    val media = Seq(
      (6L, Media.syntheticPng(6, 64, 64)), (20L, rotCrop))
      .toDF("doc_id", "payload")
    val plain = Multimodal.pairs(ImagePeak())(media, minMatch = 0.05,
      maxDf = 64).collect()
    assert(plain.isEmpty,
      s"plain peak tier must miss the rotated crop: ${plain.toSeq}")
    val png = Media.syntheticPng(3, 64, 64)
    val o0 = Multimodal.peakPatchHashesDihedral(png).get
      .filter(_._1 == 0).map(_._2)
    val base = Multimodal.peakPatchHashes(png).get
    assert(o0 == base,
      "dihedral orient-0 readout must reproduce the plain hashes bit-for-bit")
  }

  test("exact-hash peak tier dies under JPEG; gray-mean descriptors are translation-exact") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val crop = Media.syntheticPngCrop(6, 20, 12, 52, 44)
    val lossy = Media.jpegReencode(crop, 0.92f)
    val media = Seq(
      (6L, Media.syntheticPng(6, 64, 64)), (20L, lossy))
      .toDF("doc_id", "payload")
    val exact = Multimodal.pairs(ImagePeak())(media, minMatch = 0.05,
      maxDf = 64).collect()
    assert(exact.isEmpty,
      s"exact-hash peak tier must die under JPEG: ${exact.toSeq}")
    // lossless translation: the crop's descriptor multiset is a
    // subset of the master's, at distance ZERO
    val master = Multimodal.peakBlockDescriptors(
      Media.syntheticPng(6, 64, 64)).get.map(_._2).toSet
    val cropDs = Multimodal.peakBlockDescriptors(crop).get.map(_._2).toSet
    assert(cropDs.nonEmpty && cropDs.subsetOf(master),
      s"lossless-crop descriptors must be bit-exact subsets " +
        s"(missing: ${(cropDs -- master).take(3)})")
  }

  test("peak-desc index: append == rebuild; exact-family stamp rejected") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val masters = (0L until 4L).map(id =>
      (id, Media.syntheticPng(id, 64, 64))).toDF("doc_id", "payload")
    val late = Seq((4L, Media.syntheticPng(4L, 64, 64)))
      .toDF("doc_id", "payload")
    val appended = Multimodal.imagePeakLossyIndex(masters)
      .unionByName(Multimodal.imagePeakLossyIndex(late))
    val rebuilt = Multimodal.imagePeakLossyIndex(masters.unionByName(late))
    assert(appended.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(appended).isEmpty,
      "append != rebuild for the peak-desc index")
    val probes = Seq((20L, Media.jpegReencode(
      Media.syntheticPngCrop(0, 11, 7, 43, 39), 0.92f)))
      .toDF("doc_id", "payload")
    val foreign = Multimodal.imagePeakLossyIndex(masters)
      .withColumn("fp_ver", lit(Multimodal.PeakFpVersion))
    val e = intercept[IllegalArgumentException] {
      Multimodal.dedupAgainstImagePeakLossyIndex(probes, foreign).collect()
    }
    assert(e.getMessage.contains("rebuild"))
  }

  test("peak index: append == rebuild; cross-family stamp rejected") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val masters = (0L until 4L).map(id =>
      (id, Media.syntheticPng(id, 64, 64))).toDF("doc_id", "payload")
    val late = Seq((4L, Media.syntheticPng(4L, 64, 64)))
      .toDF("doc_id", "payload")
    val appended = Multimodal.index(ImagePeak())(masters)
      .unionByName(Multimodal.index(ImagePeak())(late))
    val rebuilt = Multimodal.index(ImagePeak())(masters.unionByName(late))
    assert(appended.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(appended).isEmpty,
      "append != rebuild for the peak index")
    val probes = Seq((20L, Media.syntheticPngCrop(0, 11, 7, 43, 39)))
      .toDF("doc_id", "payload")
    val foreign = Multimodal.index(ImagePeak())(masters)
      .withColumn("fp_ver", lit(Multimodal.ChromaFpVersion))
    val e = intercept[IllegalArgumentException] {
      Multimodal.screen(ImagePeak())(probes, foreign).collect()
    }
    assert(e.getMessage.contains("rebuild"))
  }
}
