package graft.operators

import graft.fixtures.{Catalogue, Media}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{ImagePeakDihedral, ImageScale,
  ImageScaleDihedral}

/** Round-11 continuation: the FULL image similarity compound —
  * rotated/mirrored AND cropped at any offset AND uniformly rescaled
  * (m145/m146/st107). The dihedral ANGLE fan over constellation codes:
  * distances are dihedral-invariant, so the 8 readouts cost no extra
  * decode or peak detection — only the direction angles and the
  * chirality bit transform per readout. */
class Round11jSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The m145 fixture: blob masters + compound probes covering a
    * quarter turn, the half turn, a mirrored turn, and a pure mirror,
    * each at a different crop rect and scale factor — plus decoys. */
  private def corpus = {
    val s = spark
    import s.implicits._
    val img = Catalogue.scaleDihedral.payload(20, 4) _
    ((0L until 8L) ++ (20L until 24L) ++ Seq(140L, 141L)).map(id => (id, img(id)))
      .toDF("doc_id", "payload")
  }

  test("orient-0 oriented codes are bit-identical to the natural codes") {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Media.syntheticPngBlobs(0)))
    val cells = Multimodal.coarsePeakCells(Multimodal.lumaPlane(img),
      img.getWidth, img.getHeight, 4, 6)
    val natural = Multimodal.constellationCodes(
      cells, 16, 8, 0.15, 24).toSet
    val oriented = Multimodal.constellationCodesOriented(
      cells, 16, 8, 0.15, 24).toSeq
    assert(oriented.filter(_._1 == 0).map(_._2).toSet == natural,
      "orient-0 readout must equal the natural constellation codes")
    // and the 8 readouts are genuinely distinct views (reflections
    // flip chirality, rotations shift angle bins)
    assert((0 until 8).forall(o =>
      oriented.count(_._1 == o) == natural.size))
  }

  test("plain constellation tier and exact dihedral peak tier are both blind to the full compound") {
    implicit val s: SparkSession = spark
    val plain = Multimodal.pairs(ImageScale())(corpus, minMatch = 0.4,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(plain.isEmpty,
      s"plain (rotation-variant) scale tier must miss dihedral " +
        s"compounds: ${plain.toSeq}")
    val exact = Multimodal.pairs(ImagePeakDihedral())(corpus, minMatch = 0.05,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.isEmpty,
      s"exact-pixel dihedral peak tier must miss resampled " +
        s"compounds: ${exact.toSeq}")
  }

  test("dihedral constellation tier lands every compound probe; decoys stay below threshold") {
    implicit val s: SparkSession = spark
    val pairs = Multimodal.pairs(ImageScaleDihedral())(corpus, minMatch = 0.4,
      maxDf = 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      Set((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L)),
      s"unexpected compound pairs: ${pairs.toSeq}")
    assert(pairs.forall(_._4 >= 0.48),
      s"true pairs must score >= 0.48: ${pairs.toSeq}")
    assert(pairs.forall(_._3 != 0),
      s"a dihedral-transformed probe must land at a NON-identity " +
        s"readout: ${pairs.toSeq}")
    val loose = Multimodal.pairs(ImageScaleDihedral())(corpus, minMatch = 0.1,
      maxDf = 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .filterNot(p => Set((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L))
        .contains((p._1, p._2)))
    assert(loose.forall(_._4 <= 0.25),
      s"noise pairs must stay <= 0.25: ${loose.toSeq}")
  }

  test("dihedral index screen catches compounds the plain screen keeps; stamp enforced") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val masters = (0L until 8L).map(id =>
      (id, Media.syntheticPngBlobs(id))).toDF("doc_id", "payload")
    val index = Multimodal.index(ImageScale())(masters)
    val img = Catalogue.scaleDihedralIndex.payload(20, 3) _
    val probes = Seq(20L, 21L, 130L).map(id => (id, img(id)))
      .toDF("doc_id", "payload")
    // the plain screen (orient-0 probes only) keeps the rotated ones
    val plain = Multimodal.screen(ImageScale())(probes, index, minMatch = 0.4)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(plain == Set((20L, true), (21L, true), (130L, true)),
      s"plain screen must be blind to dihedral compounds: $plain")
    // the dihedral fan catches them against the SAME index
    val fan = Multimodal.screen(ImageScaleDihedral())(probes, index,
      minMatch = 0.4)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(fan == Set((20L, false), (21L, false), (130L, true)),
      s"unexpected dihedral screen verdicts: $fan")
    val foreign = index.withColumn("fp_ver",
      lit(Multimodal.PeakFpVersion))
    val e = intercept[IllegalArgumentException] {
      Multimodal.screen(ImageScaleDihedral())(probes, foreign)
        .collect()
    }
    assert(e.getMessage.contains("rebuild"))
  }
}
