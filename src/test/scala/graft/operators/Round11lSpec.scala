package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{ImageRotScale, ImageScaleDihedral}

/** Round-11 continuation: ARBITRARY-ANGLE rotation dedup
  * (m150/m151/st110) — rotation-invariant constellation codes (angle
  * DIFFERENCES relative to the A->B direction, three distance
  * ratios). The skewed-scan / tilted-phone-photo class: a 3-degree
  * skew and a 33-degree tilt land identically, where the dihedral fan
  * (90-degree grid) is structurally blind. */
class Round11lSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Blob masters + rotated (+rescaled) probes + decoys. */
  private def corpus = {
    val s = spark
    import s.implicits._
    ((0L until 8L).map(id => (id, Multimodal.syntheticPngBlobs(id))) ++
      Seq(
        20L -> Multimodal.pngRotateResize(
          Multimodal.syntheticPngBlobs(0), 17.0),
        21L -> Multimodal.pngRotateResize(
          Multimodal.syntheticPngBlobs(1), -8.0, 1.2),
        22L -> Multimodal.pngRotateResize(
          Multimodal.syntheticPngBlobs(2), 33.0, 0.9),
        23L -> Multimodal.pngRotateResize(
          Multimodal.syntheticPngBlobs(3), 3.0)
      ) ++
      Seq(140L, 141L).map(id => (id, Multimodal.syntheticPngBlobs(id))))
      .toDF("doc_id", "payload")
  }

  test("the dihedral scale fan is blind to non-90-degree rotations") {
    implicit val s: SparkSession = spark
    val fan = Multimodal.pairs(ImageScaleDihedral())(corpus, minMatch = 0.3,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fan.isEmpty,
      s"90-degree-grid fan must miss arbitrary-angle rotations: " +
        s"${fan.toSeq}")
  }

  test("rotation-invariant tier lands every rotation incl. the 3-degree scan skew") {
    implicit val s: SparkSession = spark
    val pairs = Multimodal.pairs(ImageRotScale())(corpus, minMatch = 0.2,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      Set((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L)),
      s"unexpected rotation pairs: ${pairs.toSeq}")
    val loose = Multimodal.pairs(ImageRotScale())(corpus, minMatch = 0.05,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filterNot(p => Set((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L))
        .contains((p._1, p._2)))
    val worstTrue = pairs.map(_._3).min
    assert(loose.forall(_._3 < worstTrue),
      s"noise must stay below the worst true pair ($worstTrue): " +
        s"${loose.sortBy(-_._3).take(3).toSeq}")
  }

  test("a mirrored probe does NOT land here (chirality scope line) but does via the dihedral fan") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val media = Seq(
      (0L, Multimodal.syntheticPngBlobs(0)),
      (20L, Multimodal.pngDihedral(Multimodal.pngCropResize(
        Multimodal.syntheticPngBlobs(0), 8, 8, 120, 120, 112, 112), 4)))
      .toDF("doc_id", "payload")
    val rot = Multimodal.pairs(ImageRotScale())(media, minMatch = 0.2,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rot.isEmpty,
      s"mirror flips both chirality bits — the rot tier must not " +
        s"claim it: ${rot.toSeq}")
    val fan = Multimodal.pairs(ImageScaleDihedral())(media, minMatch = 0.3,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fan.toSet == Set((0L, 20L)),
      s"the dihedral fan owns mirrored re-uploads: ${fan.toSeq}")
  }

  test("rot index: append == rebuild; screen catches rotations; cross-family stamp rejected") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val masters = (0L until 8L).map(id =>
      (id, Multimodal.syntheticPngBlobs(id))).toDF("doc_id", "payload")
    val late = Seq((8L, Multimodal.syntheticPngBlobs(8L)))
      .toDF("doc_id", "payload")
    val appended = Multimodal.index(ImageRotScale())(masters)
      .unionByName(Multimodal.index(ImageRotScale())(late))
    val rebuilt = Multimodal.index(ImageRotScale())(masters.unionByName(late))
    assert(appended.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(appended).isEmpty,
      "append != rebuild for the rot-constellation index")
    val probes = Seq(
      20L -> Multimodal.pngRotateResize(
        Multimodal.syntheticPngBlobs(0), 17.0),
      21L -> Multimodal.pngRotateResize(
        Multimodal.syntheticPngBlobs(1), -8.0, 1.2),
      130L -> Multimodal.syntheticPngBlobs(130L))
      .toDF("doc_id", "payload")
    val out = Multimodal.screen(ImageRotScale())(probes,
      Multimodal.index(ImageRotScale())(masters), minMatch = 0.2)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(out == Set((20L, false), (21L, false), (130L, true)),
      s"unexpected rot screen verdicts: $out")
    // the plain-scale family's stamp (11002) must be rejected here:
    // incomparable code families never match silently
    val foreign = Multimodal.index(ImageRotScale())(masters)
      .withColumn("fp_ver", lit(Multimodal.ScaleFpVersion))
    val e = intercept[IllegalArgumentException] {
      Multimodal.screen(ImageRotScale())(probes, foreign)
        .collect()
    }
    assert(e.getMessage.contains("rebuild"))
  }
}
