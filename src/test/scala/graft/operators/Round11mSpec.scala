package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{ImageRotScale, ImageScale, ImageScaleAspect}

/** Round-11 continuation: ANISOTROPIC resize (aspect-squeeze) dedup
  * (m152/m153/st111) — the 4:3 <-> 16:9 display-conversion class. A
  * squeeze breaks BOTH distances and angles, so no similarity-
  * invariant code rides through; the probe-side HYPOTHESIS fan
  * re-renders the peak geometry under each candidate inverse factor
  * and the one undoing the squeeze reproduces the master's codes. */
class Round11mSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Squeeze = full-frame anisotropic resize via the bilinear kernel:
    * x scaled by `fx`, y kept. */
  private def squeeze(id: Long, fx: Double): Array[Byte] =
    Multimodal.pngCropResize(Multimodal.syntheticPngBlobs(id),
      0, 0, 128, 128, math.round(128 * fx).toInt, 128)

  private def corpus = {
    val s = spark
    import s.implicits._
    ((0L until 8L).map(id => (id, Multimodal.syntheticPngBlobs(id))) ++
      Seq(
        20L -> squeeze(0, 0.75),
        21L -> squeeze(1, 4.0 / 3.0),
        22L -> squeeze(2, 0.75),
        23L -> squeeze(3, 4.0 / 3.0)
      ) ++
      Seq(140L, 141L).map(id => (id, Multimodal.syntheticPngBlobs(id))))
      .toDF("doc_id", "payload")
  }

  test("plain scale tier and rot tier are both blind to aspect squeezes") {
    implicit val s: SparkSession = spark
    val plain = Multimodal.pairs(ImageScale())(corpus, minMatch = 0.3,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(plain.isEmpty,
      s"similarity-invariant tier must miss anisotropic squeezes: " +
        s"${plain.toSeq}")
    val rot = Multimodal.pairs(ImageRotScale())(corpus, minMatch = 0.2,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rot.isEmpty,
      s"rotation-invariant tier must miss anisotropic squeezes: " +
        s"${rot.toSeq}")
  }

  test("aspect fan lands both squeeze directions at the undoing hypothesis") {
    implicit val s: SparkSession = spark
    val pairs = Multimodal.pairs(ImageScaleAspect())(corpus, minMatch = 0.3,
      maxDf = 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      Set((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L)),
      s"unexpected aspect pairs: ${pairs.toSeq}")
    // squeeze 0.75 is undone by hypothesis index 2 (4/3); stretch 4/3
    // by index 1 (0.75)
    assert(pairs.forall(p =>
      if (p._1 == 0L || p._1 == 2L) p._3 == 2 else p._3 == 1),
      s"wrong undoing hypothesis: ${pairs.toSeq}")
    val loose = Multimodal.pairs(ImageScaleAspect())(corpus, minMatch = 0.1,
      maxDf = 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .filterNot(p => Set((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L))
        .contains((p._1, p._2)))
    val worstTrue = pairs.map(_._4).min
    assert(loose.forall(_._4 < worstTrue),
      s"noise must stay below the worst true pair ($worstTrue): " +
        s"${loose.sortBy(-_._4).take(3).toSeq}")
  }

  test("aspect fan screens against the PLAIN index; identity row must be first") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val masters = (0L until 8L).map(id =>
      (id, Multimodal.syntheticPngBlobs(id))).toDF("doc_id", "payload")
    val index = Multimodal.index(ImageScale())(masters)
    val probes = Seq(
      20L -> squeeze(0, 0.75),
      21L -> squeeze(1, 4.0 / 3.0),
      130L -> Multimodal.syntheticPngBlobs(130L))
      .toDF("doc_id", "payload")
    val plain = Multimodal.screen(ImageScale())(probes, index, minMatch = 0.3)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(plain == Set((20L, true), (21L, true), (130L, true)),
      s"plain screen must be blind to squeezes: $plain")
    val fan = Multimodal.screen(ImageScaleAspect())(probes, index,
      minMatch = 0.3)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(fan == Set((20L, false), (21L, false), (130L, true)),
      s"unexpected aspect screen verdicts: $fan")
    val e = intercept[IllegalArgumentException] {
      ImageScaleAspect(hyps = Seq(0.75, 1.0)).landmarks(probes).collect()
    }
    assert(e.getMessage.contains("identity"))
  }
}
