package graft.operators

import graft.fixtures.Media
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{VideoRotScale, VideoScale}

/** Round-11 continuation: any-angle-rotated VIDEO dedup (m154/st112) —
  * pooled per-frame rotation-invariant constellation codes. The
  * sideways-phone / tilted re-render class, optionally rescaled and
  * trimmed, where the plain video constellation tier is
  * rotation-variant and every exact-pixel video tier died at the
  * resample. */
class Round11nSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def corpus = {
    val s = spark
    import s.implicits._
    ((0L until 6L).map(id => (id, Media.syntheticAviBlobs(id, 6))) ++
      Seq(
        20L -> Media.aviRotateResizeDib(
          Media.syntheticAviBlobs(0, 6), 17.0),
        21L -> Media.aviRotateResizeDib(
          Media.syntheticAviBlobs(1, 6), -8.0, 1.2),
        22L -> Media.aviRotateResizeDib(
          Media.syntheticAviBlobs(2, 6), 90.0),
        23L -> Media.aviRotateResizeDib(
          Media.syntheticAviBlobs(3, 6), 33.0, 1.0, fromFrame = 2)
      ) ++
      Seq(140L, 141L).map(id =>
        (id, Media.syntheticAviBlobs(id, 6))))
      .toDF("doc_id", "payload")
  }

  test("the plain video constellation tier is blind to rotated re-renders") {
    implicit val s: SparkSession = spark
    val plain = Multimodal.pairs(VideoScale())(corpus, minMatch = 0.3,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(plain.isEmpty,
      s"rotation-variant video tier must miss rotated re-renders: " +
        s"${plain.toSeq}")
  }

  test("video rot tier lands every rotation incl. 90 degrees and the trim compound") {
    implicit val s: SparkSession = spark
    val pairs = Multimodal.pairs(VideoRotScale())(corpus, minMatch = 0.2,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      Set((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L)),
      s"unexpected video rotation pairs: ${pairs.toSeq}")
    val loose = Multimodal.pairs(VideoRotScale())(corpus, minMatch = 0.05,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filterNot(p => Set((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L))
        .contains((p._1, p._2)))
    val worstTrue = pairs.map(_._3).min
    assert(loose.forall(_._3 < worstTrue),
      s"noise must stay below the worst true pair ($worstTrue): " +
        s"${loose.sortBy(-_._3).take(3).toSeq}")
  }
}
