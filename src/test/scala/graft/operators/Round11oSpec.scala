package graft.operators

import graft.fixtures.Media
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{VideoRotScale, VideoScale, VideoScaleAspect}

/** Round-11 continuation: ANAMORPHIC video dedup (m156/m157/st113) —
  * the aspect-hypothesis fan pooled per sampled frame. A 4:3 master
  * re-ripped at 16:9 stretches every frame's x by 4/3, blinding the
  * plain and rotation-invariant video constellation tiers alike. */
class Round11oSpec extends AnyFunSuite with BeforeAndAfterAll {

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
        20L -> Media.aviAspectDib(
          Media.syntheticAviBlobs(0, 6), 0.75),
        21L -> Media.aviAspectDib(
          Media.syntheticAviBlobs(1, 6), 4.0 / 3.0),
        22L -> Media.aviAspectDib(
          Media.syntheticAviBlobs(2, 6), 0.75, fromFrame = 2),
        23L -> Media.aviAspectDib(
          Media.syntheticAviBlobs(3, 6), 4.0 / 3.0)
      ) ++
      Seq(140L, 141L).map(id =>
        (id, Media.syntheticAviBlobs(id, 6))))
      .toDF("doc_id", "payload")
  }

  test("plain and rot video constellation tiers are both blind to anamorphic re-rips") {
    implicit val s: SparkSession = spark
    val plain = Multimodal.pairs(VideoScale())(corpus, minMatch = 0.3,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(plain.isEmpty,
      s"similarity-invariant video tier must miss squeezes: " +
        s"${plain.toSeq}")
    val rot = Multimodal.pairs(VideoRotScale())(corpus, minMatch = 0.2,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rot.isEmpty,
      s"rotation-invariant video tier must miss squeezes: " +
        s"${rot.toSeq}")
  }

  test("video aspect fan lands both directions incl. the trim compound; screen works on the plain index") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val pairs = Multimodal.pairs(VideoScaleAspect())(corpus, minMatch = 0.3,
      maxDf = 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      Set((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L)),
      s"unexpected anamorphic pairs: ${pairs.toSeq}")
    assert(pairs.forall(p =>
      if (p._1 == 0L || p._1 == 2L) p._3 == 2 else p._3 == 1),
      s"wrong undoing hypothesis: ${pairs.toSeq}")
    val masters = (0L until 6L).map(id =>
      (id, Media.syntheticAviBlobs(id, 6))).toDF("doc_id", "payload")
    val index = Multimodal.index(VideoScale())(masters)
    val probes = Seq(
      20L -> Media.aviAspectDib(
        Media.syntheticAviBlobs(0, 6), 0.75),
      130L -> Media.syntheticAviBlobs(130L, 6))
      .toDF("doc_id", "payload")
    val plainScreen = Multimodal.screen(VideoScale())(probes, index,
      minMatch = 0.3)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(plainScreen == Set((20L, true), (130L, true)),
      s"plain video screen must be blind to squeezes: $plainScreen")
    val fan = Multimodal.screen(VideoScaleAspect())(probes, index,
      minMatch = 0.3)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(fan == Set((20L, false), (130L, true)),
      s"unexpected video aspect screen verdicts: $fan")
  }
}
