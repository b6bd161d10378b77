package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{VideoShift, VideoSkip}

/** Round-11 continuation: the FRAME-RATE-CONVERSION video tier —
  * skip-tolerant run-collapsed landmark pairs. */
class Round11dSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The m122 fixture: 8 masters at the base rate; ids 20-23 are
    * 30->24-style DOWN-conversions (rate 5/4 — every 5th base frame
    * dropped) of masters 0-3, ids 24-27 are 24->30-style
    * UP-conversions (rate 4/5 — every 4th base frame duplicated) of
    * masters 4-7; all re-uploads also leading-trimmed 4 frames. */
  private def corpus: DataFrame = {
    val s = spark
    import s.implicits._
    val rows =
      (0L until 8L).map(id => (id, Multimodal.syntheticAvi(id, 40))) ++
      (20L until 24L).map(id => (id, Multimodal.syntheticAvi(id - 20, 28,
        frameOffset = 4, rateNum = 5, rateDen = 4))) ++
      (24L until 28L).map(id => (id, Multimodal.syntheticAvi(id - 20, 40,
        frameOffset = 4, rateNum = 4, rateDen = 5))) ++
      Seq(140L, 141L).map(id => (id, Multimodal.syntheticAvi(id, 40)))
    rows.toDF("doc_id", "payload")
  }

  test("consecutive-pair tier at its default stride misses both rate conversions") {
    implicit val s: SparkSession = spark
    val cross = Multimodal.pairs(VideoShift())(corpus, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 8 && b >= 20 }
    info(s"cross pairs at every=2: ${cross.toSeq}")
    assert(cross.isEmpty,
      s"consecutive tier matched rate-converted pairs: ${cross.toSeq}")
  }

  test("skip tier lands all 8 rate-converted re-uploads, decoys unmatched") {
    implicit val s: SparkSession = spark
    val pairs = Multimodal.pairs(VideoSkip())(corpus, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cross = pairs.filter { case (a, b, _) => a < 8 && b >= 20 }
    info(cross.sortBy(_._2).map { case (a, b, f) => s"($a,$b,$f)" }
      .mkString(", "))
    assert(cross.map { case (a, b, _) => (a, b) }.toSet ==
      ((0L until 4L).map(i => (i, i + 20L)) ++
        (4L until 8L).map(i => (i, i + 20L))).toSet,
      s"expected the 8 master-reupload pairs, got ${pairs.toSeq}")
    assert(!pairs.exists { case (a, b, _) => a >= 140 || b >= 140 },
      s"decoys matched: ${pairs.toSeq}")
    val up = cross.filter(_._2 >= 24).map(_._3)
    assert(up.forall(_ == 1.0),
      s"up-conversion (duplication) should collapse exactly: ${up.toSeq}")
  }

  test("skip index: screen catches both conversions; append == rebuild; version enforced") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val masters = (0L until 6L).map(id =>
      (id, Multimodal.syntheticAvi(id, 40))).toDF("doc_id", "payload")
    val late = (6L until 8L).map(id =>
      (id, Multimodal.syntheticAvi(id, 40))).toDF("doc_id", "payload")
    val probes = ((20L until 23L).map(id =>
      (id, Multimodal.syntheticAvi(id - 20, 28, frameOffset = 4,
        rateNum = 5, rateDen = 4))) ++
      (23L until 26L).map(id =>
        (id, Multimodal.syntheticAvi(id - 20, 40, frameOffset = 4,
          rateNum = 4, rateDen = 5))) ++
      Seq(128L, 129L).map(id => (id, Multimodal.syntheticAvi(id, 40))))
      .toDF("doc_id", "payload")

    val idx = Multimodal.index(VideoSkip())(masters)
    val verdicts = Multimodal.screen(VideoSkip())(probes, idx)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert((20L until 26L).forall(id => verdicts(id) == false),
      s"rate-converted probes not all caught: $verdicts")
    assert(verdicts(128L) && verdicts(129L), s"decoys not kept: $verdicts")

    val appended = idx.unionByName(Multimodal.index(VideoSkip())(late))
    val rebuilt = Multimodal.index(VideoSkip())(masters.unionByName(late))
    assert(appended.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(appended).isEmpty,
      "append != rebuild for the video skip index")

    val foreign = idx.withColumn("fp_ver",
      lit(Multimodal.IntervalFpVersion))
    val e = intercept[IllegalArgumentException] {
      Multimodal.screen(VideoSkip())(probes, foreign).collect()
    }
    assert(e.getMessage.contains("rebuild"))
  }
}
