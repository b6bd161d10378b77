package graft.operators

import graft.fixtures.Media
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{AudioChroma, PHashCrop, VideoCrop}

/** Round-11 continuation: the hash-keyed-index UPDATE leg —
  * `SinkTable.compactByDoc` applies the `IncrementalIndex.append`
  * delete-by-doc rule at compaction time, retiring ALL of a
  * re-indexed doc's old rows even though key-wise LWW (which matches
  * on the full order key, content hash included) never could. The
  * t84/t85 gates replay the full screen semantics; this spec pins the
  * sink mechanics. */
class Round11gSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpSink(name: String): graft.pipeline.SinkTable = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$name")
    dir.toFile.deleteOnExit()
    graft.pipeline.SinkTable(dir.resolve("idx").toString,
      orderKeys = Seq("doc_id", "fp"))
  }

  test("compactByDoc retires a re-indexed doc's old hash rows; key-wise compact does not") {
    val s = spark
    import s.implicits._
    val sink = tmpSink("cbd")
    // doc 1 -> {A, B}, doc 2 -> {C}; then doc 1 re-indexed -> {D, E}
    sink.append(Seq((1L, "A"), (1L, "B"), (2L, "C")).toDF("doc_id", "fp"), 0L)
    sink.append(Seq((1L, "D"), (1L, "E")).toDF("doc_id", "fp"), 1L)
    // key-wise LWW view: old keys share no new row, so they survive
    sink.compact(s)
    val lww = sink.read(s).as[(Long, String)].collect().toSet
    assert(lww == Set((1L, "A"), (1L, "B"), (1L, "D"), (1L, "E"), (2L, "C")),
      s"key-wise compact should keep stale rows, got $lww")
    sink.compactByDoc(s, "doc_id")
    val got = sink.read(s).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "D"), (1L, "E"), (2L, "C")),
      s"delete-by-doc should retire doc 1's old rows, got $got")
  }

  test("compactByDoc keeps _ingest_seq: later appends still win LWW") {
    val s = spark
    import s.implicits._
    val sink = tmpSink("cbd-seq")
    sink.append(Seq((1L, "A", 10L), (2L, "C", 20L))
      .toDF("doc_id", "fp", "v"), 0L)
    sink.append(Seq((1L, "D", 11L)).toDF("doc_id", "fp", "v"), 1L)
    sink.compactByDoc(s, "doc_id")
    // duplicate ORDER KEY from a later run must still supersede
    sink.append(Seq((2L, "C", 21L)).toDF("doc_id", "fp", "v"), 2L)
    val got = sink.read(s).as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "D", 11L), (2L, "C", 21L)),
      s"post-compaction LWW broken: $got")
  }

  test("extended crop index: base-window rows identical, thirds rows additive; append == rebuild") {
    val s = spark
    import s.implicits._
    val media = (0L until 4L).map(id =>
      (id, Media.syntheticPng(id, 48, 48))).toDF("doc_id", "payload")
    val base = Multimodal.pHashCropWindowIndex(media).collect().toSet
    val ext = Multimodal.pHashCropWindowIndex(media,
      f = PHashCrop(extended = true))
      .collect().toSet
    assert(ext.filter(_.getAs[Int]("win") < 7) == base,
      "extended index must carry the base windows bit-identically")
    assert(ext.exists(_.getAs[Int]("win") >= 7),
      "extended index must add thirds-window rows")
    val late = Seq((4L, Media.syntheticPng(4L, 48, 48)))
      .toDF("doc_id", "payload")
    val appended = Multimodal.pHashCropWindowIndex(media,
      f = PHashCrop(extended = true))
      .unionByName(Multimodal.pHashCropWindowIndex(late,
        f = PHashCrop(extended = true)))
    val rebuilt = Multimodal.pHashCropWindowIndex(media.unionByName(late),
      f = PHashCrop(extended = true))
    assert(appended.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(appended).isEmpty,
      "append != rebuild for the extended crop index")
  }

  test("extended video-crop landmarks: base channels identical; base pairs blind to thirds crops") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val media = (0L until 3L).map(id =>
        (id, Media.syntheticAvi(id, 24, w = 48, h = 48)))
      .toDF("doc_id", "payload")
    val base = Multimodal.videoLandmarksCrop(media, every = 1,
      extended = false)
      .collect().toSet
    val ext = Multimodal.videoLandmarksCrop(media, every = 1,
      extended = true).collect().toSet
    assert(ext.filter(_.win < 7) == base,
      "extended landmarks must carry the base channels bit-identically")
    assert(ext.exists(_.win >= 7),
      "extended landmarks must add thirds channels")
    val corpus = media.unionByName(
      Seq((20L, Media.syntheticAvi(0, 20, w = 32, h = 32,
        frameOffset = 2, srcX0 = 8, srcY0 = 0)))
        .toDF("doc_id", "payload"))
    val basePairs = Multimodal.videoLandmarkPairsCrop(corpus, maxDf = 64,
      f = VideoCrop(every = 1)).collect()
    assert(basePairs.isEmpty,
      s"base window set must be blind to a thirds crop: ${basePairs.toSeq}")
    val extPairs = Multimodal.videoLandmarkPairsCrop(corpus, maxDf = 64,
      f = VideoCrop(every = 1, extended = true))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getInt(3)))
    assert(extPairs.exists { case (a, b, wa, wb) =>
      a == 0L && b == 20L && (wa >= 7 || wb >= 7) },
      s"thirds crop must land on its anchor channel: ${extPairs.toSeq}")
  }

  test("div=24 chroma index: append == rebuild; div=12 bit-identical to default") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val masters = (0L until 4L).map(id =>
        (id, Media.syntheticWavBeats(id, 8000, ms = 1248,
          uniformSegMs = 96)))
      .toDF("doc_id", "payload")
    val late = Seq((4L, Media.syntheticWavBeats(4L, 8000, ms = 1248,
        uniformSegMs = 96)))
      .toDF("doc_id", "payload")
    val dflt = Multimodal.index(AudioChroma())(masters).collect().toSet
    val d12 = Multimodal.index(AudioChroma(div = 12))(masters)
      .collect().toSet
    assert(d12 == dflt, "div=12 must be bit-identical to the default bank")
    val appended = Multimodal.index(AudioChroma(div = 24))(masters)
      .unionByName(Multimodal.index(AudioChroma(div = 24))(late))
    val rebuilt = Multimodal.index(AudioChroma(div = 24))(masters.unionByName(late))
    assert(appended.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(appended).isEmpty,
      "append != rebuild for the div=24 chroma index")
  }

  test("compactByDoc on an append-only sink is a pure rewrite") {
    val s = spark
    import s.implicits._
    val sink = tmpSink("cbd-app")
    sink.append(Seq((1L, "A"), (2L, "B")).toDF("doc_id", "fp"), 0L)
    sink.append(Seq((3L, "C")).toDF("doc_id", "fp"), 1L)
    val before = sink.read(s).as[(Long, String)].collect().toSet
    sink.compactByDoc(s, "doc_id")
    val after = sink.read(s).as[(Long, String)].collect().toSet
    assert(before == after, s"append-only corpora must be unchanged: $after")
  }
}
