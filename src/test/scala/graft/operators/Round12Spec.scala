package graft.operators

import graft.fixtures.Media
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{AudioChroma, ImageAffine, ImageRotScale,
  ImageScale, ImageScaleAspect, ImageScaleCanonical, ImageScaleNormalized,
  PeakLossy, VideoAffine, VideoRotScale, VideoScaleAspect, VideoScaleCanonical}

/** Round-12: the PHASE-INSENSITIVE chroma tier (candidate+verify) —
  * TRUE (envelope-preserving) pitch shifts on METRONOMIC audio, the
  * one measured recall gap round 11 pinned (m158 analysis: 2/10
  * survival for single-window chroma codes under inter-tone phase
  * scrambling). */
class Round12Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Metronomic masters (8 kHz, uniform 96 ms segments) plus probe
    * classes: ids 20-29 TRUE-pitch-shift one semitone of id-20
    * (pitchNum/pitchDen — tone frequencies scale, envelope times do
    * not), ids 40-49 the stretch+pitch COMPOUND (5% speed AND a
    * further true semitone) of id-40, ids 128+ fresh decoys. All
    * probes trimmed 50 ms and muxed at 44.1 kHz. */
  private def media(masters: Seq[Long], pitched: Seq[Long],
      compound: Seq[Long], decoys: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    val rows =
      masters.map(id => (id, Media.syntheticWavBeats(id, 8000,
        ms = 1248, uniformSegMs = 96))) ++
      pitched.map(id => (id, Media.syntheticWavBeats(id - 20, 44100,
        ms = 1000, offsetMs = 50, pitchNum = 196, pitchDen = 185,
        uniformSegMs = 96))) ++
      compound.map(id => (id, Media.syntheticWavBeats(id - 40, 44100,
        ms = 1000, offsetMs = 50, speedNum = 21, speedDen = 20,
        pitchNum = 196, pitchDen = 185, uniformSegMs = 96))) ++
      decoys.map(id => (id, Media.syntheticWavBeats(id, 44100,
        ms = 1000, uniformSegMs = 96)))
    rows.toDF("doc_id", "payload")
  }

  test("single-window chroma tier MISSES most true-pitch metronomic re-uploads (the m158 gap, pinned as contrast)") {
    implicit val s: SparkSession = spark
    val m = media(0L until 10L, 20L until 30L, Nil, Nil)
    val pairs = Multimodal.pairs(AudioChroma())(m, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val caught = (0L until 10L).count(id => pairs((id, id + 20)))
    info(s"single-window tier catches $caught/10 true-pitch pairs")
    assert(caught <= 4,
      s"single-window codes should remain broken on TRUE pitch (got $caught/10) — " +
        "if this now passes, the m158 contrast gate needs re-pinning")
  }

  test("verified chroma tier catches ALL true-pitch AND compound re-uploads, no false pairs (m159)") {
    implicit val s: SparkSession = spark
    val m = media(0L until 10L, 20L until 30L, 40L until 50L,
      Seq(128L, 129L, 130L, 131L))
    val got = Multimodal.audioChromaVerifiedPairs(m)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val pitchCaught = (0L until 10L).count(id => got.contains((id, id + 20)))
    val compCaught = (0L until 10L).count(id => got.contains((id, id + 40)))
    info(s"pitch caught: $pitchCaught/10, compound caught: $compCaught/10")
    info(s"all pairs: ${got.toSeq.sortBy(_._1).mkString(" ")}")
    assert(pitchCaught == 10, s"pitch pairs missed: $got")
    assert(compCaught == 10, s"compound pairs missed: $got")
    val expected = (0L until 10L).flatMap(id =>
      Seq((id, id + 20), (id, id + 40), (id + 20, id + 40))).toSet
    val falsePairs = got.keySet -- expected
    assert(falsePairs.isEmpty, s"false pairs: $falsePairs")
  }

  test("verified chroma tier still covers the SPEED-rendition class (m124 fixture shape)") {
    implicit val s: SparkSession = spark
    val sp = spark
    import sp.implicits._
    val rows =
      (0L until 6L).map(id => (id, Media.syntheticWavBeats(id, 8000,
        ms = 1248, uniformSegMs = 96))) ++
      (20L until 26L).map(id => (id, Media.syntheticWavBeats(id - 20,
        44100, ms = 1000, offsetMs = 50, speedNum = 196, speedDen = 185,
        uniformSegMs = 96)))
    val got = Multimodal.audioChromaVerifiedPairs(rows.toDF("doc_id", "payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val caught = (0L until 6L).count(id => got((id, id + 20)))
    info(s"speed-rendition caught: $caught/6")
    assert(caught == 6, s"speed pairs missed: $got")
  }

  test("moment-normalized tier lands OFF-FAN squeezes the default aspect fan provably misses (m160)") {
    implicit val s: SparkSession = spark
    val sp = spark
    import sp.implicits._
    // 1.196:1 squeeze (outW 107) and 1.164:1 widen (outW 149) — both
    // > 10% from every default hypothesis {1.0, 0.75, 4/3}
    val rows =
      (0L until 8L).map(id => (id, Media.syntheticPngBlobs(id))) ++
      Seq(20L -> 107, 21L -> 107, 22L -> 149, 23L -> 149).map {
        case (id, w) => (id, Media.pngCropResize(
          Media.syntheticPngBlobs(id - 20), 0, 0, 128, 128, w, 128))
      } ++
      (140L until 142L).map(id => (id, Media.syntheticPngBlobs(id)))
    val m = rows.toDF("doc_id", "payload")
    val fan = Multimodal.pairs(ImageScaleAspect())(m, minMatch = 0.3,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fanCaught = (0L until 4L).count(id => fan((id, id + 20)))
    info(s"default fan catches $fanCaught/4 off-fan squeezes (the contrast gate)")
    assert(fanCaught == 0,
      s"default fan should miss off-fan factors; if it now catches, " +
        s"the m160 contrast factors need re-picking: $fan")
    val norm = Multimodal.pairs(ImageScaleNormalized())(m, minMatch = 0.3,
      maxDf = 64)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val caught = (0L until 4L).count(id => norm.contains((id, id + 20)))
    info(s"normalized tier: $caught/4, pairs: ${norm.toSeq.sortBy(_._1)}")
    assert(caught == 4, s"normalized tier missed off-fan squeezes: $norm")
    val falsePairs = norm.keySet.filterNot { case (a, b) => b - a == 20 && a < 4 }
    assert(falsePairs.isEmpty, s"false pairs: $falsePairs")
  }

  test("structureless-texture scope line is measured, not asserted (m161)") {
    def tex(id: Long) = Media.syntheticPngTexture(id, 64, 64)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    for (id <- 0L until 4L) {
      val m = Multimodal.pHash64(tex(id)).get
      // unresized re-encode: pHash owns it
      assert(ham(m, Multimodal.pHash64(
        Media.jpegReencode(tex(id), 0.95f)).get) <= 3)
      // integer-ratio upsample (64->96 = exact 3x box at the 32 grid):
      // pHash ALSO owns it — the positive half of the scope line
      assert(ham(m, Multimodal.pHash64(Media.pngCropResize(
        tex(id), 0, 0, 64, 64, 96, 96)).get) <= 3)
      // non-integer resample (64->80): aliased wholesale — the gap
      assert(ham(m, Multimodal.pHash64(Media.pngCropResize(
        tex(id), 0, 0, 64, 64, 80, 80)).get) > 3,
        s"id=$id: 64->80 resample unexpectedly inside maxDist — " +
          "the m161 scope line would be stale")
    }
  }

  /** Joint-fusion fixture corpus at the ROT seam: masters 0-3 are blob
    * videos each carrying its own PCM track; 20 is master 0 rotated
    * 17 deg with the SAME track (reupload), 21 is fresh frames over
    * master 1's track (same_audio), 22 is master 2 rotated -8 deg +
    * 1.2x under a REPLACED track (same_video), 23 is unrelated. */
  private def jointRotMedia: DataFrame = {
    val sp = spark
    import sp.implicits._
    def mk(id: Long): Array[Byte] = id match {
      case 20L => Media.aviRotateResizeDib(
        Media.syntheticAviBlobs(0, 6), 17.0,
        audioId = 0L, audioSamples = 320)
      case 21L => Media.syntheticAviBlobs(21, 6,
        audioId = 1L, audioSamples = 384)
      case 22L => Media.aviRotateResizeDib(
        Media.syntheticAviBlobs(2, 6), -8.0, 1.2,
        audioId = 99L, audioSamples = 320)
      case 23L => Media.syntheticAviBlobs(23, 6,
        audioId = 98L, audioSamples = 320)
      case i => Media.syntheticAviBlobs(i, 6,
        audioId = i, audioSamples = (320 + (i % 4) * 64).toInt)
    }
    ((0L until 4L) ++ (20L until 24L)).map(id => (id, mk(id)))
      .toDF("doc_id", "payload")
  }

  test("joint fusion at the rot-constellation seam classifies tilted re-uploads (m162)") {
    implicit val s: SparkSession = spark
    val out = Multimodal.videoJointRotNearDup(jointRotMedia, maxDf = 64)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getString(4)))
      .toMap
    info(s"verdicts: ${out.toSeq.sortBy(_._1).mkString(" ")}")
    assert(out.get((0L, 20L)).contains("reupload"), s"got $out")
    assert(out.get((1L, 21L)).contains("same_audio"), s"got $out")
    assert(out.get((2L, 22L)).contains("same_video"), s"got $out")
    assert(!out.keySet.exists(p => p._1 == 23L || p._2 == 23L),
      s"unrelated doc paired: $out")
    assert(out.size == 3, s"unexpected extra pairs: $out")
    // the ALIGNED fusion tier (m95) provably misses both rotated
    // frame legs — (0,20) degrades to same_audio, (2,22) vanishes
    val aligned = Multimodal.videoJointNearDup(jointRotMedia)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getString(4)))
      .toMap
    assert(aligned.get((0L, 20L)).forall(_ == "same_audio"),
      s"aligned tier unexpectedly caught rotated frames: $aligned")
    assert(!aligned.contains((2L, 22L)),
      s"aligned tier unexpectedly caught the rotated re-dub: $aligned")
  }

  test("audio-carrying transform muxes keep frames AND track bit-exact (the m162 fixture contract)") {
    // same audioId on a blob mux and syntheticAvi = the same PCM track
    val a = Multimodal.containerAudioWav(
      Media.syntheticAviBlobs(7, 4, audioId = 5L, audioSamples = 320))
    val b = Multimodal.containerAudioWav(
      Media.syntheticAvi(7, 4, audioId = 5L, audioSamples = 320))
    assert(a.isDefined && b.isDefined && java.util.Arrays.equals(a.get, b.get))
    // the audio knob changes no frame byte
    val plain = Multimodal.containerFrames(
      Media.syntheticAviBlobs(7, 4)).get
    val withAudio = Multimodal.containerFrames(
      Media.syntheticAviBlobs(7, 4, audioId = 5L,
        audioSamples = 320)).get
    assert(plain.length == withAudio.length &&
      plain.zip(withAudio).forall(p => java.util.Arrays.equals(p._1, p._2)))
  }

  /** Deep-lossy fixture corpus: masters 0-7, probes 20-23 arbitrary
    * crops of 0-3 (two same-size, two resized) JPEG re-encoded at
    * q 0.5-0.7 — below every descriptor tier's floor — decoys 140+. */
  private def deepLossyMedia: DataFrame = {
    val sp = spark
    import sp.implicits._
    val rows =
      (0L until 8L).map(id => (id, Media.syntheticPngBlobs(id))) ++
      Seq(
        20L -> Media.jpegReencode(Media.pngCropResize(
          Media.syntheticPngBlobs(0), 9, 13, 105, 117, 96, 104), 0.6f),
        21L -> Media.jpegReencode(Media.pngCropResize(
          Media.syntheticPngBlobs(1), 15, 7, 111, 103, 128, 128), 0.5f),
        22L -> Media.jpegReencode(Media.pngCropResize(
          Media.syntheticPngBlobs(2), 5, 21, 101, 125, 80, 80), 0.7f),
        23L -> Media.jpegReencode(Media.pngCropResize(
          Media.syntheticPngBlobs(3), 11, 11, 119, 119, 144, 144), 0.5f)) ++
      (140L until 142L).map(id => (id, Media.syntheticPngBlobs(id)))
    rows.toDF("doc_id", "payload")
  }

  test("constellation tier at the 0.2 class gate lands DEEP-lossy crops the 0.4 gate drops (m163)") {
    implicit val s: SparkSession = spark
    val at02 = Multimodal.pairs(ImageScale())(deepLossyMedia, minMatch = 0.2,
      maxDf = 64).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val caught = (0L until 4L).count(id => at02.contains((id, id + 20)))
    info(s"0.2 gate: $caught/4, pairs ${at02.toSeq.sortBy(_._1)}")
    assert(caught == 4, s"deep-lossy probes missed at 0.2: $at02")
    val falsePairs = at02.keySet.filterNot { case (a, b) => b - a == 20 && a < 4 }
    assert(falsePairs.isEmpty, s"false pairs above the 0.2 gate: $falsePairs")
    // the m149 operating gate (0.4, tuned for q >= 0.85) drops part
    // of the class (probe 22's 80x80 downscale at q0.7 scores 0.308)
    // — the reason the class gets its own measured gate
    val at04 = Multimodal.pairs(ImageScale())(deepLossyMedia, minMatch = 0.4,
      maxDf = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val caught04 = (0L until 4L).count(id => at04((id, id + 20)))
    info(s"0.4 gate: $caught04/4")
    assert(caught04 < 4,
      s"m149's 0.4 gate unexpectedly covers ALL deep-lossy probes — " +
        "re-measure the m163 scope line")
    // the fine descriptor tier at its m141 operating point misses the
    // RESIZED legs structurally (patch pixels resample) and holds only
    // sporadically on deep-lossy same-size crops (probe 20's q0.6
    // survives; the q0.5/0.7 legs do not)
    val fine = Multimodal.pairs(PeakLossy())(deepLossyMedia, minMatch = 0.5,
      maxDist = 1, maxDf = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fineCaught = (0L until 4L).count(id => fine((id, id + 20)))
    info(s"fine tier at m141 point: $fineCaught/4")
    assert(fineCaught <= 1,
      s"fine descriptor tier unexpectedly covers deep-lossy ($fineCaught/4) — " +
        "re-measure the m163 scope line")
  }

  test("verified chroma tier covers HALF-semitone true pitch at default knobs (m164)") {
    implicit val s: SparkSession = spark
    val sp = spark
    import sp.implicits._
    val rows =
      (0L until 8L).map(id => (id, Media.syntheticWavBeats(id, 8000,
        ms = 1248, uniformSegMs = 96))) ++
      (20L until 28L).map(id => (id, Media.syntheticWavBeats(id - 20,
        44100, ms = 1000, offsetMs = 50, pitchNum = 35, pitchDen = 34,
        uniformSegMs = 96))) ++
      (140L until 144L).map(id => (id, Media.syntheticWavBeats(id,
        44100, ms = 1000, uniformSegMs = 96)))
    val m = rows.toDF("doc_id", "payload")
    val got = Multimodal.audioChromaVerifiedPairs(m)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val caught = (0L until 8L).count(id => got.contains((id, id + 20)))
    info(s"half-semitone caught: $caught/8, " +
      s"scores ${(0L until 8L).map(id => got.getOrElse((id, id + 20), 0.0))}")
    assert(caught == 8, s"half-semitone pairs missed: $got")
    val falsePairs = got.keySet.filterNot { case (a, b) => b - a == 20 && a < 8 }
    assert(falsePairs.isEmpty, s"false pairs: $falsePairs")
    // the single-window chroma CODE tier splits energy between bands
    // on a fractional shift — its survival stays partial (the m158
    // contrast shape), which is why the verify tier owns this class
    val codes = Multimodal.pairs(AudioChroma())(m, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val codeCaught = (0L until 8L).count(id => codes((id, id + 20)))
    info(s"single-window code tier: $codeCaught/8")
    assert(codeCaught <= 5,
      s"code tier unexpectedly covers half-semitone ($codeCaught/8) — " +
        "re-pin the m164 contrast")
  }

  test("canonical tier lands UNKNOWN strong squeezes (m165): default fan 0/4, m160 partial, canonical 4/4") {
    implicit val s: SparkSession = spark
    val sp = spark
    import sp.implicits._
    val rows =
      (0L until 8L).map(id => (id, Media.syntheticPngBlobs(id))) ++
      Seq(
        20L -> Media.pngCropResize(
          Media.syntheticPngBlobs(0), 0, 0, 128, 128, 80, 128),
        21L -> Media.pngCropResize(
          Media.syntheticPngBlobs(1), 0, 0, 128, 128, 68, 102),
        22L -> Media.jpegReencode(Media.pngCropResize(
          Media.syntheticPngBlobs(2), 0, 0, 128, 128, 75, 128), 0.85f),
        23L -> Media.pngCropResize(
          Media.syntheticPngBlobs(3), 0, 0, 128, 128, 128, 80)) ++
      (140L until 142L).map(id => (id, Media.syntheticPngBlobs(id)))
    val m = rows.toDF("doc_id", "payload")
    val canon = Multimodal.pairs(ImageScaleCanonical())(m, minMatch = 0.3,
      maxDf = 64).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val caught = (0L until 4L).count(id => canon.contains((id, id + 20)))
    info(s"canonical: $caught/4, pairs ${canon.toSeq.sortBy(_._1)}")
    assert(caught == 4, s"strong squeezes missed: $canon")
    val falsePairs = canon.keySet.filterNot { case (a, b) => b - a == 20 && a < 4 }
    assert(falsePairs.isEmpty, s"false pairs: $falsePairs")
    // contrast: the peak-cloud normalization (m160) loses the peak set
    // under the merge for PART of the class (doc-dependent — which
    // blobs sit close enough to fuse): at least one probe drops
    val norm = Multimodal.pairs(ImageScaleNormalized())(m, minMatch = 0.3,
      maxDf = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val normCaught = (0L until 4L).count(id => norm((id, id + 20)))
    info(s"m160 normalized tier: $normCaught/4")
    assert(normCaught < 4,
      s"m160 tier unexpectedly covers ALL strong squeezes — " +
        "re-measure the m165 scope line")
    // contrast: the fan at its DEFAULT display-conversion hypotheses
    // (an UNKNOWN factor means nobody added 1.6 to the set) misses the
    // whole class — 1.6:1 sits > 7% from every default readout
    val fanDefault = Multimodal.pairs(ImageScaleAspect())(m, minMatch = 0.3,
      maxDf = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fanDefCaught = (0L until 4L).count(id => fanDefault((id, id + 20)))
    info(s"m152 fan at default hyps: $fanDefCaught/4")
    assert(fanDefCaught == 0,
      s"default fan unexpectedly covers 1.5-1.7:1 squeezes " +
        s"($fanDefCaught/4) — re-pick the m165 factors")
    // and WITH the true factor enumerated the fan still covers — the
    // PLANS verify-tier claim holds; the canonical tier's new ground
    // is strictly the UNKNOWN-factor strong class
    val fanTrue = Multimodal.pairs(ImageScaleAspect(hyps = Seq(1.0, 1.6, 1.0 / 1.6)))(m,
      minMatch = 0.3, maxDf = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fanTrueCaught = (0L until 4L).count(id => fanTrue((id, id + 20)))
    info(s"m152 fan at true factors: $fanTrueCaught/4")
    assert(fanTrueCaught == 4,
      s"fan WITH the true factors should stay the verify tier " +
        s"($fanTrueCaught/4) — the m152 contract regressed")
    // the canonical tier must keep covering the MODERATE off-fan class
    // (the m160 fixtures) — it supersedes, not complements
    val rows2 =
      (0L until 8L).map(id => (id, Media.syntheticPngBlobs(id))) ++
      Seq(20L -> 107, 21L -> 107, 22L -> 149, 23L -> 149).map {
        case (id, w) => (id, Media.pngCropResize(
          Media.syntheticPngBlobs(id - 20), 0, 0, 128, 128, w, 128))
      } ++
      (140L until 142L).map(id => (id, Media.syntheticPngBlobs(id)))
    val c2 = Multimodal.pairs(ImageScaleCanonical())(rows2.toDF("doc_id", "payload"),
      minMatch = 0.3, maxDf = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 4L).forall(id => c2((id, id + 20))),
      s"canonical tier lost the m160 moderate class: $c2")
  }

  test("canonical index stamps its own family and cross-screens fail fast (m166)") {
    implicit val s: SparkSession = spark
    val sp = spark
    import sp.implicits._
    val corpus = (0L until 4L)
      .map(id => (id, Media.syntheticPngBlobs(id)))
      .toDF("doc_id", "payload")
    val canonIdx = Multimodal.index(ImageScaleCanonical())(corpus)
    assert(canonIdx.select("fp_ver").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(Multimodal.CanonFpVersion))
    val plainIdx = Multimodal.index(ImageScale())(corpus)
    val probe = Seq((20L, Media.syntheticPngBlobs(0L)))
      .toDF("doc_id", "payload")
    // canonical screen vs plain index: reject
    val e1 = intercept[IllegalArgumentException] {
      Multimodal.screen(ImageScaleCanonical())(probe, plainIdx).collect()
    }
    assert(e1.getMessage.contains("imageCanonicalLandmarkIndex"))
    // plain screen vs canonical index: reject
    val e2 = intercept[IllegalArgumentException] {
      Multimodal.screen(ImageScale())(probe, canonIdx).collect()
    }
    assert(e2.getMessage.contains("imageScaleLandmarkIndex"))
    // append == rebuild on the canonical index
    val more = (4L until 6L)
      .map(id => (id, Media.syntheticPngBlobs(id)))
      .toDF("doc_id", "payload")
    val appended = canonIdx.unionByName(
      Multimodal.index(ImageScaleCanonical())(more))
    val rebuilt = Multimodal.index(ImageScaleCanonical())(corpus.unionByName(more))
    assert(appended.select("lm", "doc_id", "nl", "fp_ver").collect().toSet ==
      rebuilt.select("lm", "doc_id", "nl", "fp_ver").collect().toSet)
  }

  test("video canonical tier lands unknown anamorphic rips the default fan misses (m167)") {
    implicit val s: SparkSession = spark
    val sp = spark
    import sp.implicits._
    val rows =
      (0L until 6L).map(id => (id, Media.syntheticAviBlobs(id, 6))) ++
      Seq(
        20L -> Media.aviCropResizeDib(
          Media.syntheticAviBlobs(0, 6), 0, 0, 96, 96, 60, 96),
        21L -> Media.aviCropResizeDib(
          Media.syntheticAviBlobs(1, 6), 0, 0, 96, 96, 96, 60),
        22L -> Media.aviCropResizeDib(
          Media.syntheticAviBlobs(2, 6), 0, 0, 96, 96, 56, 90, 2)) ++
      (140L until 142L).map(id => (id, Media.syntheticAviBlobs(id, 6)))
    val m = rows.toDF("doc_id", "payload")
    val canon = Multimodal.pairs(VideoScaleCanonical())(m, minMatch = 0.3,
      maxDf = 64).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val caught = (0L until 3L).count(id => canon.contains((id, id + 20)))
    info(s"video canonical: $caught/3, ${canon.toSeq.sortBy(_._1)}")
    assert(caught == 3, s"anamorphic probes missed: $canon")
    val falsePairs = canon.keySet.filterNot { case (a, b) => b - a == 20 && a < 3 }
    assert(falsePairs.isEmpty, s"false pairs: $falsePairs")
    // the m156 fan at its default display-conversion set is blind to
    // these factors (1.6:1 / 1.7:1 are > 7% off 4:3<->16:9)
    val fan = Multimodal.pairs(VideoScaleAspect())(m, minMatch = 0.3,
      maxDf = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fanCaught = (0L until 3L).count(id => fan((id, id + 20)))
    info(s"m156 default fan: $fanCaught/3")
    assert(fanCaught == 0,
      s"default video fan unexpectedly covers 1.6:1 anamorphic " +
        s"($fanCaught/3) — re-pick the m167 factors")
  }

  test("symmetric-whitening tier lands the FULL-AFFINE compound every prior tier misses (m169)") {
    implicit val s: SparkSession = spark
    val sp = spark
    import sp.implicits._
    def probe(src: Long, deg: Double, outW: Int): Array[Byte] =
      Media.pngCropResize(Media.pngRotateResize(
        Media.syntheticPngBlobs(src), deg), 0, 0, 128, 128, outW, 128)
    val rows =
      (0L until 8L).map(id => (id, Media.syntheticPngBlobs(id))) ++
      Seq(20L -> probe(0, 20.0, 80), 21L -> probe(1, -11.0, 80),
        22L -> probe(2, 20.0, 85), 23L -> probe(3, 33.0, 80)) ++
      (140L until 142L).map(id => (id, Media.syntheticPngBlobs(id)))
    val m = rows.toDF("doc_id", "payload")
    val affine = Multimodal.pairs(ImageAffine())(m, minMatch = 0.25, maxDf = 64).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val caught = (0L until 4L).count(id => affine.contains((id, id + 20)))
    info(s"affine tier: $caught/4, ${affine.toSeq.sortBy(_._1)}")
    assert(caught == 4, s"affine compounds missed: $affine")
    val falsePairs = affine.keySet.filterNot { case (a, b) => b - a == 20 && a < 4 }
    assert(falsePairs.isEmpty, s"false pairs: $falsePairs")
    // contrast: every prior tier is structurally blind to the compound
    def caughtBy(df: DataFrame): Int = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (0L until 4L).count(id => got((id, id + 20)))
    }
    val rot = caughtBy(Multimodal.pairs(ImageRotScale())(m, minMatch = 0.15,
      maxDf = 64))
    val canon = caughtBy(Multimodal.pairs(ImageScaleCanonical())(m,
      minMatch = 0.2, maxDf = 64))
    val norm = caughtBy(Multimodal.pairs(ImageScaleNormalized())(m,
      minMatch = 0.2, maxDf = 64))
    info(s"contrast: rotInv=$rot/4 canonical=$canon/4 cloudNorm=$norm/4")
    assert(rot == 0 && canon == 0 && norm == 0,
      s"a prior tier unexpectedly covers the affine compound " +
        s"(rot=$rot canon=$canon norm=$norm) — re-measure the m169 scope")
    // and the affine tier also covers the SIMPLER classes (rotation
    // only, squeeze only both axes, rotation+uniform scale)
    val rows2 =
      (0L until 8L).map(id => (id, Media.syntheticPngBlobs(id))) ++
      Seq(
        20L -> Media.pngRotateResize(Media.syntheticPngBlobs(0), 17.0),
        21L -> Media.pngCropResize(Media.syntheticPngBlobs(1), 0, 0, 128, 128, 80, 128),
        22L -> Media.pngRotateResize(Media.syntheticPngBlobs(2), -8.0, 1.2),
        23L -> Media.pngCropResize(Media.syntheticPngBlobs(3), 0, 0, 128, 128, 128, 80)) ++
      (140L until 142L).map(id => (id, Media.syntheticPngBlobs(id)))
    val simple = Multimodal.pairs(ImageAffine())(rows2.toDF("doc_id", "payload"),
      minMatch = 0.25, maxDf = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 4L).forall(id => simple((id, id + 20))),
      s"affine tier lost a simpler class: $simple")
  }

  test("video affine tier lands tilted anamorphic rips; prior video tiers blind; index fail-fast (m170/m171)") {
    implicit val s: SparkSession = spark
    val sp = spark
    import sp.implicits._
    def probe(src: Long, deg: Double, ow: Int, oh: Int, from: Int): Array[Byte] =
      Media.aviCropResizeDib(Media.aviRotateResizeDib(
        Media.syntheticAviBlobs(src, 6), deg), 0, 0, 96, 96, ow, oh, from)
    val rows =
      (0L until 6L).map(id => (id, Media.syntheticAviBlobs(id, 6))) ++
      Seq(20L -> probe(0, 17.0, 60, 96, 0), 21L -> probe(1, -8.0, 96, 60, 0),
        22L -> probe(2, 20.0, 64, 96, 2)) ++
      (140L until 142L).map(id => (id, Media.syntheticAviBlobs(id, 6)))
    val m = rows.toDF("doc_id", "payload")
    val affine = Multimodal.pairs(VideoAffine())(m, minMatch = 0.25, maxDf = 64)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val caught = (0L until 3L).count(id => affine.contains((id, id + 20)))
    info(s"video affine: $caught/3, ${affine.toSeq.sortBy(_._1)}")
    assert(caught == 3, s"tilted anamorphic probes missed: $affine")
    val falsePairs = affine.keySet.filterNot { case (a, b) => b - a == 20 && a < 3 }
    assert(falsePairs.isEmpty, s"false pairs: $falsePairs")
    def caughtBy(df: DataFrame): Int = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (0L until 3L).count(id => got((id, id + 20)))
    }
    val rot = caughtBy(Multimodal.pairs(VideoRotScale())(m, minMatch = 0.15,
      maxDf = 64))
    val canon = caughtBy(Multimodal.pairs(VideoScaleCanonical())(m,
      minMatch = 0.2, maxDf = 64))
    info(s"contrast: videoRot=$rot/3 videoCanonical=$canon/3")
    assert(rot == 0 && canon == 0,
      s"a prior video tier unexpectedly covers the affine compound " +
        s"(rot=$rot canon=$canon) — re-measure the m171 scope")
    // affine index: stamps its family, rejects cross-family screens
    val corpus = (0L until 4L)
      .map(id => (id, Media.syntheticPngBlobs(id))).toDF("doc_id", "payload")
    val affIdx = Multimodal.index(ImageAffine())(corpus)
    assert(affIdx.select("fp_ver").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(Multimodal.AffineFpVersion))
    val probeDf = Seq((20L, Media.syntheticPngBlobs(0L)))
      .toDF("doc_id", "payload")
    val e1 = intercept[IllegalArgumentException] {
      Multimodal.screen(ImageAffine())(probeDf,
        Multimodal.index(ImageScale())(corpus)).collect()
    }
    assert(e1.getMessage.contains("imageAffineLandmarkIndex"))
    val e2 = intercept[IllegalArgumentException] {
      Multimodal.screen(ImageScale())(probeDf, affIdx).collect()
    }
    assert(e2.getMessage.contains("imageScaleLandmarkIndex"))
  }

  test("URL canonicalizer edge cases (t86 operator)") {
    val sp = spark
    import sp.implicits._
    val cases = Seq(
      // scheme/host case + www + default port + trailing slash + utm + fragment
      ("HTTPS://WWW.Docs.Site.COM:443/A/b/?utm_x=1&b=2&a=1#f",
        "https://docs.site.com/A/b?a=1&b=2"),
      // non-default port KEPT; param order sorted
      ("http://site.com:8080/p?z=1&a=2", "http://site.com:8080/p?a=2&z=1"),
      // bare host -> root path; no query
      ("http://Site.com", "http://site.com/"),
      // root slash never stripped; all-utm query drops the '?'
      ("https://site.com/?utm_a=1&utm_b=2", "https://site.com/"),
      // a leading www. label strips only when >= 2 labels follow:
      // www.com is a registrable name and must survive whole
      ("http://www.x.com/q", "http://x.com/q"),
      ("http://WWW.com/q", "http://www.com/q"))
    val got = cases.map(_._1).toDF("url")
      .select(TextAnalysis.canonicalizeUrl($"url").as("c"))
      .collect().map(_.getString(0))
    cases.zip(got).foreach { case ((in, want), g) =>
      assert(g == want, s"canonicalizeUrl($in) = $g, want $want") }
    val doms = got.toSeq.toDF("u")
      .select(TextAnalysis.registeredDomain($"u").as("d"))
      .collect().map(_.getString(0))
    assert(doms.toSeq == Seq("site.com", "site.com", "site.com",
      "site.com", "x.com", "www.com"), doms.toSeq.toString)
  }

  test("URL canonicalization is idempotent over generated messy URLs (property)") {
    val sp = spark
    import sp.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val scheme = Gen.oneOf("http://", "HTTPS://", "https://", "HTTP://")
    val host = for {
      www <- Gen.oneOf("", "www.", "WWW.")
      labels <- Gen.choose(2, 4)
      parts <- Gen.listOfN(labels, Gen.oneOf("Docs", "img", "CDN", "a1", "site", "x"))
    } yield www + parts.mkString(".")
    val port = Gen.oneOf("", ":80", ":443", ":8080", ":9443")
    val path = Gen.oneOf("", "/", "/A/b", "/A/b/", "/Wiki/Page-7", "/p/q/r/")
    val query = Gen.oneOf("", "?", "?a=1", "?utm_x=1", "?b=2&a=1&utm_s=0",
      "?z=9&utm_a=1&a=2&", "?&&a=1")
    val frag = Gen.oneOf("", "#f", "#sec-2")
    val url = for {
      s0 <- scheme; h <- host; p <- port; pa <- path; q <- query; f <- frag
    } yield s0 + h + p + pa + q + f
    val urls = (0 until 300).flatMap(i =>
      url.apply(Gen.Parameters.default, Seed(i.toLong))).distinct
    val once = urls.toDF("url")
      .select(TextAnalysis.canonicalizeUrl($"url").as("c"))
      .collect().map(_.getString(0))
    val twice = once.toSeq.toDF("url")
      .select(TextAnalysis.canonicalizeUrl($"url").as("c"))
      .collect().map(_.getString(0))
    once.zip(twice).zip(urls).foreach { case ((a, b), in) =>
      assert(a == b, s"not idempotent: $in -> $a -> $b") }
    info(s"${urls.size} generated URLs, all idempotent")
  }

  test("folds=1 keeps chromaCodeAt bit-exact legacy behavior") {
    val mono = Multimodal.monoMix(Multimodal.decodeWav(
      Media.syntheticWavBeats(3L, 8000, ms = 1248,
        uniformSegMs = 96)).get)
    Multimodal.energyOnsets(mono, 8000, 1024, 8).foreach { o =>
      assert(Multimodal.chromaCodeAt(mono, 8000, o, 12, 12) ==
        Multimodal.chromaCodeAt(mono, 8000, o, 12, 12, folds = 1))
    }
  }
}
