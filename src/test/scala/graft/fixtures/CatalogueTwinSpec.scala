package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Multimodal, StreamingNearDup}
import graft.operators.Multimodal.{AudioChroma, AudioCode, AudioInterval,
  AudioLandmark, AudioOnset, AudioOnsetRolling, AudioSpectralCode,
  AudioSpectralLandmark, ImageAffine, ImageRotScale, ImageScale,
  ImageScaleCanonical, Paired, VideoPeak, VideoRotScale, VideoScale,
  VideoScaleCanonical, VideoShift}

/** An m gate and its st twin name one [[Catalogue]] entry, so on that
  * fixture the streaming tier and the batch pair scorer must reach the
  * same verdict. For every twin whose contracts match (same family, same
  * share gate, buckets uncapped) the fixture runs two ways:
  *   - masters, then probes, as two micro-batches through
  *     [[StreamingNearDup.hits]], each probe voted at the gate's share
  *     over its hits on masters (the st gates' vote);
  *   - [[Multimodal.pairs]] over masters and probes together, restricted
  *     to (master, probe) pairs;
  * and each probe's lowest matching master must agree. */
class CatalogueTwinSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val Base = 1000000L

  /** `st` streams `masters`, then probes `0 until probes` of `fixture`
    * at [[Base]]; `m` scores the same fixture with `f` at `share`. */
  case class Twin(st: String, m: String, fixture: Fixture, masters: Seq[Long],
      probes: Int, f: Paired, share: Double)

  private def upTo(n: Long) = 0L until n

  val twins: Seq[Twin] = Seq(
    Twin("st73_stream_audio_dedup", "m79_audio_fingerprint",
      Catalogue.wavTexLevel, upTo(20), 20, AudioCode, 0.8),
    Twin("st74_stream_audio_landmark_dedup", "m80_audio_landmarks",
      Catalogue.wavTexTrim, upTo(14), 14, AudioLandmark(), 0.6),
    Twin("st75_stream_video_landmark_dedup", "m84_video_landmarks",
      Catalogue.aviTrim, upTo(10), 10, VideoShift(), 0.6),
    Twin("st82_stream_spectral_landmark_dedup", "m110_audio_spectral_landmarks",
      Catalogue.tonesTrim, upTo(10), 10, AudioSpectralLandmark(), 0.6),
    Twin("st84_stream_spectral_dedup", "m106_audio_spectral_dedup",
      Catalogue.tones, upTo(10), 10, AudioSpectralCode, 0.8),
    Twin("st89_stream_onset_landmark_dedup", "m115_audio_onset_landmarks",
      Catalogue.onsets, upTo(10), 10, AudioOnset(), 0.6),
    Twin("st92_stream_speed_dedup", "m120_audio_speed_neardup",
      Catalogue.beatsSpeed, upTo(10), 10, AudioInterval(), 0.6),
    Twin("st93_stream_noisy_onset_dedup", "m119_audio_onset_noisy",
      Catalogue.onsetsNoisy, upTo(10), 10, AudioOnsetRolling(), 0.6),
    Twin("st95_stream_pitch_chroma_dedup", "m124_audio_pitch_chroma",
      Catalogue.beatsSemitone, upTo(10), 10, AudioChroma(), 0.6),
    Twin("st100_stream_quarter_tone_dedup", "m126_audio_quarter_tone",
      Catalogue.beatsQuarterTone, upTo(10), 10, AudioChroma(div = 24), 0.6),
    Twin("st102_stream_video_peak_dedup", "m138_video_peak_crop_neardup",
      Catalogue.aviPeakCrop, Seq(0L, 1L, 10L, 11L), 4, VideoPeak(every = 1), 0.6),
    Twin("st106_stream_scale_dedup", "m143_scale_crop_pairs",
      Catalogue.scaleCrop, upTo(6), 6, ImageScale(), 0.4),
    Twin("st108_stream_video_scale_dedup", "m147_video_scale_pairs",
      Catalogue.videoScale, upTo(6), 6, VideoScale(), 0.4),
    Twin("st110_stream_rot_scale_dedup", "m150_rot_scale_pairs",
      Catalogue.rotScale, upTo(6), 6, ImageRotScale(), 0.2),
    Twin("st112_stream_video_rot_dedup", "m154_video_rot_pairs",
      Catalogue.videoRot, upTo(6), 6, VideoRotScale(), 0.2),
    Twin("st117_stream_canonical_dedup", "m165_scale_strong_squeeze",
      Catalogue.canonical, upTo(6), 6, ImageScaleCanonical(), 0.3),
    Twin("st118_stream_video_canonical_dedup", "m167_video_canonical_pairs",
      Catalogue.videoCanonical, upTo(6), 6, VideoScaleCanonical(), 0.3),
    Twin("st120_stream_affine_dedup", "m169_affine_pairs",
      Catalogue.affine, upTo(6), 6, ImageAffine(), 0.25))

  /** Media st gates this spec does not check, and why. */
  val excluded: Map[String, String] = Map(
    "st72_stream_phash_dedup" -> "hash verdicts at a hamming bound, not a shared-key vote",
    "st78_stream_phash_flip_dedup" -> "hash verdicts; its fixture is not m102's",
    "st80_stream_phash_rot_dedup" -> "hash verdicts; its fixture is not m105's",
    "st81_stream_phash_dihedral_dedup" -> "hash verdicts; its fixture is not m109's",
    "st96_stream_crop_dedup" -> "crop-window hash verdicts, not a shared-key vote",
    "st98_stream_thirds_crop_dedup" -> "crop-window hash verdicts, not a shared-key vote",
    "st79_stream_video_flip_dedup" -> "orientation fan: the vote reads the best readout",
    "st83_stream_video_dihedral_dedup" -> "orientation fan: the vote reads the best readout",
    "st104_stream_peak_dihedral_dedup" -> "orientation fan: the vote reads the best readout",
    "st107_stream_scale_dihedral_dedup" -> "orientation fan: the vote reads the best readout",
    "st111_stream_aspect_dedup" -> "hypothesis fan: the vote reads the best readout",
    "st113_stream_video_aspect_dedup" -> "hypothesis fan: the vote reads the best readout",
    "st97_stream_video_crop_dedup" -> "crop-window fan: the vote reads window 0",
    "st99_stream_video_thirds_dedup" -> "crop-window fan: the vote reads window 0",
    "st94_stream_video_rate_dedup" -> "its fixture alternates rates in fives, m122's in fours",
    "st101_stream_peak_crop_dedup" -> "its m twin (m137) screens a persisted index",
    "st105_stream_peak_lossy_dedup" -> "its own descriptor matcher; its fixture is not m141's",
    "st85_stream_spectral_index_screen" -> "stream-static index screen, no bucket state",
    "st103_stream_peak_index_screen" -> "stream-static index screen, no bucket state",
    "st109_stream_scale_index_screen" -> "stream-static index screen, no bucket state",
    "st121_stream_joint_index_screen" -> "stream-static index screen, no bucket state",
    "st123_stream_affine_frame_screen" -> "stream-static index screen, no bucket state",
    "st124_stream_affine_verified_screen" -> "stream-static index screen, no bucket state",
    "st125_stream_affine_chiral_screen" -> "stream-static index screen, no bucket state",
    "st126_stream_affine_squeeze_fan_screen" -> "stream-static index screen, no bucket state",
    "st77_stream_video_joint" -> "joint video + audio verdict over two tiers",
    "st116_stream_video_joint_rot" -> "joint video + audio verdict over two tiers",
    "st76_stream_subtitle_decontam" -> "subtitle text screen, not a media near-dup tier")

  /** `batches` as a file-source stream, one staged parquet file per
    * micro-batch in order (the st gates' `stageBatches` shape). */
  private def stage(batches: DataFrame*): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-twin")
    dir.toFile.deleteOnExit()
    batches.zipWithIndex.foreach { case (df, i) =>
      val tmp = dir.resolve(s"tmp$i")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = dir.resolve(s"$i.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.deleteOnExit()
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 120000L * (batches.size - 1 - i)))
    }
    spark.readStream.schema(batches.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .repartition(col("doc_id"))
  }

  private def rows(t: Twin, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    val payload = t.fixture.payload(Base, Long.MaxValue) _
    ids.map(id => (id, payload(id))).toDF("doc_id", "payload")
  }

  /** Probe -> lowest master whose share of the smaller side's rows
    * reaches the gate, from the drained hits. */
  private def streamed(t: Twin): Map[Long, Long] = {
    val name = s"twin_${t.st}"
    val q = StreamingNearDup.hits(t.f)(stage(rows(t, t.masters),
        rows(t, (0 until t.probes).map(Base + _))), maxBucket = 0)
      .select(col("doc_id"), col("hits"))
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table(name).collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val nl = out.groupBy(_._1).map { case (d, rs) => d -> rs.length }
    out.filter(_._1 >= Base)
      .flatMap { case (d, hs) => hs.filter(_ < Base).map(src => (d, src)) }
      .groupBy(identity).map { case (pair, n) => pair -> n.length }
      .filter { case ((d, src), c) => c.toDouble / math.min(nl(d), nl(src)) >= t.share }
      .keys.groupBy(_._1).map { case (d, ps) => d -> ps.map(_._2).min }
  }

  /** Probe -> lowest master among the batch scorer's pairs. */
  private def scored(t: Twin): Map[Long, Long] =
    Multimodal.pairs(t.f)(rows(t, t.masters ++ (0 until t.probes).map(Base + _)),
        minMatch = t.share, minShared = 0)
      .filter(col("doc_a") < Base && col("doc_b") >= Base)
      .groupBy(col("doc_b")).agg(min(col("doc_a")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  twins.foreach { t =>
    test(s"${t.st} and ${t.m} agree on their fixture") {
      val (s, b) = (streamed(t), scored(t))
      assert(b.nonEmpty, "the batch scorer matched no probe")
      assert(s == b)
    }
  }

  test("every excluded twin is a query, and no twin is both checked and excluded") {
    val names = graft.SparkEntry.queries.keySet
    (twins.flatMap(t => Seq(t.st, t.m)) ++ excluded.keys).foreach(n =>
      assert(names.contains(n), n))
    assert(twins.map(_.st).toSet.intersect(excluded.keySet).isEmpty)
  }
}
