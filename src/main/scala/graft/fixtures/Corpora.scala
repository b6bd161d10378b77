package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Synthetic corpora of any size `n`, for the scaling sweep
  * ([[graft.tools.ScaleCheck]]) and the growth gates that run its
  * corpora at gate size. Each row is a pure function of its id
  * (java.util.Random seeded per id — the LCG sequence is JVM-spec-fixed),
  * so runs are reproducible. ~3% of documents are near-duplicate
  * mutations and 1% exact copies, so dedup ops have real work at every
  * N. */
object Corpora {


  def docs(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n).map { id =>
      val r = new java.util.Random(id % (n / 8 * 7)) // ~1/8 exact dups
      val len = 40 + r.nextInt(80)
      val words = Seq.fill(len)(s"w${r.nextInt(4000)}")
      // ~3%: mutate a copy of another doc (near-dup for jaccard/minhash)
      val text =
        if (id % 31 == 0) {
          val base = new java.util.Random(id / 31)
          val blen = 40 + base.nextInt(80)
          val bw = Array.fill(blen)(s"w${base.nextInt(4000)}")
          bw(blen / 2) = "mutated"
          bw.mkString(" ")
        } else words.mkString(" ")
      (id, text)
    }.toDF("doc_id", "text")
  }

  def embs(spark: SparkSession, n: Int, dim: Int = 64): DataFrame = {
    import spark.implicits._
    spark.range(0, n).map { id =>
      val r = new java.util.Random(id % (n / 10 * 9)) // ~10% exact dups
      (id, Seq.fill(dim)(r.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
  }

  /** Synthetic spectral-audio corpus: ~1/10 of docs are 44.1 kHz
    * re-uploads of an 8 kHz master (same continuous tone signal,
    * disjoint sample grids — the fractional-resample class), the rest
    * distinct 8 kHz tone mixtures. Pure function of the row id. */
  def tones(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n).map { id =>
      // 512 ms = four 128 ms amplitude segments: 272^4 distinct
      // patterns, so id collisions are negligible at any sweep tier
      // (256 ms = 272^2 made the dup rate itself quadratic in n and
      // the sweep measured pair-output growth, not operator growth)
      val payload =
        if (id % 10 == 9)
          Media.syntheticWavTones(id / 10, 44100, ms = 512)
        else Media.syntheticWavTones(id, 8000, ms = 512)
      (id, payload)
    }.toDF("doc_id", "payload")
  }

  /** Beat-gated corpus for the ONSET tier sweep: ~1/10 of docs are
    * 50 ms-trimmed (a multiple of NO analysis hop) 44.1 kHz re-uploads
    * of an 8 kHz master — the arbitrary-offset compound only the
    * onset-anchored tier can land; the rest are distinct gated tone
    * mixtures (segMs=96/gateMs=32/permMs=32, the m115 signal shape:
    * ~7 onsets per 640 ms master). Pure function of the row id. */
  def gatedTones(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n).map { id =>
      // Re-upload masters must themselves be master rows: id - 9 is the
      // decade's first id (id % 10 == 0), never diverted to the
      // re-upload branch — so every planted pair has both ends and the
      // expected pair count is exactly n/10 (no orphaned re-uploads).
      val payload =
        if (id % 10 == 9)
          Media.syntheticWavTones(id - 9, 44100, ms = 512,
            offsetMs = 50, gateMs = 32, segMs = 96, permMs = 32)
        else Media.syntheticWavTones(id, 8000, ms = 640,
          gateMs = 32, segMs = 96, permMs = 32)
      (id, payload)
    }.toDF("doc_id", "payload")
  }

  /** Synthetic event stream: ~50 events per user, timestamps and types
    * pure functions of the id — reproducible like `docs`/`embs`. */
  def events(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    val types = Array("view", "click", "purchase", "other")
    spark.range(0, n).map { id =>
      val r = new java.util.Random(id)
      (id, id % math.max(1, n / 50),
        id * 1000L + r.nextInt(500), types(r.nextInt(types.length)))
    }.toDF("event_id", "user_id", "us", "event_type")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(col("us")))
  }

  /** Image corpus for the PEAK-PATCH tier sweep: ~1/10 of docs are
    * ARBITRARY-OFFSET 32x32 lossless crops of a master (offsets a
    * pure function of the id, on no canonical-window anchor), the
    * rest distinct 64x64 noise images. Planted pair = (id-9, id), so
    * expected recall numerator is exactly n/10. The linear
    * syntheticPng generator aliases SOME master id deltas into
    * translated fields (the m138 lesson) — those extra true-shared-
    * content pairs are excluded by the planted-pair filter and their
    * posting-list load is capped by maxDf like any hot bucket. */
  def pngs(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n).map { id =>
      val payload =
        if (id % 10 == 9) {
          val dx = 3 + (id % 17).toInt
          val dy = 5 + (id % 13).toInt
          Media.syntheticPngCrop(id - 9, dx, dy, dx + 32, dy + 32)
        } else Media.syntheticPng(id, 64, 64)
      (id, payload)
    }.toDF("doc_id", "payload")
  }

  /** Blob-image corpus for the CONSTELLATION tier sweep: ~1/10 of
    * docs are crop+RESIZE re-uploads of a master (crop offsets a pure
    * function of the id; 104x104 of the m143-geometry 128x128 10-blob
    * masters, resampled to 88/96/116/128 px by id — every pixel byte
    * rewritten, down- AND up-scales), the rest distinct blob images.
    * Planted pair = (id-9, id), recall numerator exactly n/10. The
    * crop offsets (10..14) keep all but the border-margin blob
    * CENTERS (centers live in [14, 114)), so probes retain ~7-10 of
    * 10 peaks — the operating envelope the tier is parameterized for
    * (real images are >= ~100 px); a first sweep at 80x80/6-blob
    * fixtures measured the degradation cliff instead: probes kept
    * 3-6 peaks (3-60 codes) and single quantization flips dropped
    * recall to ~60%, scale-stable but structurally fixture-starved. */
  def blobPngs(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n).map { id =>
      val payload =
        if (id % 10 == 9) {
          val dx = 10 + (id % 5).toInt
          val dy = 10 + (id % 4).toInt
          val out = Array(88, 96, 116, 128)((id % 4).toInt)
          Media.pngCropResize(
            Media.syntheticPngBlobs(id - 9),
            dx, dy, dx + 104, dy + 104, out, out)
        } else Media.syntheticPngBlobs(id)
      (id, payload)
    }.toDF("doc_id", "payload")
  }

  /** [[blobPngs]] with ROTATED probes: ~1/10 of docs are re-uploads
    * rotated by an id-derived arbitrary angle (3..48 deg, never a
    * multiple of 90) and scaled 0.9/1.0/1.15 — the m150 class. */
  def rotPngs(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n).map { id =>
      val payload =
        if (id % 10 == 9) {
          val deg = 3.0 + (id % 46).toDouble
          val fac = Array(0.9, 1.0, 1.15)((id % 3).toInt)
          Media.pngRotateResize(
            Media.syntheticPngBlobs(id - 9), deg, fac)
        } else Media.syntheticPngBlobs(id)
      (id, payload)
    }.toDF("doc_id", "payload")
  }

  /** Blob-image corpus with ~1/10 planted FULL-AFFINE re-uploads
    * (rotation 3-48 deg x squeeze 1.3-1.7:1, alternating axis) — the
    * m169 tier's saturation/recall sweep corpus. */
  def affinePngs(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n).map { id =>
      val payload =
        if (id % 10 == 9) {
          val deg = 3.0 + (id % 46).toDouble
          val sq = Array(1.3, 1.5, 1.7)((id % 3).toInt)
          val rot = Media.pngRotateResize(
            Media.syntheticPngBlobs(id - 9), deg)
          // planted ids all satisfy id % 10 == 9 (always odd), so the
          // axis parity must vary across PLANTS, not raw ids — (id/10)
          // alternates per plant and sweeps both squeeze axes
          if ((id / 10) % 2 == 0)
            Media.pngCropResize(rot, 0, 0, 128, 128,
              math.round(128 / sq).toInt, 128)
          else
            Media.pngCropResize(rot, 0, 0, 128, 128, 128,
              math.round(128 / sq).toInt)
        } else Media.syntheticPngBlobs(id)
      (id, payload)
    }.toDF("doc_id", "payload")
  }

  /** Blob-image corpus with ~1/10 planted CROP x FULL-AFFINE
    * re-uploads (central-75% crop re-rendered at source size, then
    * rotation 3-48 deg, then squeeze 1.3-1.7:1 alternating axis per
    * plant) — the m174 tier's saturation/recall sweep corpus. 256px
    * 24-blob masters: the compound probe loses border peaks to the
    * crop, the rotation clip, AND the detector margin, so the 128px
    * 10-blob fixtures leave too few peaks for any 5-point family. */
  def cropAffinePngs(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n).map { id =>
      val payload =
        if (id % 10 == 9) {
          val deg = 3.0 + (id % 46).toDouble
          val sq = Array(1.3, 1.5, 1.7)((id % 3).toInt)
          val crop = Media.pngCropResize(
            Media.syntheticPngBlobs(id - 9, 256, 256, 24, 22.0),
            32, 32, 224, 224, 256, 256)
          val rot = Media.pngRotateResize(crop, deg)
          if ((id / 10) % 2 == 0)
            Media.pngCropResize(rot, 0, 0, 256, 256,
              math.round(256 / sq).toInt, 256)
          else
            Media.pngCropResize(rot, 0, 0, 256, 256, 256,
              math.round(256 / sq).toInt)
        } else Media.syntheticPngBlobs(id, 256, 256, 24, 22.0)
      (id, payload)
    }.toDF("doc_id", "payload")
  }

  /** PHOTOGRAPHIC-texture variant of [[cropAffinePngs]]: the same
    * planted crop x rotation x squeeze compounds over
    * [[Media.syntheticJpegTextured]] masters (blob structure +
    * illumination gradient + value-noise texture + sensor grain,
    * lossy JPEG), with the re-upload itself saved lossy (quality
    * 0.8) — the photo-world measurement class for the affine-frame
    * family, vs the clean blob-world class every other sweep uses. */
  def cropAffineJpegTextured(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n).map { id =>
      val payload =
        if (id % 10 == 9) {
          val deg = 3.0 + (id % 46).toDouble
          val sq = Array(1.3, 1.5, 1.7)((id % 3).toInt)
          val crop = Media.pngCropResize(
            Media.syntheticJpegTextured(id - 9),
            32, 32, 224, 224, 256, 256)
          val rot = Media.pngRotateResize(crop, deg)
          val sqz =
            if ((id / 10) % 2 == 0)
              Media.pngCropResize(rot, 0, 0, 256, 256,
                math.round(256 / sq).toInt, 256)
            else
              Media.pngCropResize(rot, 0, 0, 256, 256, 256,
                math.round(256 / sq).toInt)
          Media.jpegReencode(sqz, 0.8f)
        } else Media.syntheticJpegTextured(id)
      (id, payload)
    }.toDF("doc_id", "payload")
  }

  /** 256-canvas variant of [[affinePngs]] (NO crop — rotation x
    * squeeze only) on the same rich-structure masters, so the
    * affine-frame tier's no-crop recall is measured on the corpus
    * class its gate fixtures use. */
  def affinePngs256(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n).map { id =>
      val payload =
        if (id % 10 == 9) {
          val deg = 3.0 + (id % 46).toDouble
          val sq = Array(1.3, 1.5, 1.7)((id % 3).toInt)
          val rot = Media.pngRotateResize(
            Media.syntheticPngBlobs(id - 9, 256, 256, 24, 22.0), deg)
          if ((id / 10) % 2 == 0)
            Media.pngCropResize(rot, 0, 0, 256, 256,
              math.round(256 / sq).toInt, 256)
          else
            Media.pngCropResize(rot, 0, 0, 256, 256, 256,
              math.round(256 / sq).toInt)
        } else Media.syntheticPngBlobs(id, 256, 256, 24, 22.0)
      (id, payload)
    }.toDF("doc_id", "payload")
  }
}
