package graft.operators

import graft.fixtures.{Catalogue, Media}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{ImagePeak, ImageScale, PeakLossy}

/** Round-11 continuation: the crop+RESIZE compound — similarity-
  * invariant peak CONSTELLATIONS (m143/m144/st106). Direction angles
  * and log distance ratios of coarse-peak quads are invariant under
  * translation + uniform scale, so a re-upload cropped at any offset
  * AND rescaled lands, where every exact-pixel tier (window hashes,
  * peak patches, gray-mean descriptors) is structurally blind:
  * interpolation rewrites every pixel byte. */
class Round11iSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The m143 fixture: blob masters + crop-and-resize probes (up 1.33x,
    * up 1.17x, DOWN 0.83x, up 1.5x) + decoys. */
  private def corpus = {
    val s = spark
    import s.implicits._
    val img = Catalogue.scaleCrop.payload(20, 4) _
    ((0L until 8L) ++ (20L until 24L) ++ Seq(140L, 141L)).map(id => (id, img(id)))
      .toDF("doc_id", "payload")
  }

  test("exact-pixel peak tier is blind to crop+resize") {
    implicit val s: SparkSession = spark
    val exact = Multimodal.pairs(ImagePeak())(corpus, minMatch = 0.05,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.isEmpty,
      s"exact peak tier must miss resampled crops: ${exact.toSeq}")
  }

  test("coarse peaks re-detect blob centers within ~1px across a resize") {
    def peaks(p: Array[Byte]) = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(p))
      Multimodal.coarsePeakCells(Multimodal.lumaPlane(img),
        img.getWidth, img.getHeight, 4, 6)
    }
    val master = peaks(Media.syntheticPngBlobs(0))
    assert(master.size == 10,
      s"every isolated blob must yield exactly one peak (tie-broken " +
        s"plateaus included): ${master.size}")
    val probe = peaks(Media.pngCropResize(
      Media.syntheticPngBlobs(0), 20, 12, 116, 108, 128, 128))
    val sc = 128.0 / 96.0
    val interior = master.map { case (x, y, _) =>
      ((x - 20 + 0.5) * sc - 0.5, (y - 12 + 0.5) * sc - 0.5) }
      .filter { case (x, y) => x >= 12 && x < 116 && y >= 12 && y < 116 }
    assert(interior.nonEmpty)
    interior.foreach { case (mx, my) =>
      val d = probe.map { case (px, py, _) =>
        math.sqrt((px - mx) * (px - mx) + (py - my) * (py - my)) }.min
      assert(d < 1.5, f"mapped master peak ($mx%.1f,$my%.1f) has no " +
        f"probe peak within 1.5px (nearest $d%.2f)")
    }
  }

  test("constellation tier lands every crop+resize probe; decoys stay below threshold") {
    implicit val s: SparkSession = spark
    val pairs = Multimodal.pairs(ImageScale())(corpus, minMatch = 0.4,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      Set((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L)),
      s"unexpected scale pairs: ${pairs.toSeq}")
    assert(pairs.forall(_._3 >= 0.48),
      s"true pairs must score >= 0.48 (quantization-jitter headroom " +
        s"over the 0.4 gate; quad codes carry five quantized values, " +
        s"so per-code survival sits lower than triples): ${pairs.toSeq}")
    // sub-threshold structure exists (shared shape statistics), but
    // stays well under the gate — the operating envelope
    val loose = Multimodal.pairs(ImageScale())(corpus, minMatch = 0.1,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filterNot(p => Set((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L))
        .contains((p._1, p._2)))
    assert(loose.forall(_._3 <= 0.25),
      s"noise pairs must stay <= 0.25: ${loose.toSeq}")
  }

  test("scale index: append == rebuild; screen catches resized crops; cross-family stamp rejected") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val masters = (0L until 8L).map(id =>
      (id, Media.syntheticPngBlobs(id))).toDF("doc_id", "payload")
    val late = Seq((8L, Media.syntheticPngBlobs(8L)))
      .toDF("doc_id", "payload")
    val appended = Multimodal.index(ImageScale())(masters)
      .unionByName(Multimodal.index(ImageScale())(late))
    val rebuilt = Multimodal.index(ImageScale())(masters.unionByName(late))
    assert(appended.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(appended).isEmpty,
      "append != rebuild for the constellation index")
    val probes = Seq(
      20L -> Media.pngCropResize(
        Media.syntheticPngBlobs(0), 20, 12, 116, 108, 128, 128),
      21L -> Media.pngCropResize(
        Media.syntheticPngBlobs(1), 8, 16, 104, 112, 112, 112),
      130L -> Media.syntheticPngBlobs(130L))
      .toDF("doc_id", "payload")
    val out = Multimodal.screen(ImageScale())(probes,
      Multimodal.index(ImageScale())(masters), minMatch = 0.4)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(out == Set((20L, false), (21L, false), (130L, true)),
      s"unexpected screen verdicts: $out")
    val foreign = Multimodal.index(ImageScale())(masters)
      .withColumn("fp_ver", lit(Multimodal.PeakFpVersion))
    val e = intercept[IllegalArgumentException] {
      Multimodal.screen(ImageScale())(probes, foreign).collect()
    }
    assert(e.getMessage.contains("rebuild"))
  }

  test("the tier survives the full thumbnail compound: crop + resize + JPEG") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val media = ((0L until 8L).map(id =>
      (id, Media.syntheticPngBlobs(id))) ++
      Seq(
        20L -> Media.jpegReencode(Media.pngCropResize(
          Media.syntheticPngBlobs(0), 20, 12, 116, 108, 128, 128), 0.92f),
        21L -> Media.jpegReencode(Media.pngCropResize(
          Media.syntheticPngBlobs(1), 8, 16, 104, 112, 112, 112), 0.92f),
        22L -> Media.jpegReencode(Media.pngCropResize(
          Media.syntheticPngBlobs(2), 16, 16, 112, 112, 80, 80), 0.92f),
        23L -> Media.jpegReencode(Media.pngCropResize(
          Media.syntheticPngBlobs(3), 24, 8, 120, 104, 144, 144), 0.85f)
      ) ++ Seq(140L, 141L).map(id =>
        (id, Media.syntheticPngBlobs(id))))
      .toDF("doc_id", "payload")
    // the lossy DESCRIPTOR tier (fixed pixel scale) has NO SIGNAL on
    // the resized compound: smooth blob fields make gray-mean
    // descriptors collide broadly across unrelated docs, and no true
    // pair scores above that noise floor — this tier owns the class
    val trueSet = Set((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L))
    val desc = Multimodal.pairs(PeakLossy())(media, minMatch = 0.3, maxDist = 3,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val (descTrue, descNoise) =
      desc.partition(p => trueSet.contains((p._1, p._2)))
    assert(descTrue.size < trueSet.size,
      s"descriptor tier unexpectedly finds all resized pairs: " +
        s"${desc.toSeq}")
    assert(descTrue.forall(t => descNoise.exists(_._3 >= t._3)),
      s"descriptor tier must not SEPARATE resized true pairs from " +
        s"its blob-corpus noise floor: true=${descTrue.toSeq} " +
        s"noise=${descNoise.toSeq}")
    val pairs = Multimodal.pairs(ImageScale())(media, minMatch = 0.4,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      Set((0L, 20L), (1L, 21L), (2L, 22L), (3L, 23L)),
      s"unexpected lossy-compound pairs: ${pairs.toSeq}")
    assert(pairs.forall(_._3 >= 0.48),
      s"JPEG at q>=0.85 must cost at most ~0.06 match_frac over the " +
        s"lossless compound (coarse box-sum peaks absorb the " +
        s"quantization noise): ${pairs.toSeq}")
  }

  test("a plain (unresized) arbitrary crop also lands — the tier subsumes translation") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val media = Seq(
      (0L, Media.syntheticPngBlobs(0)),
      (20L, Media.pngCropResize(
        Media.syntheticPngBlobs(0), 20, 12, 116, 108, 96, 96)))
      .toDF("doc_id", "payload")
    val pairs = Multimodal.pairs(ImageScale())(media, minMatch = 0.4,
      maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((0L, 20L)),
      s"identity-scale crop must land: ${pairs.toSeq}")
  }
}
