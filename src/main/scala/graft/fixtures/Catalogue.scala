package graft.fixtures

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

import Fixture.{cycle, table, uniform}

/** Every media fixture the m gates and their st twins run, by name.
  * An entry is a master generator plus its probes as `(master,
  * Transform)`; a gate lays it out with [[Fixture.udf]] at its probe
  * base: 20 for most m gates, 1000000 for the st twins, whose
  * micro-batch 1 carries the masters and micro-batch 2 the probes. The
  * entries hold functions only: every payload is synthesised when a row
  * asks for it. */
object Catalogue {

  // ---- shared masters ------------------------------------------------
  private def png64(id: Long) = Media.syntheticPng(id, 64, 64)
  private def png48(id: Long) = Media.syntheticPng(id, 48, 48)
  private def blobs(id: Long) = Media.syntheticPngBlobs(id)
  /** 256px 24-blob masters: enough peaks survive a crop, a rotation and
    * a squeeze for the affine-frame tiers. */
  private def blobs256(id: Long) = Media.syntheticPngBlobs(id, 256, 256, 24, 22.0)
  private def aviBlobs(id: Long) = Media.syntheticAviBlobs(id, 6)
  private def aviBlobs192(id: Long) = Media.syntheticAviBlobs(id, 6, 192, 192, 18, 22.0)
  private def aviBlobs256(id: Long) = Media.syntheticAviBlobs(id, 6, 256, 256, 24, 22.0)
  private def avi4(id: Long) = Media.syntheticAvi(id, (4 + id % 3).toInt)
  private def avi6(id: Long) = Media.syntheticAvi(id, (6 + id % 3).toInt)
  private def texLen(id: Long) = (160 + (id % 13) * 16).toInt
  private def landmarkLen(id: Long) = (320 + (id % 8) * 64).toInt
  private def wavTex5(id: Long) =
    Media.syntheticWavTex(id % 5, (320 + (id % 5) * 64).toInt)

  /** Re-render `src` as the box of a synthetic PNG (`w x h` master). */
  private def pngBox(x0: Int, y0: Int, x1: Int, y1: Int, w: Int = 64,
      h: Int = 64): Transform =
    Regen(Media.syntheticPngCrop(_, x0, y0, x1, y1, w, h))
  /** Re-render `src` as a 20-frame window of a synthetic AVI, 2 frames
    * trimmed. */
  private def aviBox(w: Int, h: Int, x0: Int, y0: Int): Transform =
    Regen(Media.syntheticAvi(_, 20, w = w, h = h, frameOffset = 2,
      srcX0 = x0, srcY0 = y0))
  /** Crop to the central box, rotate, then squeeze to `ow` wide: the
    * affine-frame compound on a `size`-square master. */
  private def cropRotSqueeze(c0: Int, c1: Int, deg: Double, ow: Int,
      size: Int = 256, from: Int = 0): Transform =
    CropResize(c0, c0, c1, c1, size, size) andThen Rotate(deg) andThen
      CropResize(0, 0, size, size, ow, size, from)

  // ---- images: pHash and orientation --------------------------------
  val gif = Fixture(Media.syntheticGif(_))
  val png = Fixture(Media.syntheticPng(_))
  /** Corner-bumped re-saves (m78, m85, st72). */
  val pngVariant = Fixture(Media.syntheticPng(_),
    uniform(Regen(Media.syntheticPngVariant(_))))
  /** Quarter turns, then mirror + quarter turns from probe 10 (m105,
    * m112). */
  val pngTurns = Fixture(Media.syntheticPng(_), k =>
    if (k < 10) Probe(k, Regen(Media.syntheticPngRot(_, ((k + 20) % 3 + 1).toInt)))
    else Probe(k - 10, Regen(Media.syntheticPngRotFlip(_, ((k + 20) % 3 + 1).toInt))))
  val pngTurnsFlip = Fixture(Media.syntheticPng(_), k =>
    Probe(k, Regen(Media.syntheticPngRotFlip(_, ((k + 20) % 3 + 1).toInt))))
  /** Four mirrors, then two variants (m102). */
  val pngFlip = Fixture(Media.syntheticPng(_), k =>
    Probe(k, Regen(if (k < 4) Media.syntheticPngFlip(_) else Media.syntheticPngVariant(_))))
  /** The st twins of the orientation gates: ten edits, then variants. */
  private def streamTurns(edit: Long => Transform) = Fixture(Media.syntheticPng(_), k =>
    Probe(k, if (k < 10) edit(k) else Regen(Media.syntheticPngVariant(_))))
  val pngTurnsStream = streamTurns(k =>
    Regen(Media.syntheticPngRot(_, ((k + 1000000L) % 3 + 1).toInt)))
  val pngTurnsFlipStream = streamTurns(k =>
    Regen(Media.syntheticPngRotFlip(_, ((k + 1000000L) % 3 + 1).toInt)))
  val pngFlipStream = streamTurns(_ => Regen(Media.syntheticPngFlip(_)))
  /** JPEGs carrying an EXIF orientation tag (m116). */
  private val exifOrient = Map(0L -> 6, 1L -> 8, 2L -> 3, 3L -> 2, 6L -> 5, 7L -> 7)
  val exif = Fixture(Media.syntheticPng(_),
    uniform(Regen(src => Media.syntheticJpegExif(src, exifOrient(src)))))

  // ---- images: crops (pHash windows, peaks) --------------------------
  val pngCrop = Fixture(png64, cycle(pngBox(16, 16, 48, 48), pngBox(16, 16, 48, 48),
    pngBox(0, 0, 32, 32), pngBox(32, 0, 64, 32), pngBox(8, 8, 56, 56),
    pngBox(32, 32, 64, 64), pngBox(20, 12, 52, 44), pngBox(0, 32, 32, 64)))
  val pngCropIndex = Fixture(png64, cycle(pngBox(16, 16, 48, 48), pngBox(0, 0, 32, 32),
    pngBox(32, 0, 64, 32), pngBox(8, 8, 56, 56), pngBox(0, 32, 32, 64),
    pngBox(32, 32, 64, 64), pngBox(20, 12, 52, 44)))
  val pngCropStream = Fixture(png64, cycle(pngBox(16, 16, 48, 48), pngBox(0, 0, 32, 32),
    pngBox(8, 8, 56, 56), pngBox(32, 32, 64, 64)))
  /** Thirds crops of 48px masters (m132, m133, st98). */
  val thirdsCrop = Fixture(png48, cycle(pngBox(8, 0, 40, 32, 48, 48),
    pngBox(16, 16, 48, 48, 48, 48), pngBox(0, 8, 32, 40, 48, 48),
    pngBox(8, 8, 40, 40, 48, 48)))
  /** Off-grid crops for the peak tiers, masters 6, 0, 1, 2 (m136, m140,
    * m141, m142). */
  private val peakBoxes = Seq(Probe(6, pngBox(20, 12, 52, 44)),
    Probe(0, pngBox(11, 7, 43, 39)), Probe(1, pngBox(5, 21, 37, 53)),
    Probe(2, pngBox(17, 3, 49, 35)))
  val peakCrop = Fixture(png64, table(peakBoxes: _*))
  val peakDihedralCrop = Fixture(png64, table(peakBoxes.zip(Seq(1, 2, 4, 6))
    .map { case (p, k) => p.copy(t = p.t andThen Dihedral(k)) }: _*))
  val peakLossyCrop = Fixture(png64,
    table(peakBoxes.map(p => p.copy(t = p.t andThen Reencode(0.92f))): _*))
  /** Off-grid crops of master k (m137, st101, st103; st104 turns them,
    * st105 re-encodes them). */
  private val peakCycle = Seq(pngBox(19, 13, 51, 45), pngBox(9, 23, 41, 55),
    pngBox(23, 5, 55, 37), pngBox(13, 17, 45, 49))
  val peakCropCycle = Fixture(png64, cycle(peakCycle: _*))
  val peakDihedralCycle = Fixture(png64, cycle(peakCycle.zip(Seq(1, 2, 4, 7))
    .map { case (t, k) => t andThen Dihedral(k) }: _*))
  val peakLossyCycle = Fixture(png64,
    cycle(peakCycle.map(_ andThen Reencode(0.92f)): _*))
  /** Texture masters, re-encoded (probes 0-19) or upscaled (20-). */
  val texture = Fixture(Media.syntheticPngTexture(_, 64, 64), k =>
    if (k < 20) Probe(k, Reencode(0.95f))
    else Probe(k - 20, CropResize(0, 0, 64, 64, 80, 80)))

  // ---- images: scale, rotation, aspect, affine -----------------------
  private val scaleBoxes = Seq(CropResize(20, 12, 116, 108, 128, 128),
    CropResize(8, 16, 104, 112, 112, 112), CropResize(16, 16, 112, 112, 80, 80),
    CropResize(24, 8, 120, 104, 144, 144))
  /** Crop + rescale of blob masters (m143, m144, st106, st109). */
  val scaleCrop = Fixture(blobs, cycle(scaleBoxes: _*))
  val scaleDihedral = Fixture(blobs, cycle(scaleBoxes.zip(Seq(1, 2, 5, 4))
    .map { case (c, k) => c andThen Dihedral(k) }: _*))
  val scaleDihedralIndex = Fixture(blobs, cycle(scaleBoxes.zip(Seq(1, 5, 7))
    .map { case (c, k) => c andThen Dihedral(k) }: _*))
  val scaleLossy = Fixture(blobs, cycle(scaleBoxes.zip(Seq(0.92f, 0.92f, 0.92f, 0.85f))
    .map { case (c, q) => c andThen Reencode(q) }: _*))
  val scaleDeepLossy = Fixture(blobs, cycle(
    CropResize(9, 13, 105, 117, 96, 104) andThen Reencode(0.6f),
    CropResize(15, 7, 111, 103, 128, 128) andThen Reencode(0.5f),
    CropResize(5, 21, 101, 125, 80, 80) andThen Reencode(0.7f),
    CropResize(11, 11, 119, 119, 144, 144) andThen Reencode(0.5f)))
  val rotScale = Fixture(blobs, cycle(Rotate(17.0), Rotate(-8.0, 1.2),
    Rotate(33.0, 0.9), Rotate(3.0)))
  val rotScaleIndex = Fixture(blobs, cycle(Rotate(17.0), Rotate(-8.0, 1.2), Rotate(3.0)))
  private def squash(ow: Int, oh: Int) = CropResize(0, 0, 128, 128, ow, oh)
  /** Aspect squeezes 3:4 and 4:3 (m152, m153, st111). */
  val aspect = Fixture(blobs, cycle(squash(96, 128), squash(171, 128)))
  val aspectNorm = Fixture(blobs, cycle(squash(107, 128), squash(107, 128),
    squash(149, 128), squash(149, 128)))
  /** Strong squeezes, one re-encoded (m165, m166, st117). */
  val canonical = Fixture(blobs, cycle(squash(80, 128), squash(68, 102),
    squash(75, 128) andThen Reencode(0.85f), squash(128, 80)))
  /** Rotation, then a squeeze (m169, m170, st120). */
  val affine = Fixture(blobs, cycle(Seq(20.0 -> 80, -11.0 -> 80, 20.0 -> 85,
    33.0 -> 80).map { case (deg, ow) => Rotate(deg) andThen squash(ow, 128) }: _*))
  private val affineFrameRows = Seq(17.0 -> 183, -23.0 -> 197, 9.0 -> 177,
    33.0 -> 190).map { case (deg, ow) => cropRotSqueeze(32, 224, deg, ow) }
  /** Central crop, rotation and squeeze of 256px masters (m174, m176). */
  val affineFrame = Fixture(blobs256, cycle(affineFrameRows: _*))
  val affineFrameChiral = Fixture(blobs256,
    cycle(affineFrameRows.map(_ andThen Dihedral(4)): _*))
  /** Gray-zone crops first, then m174-class ones (m179, m180, m183). */
  private val verifiedRows = Seq(Probe(3, cropRotSqueeze(38, 218, -23.0, 197)),
    Probe(6, cropRotSqueeze(44, 212, 17.0, 183)),
    Probe(0, cropRotSqueeze(32, 224, 17.0, 183)),
    Probe(1, cropRotSqueeze(40, 216, 33.0, 169)))
  val affineFrameVerified = Fixture(blobs256, table(verifiedRows: _*))
  val affineFrameChiralVerified = Fixture(blobs256,
    table(verifiedRows.map(p => p.copy(t = p.t andThen Dihedral(4))): _*))
  private def squeezeFan(deg: Double, sq: Double, axis: Int, from: Int = 0) =
    CropResize(32, 32, 224, 224, 256, 256) andThen Rotate(deg) andThen
      Squeeze(sq, axis, 256, from)
  /** Heavy one-axis squeezes (m184, m189). */
  val affineFrameSqueezeFan = Fixture(blobs256, table(
    Probe(0, squeezeFan(-23.0, 3.0, 0)), Probe(0, squeezeFan(17.0, 3.5, 0)),
    Probe(5, squeezeFan(-23.0, 3.5, 1)), Probe(3, squeezeFan(-23.0, 4.0, 1))))
  /** The st screens deliver probe 0 in micro-batch 1 and probe 2 in
    * micro-batch 2. */
  private def screenPair(a: Probe, b: Probe) = Fixture(blobs256, Map(0L -> a, 2L -> b))
  val affineFrameScreen = screenPair(Probe(0, affineFrameRows(0)),
    Probe(2, cropRotSqueeze(32, 224, -23.0, 197)))
  val affineFrameVerifiedScreen = screenPair(verifiedRows(0), verifiedRows(1))
  val affineFrameChiralScreen = screenPair(Probe(0, affineFrameRows(0) andThen Dihedral(4)),
    Probe(2, cropRotSqueeze(32, 224, -23.0, 197) andThen Dihedral(4)))
  val affineFrameSqueezeFanScreen = screenPair(Probe(0, squeezeFan(-23.0, 3.0, 0)),
    Probe(2, squeezeFan(17.0, 3.5, 1)))

  // ---- video: DIB blob streams ----------------------------------------
  val videoRot = Fixture(aviBlobs, cycle(Rotate(17.0), Rotate(-8.0, 1.2),
    Rotate(90.0), Rotate(33.0, 1.0, 2)))
  private def videoSquash(ow: Int, oh: Int, from: Int = 0) =
    CropResize(0, 0, 96, 96, ow, oh, from)
  val videoAffine = Fixture(aviBlobs, cycle(Rotate(17.0) andThen videoSquash(60, 96),
    Rotate(-8.0) andThen videoSquash(96, 60), Rotate(20.0) andThen videoSquash(64, 96, 2)))
  val videoCanonical = Fixture(aviBlobs, cycle(videoSquash(60, 96),
    videoSquash(96, 60), videoSquash(56, 90, 2)))
  val videoAspect = Fixture(aviBlobs, cycle(Aspect(0.75), Aspect(4.0 / 3.0)))
  val videoAspectPairs = Fixture(aviBlobs, cycle(Aspect(0.75), Aspect(4.0 / 3.0),
    Aspect(0.75, 2), Aspect(4.0 / 3.0)))
  val videoScale = Fixture(aviBlobs, cycle(CropResize(12, 8, 92, 88, 96, 96),
    CropResize(8, 8, 88, 88, 112, 112), CropResize(16, 12, 88, 84, 64, 64),
    CropResize(12, 8, 92, 88, 96, 96, 2)))
  private def videoFrame(m: Int, deg: Double, ow: Int, from: Int) =
    cropRotSqueeze(m, 192 - m, deg, ow, 192, from)
  val videoAffineFrame = Fixture(aviBlobs192, cycle(videoFrame(24, 17.0, 137, 0),
    videoFrame(24, -23.0, 148, 0), videoFrame(24, 9.0, 132, 2)))
  val videoAffineFrameVerified = Fixture(aviBlobs192, table(
    Probe(0, videoFrame(36, 17.0, 148, 0)), Probe(2, videoFrame(36, 9.0, 148, 0)),
    Probe(0, videoFrame(24, -23.0, 148, 0)), Probe(1, videoFrame(24, 17.0, 137, 2))))
  val videoAffineFrameChiral = Fixture(aviBlobs192, cycle(Seq(
    videoFrame(24, -23.0, 148, 0), videoFrame(24, 17.0, 137, 2),
    videoFrame(24, 9.0, 148, 0)).map(_ andThen Dihedral(4)): _*))
  val videoAffineFrameChiralVerified = Fixture(aviBlobs192, table(Seq(
    Probe(0, videoFrame(36, 17.0, 148, 0)), Probe(2, videoFrame(36, 9.0, 148, 0)),
    Probe(3, videoFrame(24, -23.0, 148, 0)), Probe(1, videoFrame(24, 17.0, 137, 2)))
    .map(p => p.copy(t = p.t andThen Dihedral(4))): _*))
  val videoAffineFrameSqueezeFan = Fixture(aviBlobs256, cycle(
    squeezeFan(-23.0, 3.0, 0), squeezeFan(17.0, 3.5, 0), squeezeFan(-23.0, 3.5, 1),
    squeezeFan(17.0, 3.0, 1, 2), squeezeFan(-23.0, 4.0, 0), squeezeFan(9.0, 4.0, 1)))
  /** Video + audio: rotated or re-seeded clips whose audio track ids
    * are planted per probe (m162, m168, st116, st121). */
  val jointRot = Fixture(
    i => Media.syntheticAviBlobs(i, 6, audioId = i,
      audioSamples = (320 + (i % 4) * 64).toInt),
    table(
      Probe(0, Regen(src => Media.aviRotateResizeDib(aviBlobs(src), 17.0,
        audioId = 0L, audioSamples = 320))),
      Probe(21, Regen(Media.syntheticAviBlobs(_, 6, audioId = 1L, audioSamples = 384))),
      Probe(2, Regen(src => Media.aviRotateResizeDib(aviBlobs(src), -8.0, 1.2,
        audioId = 99L, audioSamples = 320))),
      Probe(23, Regen(Media.syntheticAviBlobs(_, 6, audioId = 98L, audioSamples = 320)))))

  // ---- video: pixel-field streams ---------------------------------------
  val avi = Fixture(avi4)
  val mjpeg = Fixture(id => Media.syntheticAvi(id, (4 + id % 3).toInt, mjpeg = true))
  /** Brightened re-uploads; decoys are 5-6 frame clips (m82, m100). */
  val aviBright = Fixture(avi4,
    uniform(Regen(src => Media.syntheticAvi(src, (4 + src % 3).toInt, delta = 12,
      global0 = true))),
    Some(id => Media.syntheticAvi(id, (5 + id % 2).toInt)))
  val aviMirror = Fixture(avi4, uniform(Regen(src => Media.syntheticAvi(src,
    (4 + src % 3).toInt, delta = 12, global0 = true, mirrorX = true))))
  /** Quarter turns of probe k at id 20 + k, mirrored from probe 10. */
  val aviDihedral = Fixture(avi4, k =>
    if (k < 10) Probe(k, Regen(Media.syntheticAvi(_, (4 + k % 3).toInt,
      rotQ = ((k + 20) % 3 + 1).toInt)))
    else Probe(k - 10, Regen(Media.syntheticAvi(_, (4 + (k - 10) % 3).toInt,
      rotQ = ((k + 20) % 3 + 1).toInt, mirrorX = true))))
  /** The first 2 frames cut (m84, st75). */
  val aviTrim = Fixture(avi6, uniform(Regen(src =>
    Media.syntheticAvi(src, (6 + src % 3).toInt - 2, frameOffset = 2))))
  val aviTrimMirror = Fixture(avi6, uniform(Regen(src =>
    Media.syntheticAvi(src, (6 + src % 3).toInt - 2, frameOffset = 2, mirrorX = true))))
  val aviTrimDihedral = Fixture(avi6, k => Probe(k, Regen(Media.syntheticAvi(_,
    (6 + k % 3).toInt - 2, frameOffset = 2, rotQ = ((k + 1000000L) % 3 + 1).toInt,
    mirrorX = k >= 5))))
  /** Cut and MJPEG-transcoded (m87). */
  val aviTrimTranscode = Fixture(id => Media.syntheticAvi(id, (8 + id % 3).toInt),
    uniform(Regen(src => Media.syntheticAvi(src, (8 + src % 3).toInt - 2,
      mjpeg = true, frameOffset = 2))))
  private val rateUp = Regen(Media.syntheticAvi(_, 28, frameOffset = 4, rateNum = 5,
    rateDen = 4))
  private val rateDown = Regen(Media.syntheticAvi(_, 40, frameOffset = 4, rateNum = 4,
    rateDen = 5))
  /** Frame-rate conversions: four up, then down (m122, m123). */
  val aviRate = Fixture(Media.syntheticAvi(_, 40), k =>
    Probe(k, if (k < 4) rateUp else rateDown))
  val aviRateStream = Fixture(Media.syntheticAvi(_, 40), k =>
    Probe(k, if (k % 10 < 5) rateUp else rateDown))
  /** Cropped windows of 32px (m130, m131, st97) and 48px clips (m134,
    * st99). */
  val aviCrop = Fixture(Media.syntheticAvi(_, 24, w = 32, h = 32), cycle(
    aviBox(16, 16, 8, 8), aviBox(16, 16, 0, 0), aviBox(24, 24, 4, 4),
    aviBox(16, 16, 16, 16)))
  val aviThirds = Fixture(Media.syntheticAvi(_, 24, w = 48, h = 48), cycle(
    aviBox(32, 32, 8, 0), aviBox(32, 32, 16, 16), aviBox(32, 32, 0, 8),
    aviBox(32, 32, 8, 8)))
  /** Off-grid windows of masters 0, 1, 10, 11 (m138, m139, st102). */
  val aviPeakCrop = Fixture(Media.syntheticAvi(_, 24, w = 48, h = 48), table(
    Probe(0, aviBox(28, 24, 7, 11)), Probe(1, aviBox(28, 24, 13, 5)),
    Probe(10, aviBox(28, 24, 3, 19)), Probe(11, aviBox(28, 24, 17, 9))))

  // ---- containers --------------------------------------------------------
  val mp4 = Fixture(id => Media.syntheticMp4(id, (4 + id % 3).toInt, co64 = id % 2 == 1))
  private def mjpeg6(id: Long) = Media.syntheticAvi(id, (6 + id % 3).toInt, mjpeg = true)
  /** The MJPEG stream remuxed into ISO-BMFF, fMP4 and Matroska (m90,
    * m92, m93). */
  val mp4Remux = Fixture(mjpeg6,
    uniform(Regen(src => Media.syntheticMp4(src, (6 + src % 3).toInt))))
  val fmp4Remux = Fixture(mjpeg6, uniform(Regen(src => Media.syntheticFmp4(src,
    (6 + src % 3).toInt, perFrag = 2 + ((src + 20) % 2).toInt))))
  val mkvRemux = Fixture(mjpeg6, uniform(Regen { src =>
    val id = src + 20
    Media.syntheticMkv(src, (6 + src % 3).toInt, vfw = id % 2 == 0,
      blockGroup = id % 3 == 0, unknownSize = id % 2 == 1)
  }))
  /** Clips whose audio track id is planted per doc (m88, m91, m94,
    * m104). */
  val aviAudio = Fixture(id => Media.syntheticAvi(id, (6 + id % 3).toInt,
    audioId = id % 4, audioSamples = (320 + (id % 4) * 64).toInt))
  val mp4Audio = Fixture(id => Media.syntheticMp4(id, (4 + id % 3).toInt,
    audioId = id % 5, audioSamples = (320 + (id % 5) * 64).toInt))
  val mkvAudio = Fixture(id => Media.syntheticMkv(id, (4 + id % 3).toInt,
    audioId = id % 5, audioSamples = (320 + (id % 5) * 64).toInt,
    blockGroup = id % 4 == 3))
  val fmp4Audio = Fixture(id => Media.syntheticFmp4(id, (4 + id % 3).toInt,
    perFrag = 2 + (id % 2).toInt,
    audioId = id % 5, audioSamples = (320 + (id % 5) * 64).toInt))
  /** The same clip in three containers, with its audio reused, muted
    * or swapped (m95, st77). */
  val joint = Fixture(i => Media.syntheticAvi(i, (6 + i % 3).toInt,
      mjpeg = true, audioId = i, audioSamples = (320 + (i % 4) * 64).toInt),
    table(
      Probe(0, Regen(Media.syntheticMkv(_, 6, audioId = 0L, audioSamples = 320))),
      Probe(21, Regen(Media.syntheticMp4(_, 7, audioId = 1L, audioSamples = 384))),
      Probe(2, Regen(Media.syntheticMkv(_, 8, audioId = 99L, audioSamples = 320))),
      Probe(23, Regen(Media.syntheticAvi(_, 6, mjpeg = true, audioId = 98L,
        audioSamples = 320)))))
  /** The mkvAudio clip (no block groups) over `(id, lacing)`: the
    * laced and unlaced mux of one audio track (m107). */
  val mkvLaced: UserDefinedFunction = udf((id: Long, lacing: Int) =>
    Media.syntheticMkv(id, (4 + id % 3).toInt, audioId = id % 5,
      audioSamples = (320 + (id % 5) * 64).toInt, lacing = lacing))
  /** Subtitle carriers over `(id, text)`: a 3-frame Matroska clip,
    * seed 1000000 + id, whose subtitle track holds `cues(text)` (m97,
    * m98, m108 styled, st76). */
  def subtitled(cues: String => Seq[String], ass: Boolean = false): UserDefinedFunction =
    udf((id: Long, text: String) =>
      Media.syntheticMkv(1000000L + id, 3, cueLines = cues(text), subsAss = ass))
  val subtitles = Fixture(id => Media.syntheticMkv(id, (4 + id % 3).toInt,
    subsId = id % 5, subsCues = (6 + id % 5).toInt))
  /** Matroska decoys whose subtitle track is their own (m97, m98,
    * m108 styled, st76). */
  val subsDecoy = Fixture(id => Media.syntheticMkv(id, 3, subsId = id, subsCues = 8))
  val subsDecoyStyled = Fixture(id => Media.syntheticMkv(id, 3, subsId = id,
    subsCues = 8, subsAss = true))

  // ---- audio -------------------------------------------------------------
  val wavRamp = Fixture(id => Media.syntheticWav(id, texLen(id)))
  /** Textured WAVs re-leveled x0.9 (m79, m86, st73). */
  val wavTexLevel = Fixture(id => Media.syntheticWavTex(id, texLen(id)),
    uniform(Regen(src => Media.syntheticWavTex(src, texLen(src), num = 9, den = 10))))
  /** The first 128 samples cut (m80, st74). */
  val wavTexTrim = Fixture(id => Media.syntheticWavTex(id, landmarkLen(id)),
    uniform(Regen(src => Media.syntheticWavTexTrim(src, landmarkLen(src) - 128,
      skip = 128))))
  /** Five masters re-seeded mod 5: stereo and 2x-rate probes (m101,
    * m99). */
  val wavStereo = Fixture(wavTex5, uniform(Regen(src =>
    Media.syntheticWavTexStereo(src % 5, (320 + (src % 5) * 64).toInt))))
  val wavRate = Fixture(wavTex5, uniform(Regen(src =>
    Media.syntheticWavTexRate(src % 5, (320 + (src % 5) * 64).toInt, factor = 2))))
  /** Tone masters at 8 kHz, re-uploads at 44.1 kHz (m106, m113, st84,
    * st85). */
  val tones = Fixture(Tones(8000), uniform(Resample(44100)), Some(Tones(44100)))
  val tonesHop = Fixture(Tones(8000, ms = 640),
    uniform(Resample(44100) andThen Trim(96, 512)))
  /** 128 ms-trimmed 44.1 kHz re-uploads (m110, m175, st82). */
  val tonesTrim = Fixture(Tones(8000, ms = 640),
    uniform(Resample(44100) andThen Trim(128, 512)))
  private val gated = Tones(8000, ms = 1248, gateMs = 32, segMs = 96, permMs = 32)
  private val gatedProbe = Resample(44100) andThen Trim(50, 1120)
  /** Beat-gated tones, 50 ms-trimmed 44.1 kHz re-uploads (m115, m118,
    * st89). */
  val onsets = Fixture(gated, uniform(gatedProbe),
    Some(gated.copy(rate = 44100, ms = 1120)))
  val onsetsReleveled = Fixture(gated, uniform(gatedProbe andThen Gain(1, 16)))
  private val noisy = gated.copy(floorNum = 1, floorDen = 16)
  /** A noise floor under masters and probes (m119, m127, st93). */
  val onsetsNoisy = Fixture(noisy, uniform(gatedProbe),
    Some(noisy.copy(rate = 44100, ms = 1120)))
  private val beatsProbe = Resample(44100) andThen Trim(50, 1000)
  /** Beat trains sped up 21/20 (m120, m121, st92). */
  val beatsSpeed = Fixture(Beats(8000), uniform(beatsProbe andThen Speed(21, 20)),
    Some(Beats(44100, ms = 1000)))
  val beatsCompound = Fixture(Beats(8000),
    uniform(beatsProbe andThen Speed(21, 20) andThen Pitch(196, 185)))
  private val uniformBeats = Beats(8000, uniformSegMs = 96)
  private val uniformDecoy = Some(Beats(44100, ms = 1000, uniformSegMs = 96))
  val beatsPitchVerified = Fixture(uniformBeats,
    uniform(beatsProbe andThen Speed(21, 20) andThen Pitch(196, 185)), uniformDecoy)
  val beatsHalfTone = Fixture(uniformBeats, uniform(beatsProbe andThen Pitch(35, 34)),
    uniformDecoy)
  /** Resampled by 196/185 (a semitone, m124, m125, st95) and 176/171
    * (a quarter tone, m126, m135, st100). */
  val beatsSemitone = Fixture(uniformBeats, uniform(beatsProbe andThen Speed(196, 185)),
    uniformDecoy)
  val beatsQuarterTone = Fixture(uniformBeats, uniform(beatsProbe andThen Speed(176, 171)),
    uniformDecoy)
}
