package graft.operators

import graft.fixtures.Media
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{AudioChroma, AudioCode, AudioInterval,
  AudioLandmark, AudioOnset, AudioOnsetRolling, AudioSpectralCode,
  AudioSpectralLandmark, ImageAffine, ImagePeak, ImagePeakDihedral,
  ImageRotScale, ImageScale, ImageScaleAspect, ImageScaleCanonical,
  ImageScaleDihedral, PHash, PHashCrop, PHashDihedral, PHashFlip, PHashRot,
  VideoCrop, VideoPeak, VideoRotScale, VideoScale, VideoScaleAspect,
  VideoScaleCanonical, VideoShift, VideoShiftDihedral, VideoShiftFlip,
  VideoSkip}

/** The streaming near-dup operators by subject: the per-bucket folds
  * ([[StreamingNearDup.foldHits]]; foldProbe and packSig stay in
  * Round10Spec), the cap contracts of [[StreamingNearDup.hits]] and
  * [[StreamingNearDup.verdicts]], and their parity with the per-family
  * entry points they replaced: each family drains over one two-batch
  * media fixture, uncapped and at maxBucket = 2, and its rows must hash
  * to the digest the replaced entry point produced (sorted rows, `hits`
  * rendered as a sorted list, over the replaced record's columns). */
class StreamingNearDupSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** `batches` as a file-source stream, one staged parquet file per
    * micro-batch in order (the st gates' `stageBatches` shape); the
    * files go at JVM exit. */
  private def stage(batches: DataFrame*): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-snd")
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

  private def render(v: Any): String = v match {
    case s: scala.collection.Seq[_] =>
      s.map(_.asInstanceOf[Long]).sorted.mkString("[", ",", "]")
    case x => String.valueOf(x)
  }

  private def digest(rows: Array[Row]): String = {
    val text = rows.map(_.toSeq.map(render).mkString("|")).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  type Tier = (String, Seq[String], (DataFrame, Int) => DataFrame)

  /** Start every tier's query at maxBucket = `cap` into a memory sink,
    * drain them all, and return per `name@cap` the sink's row count,
    * rows with a match (non-empty `hits` / non-null `dup_src`) and
    * digest over the tier's columns. */
  private def drainAll(stream: () => DataFrame, tiers: Seq[Tier],
      cap: Int): Map[String, (Int, Int, String)] = {
    val started = tiers.map { case (name, cols, run) =>
      val q = s"snd_${name.replaceAll("\\W", "_")}_$cap"
      (name, cols, q, run(stream(), cap).writeStream.outputMode("append")
        .format("memory").queryName(q).start())
    }
    try started.foreach(_._4.processAllAvailable())
    finally started.foreach(_._4.stop())
    started.map { case (name, cols, q, _) =>
      val rows = spark.table(q).select(cols.map(col): _*).collect()
      val live = rows.count(r => r.get(r.length - 1) match {
        case s: scala.collection.Seq[_] => s.nonEmpty
        case null => false
        case _ => true
      })
      s"$name@$cap" -> (rows.length, live, digest(rows))
    }.toMap
  }

  private def payloads(ids: Seq[Long], f: Long => Array[Byte]): DataFrame = {
    import spark.implicits._
    ids.map(id => (id, f(id))).toDF("doc_id", "payload")
  }

  private val H = Seq("doc_id", "lm", "hits")
  private val HO = Seq("doc_id", "orient", "lm", "hits")
  private val V = Seq("doc_id", "lm_a", "lm_b", "hits")

  private def tones(id: Long) =
    Media.syntheticWavTones(id, 8000, ms = 1248, gateMs = 32, segMs = 96,
      permMs = 32)
  private def audio(id: Long): Array[Byte] = id match {
    case i if i < 4 => tones(i)
    case i if i < 6 => Media.syntheticWavBeats(i, 8000)
    case i if i < 8 => Media.syntheticWavTex(i, 640)
    case i if i < 14 => Media.syntheticWavTones(i - 10, 44100, ms = 1120,
      offsetMs = 50, gateMs = 32, segMs = 96, permMs = 32)
    case i if i < 16 => Media.syntheticWavBeats(i - 10, 44100, offsetMs = 50)
    case i if i < 19 => tones(0)
    case _ => Media.syntheticWavTex(6, 640)
  }
  private def image(id: Long): Array[Byte] = id match {
    case i if i < 3 => Media.syntheticPngBlobs(i)
    case i if i < 6 => Media.syntheticPng(i, 64, 64)
    case i if i < 13 => Media.syntheticPngBlobs(0)
    case 13 => Media.syntheticPngFlip(3, 64, 64)
    case 14 => Media.syntheticPngRot(4, 1, 64, 64)
    case 15 => Media.syntheticPngCrop(5, 16, 16, 48, 48)
    case _ => Media.syntheticPng(3, 64, 64)
  }
  private def video(id: Long): Array[Byte] = id match {
    case i if i < 3 => Media.syntheticAvi(i, 8)
    case i if i < 5 => Media.syntheticAviBlobs(i, 4)
    case i if i < 13 => Media.syntheticAvi(0, 8)
    case 13 => Media.syntheticAvi(1, 6, frameOffset = 2, mirrorX = true)
    case 14 => Media.syntheticAvi(2, 6, frameOffset = 2, rotQ = 1)
    case _ => Media.syntheticAviBlobs(3, 4)
  }

  private val audioTiers: Seq[Tier] = Seq(
    ("AudioCode", Seq("doc_id", "frame_idx", "hits"), (m, c) =>
      StreamingNearDup.hits(AudioCode)(m, maxBucket = c)),
    ("AudioSpectralCode", Seq("doc_id", "frame_idx", "hits"), (m, c) =>
      StreamingNearDup.hits(AudioSpectralCode)(m, maxBucket = c)),
    ("AudioLandmark", H, (m, c) =>
      StreamingNearDup.hits(AudioLandmark())(m, maxBucket = c)),
    ("AudioSpectralLandmark", H, (m, c) =>
      StreamingNearDup.hits(AudioSpectralLandmark())(m, maxBucket = c)),
    ("AudioOnset", H, (m, c) =>
      StreamingNearDup.hits(AudioOnset())(m, maxBucket = c)),
    ("AudioOnsetRolling", H, (m, c) =>
      StreamingNearDup.hits(AudioOnsetRolling())(m, maxBucket = c)),
    ("AudioChroma", H, (m, c) =>
      StreamingNearDup.hits(AudioChroma())(m, maxBucket = c)),
    ("AudioChroma(div=24)", H, (m, c) =>
      StreamingNearDup.hits(AudioChroma(div = 24))(m, maxBucket = c)),
    ("AudioInterval", H, (m, c) =>
      StreamingNearDup.hits(AudioInterval())(m, maxBucket = c)))

  private val imageTiers: Seq[Tier] = Seq(
    ("ImageScale", H, (m, c) =>
      StreamingNearDup.hits(ImageScale())(m, maxBucket = c)),
    ("ImageScaleCanonical", H, (m, c) =>
      StreamingNearDup.hits(ImageScaleCanonical())(m, maxBucket = c)),
    ("ImageAffine", H, (m, c) =>
      StreamingNearDup.hits(ImageAffine())(m, maxBucket = c)),
    ("ImageRotScale", H, (m, c) =>
      StreamingNearDup.hits(ImageRotScale())(m, maxBucket = c)),
    ("ImagePeak", H, (m, c) =>
      StreamingNearDup.hits(ImagePeak())(m, maxBucket = c)),
    ("ImageScaleAspect", HO, (m, c) =>
      StreamingNearDup.hits(ImageScaleAspect())(m, maxBucket = c)),
    ("ImageScaleDihedral", HO, (m, c) =>
      StreamingNearDup.hits(ImageScaleDihedral())(m, maxBucket = c)),
    ("ImagePeakDihedral", HO, (m, c) =>
      StreamingNearDup.hits(ImagePeakDihedral())(m, maxBucket = c)),
    ("PHash", Seq("doc_id", "chunk", "dup_src"), (m, c) =>
      StreamingNearDup.verdicts(PHash)(m, maxBucket = c)),
    ("PHashFlip", Seq("doc_id", "orient", "chunk", "dup_src"), (m, c) =>
      StreamingNearDup.verdicts(PHashFlip)(m, maxBucket = c)),
    ("PHashRot", Seq("doc_id", "orient", "chunk", "dup_src"), (m, c) =>
      StreamingNearDup.verdicts(PHashRot)(m, maxBucket = c)),
    ("PHashDihedral", Seq("doc_id", "orient", "chunk", "dup_src"), (m, c) =>
      StreamingNearDup.verdicts(PHashDihedral)(m, maxBucket = c)),
    ("PHashCrop", Seq("doc_id", "win", "chunk", "dup_src"), (m, c) =>
      StreamingNearDup.verdicts(PHashCrop())(m, maxBucket = c)),
    ("PHashCrop(extended)", Seq("doc_id", "win", "chunk", "dup_src"), (m, c) =>
      StreamingNearDup.verdicts(PHashCrop(extended = true))(m, maxBucket = c)))

  private val videoTiers: Seq[Tier] = Seq(
    ("VideoScaleCanonical", H, (m, c) =>
      StreamingNearDup.hits(VideoScaleCanonical())(m, maxBucket = c)),
    ("VideoPeak", H, (m, c) =>
      StreamingNearDup.hits(VideoPeak())(m, maxBucket = c)),
    ("VideoPeak(every=1)", H, (m, c) =>
      StreamingNearDup.hits(VideoPeak(every = 1))(m, maxBucket = c)),
    ("VideoScale", H, (m, c) =>
      StreamingNearDup.hits(VideoScale())(m, maxBucket = c)),
    ("VideoRotScale", H, (m, c) =>
      StreamingNearDup.hits(VideoRotScale())(m, maxBucket = c)),
    ("VideoScaleAspect", HO, (m, c) =>
      StreamingNearDup.hits(VideoScaleAspect())(m, maxBucket = c)),
    ("VideoShift", V, (m, c) =>
      StreamingNearDup.hits(VideoShift())(m, maxBucket = c)),
    ("VideoSkip", V, (m, c) =>
      StreamingNearDup.hits(VideoSkip())(m, maxBucket = c)),
    ("VideoCrop", Seq("doc_id", "win", "lm_a", "lm_b", "hits"), (m, c) =>
      StreamingNearDup.hits(VideoCrop())(m, maxBucket = c)),
    ("VideoCrop(every=1,extended)", Seq("doc_id", "win", "lm_a", "lm_b", "hits"), (m, c) =>
      StreamingNearDup.hits(VideoCrop(every = 1, extended = true))(m, maxBucket = c)),
    ("VideoShiftFlip", Seq("doc_id", "orient", "lm_a", "lm_b", "hits"), (m, c) =>
      StreamingNearDup.hits(VideoShiftFlip())(m, maxBucket = c)),
    ("VideoShiftDihedral", Seq("doc_id", "orient", "lm_a", "lm_b", "hits"), (m, c) =>
      StreamingNearDup.hits(VideoShiftDihedral())(m, maxBucket = c)))

  private val textTiers: Seq[Tier] = Seq(
    ("winnow", Seq("doc_id", "fp", "hits"), (m, c) =>
      StreamingNearDup.winnowVerdicts(m, "doc_id", "text", maxBucket = c).toDF()),
    ("cdc(nibbles=2)", Seq("doc_id", "fp", "hits"), (m, c) =>
      StreamingNearDup.cdcChunkVerdicts(m, "doc_id", "text", nibbles = 2,
        maxBucket = c).toDF()))

  private def texts: (DataFrame, DataFrame) = {
    import spark.implicits._
    val long1 = (1 to 40).map(i => s"tok$i").mkString(" ")
    val long2 = (1 to 40).map(i => s"other$i").mkString(" ")
    val boiler = (1 to 40).map(i => s"boiler$i").mkString(" ")
    (Seq((1L, long1), (2L, long2), (3L, boiler)).toDF("doc_id", "text"),
     (Seq((10L, "junk junk " + long1 + " appended tail")) ++
       (11L to 14L).map(id => (id, boiler))).toDF("doc_id", "text"))
  }

  /** Digests of the replaced entry points' output, per family and cap. */
  private val pinned = Map(
    "AudioChroma(div=24)@0" ->
      "9679d065a33bb797aa2e88f19da78a282ba1178e0500f1a817878d1b2219cbb1",
    "AudioChroma(div=24)@2" ->
      "193c5f7ebd091bc1e1577cc08ec510b4a8830ca9968412a3d61827d0de25acb8",
    "AudioChroma@0" ->
      "9fcc310cdc166e88d1d7b4572ef5781a5cc95cb0b9fdca222ef1d207f2b770c0",
    "AudioChroma@2" ->
      "bf8828d825f96d3a30376ec8a3e37898b183bbb91bfe0e35b66b26b4a614abcd",
    "AudioCode@0" ->
      "a94777e72270c9edd22806c6b9a23e11dc654e53f9a864ef9a05c3f9e248aa45",
    "AudioCode@2" ->
      "42af7681cf9fdc360977abfa3f4441afde40394cf825d0288690c591ea999caa",
    "AudioInterval@0" ->
      "30147abc38231248db7b72771a28de0f35fdab3977ee33db2aad79dc9569b3e8",
    "AudioInterval@2" ->
      "3323dd61af14fc78cf6eef900c24a83b288f240b3fbd27af799a5cffbb36f078",
    "AudioLandmark@0" ->
      "a88b828044a4a602629e9b0ec443d404921a498cac858c53c34010381e87d765",
    "AudioLandmark@2" ->
      "0ee2bf4dc0878d8060459b8490eb8250a27fd433c97678f88719f8f7a302ae5f",
    "AudioOnset@0" ->
      "303abb22f53def7c4037d13d4c808afa575d095488debcfffcf3e0624b09d096",
    "AudioOnset@2" ->
      "898c21c6539947c2e1828807737ad15ae69f161e24a7e0eedd37e5fea0023d87",
    "AudioOnsetRolling@0" ->
      "3c997ecce1597df95b21b5966efe3bb637e1630637b87fce48b6d54118720dbe",
    "AudioOnsetRolling@2" ->
      "72fed1bb545e63e47b5a6efc6b73914e88a8dfe117fe8d74a2ebf8eea869089a",
    "AudioSpectralCode@0" ->
      "999de79a417aa3a08748ace29c4f6e6c3aeb1a1e31fdcb165bb7f66fda58d733",
    "AudioSpectralCode@2" ->
      "f592f71a577597b6c9c22754a728536a2f2bf5da80abdf2f773c15e1250c60c5",
    "AudioSpectralLandmark@0" ->
      "f2f321a026615ec56833658b1a78bc7fd49b8e287b8371e72ec402a4a74f8847",
    "AudioSpectralLandmark@2" ->
      "17ba21bb6226e9ee17bde3753efc3e203fe260a03b5d76ce7b54424513030314",
    "ImageAffine@0" ->
      "f17c879c850dbb7fe15e35bf63d13fcb85ef1a975ae1f37a087b1cac56ab46f9",
    "ImageAffine@2" ->
      "bd8a36e84deb2dcefb2bc5cb70b139034bbb61fc10c9ea5e947f7a34e8033a16",
    "ImagePeak@0" ->
      "09b7dd9d803df67afa8fe08061e8cd664c8d32fda17138ec4749276863f7f69f",
    "ImagePeak@2" ->
      "86a9b58ad6f84dbb03d8e222b7296c6f60f3d04ecb04dd564c7dd099d69e1f51",
    "ImagePeakDihedral@0" ->
      "0f5f5ce1b1875c6a436dc44aecda740809d4f258021445c2c5cf1b7d512bb26d",
    "ImagePeakDihedral@2" ->
      "2799990c23101fb6568ccfbab644c4dce98ce439c79d6beab1e572afee66f1d6",
    "ImageRotScale@0" ->
      "2342b1af386ae1bea3e1e91ecdd88ff23b835056e5d381efedf55e811df23fdd",
    "ImageRotScale@2" ->
      "de5484b1d9ccf9915bf24e5195d8d852897f7419dc7eb3aedbeaeccc75af7c19",
    "ImageScale@0" ->
      "e50be55f09e30d4e37fabd47040f08524ea55b9c1ca5e88a2844c47b9119e2a5",
    "ImageScale@2" ->
      "e7f0b88964e98cd52b129b0ea43e857adf163b6a3218446e3b0f8c36e1c5e7cf",
    "ImageScaleAspect@0" ->
      "50caf7815a28907e6787e2e73280fcca83289e68c86e510e4e0dcc51867c0c13",
    "ImageScaleAspect@2" ->
      "39aaac7eba01c23f8ada7b51987ff3466feaa4de5ed097295b29210e706170ff",
    "ImageScaleCanonical@0" ->
      "4786063f8287dfb9af7d0eebbc9ade3204214c64bf0e3e80d868f9de7fa3fdb5",
    "ImageScaleCanonical@2" ->
      "cf7133052ee85470d0323881bc4dbc36c019f3cce76a6ec6788f84d13cc734f8",
    "ImageScaleDihedral@0" ->
      "27efd2f65e561f5677436bb01e94cd1c66db5d8dde49af84275d4ee338cb4c98",
    "ImageScaleDihedral@2" ->
      "088771d88e86dbe665a231ff2ebc6b8cd35fe9e97ba0123d33e852f385c1de8d",
    "PHash@0" ->
      "e2108e8fbddc22f746faa226a5a14225e14720e9a47218f4d48d6a1454d97051",
    "PHash@2" ->
      "e2108e8fbddc22f746faa226a5a14225e14720e9a47218f4d48d6a1454d97051",
    "PHashCrop(extended)@0" ->
      "6288aa9ad37a6d7661bd660a481144eedb46dbf3068aaffa1601937028b06a6f",
    "PHashCrop(extended)@2" ->
      "6288aa9ad37a6d7661bd660a481144eedb46dbf3068aaffa1601937028b06a6f",
    "PHashCrop@0" ->
      "05472e5efd946c01480c898f0930b7f8b2ea11ba0a7d5b85bd5edf1ed179f4fe",
    "PHashCrop@2" ->
      "05472e5efd946c01480c898f0930b7f8b2ea11ba0a7d5b85bd5edf1ed179f4fe",
    "PHashDihedral@0" ->
      "b8b1f70375f6374a136f0af609c2053f64eed84b597ab6a76675dfc59d00ffc8",
    "PHashDihedral@2" ->
      "b8b1f70375f6374a136f0af609c2053f64eed84b597ab6a76675dfc59d00ffc8",
    "PHashFlip@0" ->
      "46a01f103851685bfff40a8ff895c5153f10732549a13101bf097cfe71b1fd76",
    "PHashFlip@2" ->
      "46a01f103851685bfff40a8ff895c5153f10732549a13101bf097cfe71b1fd76",
    "PHashRot@0" ->
      "e8548050256cdca336939fa22aad837a15b5193278955d64c4718b13b36b0863",
    "PHashRot@2" ->
      "e8548050256cdca336939fa22aad837a15b5193278955d64c4718b13b36b0863",
    "VideoCrop(every=1,extended)@0" ->
      "691631fd873854c281b3e4c9b5020bf2f7f17f5743de811273ece332d49373f5",
    "VideoCrop(every=1,extended)@2" ->
      "f5a4b4cda6263cf123b6254305b6aa4a6d2099bac6f2dbb08f3f7d53e8de0fea",
    "VideoCrop@0" ->
      "16ca3ec63db423e7836380839bba032485fff7fb0c4cb8c001637d5bd8004263",
    "VideoCrop@2" ->
      "6356bd927d88390e0d0ad584d1c7eb68c30917ae01125e75f3277e65681d5ea7",
    "VideoPeak(every=1)@0" ->
      "67da4c5fa43a06f2ac6eb3cbd9821a53af4afa69b2672d4d6fb2171872c01bf1",
    "VideoPeak(every=1)@2" ->
      "bc8a554c865242873fa706096292cb61bf4eac2ea5846e1b4a0da6c09c88e2b4",
    "VideoPeak@0" ->
      "b2c1b087be4cf8ec3347129fb8e11c6974751e39f6cae93fa6d66a175abee59a",
    "VideoPeak@2" ->
      "3ccfdf218c86cc9c08f10c354df9b4e9c8652df41247e0503a4ac83b0241d1df",
    "VideoRotScale@0" ->
      "273ba39119a787fde905d6bf0f638f88a88e33117fdfe2b43bbbc53ee1258eb0",
    "VideoRotScale@2" ->
      "61250b373ac015d8954addf204f9d56856f0f1091baee8bcc99a23cd33db7f23",
    "VideoScale@0" ->
      "d870a4c5587dd3ccd1983df2370b794ee4de368adee2a52ddce03d4c0ccd7749",
    "VideoScale@2" ->
      "ab57fbeb929504e73bb93ad9c16cbee8bbf460a779b042e52b3f23447c0ec236",
    "VideoScaleAspect@0" ->
      "8eecfb97320fb1fcf8d012c2bfe75fd84f59e3cf191d4c78e48d4519e6ad0670",
    "VideoScaleAspect@2" ->
      "3337720fdccd1bcd1e593aeeb9a918b13bbb6a3c527554da95f5fd941b778636",
    "VideoScaleCanonical@0" ->
      "cde4f3bc00a13f9cadad839f64b1731db48586e00ce6c4a5a6b2113c282614ff",
    "VideoScaleCanonical@2" ->
      "9a2f3c3f6e430a27f44de44f94cc6f052120e29e10be31f3171c0f8ac06a4222",
    "VideoShift@0" ->
      "4e61335030c0d56eb698964d1c158fee90f7ba085554c093f9fce0207274f73a",
    "VideoShift@2" ->
      "285a7b90f1a234713bd92a9966e83697660a77479ad5afa081d5196803e38dfe",
    "VideoShiftDihedral@0" ->
      "d9cf98803e75044676340103a0876281d4ebec83953017e97bccfec401069fce",
    "VideoShiftDihedral@2" ->
      "ba9f667ed4f6133efb803a29a5cce3d29ee65e4b248c0c4c73ca4adb3f6516e7",
    "VideoShiftFlip@0" ->
      "9d12104fde04c614fbb0bb3f120a43d130d83af43927a5e213ea79d08e8566d3",
    "VideoShiftFlip@2" ->
      "2695e05aa14c552274af842cc4a6826a483d2bcbafb3add0187b72db9520b6f5",
    "VideoSkip@0" ->
      "79b8271c467ef51c11f6c2d7ead562d80da438a2f3501189751634554154f772",
    "VideoSkip@2" ->
      "eec431fae06930930e17efb090d0c23dada228e8d582d71d5fadbed50e39c038",
    "cdc(nibbles=2)@0" ->
      "4a7512f21f2de1a847873d0c9332601420ae09bd9a7cc10e8a6205a72f0305cf",
    "cdc(nibbles=2)@2" ->
      "edeed2d9e2002dc070535cbb1a7ef5d4f37d1ea9b102e5938a6679e54c3a1bc3",
    "winnow@0" ->
      "fe204de6c5723f92d264bbc92f39da7801d22722e9e9cec4e1a1bcc929307649",
    "winnow@2" ->
      "36120ce3af9c78eea50e6bdf8628aa1457c4ddb5e745f99f67432723b751d4c5")

  private def parity(stream: DataFrame, tiers: Seq[Tier]): Unit = {
    val got = Seq(0, 2).flatMap(cap => drainAll(() => stream, tiers, cap))
    val wrong = got.collect { case (k, (n, _, d)) if !pinned.get(k).contains(d) =>
      s"$k: $n rows, digest $d" }
    assert(wrong.isEmpty, wrong.mkString("\n"))
    // the fixture exercises every fold: each tier emits a match uncapped
    assert(got.forall { case (k, (_, live, _)) => !k.endsWith("@0") || live > 0 })
  }

  test("hits(f) over the audio families reproduces the pinned digests") {
    parity(stage(payloads(0L until 8L, audio), payloads(10L until 20L, audio)),
      audioTiers)
  }

  test("hits(f) and verdicts(f) over the image families reproduce the pinned digests") {
    parity(stage(payloads(0L until 6L, image), payloads(10L until 18L, image)),
      imageTiers)
  }

  test("hits(f) over the video families reproduces the pinned digests") {
    parity(stage(payloads(0L until 5L, video), payloads(10L until 16L, video)),
      videoTiers)
  }

  test("winnowVerdicts and cdcChunkVerdicts reproduce the pinned digests") {
    val (t1, t2) = texts
    parity(stage(t1, t2), textTiers)
  }

  // ---- the hit fold's cap: st73-75 bucket state truncation -----------

  /** The PRE-fix fold: emissions capped, registration unbounded — the
    * state-growth defect the round-8 verdict named. foldHits must
    * emit identically while keeping state bounded. */
  private def unboundedReference(seen0: List[Long], ids: Seq[Long],
      maxBucket: Int): (List[Long], Seq[(Long, List[Long])]) = {
    var seen = seen0
    val out = ids.map { id =>
      val hits = if (maxBucket > 0 && seen.length >= maxBucket) Nil else seen
      seen = id :: seen
      (id, hits)
    }
    (seen, out)
  }

  test("foldHits emits like the unbounded fold but truncates state at maxBucket") {
    val batches = Seq(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L, 7L), Seq(8L), Seq(9L, 10L))
    for (maxBucket <- Seq(0, 1, 4, 6, 100)) {
      var sFixed: List[Long] = Nil
      var sRef: List[Long] = Nil
      batches.foreach { ids =>
        val (ns, hits) = StreamingNearDup.foldHits(sFixed, ids.map((_, true)),
          maxBucket)
        val out = ids.zip(hits)
        val (nr, ref) = unboundedReference(sRef, ids, maxBucket)
        assert(out == ref,
          s"maxBucket=$maxBucket: emissions diverge: $out vs $ref")
        sFixed = ns; sRef = nr
        if (maxBucket > 0)
          assert(sFixed.length <= maxBucket,
            s"state grew past cap: ${sFixed.length} > $maxBucket")
      }
      if (maxBucket == 0) assert(sFixed.length == 10) // uncapped unchanged
    }
    // oriented arrivals: only registering rows enter state, a doc at
    // most once, and an arrival never hits its own doc
    val (seen, hits) = StreamingNearDup.foldHits(List(1L),
      Seq((2L, true), (2L, false), (3L, false), (3L, true), (3L, true)), 0)
    assert(seen == List(3L, 2L, 1L))
    assert(hits == Seq(List(1L), List(1L), List(2L, 1L), List(2L, 1L),
      List(2L, 1L)))
  }

  // ---- st72 verdicts(PHash): capped decisions match uncapped ---------

  /** Per-doc decision of a verdict table: the lowest dup_src over its
    * rows, or None. */
  private def decide(v: DataFrame): Map[Long, Option[Long]] = {
    import spark.implicits._
    v.select(col("doc_id"), col("dup_src")).as[(Long, Option[Long])]
      .collect().groupBy(_._1)
      .map { case (id, vs) =>
        (id, vs.flatMap(_._2) match {
          case Array() => None
          case xs => Some(xs.min)
        })
      }
  }

  test("verdicts(PHash) maxBucket keeps planted decisions amid a hot identical-image bucket") {
    val png = udf((id: Long) =>
      if (id < 6) Media.syntheticPng(id)
      else if (id < 200) Media.syntheticPngVariant(id - 194) // ids 194..199 -> variants of 0..5
      else Media.syntheticPng(999)) // 30 identical copies: the hot bucket
    val media = spark.range(0, 6).union(spark.range(194, 230))
      .select(col("id").as("doc_id"), png(col("id")).as("payload"))
    def decisions(maxBucket: Int): Map[Long, Option[Long]] =
      decide(StreamingNearDup.verdicts(PHash)(media, maxBucket = maxBucket))
    val capped = decisions(maxBucket = 4)
    val uncapped = decisions(maxBucket = 0)
    assert(capped == uncapped, s"cap changed decisions:\n$capped\nvs\n$uncapped")
    (0L until 6L).foreach(id => assert(capped(id).isEmpty, s"base $id"))
    // edited variants drift: most land on their source, some pass
    // hamming 3 and are kept (the m85 drift precedent) — what the cap
    // must preserve is the decision, landed or not (asserted above)
    val landed = (194L until 200L).count(id => capped(id).contains(id - 194L))
    assert(landed >= 4, s"only $landed/6 variants landed")
    (201L until 230L).foreach { id =>
      assert(capped(id).contains(200L), s"hot copy $id: ${capped(id)}")
    }
  }

  // ---- st78/st80: oriented verdict shape + capped decisions ----------

  /** The flip and rotation tiers' contract: no two rows share a full
    * (doc_id, orient, chunk) key, the cap keeps every decision, every
    * transformed repost (ids 194-199) lands on its source and every hot
    * copy on the first one. */
  private def orientedCapContract(f: Multimodal.Hashed, what: String,
      repost: Long => Array[Byte]): Unit = {
    import spark.implicits._
    val png = udf((id: Long) =>
      if (id < 6) Media.syntheticPng(id)
      else if (id < 200) repost(id)
      else Media.syntheticPng(999))
    val media = spark.range(0, 6).union(spark.range(194, 230))
      .select(col("id").as("doc_id"), png(col("id")).as("payload"))
    def run(maxBucket: Int): DataFrame =
      StreamingNearDup.verdicts(f)(media, maxBucket = maxBucket).cache()
    val capped = run(maxBucket = 4)
    // the record shape the round-9 advice asked for: no two rows share
    // a full (doc_id, orient, chunk) key
    val keys = capped.select(col("doc_id"), col("orient"), col("chunk"))
      .as[(Long, Int, Int)].collect().toSeq
    assert(keys.distinct.size == keys.size, "duplicate (doc,orient,chunk) keys")
    val cd = decide(capped)
    val ud = decide(run(maxBucket = 0))
    assert(cd == ud, s"cap changed decisions:\n$cd\nvs\n$ud")
    (194L until 200L).foreach { id =>
      assert(cd(id).contains(id - 194L), s"$what repost $id: ${cd(id)}")
    }
    (201L until 230L).foreach { id =>
      assert(cd(id).contains(200L), s"hot copy $id: ${cd(id)}")
    }
  }

  test("verdicts(PHashFlip): unique (doc, orient, chunk) keys, cap keeps decisions") {
    orientedCapContract(PHashFlip, "mirrored",
      id => Media.syntheticPngFlip(id - 194))
  }

  test("verdicts(PHashRot): unique (doc, orient, chunk) keys, cap keeps decisions") {
    orientedCapContract(PHashRot, "rotated",
      id => Media.syntheticPngRot(id - 194, ((id % 3) + 1).toInt))
  }

  // ---- st74 hits(AudioLandmark()) and st73 hits(AudioCode): caps -----

  /** Vote decisions over a hit table: (doc, src) pairs whose shared
    * rows reach `gate` of the smaller doc's row count, lowest src per
    * doc; and the number of emitted (doc, src) hits. */
  private def voted(hits: DataFrame, gate: Double): (Map[Long, Long], Long) = {
    import spark.implicits._
    val h = hits.cache()
    val nl = h.groupBy(col("doc_id")).agg(count(lit(1)).as("nl"))
      .as[(Long, Long)].collect().toMap
    val emitted = h.select(explode(col("hits")).as("src"),
      col("doc_id")).as[(Long, Long)].collect()
    h.unpersist()
    val dups = emitted.groupBy(identity).map { case ((src, d), xs) =>
      (d, src, xs.length) }
      .filter { case (d, src, c) =>
        c.toDouble / math.min(nl(d), nl(src)) >= gate }
      .groupBy(_._1).map { case (d, xs) => (d, xs.map(_._2).min) }
    (dups, emitted.length.toLong)
  }

  test("hits(AudioLandmark()) maxBucket keeps planted trim decisions") {
    import Round8Fixtures.halfSilentWav
    // planted trims + 30 half-silent tracks whose shared (0,0) silence
    // landmark would otherwise bucket the whole corpus together
    val wav = udf((id: Long) =>
      if (id < 8) Media.syntheticWavTex(id, (320 + (id % 8) * 64).toInt)
      else if (id < 16) Media.syntheticWavTexTrim(id - 8,
        (320 + ((id - 8) % 8) * 64 - 128).toInt, skip = 128)
      else halfSilentWav(id, 1024))
    val media = spark.range(0, 46)
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    val planted = (8L until 16L).map(i => (i, i - 8)).toMap
    def decisions(maxBucket: Int): (Map[Long, Long], Long) =
      voted(StreamingNearDup.hits(AudioLandmark())(media, maxBucket = maxBucket),
        0.6)
    val (capped, cappedEmits) = decisions(maxBucket = 4)
    val (uncapped, uncappedEmits) = decisions(maxBucket = 0)
    assert(uncapped == planted, s"uncapped: $uncapped")
    assert(capped == planted, s"capped: $capped")
    assert(cappedEmits < uncappedEmits,
      s"cap must bound emission: $cappedEmits vs $uncappedEmits")
  }

  test("hits(AudioCode) maxBucket bounds hot-bucket emission, decisions unchanged") {
    import Round8Fixtures.halfSilentWav
    // planted: 6 textured tracks + their re-leveled copies; 30 unrelated
    // half-silent tracks whose silent frames all share (frame_idx, 0)
    // buckets — the hot key the cap exists for. Batch mode: state folds
    // each bucket's rows in one id-ordered pass, so decisions match the
    // id-monotonic streaming delivery by the operator's own contract.
    val wav = udf((id: Long) =>
      if (id < 6) Media.syntheticWavTex(id, (160 + (id % 13) * 16).toInt)
      else if (id < 12) Media.syntheticWavTex(id - 6,
        (160 + ((id - 6) % 13) * 16).toInt, num = 9, den = 10)
      else halfSilentWav(id, 1024))
    val media = spark.range(0, 42)
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    def decisions(maxBucket: Int): (Map[Long, Long], Long) =
      voted(StreamingNearDup.hits(AudioCode)(media, maxBucket = maxBucket), 0.8)
    val (capped, cappedEmits) = decisions(maxBucket = 4)
    val (uncapped, uncappedEmits) = decisions(maxBucket = 0)
    val planted = (6L until 12L).map(i => (i, i - 6)).toMap
    assert(uncapped == planted, s"uncapped: $uncapped")
    assert(capped == planted, s"capped: $capped")
    // 30 half-silent tracks share every silent-frame bucket: uncapped
    // emission is quadratic in members, the cap holds it near-linear
    assert(cappedEmits < uncappedEmits / 4,
      s"cap did not bound emission: $cappedEmits vs $uncappedEmits")
  }
}
